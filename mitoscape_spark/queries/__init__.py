"""Declared query registry.

``QUERIES``  maps name -> callable(spark, sf_dir) -> DataFrame (Spark plan).
``ORACLE``   maps name -> equivalent ANSI SQL for the DuckDB oracle.

Names without an ORACLE entry are non-SQL-expressible ops; the driver
records a weaker rows-only check for those (see __spark_entry__.py).
Both dicts are in declaration order: relational (Q01–Q15), then
extensions, then domain. Each of those files declares a query once: a
function whose name is the query name (``qNN``, ``ext_*``, ``mito_*``),
followed directly by its ``ORACLE[name] = ...`` SQL; the file's
``QUERIES`` is derived from those function names at its end.
``extensions`` also declares its pure-SQL queries as one name → SQL
table whose text is both the Spark query and the oracle.
"""

from __future__ import annotations

from mitoscape_spark.queries.relational import ORACLE as _REL_ORACLE
from mitoscape_spark.queries.relational import QUERIES as _REL_QUERIES
from mitoscape_spark.queries.extensions import ORACLE as _EXT_ORACLE
from mitoscape_spark.queries.extensions import QUERIES as _EXT_QUERIES
from mitoscape_spark.queries.domain import ORACLE as _DOM_ORACLE
from mitoscape_spark.queries.domain import QUERIES as _DOM_QUERIES

QUERIES = {**_REL_QUERIES, **_EXT_QUERIES, **_DOM_QUERIES}
ORACLE = {**_REL_ORACLE, **_EXT_ORACLE, **_DOM_ORACLE}

__all__ = ["QUERIES", "ORACLE"]
