"""Engine-level trace of what a Spark action did, with the UI disabled.

``trace(spark, name)`` runs its body under a job group of its own and
records the jobs that group ran: job ids, the wall time of the body,
``exec_s`` (the union of the jobs' submission→completion windows, so
overlapping jobs count once) and ``floor_s`` (wall − exec: Py4J
round-trips, Catalyst, sink set-up and gaps between jobs), plus per-stage
sums from the status store. It reads the status tracker and the status
store only, so it needs no REST API. Jobs are reported by id and count,
never by call-site name: the name a job carries can belong to an action
on another thread.

``trace_query`` splits one declared query into construction, Catalyst
phases, executed-plan exchange counts and a traced noop-sink run.
``derive_corpus`` builds a K× corpus from a base one, each copy a
disjoint isomorphic slice.

Usage (one JSON line per query on stdout; ``--sf`` defaults to
``catalog.DEFAULT_SF_DIR``)::

    python -m mitoscape_spark.trace --rounds 3
    python -m mitoscape_spark.trace --queries q05,ext_funnel --plans plans/now
    SPARK_GRAFT_DRIVER_MEM=4g python -m mitoscape_spark.trace --scale 10 --queries ext_knn_join

``--scale K`` derives the K× corpus under ``.scale_probe/`` (reused when
it exists) and runs there, in the base corpus's session conf, so the
record of a K× run differs from the 1× run in data only. Isolated noop
timings are only worth comparing on a quiet box (1-min loadavg below
~0.5).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time
import uuid
from collections.abc import Iterable
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession

from mitoscape_spark.plans import _SHUFFLE_EXCHANGE

#: local properties ``setJobGroup`` sets; a trace restores all three
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Trace:
    """What one traced body ran. Seconds and bytes; ``job_ids`` are the
    jobs of this trace's own group (a nested trace's jobs are its own)."""

    name: str
    group: str
    wall_s: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    exec_s: float = 0.0
    floor_s: float = 0.0
    stages: int = 0
    run_time_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def merged_window_s(windows: Iterable[tuple[float, float | None]]) -> float:
    """Length of the union of ``(start, end)`` intervals; an interval
    without an end (a job that has not completed) is skipped."""
    total, lo, hi = 0.0, None, None
    for start, end in sorted(w for w in windows if w[1] is not None):
        if hi is None or start > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = start, end
        else:
            hi = max(hi, end)
    if hi is not None:
        total += hi - lo
    return total


@contextlib.contextmanager
def trace(spark: SparkSession, name: str):
    """Run the body under a unique job group and yield a :class:`Trace`
    that is filled when the body returns. The caller's job group (or
    none) is restored on exit, so nested traces restore the outer one."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    rec = Trace(name, f"trace-{uuid.uuid4().hex}-{name}")
    sc.setJobGroup(rec.group, name)
    t0 = time.perf_counter()
    try:
        yield rec
        # taken before the listener-bus drain: the drain is not the body's
        rec.wall_s = time.perf_counter() - t0
    finally:
        for key, value in saved.items():
            sc.setLocalProperty(key, value)
    _read_jobs(sc, rec)


def _seconds(opt) -> float | None:
    """A status-store ``Option[Date]`` as epoch seconds."""
    return None if opt.isEmpty() else opt.get().getTime() / 1000.0


def _read_jobs(sc, rec: Trace) -> None:
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    rec.job_ids = sorted(sc.statusTracker().getJobIdsForGroup(rec.group))
    windows, stage_ids = [], set()
    for j in rec.job_ids:
        job = store.job(j)
        windows.append((_seconds(job.submissionTime()), _seconds(job.completionTime())))
        seq = job.stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    rec.exec_s = merged_window_s(w for w in windows if w[0] is not None)
    rec.floor_s = rec.wall_s - rec.exec_s
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        rec.stages += 1
        rec.run_time_s += st.executorRunTime() / 1000.0
        rec.input_bytes += st.inputBytes()
        rec.shuffle_read_bytes += st.shuffleReadBytes()
        rec.shuffle_write_bytes += st.shuffleWriteBytes()
        rec.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()


def plan_counts(plan: str) -> dict[str, int]:
    """Node counts of an executed-plan tree string, one node per line,
    each counted by its own name: a ``ReusedExchange`` line restates the
    exchange it reuses ("ReusedExchange [...], Exchange hashpartitioning
    ...") and is a reuse, not a shuffle that runs."""
    nodes = [line.lstrip(" :|+-") for line in plan.splitlines()]

    def count(prefix: str) -> int:
        return sum(node.startswith(prefix) for node in nodes)

    return {
        "exchanges": sum(bool(_SHUFFLE_EXCHANGE.match(node)) for node in nodes),
        "broadcast_exchanges": count("BroadcastExchange"),
        "reused_exchanges": count("ReusedExchange"),
        "arrow_eval_python": count("ArrowEvalPython"),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_query(spark: SparkSession, name: str, sf_dir: str, rounds: int = 3) -> dict:
    """One JSON-able record for declared query ``name`` at ``sf_dir``.

    After one untimed warm pass: ``construction_s`` times the query
    function call, ``phases_s`` are Catalyst's analysis / optimization /
    planning times for that DataFrame, the exchange counts come from its
    executed plan, and the rest is the :class:`Trace` of the fastest of
    ``rounds`` noop-sink passes. Every pass rebuilds the lineage: running
    one DataFrame again would reuse its shuffle outputs."""
    from mitoscape_spark.queries import QUERIES

    fn = QUERIES[name]
    _noop(fn(spark, sf_dir))
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    construction_s = time.perf_counter() - t0
    qe = df._jdf.queryExecution()
    counts = plan_counts(qe.executedPlan().toString())
    phases = qe.tracker().phases()
    phases_s = {}
    for p in _PHASES:
        opt = phases.get(p)
        phases_s[p] = None if opt.isEmpty() else opt.get().durationMs() / 1000.0
    best = None
    for _ in range(rounds):
        with trace(spark, name) as rec:
            _noop(fn(spark, sf_dir))
        if best is None or rec.wall_s < best.wall_s:
            best = rec
    record = {
        k: round(v, 4) if isinstance(v, float) else v
        for k, v in asdict(best).items()
        if k not in ("name", "group", "job_ids")
    }
    return {
        "query": name,
        "construction_s": round(construction_s, 4),
        "phases_s": phases_s,
        **counts,
        "jobs": len(best.job_ids),
        **record,
    }


_FILE_PATH = re.compile(r"file:(/[^,\]\s]+)")


def relative_locations(plan: str, root: str) -> str:
    """``plan`` with each ``file:`` path under ``root`` on its
    ``Location: InMemoryFileIndex`` lines rewritten relative to
    ``root``, so the same plan dumps to the same bytes from any
    checkout and working directory."""

    def rel(m: re.Match) -> str:
        path = m.group(1)
        if path.startswith(root.rstrip("/") + "/"):
            return os.path.relpath(path, root)
        return m.group(0)

    return "\n".join(
        _FILE_PATH.sub(rel, line) if "Location: InMemoryFileIndex" in line else line
        for line in plan.split("\n")
    )


def write_plan(spark: SparkSession, name: str, sf_dir: str, out_dir: str) -> None:
    """Write ``explain("formatted")`` of query ``name`` to
    ``out_dir/<name>.txt`` with locations relative to the working
    directory (where the bucketed lineitem's warehouse lives)."""
    from mitoscape_spark.queries import QUERIES

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
        fh.write(relative_locations(buf.getvalue(), os.getcwd()))


# ------------------------------------------------------------ K× corpus
#: id and join keys each copy offsets by k·OFFSET, so copy k is a
#: disjoint isomorphic slice: join degrees, group sizes and per-key
#: densities stay those of the base (verbatim copies would multiply
#: join fan-out per key and measure a different query)
_KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: fixed-size dimensions, copied once
_FIXED = ("nation", "region")
OFFSET = 1_000_000_000


def _refuse_aliasable_tokens(docs) -> None:
    """A base token already ending in ``_<digits>`` (``foo_1``) equals a
    lower copy's suffixed token (``foo`` + ``_1``) and would put shingles
    back in common across copies."""
    from pyspark.sql import functions as F

    n_bad = docs.where(F.col("text").rlike(r"_\d+(\s|$)")).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} base documents contain tokens ending in '_<digits>' — "
            "the per-copy suffix scheme would alias them across copies; "
            "pick a delimiter outside the base alphabet before deriving"
        )


def _copy_columns(table: str, base, k) -> list:
    """``base``'s columns as copy ``k`` (a column) of ``table``.

    * key columns are offset by k·OFFSET;
    * documents: every whitespace token gets the suffix ``_<k>`` and
      ``n_chars`` is recomputed: token structure within a copy is kept,
      token and shingle spaces of different copies are disjoint (verbatim
      text would make every document a K-member near-dup cluster);
    * embeddings: dimension j of copy k flips its sign iff xxhash64(k, j)
      is odd. A reflection keeps every dot product within a copy exactly
      and decorrelates copies, so nearest neighbours stay in their copy.

    Copy 0 is the base, byte for byte.
    """
    from pyspark.sql import functions as F

    cols = {c: F.col(c) for c in base.columns}
    for c in _KEY_COLS[table]:
        cols[c] = F.col(c) + k.cast("long") * OFFSET
    if table == "documents":
        suffixed = F.regexp_replace(
            F.col("text"), F.lit(r"(\S+)"), F.concat(F.lit("$1_"), k.cast("string"))
        )
        text = F.when(k == 0, F.col("text")).otherwise(suffixed)
        cols["text"] = text
        cols["n_chars"] = F.when(k == 0, F.col("n_chars")).otherwise(
            F.length(text).cast("long")
        )
    if table == "embeddings":
        flipped = F.transform(
            "embedding",
            lambda v, j: (
                v
                * F.when(F.pmod(F.xxhash64(k, j), F.lit(2)) == 0, F.lit(1.0)).otherwise(
                    F.lit(-1.0)
                )
            ).cast("float"),
        )
        cols["embedding"] = F.when(k == 0, F.col("embedding")).otherwise(flipped)
    return [v.alias(c) for c, v in cols.items()]


def derive_corpus(spark: SparkSession, sf_dir: str, factor: int, out_dir: str) -> str:
    """Write the ``factor``× corpus of ``sf_dir`` to ``out_dir`` and
    return ``out_dir``. Each table of ``catalog.TABLES`` holds ``factor``
    copies of its base rows (see :func:`_copy_columns`), except the fixed
    dimensions ``nation`` and ``region``, which are copied once. A table
    whose output already finished writing is kept as it is.

    The plan is flat: a ``range(factor)`` copy index cross-joined with a
    broadcast of the base table, each copy's values functions of the
    index column, so the plan's size does not grow with ``factor``."""
    from pyspark.sql import functions as F

    from mitoscape_spark.catalog import TABLES, load_table

    def done(table: str) -> bool:
        return os.path.exists(os.path.join(out_dir, f"{table}.parquet", "_SUCCESS"))

    if not done("documents"):
        _refuse_aliasable_tokens(load_table(spark, sf_dir, "documents"))
    copies = spark.range(0, factor, 1, min(factor, 64)).select(
        F.col("id").cast("int").alias("__k")
    )
    for table in TABLES:
        if done(table):
            continue
        base = load_table(spark, sf_dir, table)
        if table in _FIXED:
            out = base
        else:
            out = copies.crossJoin(F.broadcast(base)).select(
                _copy_columns(table, base, F.col("__k"))
            )
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
    return out_dir


# ------------------------------------------------------------------ CLI
def build_parser() -> argparse.ArgumentParser:
    from mitoscape_spark.catalog import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(
        prog="python -m mitoscape_spark.trace",
        description="Trace declared queries: one JSON line per query.",
    )
    ap.add_argument(
        "--queries",
        default=",".join(f"q{i:02d}" for i in range(1, 16)),
        help="comma-separated declared query names (default: q01..q15)",
    )
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="base corpus directory")
    ap.add_argument(
        "--scale", type=int, default=1, help="run on the derived K× corpus (K ≥ 1)"
    )
    ap.add_argument("--rounds", type=int, default=3, help="timed passes, min taken")
    ap.add_argument("--plans", default=None, help='write explain("formatted") dumps here')
    return ap


def main(argv: list[str] | None = None) -> int:
    ap = build_parser()
    args = ap.parse_args(argv)
    names = [q.strip() for q in args.queries.split(",") if q.strip()]
    if args.scale < 1:
        ap.error("--scale must be >= 1")
    if args.rounds < 1:
        ap.error("--rounds must be >= 1")

    from mitoscape_spark.queries import QUERIES
    from mitoscape_spark.session import bench_session, bucket_lineitem

    unknown = [n for n in names if n not in QUERIES]
    if not names or unknown:
        ap.error(f"unknown query names: {unknown or args.queries!r}")

    spark = bench_session(args.sf, "trace")
    sf_dir = args.sf
    if args.scale > 1:
        base = os.path.basename(os.path.normpath(args.sf))
        sf_dir = derive_corpus(
            spark, args.sf, args.scale, os.path.join(".scale_probe", f"{base}_x{args.scale}")
        )
        bucket_lineitem(spark, sf_dir, "trace")
    for name in names:
        if args.plans:
            write_plan(spark, name, sf_dir, args.plans)
        print(json.dumps({"sf_dir": sf_dir, **trace_query(spark, name, sf_dir, args.rounds)}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
