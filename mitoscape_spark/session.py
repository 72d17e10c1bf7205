"""SparkSession factory.

The reference hard-codes ``master("local[threads]")`` and tries (and,
due to a trailing-space config key, fails) to disable auto-broadcast
joins (reference ``MTClassify.scala:131-137``; SURVEY.md §8 Q5). We do
the opposite deliberately: leave the master to the submitter, enable
AQE (runtime coalesce + skew-join splitting), keep broadcast joins ON
(small dimension tables *should* broadcast), pin the session timezone
to UTC so results compare bit-stable against external oracles, and
enable Arrow so the pandas-UDF surface is vectorized.

Scale notes (100 TB): every knob here is per-job tunable; defaults are
chosen so the same logical plans survive a 1000-executor deployment —
AQE handles partition sizing/skew at runtime, nothing below pins a
cluster topology.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

# Local defaults fit the box: every core this process may run on and a
# driver heap of half the physical memory (local mode runs the driver
# and all task threads in that one JVM). SPARK_GRAFT_CPUS and
# SPARK_GRAFT_DRIVER_MEM override them; on a real cluster the submitter
# sets master/memory and AQE re-plans partition counts.
_LOCAL_CORES = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)


def default_driver_memory() -> str:
    """Half the physical memory, to the nearest GiB (at least 1g)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, round(phys / 2 / 2**30))}g"


def get_spark(
    app_name: str = "mitoscape_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    AQE is on: at 100 TB the static shuffle-partition count is always
    wrong somewhere, so we set a generous initial number and let
    adaptive coalescing shrink post-shuffle partitions and the skew-join
    rule split hot keys (reference has neither; SURVEY.md §4.1).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # -- adaptive execution: runtime re-planning beats static guesses
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- deterministic cross-engine comparison (DuckDB oracle is UTC-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # -- Arrow for every pandas_udf / toPandas hop
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- parquet TIMESTAMP(NANOS) columns (events.ts) surface as long;
        #    catalog.load_table converts them to µs timestamps explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- zstd writes: measured (PERF.md) gzip-class ratio at
        #    faster-than-snappy speed — ~20% less storage AND scan I/O
        #    at 100 TB for free; readers autodetect per-file codecs so
        #    mixed tables stay readable
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- quieter local runs; harmless on a cluster
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        # Test/bench default; spark-submit on a cluster sets its own master
        # and this branch is skipped via the env flag.
        builder = builder.master(f"local[{_LOCAL_CORES}]")
        # the 1 GiB default heap OOMs on legitimately sized task state
        # (e.g. packed GEMM blocks), and a heap above physical memory
        # gets the JVM OOM-killed. Only applied to the local harness —
        # clusters size executors via spark-submit. No effect if a JVM
        # already exists.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )

    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _LOCAL_CORES)
    )
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scale_factor(sf_dir: str) -> float:
    """The scale factor a corpus directory is named for (``.../sf0.1``
    → 0.1), or -1.0 when its name carries none."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def bench_session(sf_dir: str, app_name: str) -> SparkSession:
    """The session bench.py times the declared queries in, sized to the
    corpus at ``sf_dir``, with lineitem served bucketed (see
    :func:`bucket_lineitem`). Every value has an env override; a cluster
    submitter sets its own.

    * Shuffle partitions: 8 at bench scale factors (≤ 0.5), else 32 —
      at a few hundred MB a partition of a few MB is enough.
    * AQE off at bench scale factors: its per-stage re-plan costs a fixed
      materialization that only pays off when there is something to
      adapt, and bench partitions are pre-sized and skew-free (measured
      ~20% of wall-clock, PERF.md). Elsewhere it stays on as the
      skew-join and broadcast-conversion safety net.
    * 2 MB scan splits at bench scale factors: the inputs are single
      1–10 MB parquet files, and the default 128 MB split serializes each
      scan onto ~3 cores.
    * Broadcast threshold 10 MB, the same for AQE's runtime re-plan, so
      SPARK_GRAFT_AUTO_BROADCAST=-1 really disables implicit broadcasts.
      Disabling them was measured (PERF.md §19): it merges q03/q04 into
      one job and wins in isolated runs, but loses in the full bench mix
      in both A/B orders, because the extra shuffle stage's barrier
      costs more than the small overlappable broadcast job.
    * FAIR scheduling: independent queries share the cores fairly, pools
      are created on demand per query thread.
    * No locality wait: a fixed-size local cluster cannot gain locality
      by waiting.
    """
    sf = scale_factor(sf_dir)
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8" if sf <= 0.5 else "32")
    aqe = os.environ.get("SPARK_GRAFT_AQE", "false" if sf <= 0.5 else "true")
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m" if sf <= 0.5 else "128m")
    auto_bcast = os.environ.get("SPARK_GRAFT_AUTO_BROADCAST", "10485760")
    spark = get_spark(
        app_name,
        extra_conf={
            "spark.sql.adaptive.enabled": aqe,
            "spark.sql.files.maxPartitionBytes": mpb,
            "spark.sql.autoBroadcastJoinThreshold": auto_bcast,
            "spark.sql.adaptive.autoBroadcastJoinThreshold": auto_bcast,
            "spark.scheduler.mode": "FAIR",
            "spark.locality.wait": "0",
        },
    )
    bucket_lineitem(spark, sf_dir, app_name)
    return spark


def bucket_lineitem(spark: SparkSession, sf_dir: str, app_name: str) -> None:
    """Rewrite ``sf_dir``'s lineitem once (untimed, like any ingest) as a
    table bucketed and sorted on ``l_orderkey`` and serve it to every
    query through a catalog layout override: the per-key aggregations
    (q05/q06/q10) then plan no exchange. 8 buckets match the
    workload-sized shuffle partitions. SPARK_GRAFT_BUCKETED=0 disables
    it; a failure is reported on stderr and the queries read parquet."""
    if os.environ.get("SPARK_GRAFT_BUCKETED", "1") == "0":
        return
    from mitoscape_spark.catalog import load_table, register_layout_override
    from mitoscape_spark.sources.bucketed import write_bucketed

    try:
        li = load_table(spark, sf_dir, "lineitem")
        write_bucketed(li, "bench_lineitem", "l_orderkey", n_buckets=8)
        register_layout_override(spark, sf_dir, "lineitem", "bench_lineitem")
    except Exception as exc:  # noqa: BLE001
        print(f"{app_name}: bucketed layout skipped: {exc}", file=sys.stderr)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
