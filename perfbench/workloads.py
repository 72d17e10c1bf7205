"""The benchmark's workloads, each a closed loop with one client.

``classify_bam``: the paper's per-sample job, ``mitoscape-spark
classify`` from an MT/NT BAM pair to a single-file BAM. Passes run one
after another on one session. At 4000 reads Spark's per-job overhead
dominates a pass; BAM decode/encode in ``sources``, which ``queries``
never runs, is about 28% of a traced pass.

``queries``: Q01–Q15 from ``queries.relational`` over a generated
TPC-H-like corpus with a bucketed lineitem, submitted through
``concurrency.run_concurrent`` with at most ``nproc`` in flight. No
pipeline code and no Python UDF runs; Catalyst planning, per-job
overhead and JVM-native scans and shuffles do the work.

Each workload fills ``Run.metrics`` (end to end, untraced) and, when
tracing, ``Run.layers`` (per layer). Layers are timed from outside,
around calls into the engine's public functions; a traced classify
pass persists and materialises each layer's input first, so a span
holds only that layer's work.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import statistics
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen
import oracle
from spans import Tracer

SETUP_REPS = 3  # set-up is repeated and its median reported
WARMUP_SETS = 3  # untimed query sets before the measured ones
CONTROL_SHARE = 0.1  # DuckDB control time next to each op, as a share of the op
# the per-layer metric families each workload measures; a traced run
# must produce every BENCHMARK.json per-layer metric in its families
LAYER_FAMILIES = {
    "classify_bam": ("session.", "bench.", "duckdb.", "sources.", "functions.", "pipeline."),
    "queries": ("session.", "bench.", "duckdb.", "catalog.", "concurrency.", "query."),
}


@dataclass
class Failure:
    workload: str
    operation: str
    exception: str
    message: str


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout
    nproc: int
    shuffle_partitions: int
    attempted: int = 0
    failures: list[Failure] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    op_times: list[float] = field(default_factory=list)
    control_times: list[float] = field(default_factory=list)
    tracer: Tracer | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fail(self, operation: str, exc: BaseException) -> None:
        traceback.print_exception(exc)
        self.failures.append(
            Failure(self.workload, operation, type(exc).__name__, str(exc)[:2000])
        )

    def check(self, operation: str, ok: bool, message: str) -> None:
        if not ok:
            self.failures.append(
                Failure(self.workload, operation, "WrongOutput", message)
            )

    def attempt(self, operation: str, fn: Callable[[], object]) -> object:
        """Run one counted operation; a raise becomes a failure record."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — recorded, run continues
            self.fail(operation, exc)
            return None

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)


def timed(fn: Callable[[], object]) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def measure(
    run: Run,
    operation: str,
    op: Callable[[], None],
    seconds: float,
    min_ops: int,
    after: Callable[[float], None] | None = None,
) -> list[float]:
    """Closed loop: run ``op`` until the measured operations add up to
    ``seconds`` and at least ``min_ops`` completed. ``after`` (untimed)
    runs after each one with its duration."""
    times: list[float] = []
    while len(times) < min_ops or sum(times) < seconds:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            op()
        except Exception as exc:  # noqa: BLE001
            run.fail(operation, exc)
            break
        times.append(time.perf_counter() - t0)
        if after is not None:
            after(times[-1])
    run.op_times += times
    return times


def start_session(run: Run, extra: dict[str, str] | None = None):
    from mitoscape_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": run.path("warehouse", ""),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp', '')}",
        **(extra or {}),
    }
    return get_spark(f"perfbench-{run.workload}", extra_conf=conf)


def setup(run: Run, start: Callable[[], object], prepare: Callable[[object], None]):
    """Start the JVM once, then SETUP_REPS timed set-ups (session
    restart + ``prepare``); ``setup_s`` is their median."""
    t0 = time.perf_counter()
    with run.span("session.get_spark"):
        spark = start()
    run.layers["session.get_spark_s"] = time.perf_counter() - t0
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark.stop()
        spark = start()
        prepare(spark)
        reps.append(time.perf_counter() - t0)
    run.metrics["setup_s"] = statistics.median(reps)
    return spark


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process's descendants: the
    driver JVM and its Python workers."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree: set[int] = set()
    frontier = {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        tree |= frontier
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb / 1024


class PairedControl:
    """The in-process DuckDB control, timed right before the first
    measured operation and right after each one, for CONTROL_SHARE of
    an operation's time (at least once). The box's speed drifts by up
    to 2x within tens of seconds, so each Spark time is divided by the
    two controls that bracket it."""

    def __init__(self, fn: Callable[[], object]):
        self.fn = fn
        self.times: list[float] = []
        fn()  # warm

    def sample(self, op_seconds: float) -> None:
        reps: list[float] = []
        deadline = time.perf_counter() + CONTROL_SHARE * op_seconds
        while not reps or time.perf_counter() < deadline:
            reps.append(timed(self.fn))
        self.times.append(statistics.median(reps))

    def ratio(self, op_times: list[float]) -> float:
        """Median over the last ``op_times`` of the Spark time over the
        mean of the controls before and after it."""
        around = self.times[-len(op_times) - 1:]
        return statistics.median(
            op / statistics.fmean(around[i : i + 2]) for i, op in enumerate(op_times)
        )


@contextlib.contextmanager
def patched(module, name: str, value):
    """Temporarily replace ``module.name`` (the name must exist)."""
    original = getattr(module, name)
    setattr(module, name, value)
    try:
        yield
    finally:
        setattr(module, name, original)


# ------------------------------------------------------------- classify
CLASSIFY_SPANS = [
    "sources.read_alignments_bam",
    "functions.md_variants_udf",
    "pipeline.mt_features",
    "pipeline.pairwise_ld_score",
    "pipeline.nt_features",
    "pipeline.build_feature_table",
    "pipeline.ml_transform",
    "pipeline.semi_join",
    "sources.write_alignments_bam",
]
CLASSIFY_TIMES = CLASSIFY_SPANS + [
    "sources.read_alignments_parquet",
    "sources.plan_bam_splits",
    "pipeline.load_model",
    "pipeline.ld_scores_table",
]


def ensure_model(spark, path: str) -> None:
    """The 128-tree RF at ``path``, trained once per checkout from the
    fixture's labeled features (seed-independent, so all seeds share it)."""
    if not os.path.exists(os.path.join(path, "_TRAINED")):
        from mitoscape_spark.pipeline.fixtures import (
            labeled_features_pdf,
            to_spark_canonical,
        )
        from mitoscape_spark.pipeline.ml import train_rf

        training = to_spark_canonical(spark, labeled_features_pdf(), "Read")
        train_rf(training, model_path=path)
        open(os.path.join(path, "_TRAINED"), "w").close()


def classify(run: Run, n_reads: int = gen.N_READS) -> None:
    import duckdb
    import pandas as pd
    from pyspark.sql import DataFrame

    from mitoscape_spark import cli
    from mitoscape_spark.pipeline import classify as cl
    from mitoscape_spark.pipeline.classify import build_feature_table
    from mitoscape_spark.pipeline.ml import load_pipeline_model

    t0 = time.perf_counter()
    inputs = gen.classify_inputs(run.seed, run.path("inputs", ""), n_reads)
    run.layers["bench.gen_s"] = time.perf_counter() - t0

    model = run.path("model", "rf128")

    def start():
        spark = start_session(run)
        ensure_model(spark, model)
        return spark

    spark = setup(run, start, lambda spark: load_pipeline_model(model))
    out = run.path("out", f"{run.workload}-{run.seed}.bam")
    argv = [
        "classify", "--mt", inputs.mt, "--nt", inputs.nt, "--ld", inputs.ld,
        "--numt", inputs.numt, "--model", model, "--out", out,
    ]

    def one_pass() -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(argv, spark=spark)

    con = duckdb.connect()
    want = oracle.feature_oracle(inputs, con)
    control = PairedControl(lambda: oracle.feature_oracle(inputs, con))
    survivor_sets: list[frozenset] = []

    def after_pass(seconds: float) -> None:
        control.sample(seconds)
        survivor_sets.append(frozenset(oracle.decode_bam(out).read_name))

    # The warm-up pass keeps the feature table it computed (the command
    # unpersists it on exit), so the oracle check reads the very table
    # the user path scored instead of recomputing it.
    warm_features: list = []

    def keep_features(*a, **k):
        df = build_feature_table(*a, **k)
        df.unpersist = lambda *a, **k: df
        warm_features.append(df)
        return df

    t0 = time.perf_counter()
    with patched(cl, "build_feature_table", keep_features):
        run.attempt("classify warm-up", one_pass)
    run.layers["bench.warmup_s"] = time.perf_counter() - t0
    got = None
    if warm_features:
        survivor_sets.append(frozenset(oracle.decode_bam(out).read_name))
        got = warm_features[0].toPandas()
        DataFrame.unpersist(warm_features[0])
    control.sample(run.seconds)
    # a pass is long: on a loaded box one pass fills --seconds
    passes = measure(run, "classify pass", one_pass, run.seconds, 1, after_pass)
    con.close()
    if not passes:
        return
    median_pass = statistics.median(passes)
    run.metrics["paired_ratio"] = control.ratio(passes)
    run.control_times = control.times
    run.layers["duckdb.control_s"] = statistics.median(control.times)
    run.layers["bench.throughput_per_s"] = inputs.n_alignments / median_pass

    # ---- correctness, untimed
    survivors = survivor_sets[0]
    run.check(
        "classify survivors",
        all(s == survivors for s in survivor_sets),
        f"survivor sets differ across the warm-up and measured passes: sizes "
        f"{[len(s) for s in survivor_sets]}",
    )
    mt_rows = pd.read_parquet(inputs.mt_parquet)
    expected = oracle.alignment_rows(mt_rows[mt_rows.read_name.isin(survivors)])
    run.check(
        "sources.write_alignments_bam",
        oracle.same_rows(oracle.decode_bam(out), expected),
        "output BAM does not decode to the semi-joined MT rows",
    )
    run.check(
        "classify survivors",
        survivors <= set(want.Read),
        "survivors outside the feature table",
    )
    run.check(
        "pipeline.build_feature_table",
        got is not None and oracle.table_hash(got) == oracle.table_hash(want),
        "feature table of the warm-up pass differs from the oracle",
    )
    if run.trace:
        traced = run.attempt(
            "classify traced pass",
            lambda: traced_classify_pass(run, spark, inputs, model, out),
        )
        if traced is not None:
            got, traced_survivors, pass_s = traced
            run.check(
                "classify survivors",
                traced_survivors == survivors,
                "traced pass survivors differ from the untraced passes",
            )
            run.check(
                "pipeline.build_feature_table",
                oracle.table_hash(got) == oracle.table_hash(want),
                "traced feature table hash differs from the oracle",
            )
            run.layers["bench.traced_pass_s"] = pass_s
            run.layers["bench.untraced_pass_s"] = median_pass
            run.layers["bench.trace_overhead_s"] = pass_s - median_pass
    run.layers["bench.peak_rss_mb"] = peak_rss_mb()
    spark.stop()


def traced_classify_pass(run: Run, spark, inputs: gen.ClassifyInputs, model: str, out: str):
    """One classify pass, layer by layer: each layer's input is
    persisted and materialised before its span starts, and the span
    materialises the layer's output. Returns (feature table as pandas,
    survivor names, pass seconds). After the pass, the parquet copies of
    the inputs are read the same way, outside the pass, for the parquet
    reader's time."""
    from pyspark.sql import functions as F

    from mitoscape_spark import cli
    from mitoscape_spark.functions.md_parser import md_variants_udf
    from mitoscape_spark.pipeline import classify as cl
    from mitoscape_spark.pipeline import features as ft
    from mitoscape_spark.pipeline import ld as ldm
    from mitoscape_spark.pipeline.ml import load_pipeline_model
    from mitoscape_spark.sources import bam

    tr = run.tracer
    kept = []

    def keep(df):
        df = df.persist()
        df.count()
        kept.append(df)
        return df

    plan_bam_splits = bam.plan_bam_splits

    def traced_plan(*a, **k):
        with tr.span("sources.plan_bam_splits"):
            return plan_bam_splits(*a, **k)

    with tr.span("pass") as whole:
        with tr.span("pipeline.load_model"):
            model_obj = load_pipeline_model(model)
        with tr.span("pipeline.ld_scores_table"):
            ld = keep(ldm.ld_scores_table(spark, inputs.ld))
        numts = keep(cli.load_numts(spark, inputs.numt))
        with patched(bam, "plan_bam_splits", traced_plan):
            with tr.span("sources.read_alignments_bam"):
                mt = keep(bam.read_alignments_bam(spark, inputs.mt))
                nt = keep(bam.read_alignments_bam(spark, inputs.nt))
        with tr.span("functions.md_variants_udf"):
            offset = (F.col("start") - 1).cast("long")
            (variants_emitted,) = (
                ft.valid_alignments(mt)
                .select(F.size(md_variants_udf("md", "seq", offset)).alias("n"))
                .agg(F.sum("n"))
                .first()
            )
        with tr.span("pipeline.mt_features"):
            mtf = keep(ft.mt_features(mt))
        with tr.span("pipeline.pairwise_ld_score"):
            mtl = keep(ldm.pairwise_ld_score(mtf, ld))
        with tr.span("pipeline.nt_features"):
            ntf = keep(ft.nt_features(nt, numts))
        with tr.span("pipeline.build_feature_table"):
            with (
                patched(cl, "mt_features", lambda *a, **k: mtf),
                patched(cl, "pairwise_ld_score", lambda *a, **k: mtl),
                patched(cl, "nt_features", lambda *a, **k: ntf),
            ):
                features = cl.build_feature_table(mt, nt, ld, numts)
            feature_rows = features.count()
        with tr.span("pipeline.ml_transform"):
            with patched(cl, "build_feature_table", lambda *a, **k: features):
                result = cl.classify(mt, nt, ld, numts, model=model_obj)
            survivors = keep(result.survivors)
        with tr.span("pipeline.semi_join"):
            kept_rows = keep(result.alignments)
        with tr.span("sources.write_alignments_bam"):
            records_written = bam.write_alignments_bam(kept_rows, out)
    with tr.span("sources.read_alignments_parquet"):
        parquet_rows = sum(
            keep(bam.read_alignments_parquet(spark, p)).count()
            for p in (inputs.mt_parquet, inputs.nt_parquet)
        )

    # counts, untimed
    pairs = mtf.select("Read", F.posexplode("Variants").alias("i", "v"))
    a, b = pairs.alias("a"), pairs.alias("b")
    pair_keys = a.join(
        b, (F.col("a.Read") == F.col("b.Read")) & (F.col("a.i") < F.col("b.i"))
    ).select(F.least("a.v", "b.v").alias("v1"), F.greatest("a.v", "b.v").alias("v2"))
    ld_pairs = pair_keys.count()
    ld_hits = pair_keys.join(ld, ["v1", "v2"]).count()
    got = features.toPandas()
    survivor_names = frozenset(r.Read for r in survivors.collect())
    layers = run.layers
    layers["sources.decode_records"] = mt.count() + nt.count()
    run.check(
        "sources.read_alignments_parquet",
        parquet_rows == layers["sources.decode_records"],
        f"parquet copies hold {parquet_rows} rows, the BAMs decode to "
        f"{layers['sources.decode_records']}",
    )
    layers["sources.records_written"] = records_written
    layers["functions.variants_emitted"] = variants_emitted or 0
    layers["pipeline.ld_pairs"] = ld_pairs
    layers["pipeline.ld_hits"] = ld_hits
    layers["pipeline.ld_hit_ratio"] = ld_hits / ld_pairs if ld_pairs else 0.0
    layers["pipeline.feature_rows"] = feature_rows
    layers["pipeline.survivors"] = len(survivor_names)
    for name in CLASSIFY_TIMES:
        layers[f"{name}_s"] = tr.total(name)
    for name in CLASSIFY_SPANS:
        for counter in ("jobs", "shuffle_write_bytes", "spill_bytes"):
            layers[f"{name}.{counter}"] = tr.total(name, counter)
    layers["bench.trace_gap_s"] = tr.self_time(tr.spans.index(whole))
    features.unpersist()
    for df in kept:
        df.unpersist()
    return got, survivor_names, whole.duration


# -------------------------------------------------------------- queries
QUERY_NAMES = [f"q{i:02d}" for i in range(1, 16)]
_SHUFFLE_EXCHANGE = re.compile(r"(?<!Broadcast)(?<!Reused)Exchange\b")


def queries(run: Run, sf: float = gen.QUERY_SF) -> None:
    from mitoscape_spark.catalog import load_table, register_layout_override
    from mitoscape_spark.concurrency import run_concurrent
    from mitoscape_spark.queries.relational import ORACLE, QUERIES
    from mitoscape_spark.sources.bucketed import write_bucketed
    from mitoscape_spark.verify import compare_query, duckdb_connection

    t0 = time.perf_counter()
    sf_dir = gen.query_corpus(run.seed, run.path("inputs", ""), sf)
    run.layers["bench.gen_s"] = time.perf_counter() - t0

    # bench.py's session for small scale factors
    extra = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10485760",
        "spark.scheduler.mode": "FAIR",
        "spark.locality.wait": "0",
    }
    ingest_times: list[float] = []

    def prepare(spark):
        t0 = time.perf_counter()
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"),
            "bench_lineitem",
            "l_orderkey",
            n_buckets=run.shuffle_partitions,
        )
        register_layout_override(spark, sf_dir, "lineitem", "bench_lineitem")
        ingest_times.append(time.perf_counter() - t0)

    spark = setup(run, lambda: start_session(run, extra), prepare)
    run.layers["catalog.bucketed_ingest_s"] = statistics.median(ingest_times)

    def query_set(inflight: int) -> None:
        thunks = {n: (lambda fn=QUERIES[n]: fn(spark, sf_dir)) for n in QUERY_NAMES}
        errors: list[tuple[str, Exception]] = []
        run_concurrent(
            spark, thunks, max_inflight=inflight, on_error=lambda n, e: errors.append((n, e))
        )
        run.attempted += len(thunks) - 1  # the caller counts one
        for name, exc in errors:
            run.fail(name, exc)

    con = duckdb_connection(sf_dir)

    def oracle_pass() -> None:
        for name in QUERY_NAMES:
            con.execute(ORACLE[name]).fetchall()

    # the set keeps speeding up over its first runs (JIT), so warm longer
    t0 = time.perf_counter()
    for _ in range(WARMUP_SETS):
        run.attempt("query set warm-up", lambda: query_set(run.nproc))
    run.layers["bench.warmup_s"] = time.perf_counter() - t0
    control = PairedControl(oracle_pass)
    control.sample(run.layers["bench.warmup_s"] / WARMUP_SETS)
    seconds = run.seconds / 2 if run.trace else run.seconds
    sets = measure(run, "query set", lambda: query_set(run.nproc), seconds, 3, control.sample)
    if not sets:
        con.close()
        return
    median_set = statistics.median(sets)
    run.layers["bench.throughput_per_s"] = len(QUERY_NAMES) / median_set
    run.metrics["paired_ratio"] = control.ratio(sets)
    run.control_times = control.times
    run.layers["duckdb.control_s"] = statistics.median(control.times)

    # ---- correctness, untimed: one hash check per query, nproc at a
    # time, each thread on its own DuckDB cursor
    def compare(name: str):
        with con.cursor() as cur:
            return compare_query(spark, cur, name, QUERIES[name], ORACLE[name], sf_dir)

    with ThreadPoolExecutor(run.nproc) as pool:
        checks = {name: pool.submit(compare, name) for name in QUERY_NAMES}
    for name, future in checks.items():
        res = run.attempt(name, future.result)
        if res is not None:
            run.check(
                name,
                res.ok,
                f"spark={res.spark_rows} oracle={res.oracle_rows} "
                f"cols={res.cols_match} hash={res.hash_match}",
            )

    if run.trace:
        run.layers["concurrency.run_concurrent_s"] = median_set
        control.sample(median_set)
        serial_sets = measure(
            run, "serial query set", lambda: query_set(1), seconds, 3, control.sample
        )
        serial = statistics.median(serial_sets)
        run.layers["query.serial_set_s"] = serial
        run.layers["query.serial_paired_ratio"] = control.ratio(serial_sets)
        traced = run.attempt(
            "traced query set", lambda: traced_serial_set(run, spark, sf_dir)
        )
        if traced is not None:
            run.layers["bench.traced_pass_s"] = traced
            run.layers["bench.untraced_pass_s"] = serial
            run.layers["bench.trace_overhead_s"] = traced - serial
    con.close()
    run.layers["bench.peak_rss_mb"] = peak_rss_mb()
    spark.stop()


def traced_serial_set(run: Run, spark, sf_dir: str) -> float:
    """Q01–Q15 one at a time, each split into construction, planning
    (forcing the executed plan) and execution (noop write). Planning is
    timed on the query's own plan; the noop write plans its command
    again, which lands in ``query.exec``."""
    from mitoscape_spark.queries.relational import QUERIES

    tr = run.tracer
    run.attempted += len(QUERY_NAMES) - 1  # the caller counts one
    exchanges = 0
    with tr.span("query.set") as whole:
        for name in QUERY_NAMES:
            with tr.span(f"query.{name}"):
                with tr.span("query.construct"):
                    df = QUERIES[name](spark, sf_dir)
                with tr.span("query.plan"):
                    plan = df._jdf.queryExecution().executedPlan().toString()
                with tr.span("query.exec"):
                    df.write.format("noop").mode("overwrite").save()
            exchanges += len(_SHUFFLE_EXCHANGE.findall(plan))
    layers = run.layers
    for phase in ("construct", "plan", "exec"):
        layers[f"query.{phase}_s"] = tr.total(f"query.{phase}")
    query_spans = [s for s in tr.spans if s.name.startswith("query.") and s.name != "query.set"]
    layers["query.jobs"] = sum(s.jobs for s in query_spans)
    layers["query.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in query_spans)
    layers["query.exchanges"] = exchanges
    for name in QUERY_NAMES:
        layers[f"query.{name}_s"] = tr.total(f"query.{name}", "duration")
    layers["bench.trace_gap_s"] = tr.self_time(tr.spans.index(whole))
    return whole.duration


WORKLOADS = {"classify_bam": classify, "queries": queries}
