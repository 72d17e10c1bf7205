"""Alignment ingest (reference S1–S3: ADAM ``loadAlignments``,
``BamReader.scala:100-101, 172-173``; sink S7 ``saveAsSam``,
``MTClassify.scala:204``).

Engine-native path: alignment records as parquet with the explicit
schema below — scans prune/pushdown, and everything downstream is
columnar. This is the 100 TB path: BAM is a row-oriented, bgzf-blocked
format with no column projection; any serious deployment converts to
parquet once and queries many times.

Direct-BAM path: a pure-Python, *splittable* reader (no pysam). BGZF
block framing + a per-file record-boundary index pass (sources.bgzf /
sources.bamcodec) yield exact split bounds; each Spark task then
decodes only its byte range inside ``mapInPandas``. Parallelism is
per-split within files — the property that matters when single BAMs
are tens of GB.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# the fields the reference consumes (Feature.scala:115-127 + MD parse)
ALIGNMENT_SCHEMA = T.StructType(
    [
        T.StructField("read_name", T.StringType(), False),
        T.StructField("chrom", T.StringType(), True),
        T.StructField("start", T.LongType(), True),
        T.StructField("mapq", T.IntegerType(), True),
        T.StructField("attributes", T.StringType(), True),
        T.StructField("seq", T.StringType(), True),
        T.StructField("md", T.StringType(), True),
        T.StructField("primary_alignment", T.BooleanType(), True),
        T.StructField("read_paired", T.BooleanType(), True),
        T.StructField("proper_pair", T.BooleanType(), True),
        T.StructField("mate_mapped", T.BooleanType(), True),
        T.StructField("supplementary", T.BooleanType(), True),
    ]
)


def read_alignments_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Native path: alignment parquet with the explicit schema (schema
    enforced so column pruning reaches the scan even on heterogeneous
    inputs)."""
    return spark.read.schema(ALIGNMENT_SCHEMA).parquet(path)


def plan_bam_splits(
    spark: SparkSession, paths: list[str], records_per_split: int = 10_000
) -> list[tuple[str, int, int]]:
    """Distributed split planning, one job with no shuffle: one indexing
    task per file streams its BGZF blocks once and emits record-boundary
    virtual offsets at ``records_per_split`` spacing
    (sources.bamcodec). The collected plan is tiny (two longs per
    split), in input-file order — the data itself never moves.
    """

    def index(path: str) -> list[tuple[str, int, int]]:
        from mitoscape_spark.sources.bamcodec import index_record_voffsets

        checkpoints, end = index_record_voffsets(path, every_n=records_per_split)
        bounds = checkpoints + [end]
        return [(path, a, b) for a, b in zip(bounds[:-1], bounds[1:])]

    return (
        spark.sparkContext.parallelize(paths, max(len(paths), 1))
        .flatMap(index)
        .collect()
    )


def read_alignments_bam(
    spark: SparkSession,
    path: str | list[str],
    records_per_split: int = 10_000,
    batch_size: int = 10_000,
) -> DataFrame:
    """Splittable BAM scan, pure Python (no pysam): plan exact
    record-boundary splits per file (one indexing pass, distributed
    per-file), then decode each split in its own task via mapInPandas.

    Parallelism is per-split *within* files, not just per-file — the
    property that matters when single BAMs are tens of GB. The split
    table is parallelized one split per partition, so the decode tasks
    start without a shuffle; a one-split input is planned as a single
    partition, as its decode runs in one task. The parquet path above
    remains the steady-state 100 TB answer (columnar, prunable); this is
    the ingest edge of that pipeline.
    """
    paths = [path] if isinstance(path, str) else list(path)
    splits = plan_bam_splits(spark, paths, records_per_split)
    splits_df = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, max(len(splits), 1)),
        "bam_path: string, vstart: long, vend: long",
    )
    if len(splits) <= 1:
        # moves no data; it tells the planner that a one-split decode is
        # one partition, so aggregates and joins on it add no exchange
        splits_df = splits_df.coalesce(1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mitoscape_spark.sources.bamcodec import decode_range

        for pdf in batches:
            for p, vs, ve in zip(
                pdf["bam_path"], pdf["vstart"], pdf["vend"]
            ):
                rows = []
                for rec in decode_range(p, int(vs), int(ve)):
                    rows.append(rec)
                    if len(rows) >= batch_size:
                        yield pd.DataFrame(rows)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows)

    return splits_df.mapInPandas(scan, ALIGNMENT_SCHEMA)


def write_alignments_parquet(df: DataFrame, path: str) -> None:
    """Engine-native sink — the steady-state 100 TB path (columnar,
    prunable, splittable). The BAM twin below exists for parity with
    the reference's terminal action."""
    df.write.mode("overwrite").parquet(path)


def derive_refs(df: DataFrame) -> list[tuple[str, int]]:
    """Reference dictionary from the data itself: per-chrom max end
    (one small agg; used when the caller has no header to preserve)."""
    from pyspark.sql import functions as F

    rows = (
        df.where(F.col("chrom").isNotNull())
        .groupBy("chrom")
        .agg(
            F.max(
                F.col("start") + F.coalesce(F.length("seq"), F.lit(0))
            ).alias("end")
        )
        .orderBy("chrom")
        .collect()
    )
    return [(r["chrom"], int(r["end"])) for r in rows]


def write_alignments_bam(
    df: DataFrame,
    path: str,
    refs: list[tuple[str, int]] | None = None,
    header_text: str = "",
) -> int:
    """Single-file BAM sink — S7 parity with the reference's terminal
    ``saveAsSam(out, asSingleFile = true)`` (``MTClassify.scala:204``).
    Returns the record count written.

    Parallel encode, serial stitch: every partition encodes its rows
    (``bamcodec.encode_row``) and BGZF-compresses them into a shard
    file — complete gzip members, no EOF marker — then the driver
    concatenates header block + shards (partition order) + the spec
    EOF block. BGZF members are self-delimiting, so concatenation is
    pure byte append: the expensive work (encode + deflate) is fully
    distributed and the single-file step is sequential I/O only, no
    recompression — the same shard-merge design Hadoop-BAM/Disq use
    for ``asSingleFile``.

    Deployment assumption (shared with streaming/pysink): driver and
    executors see one filesystem for the staging directory. On a
    cluster backed by an object store, stage shards there and stitch
    with a server-side multipart concat instead. And at 100 TB the
    honest answer is: a single .bam is itself the bottleneck — keep
    data in parquet (above) and emit single-file BAM only at the edge
    where downstream tools demand it.
    """
    import os
    import shutil
    import tempfile

    from mitoscape_spark.sources.bgzf import BGZF_EOF, compress_fragment

    if refs is None:
        refs = derive_refs(df)
    ref_index = {name: i for i, (name, _) in enumerate(refs)}
    out_dir = os.path.dirname(os.path.abspath(path)) or "."
    staging = tempfile.mkdtemp(prefix="_bam_staging_", dir=out_dir)

    present = set(df.columns)
    cols = [f.name for f in ALIGNMENT_SCHEMA.fields if f.name in present]
    if "read_name" not in cols:
        raise ValueError("write_alignments_bam requires a read_name column")
    encoded_input = df.select(*cols)

    # ~1 MB of raw record bytes per compress+flush keeps task memory flat
    flush_bytes = 1 << 20

    def encode_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from mitoscape_spark.sources.bamcodec import encode_row

        pid = TaskContext.get().partitionId()
        frag = os.path.join(staging, f"part-{pid:05d}")
        n = 0
        buf = bytearray()
        fh = None
        for pdf in batches:
            if fh is None:
                fh = open(frag, "wb")
            # nullable int/str columns surface as NaN in pandas —
            # normalize to None so encode_row's null handling applies
            pdf = pdf.astype(object).where(pdf.notna(), None)
            for row in pdf.to_dict("records"):
                buf += encode_row(row, ref_index)
                n += 1
                if len(buf) >= flush_bytes:
                    fh.write(compress_fragment(bytes(buf)))
                    buf.clear()
        if fh is not None:
            if buf:
                fh.write(compress_fragment(bytes(buf)))
            fh.close()
            yield pd.DataFrame({"pid": [pid], "frag": [frag], "n": [n]})

    shards = encoded_input.mapInPandas(
        encode_partition, "pid int, frag string, n long"
    ).collect()
    shards.sort(key=lambda r: r["pid"])

    from mitoscape_spark.sources.bamcodec import encode_header

    try:
        with open(path, "wb") as out:
            out.write(compress_fragment(encode_header(refs, header_text)))
            for r in shards:
                with open(r["frag"], "rb") as f:
                    shutil.copyfileobj(f, out)
            out.write(BGZF_EOF)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return sum(r["n"] for r in shards)
