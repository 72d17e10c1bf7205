"""Pure-Python BGZF/BAM codec + splittable Spark BAM scan.

The writer side synthesizes spec-valid files (small block sizes so
records span BGZF block boundaries — the case split planning must get
right); the reader side is checked for exactness: the union of all
split ranges decodes to exactly the whole file, no dupes, no gaps.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import *  # noqa: F401,F403 - spark fixture


def _mk_records(n: int):
    from mitoscape_spark.sources.bamcodec import (
        FLAG_PAIRED,
        FLAG_PROPER_PAIR,
        encode_record,
    )

    recs, names = [], []
    for i in range(n):
        name = f"read_{i:05d}"
        names.append(name)
        k = i % 30
        recs.append(
            encode_record(
                read_name=name,
                ref_id=i % 2,
                pos0=100 + i,
                mapq=30 + (i % 30),
                flag=FLAG_PAIRED | FLAG_PROPER_PAIR,
                # calmd-masked read: '=' at matches, real base at the sub
                seq="=" * k + "A" + "=" * (31 - k),
                tags={"NM": i % 5, "NH": 1, "MD": f"{k}A{31 - k}"},
            )
        )
    return recs, names


def test_bgzf_roundtrip(tmp_path):
    from mitoscape_spark.sources.bgzf import (
        block_offsets,
        read_all,
        write_bgzf,
    )

    data = bytes(range(256)) * 600  # ~150 KB
    path = str(tmp_path / "t.bgzf")
    write_bgzf(path, data, block_payload=4096)
    assert read_all(path) == data
    offs = block_offsets(path)
    # ceil(150k/4k)=38 data blocks + EOF block; offsets strictly ascending
    assert len(offs) == -(-len(data) // 4096) + 1
    assert offs == sorted(set(offs))


def test_bam_write_index_decode_roundtrip(tmp_path):
    from mitoscape_spark.sources.bamcodec import (
        decode_range,
        index_record_voffsets,
        write_bam,
    )

    recs, names = _mk_records(500)
    path = str(tmp_path / "t.bam")
    # 512-byte blocks: each ~70-byte record frequently straddles blocks
    write_bam(path, [("chrM", 16569), ("chr1", 248956422)], recs, 512)

    checkpoints, end = index_record_voffsets(path, every_n=100)
    assert len(checkpoints) == 5
    rows = list(decode_range(path, checkpoints[0], end))
    assert [r["read_name"] for r in rows] == names
    r0 = rows[0]
    assert r0["chrom"] == "chrM" and r0["start"] == 101
    assert r0["md"] == "0A31" and "NM:i:0" in r0["attributes"]
    assert r0["seq"] == "A" + "=" * 31
    assert r0["read_paired"] and r0["proper_pair"]
    assert r0["primary_alignment"] and not r0["supplementary"]


def test_bam_splits_are_exact_partition(tmp_path):
    from mitoscape_spark.sources.bamcodec import (
        decode_range,
        index_record_voffsets,
        write_bam,
    )

    recs, names = _mk_records(357)  # not a multiple of every_n
    path = str(tmp_path / "t.bam")
    write_bam(path, [("chrM", 16569), ("chr1", 1000)], recs, 777)
    checkpoints, end = index_record_voffsets(path, every_n=50)
    bounds = checkpoints + [end]
    per_split = [
        [r["read_name"] for r in decode_range(path, a, b)]
        for a, b in zip(bounds[:-1], bounds[1:])
    ]
    assert [len(s) for s in per_split] == [50] * 7 + [7]
    flat = [n for s in per_split for n in s]
    assert flat == names  # no gaps, no dupes, original order per split


def test_spark_bam_scan_end_to_end(spark, tmp_path):
    from mitoscape_spark.sources.bam import (
        plan_bam_splits,
        read_alignments_bam,
    )
    from mitoscape_spark.sources.bamcodec import (
        index_record_voffsets,
        write_bam,
    )
    from mitoscape_spark.trace import trace

    paths = []
    for f, n in enumerate((300, 300, 100)):
        recs, _ = _mk_records(n)
        p = str(tmp_path / f"s{f}.bam")
        write_bam(p, [("chrM", 16569), ("chr1", 1000)], recs, 1024)
        paths.append(p)
    # planning is one Spark job (no shuffle), splits in input-file order
    # with exactly the record-boundary bounds of the index pass
    with trace(spark, "plan_bam_splits_probe") as rec:
        splits = plan_bam_splits(spark, paths, records_per_split=100)
    assert len(rec.job_ids) == 1, f"expected one job, saw {len(rec.job_ids)}"
    expected = []
    for p in paths:
        checkpoints, end = index_record_voffsets(p, every_n=100)
        bounds = checkpoints + [end]
        expected += [(p, a, b) for a, b in zip(bounds[:-1], bounds[1:])]
    assert splits == expected
    assert len(splits) == 7  # 3 + 3 + 1 — intra-file parallelism

    df = read_alignments_bam(spark, paths[:2], records_per_split=100)
    assert df.count() == 600
    assert df.select("read_name").distinct().count() == 300
    # downstream contract: the MD parser consumes this scan directly
    from pyspark.sql import functions as F

    from mitoscape_spark.functions.md_parser import md_variants_udf

    with_variants = df.withColumn(
        "variants", md_variants_udf(F.col("md"), F.col("seq"), F.lit(0))
    )
    assert with_variants.where("size(variants) >= 1").count() == 600
    # one split per partition; a one-split file is planned as one
    # partition, so an aggregate on its decode adds no exchange
    assert df.rdd.getNumPartitions() == 6
    one = read_alignments_bam(spark, paths[2], records_per_split=100)
    per_read = one.groupBy("read_name").count()._jdf.queryExecution()
    assert "Exchange" not in per_read.executedPlan().toString()
    assert one.count() == 100


_REFS = ["chrM", "chr1", "chr2"]
_FLAGS = {
    "read_paired": 0x1,
    "proper_pair": 0x2,
    "mate_unmapped": 0x8,
    "secondary": 0x100,
    "supplementary": 0x800,
}


@settings(max_examples=300, deadline=None)
@given(
    read_name=st.text(
        st.characters(min_codepoint=0x21, max_codepoint=0x7E), min_size=1, max_size=60
    ),
    ref_id=st.integers(-1, len(_REFS) - 1),
    pos0=st.integers(-1, 2**31 - 2),
    mapq=st.integers(0, 255),
    flags=st.sets(st.sampled_from(sorted(_FLAGS))),
    # every nibble code, odd/even/empty lengths
    seq=st.text(st.sampled_from("=ACMGRSVTWYHKDBN"), max_size=41),
    int_tags=st.dictionaries(
        st.text(st.sampled_from("ABCDEFGHIJKLNOPQRSTUVWXYZ"), min_size=2, max_size=2),
        st.integers(-(2**31), 2**31 - 1),
        max_size=4,
    ),
    md=st.none() | st.from_regex(r"[0-9]{1,3}(\^?[ACGT][0-9]{1,3}){0,4}", fullmatch=True),
)
def test_record_encode_decode_roundtrip(
    read_name, ref_id, pos0, mapq, flags, seq, int_tags, md
):
    """decode_record inverts encode_record on every field the engine
    keeps: the sequence's 4-bit packing at odd, even and zero lengths
    over all 16 codes, int tags and the MD string."""
    from mitoscape_spark.sources.bamcodec import decode_record, encode_record

    tags = dict(int_tags)
    if md is not None:
        tags["MD"] = md
    flag = sum(_FLAGS[f] for f in flags)
    rec = encode_record(read_name, ref_id, pos0, mapq, flag, seq, tags)
    assert int.from_bytes(rec[:4], "little", signed=True) == len(rec) - 4
    got = decode_record(rec[4:], _REFS)
    assert got == {
        "read_name": read_name,
        "chrom": _REFS[ref_id] if ref_id >= 0 else None,
        "start": pos0 + 1,
        "mapq": mapq,
        "attributes": " ".join(f"{t}:i:{v}" for t, v in sorted(int_tags.items())),
        "seq": seq or None,
        "md": md,
        "primary_alignment": "secondary" not in flags,
        "read_paired": "read_paired" in flags,
        "proper_pair": "proper_pair" in flags,
        "mate_mapped": "mate_unmapped" not in flags,
        "supplementary": "supplementary" in flags,
    }


def test_bam_bad_magic_raises(tmp_path):
    from mitoscape_spark.sources.bamcodec import read_refs
    from mitoscape_spark.sources.bgzf import write_bgzf

    path = str(tmp_path / "bad.bam")
    write_bgzf(path, b"NOTBAM_________", 4096)
    with pytest.raises(ValueError, match="magic"):
        read_refs(path)


def test_single_file_bam_sink_roundtrip(spark, tmp_path):
    """S7 parity: DataFrame -> write_alignments_bam (parallel shard
    encode + driver stitch) -> splittable read -> identical records.
    Multiple input partitions so the concatenation path is exercised."""
    from mitoscape_spark.sources.bam import (
        read_alignments_bam,
        write_alignments_bam,
    )
    from mitoscape_spark.sources.bamcodec import write_bam

    # source of truth: a synthesized BAM read through the scan
    recs, names = _mk_records(400)
    src = str(tmp_path / "src.bam")
    write_bam(src, [("chrM", 16569), ("chr1", 248956422)], recs, 512)
    df = read_alignments_bam(spark, src, records_per_split=100)

    out = str(tmp_path / "out.bam")
    n = write_alignments_bam(
        df.repartition(7),
        out,
        refs=[("chrM", 16569), ("chr1", 248956422)],
    )
    assert n == 400

    back = read_alignments_bam(spark, out, records_per_split=100)
    key = [f.name for f in df.schema.fields]
    orig = {tuple(r[k] for k in key) for r in df.collect()}
    got = {tuple(r[k] for k in key) for r in back.collect()}
    assert got == orig
    # single file on disk, valid EOF (readable to the end)
    import os

    assert os.path.isfile(out)
    assert not [
        p for p in os.listdir(tmp_path) if p.startswith("_bam_staging_")
    ]


def test_single_file_bam_sink_derives_refs_and_nulls(spark, tmp_path):
    """refs=None derives the reference dictionary from the data; null
    chrom/seq/md columns survive the encode/decode roundtrip."""
    from mitoscape_spark.sources.bam import (
        ALIGNMENT_SCHEMA,
        read_alignments_bam,
        write_alignments_bam,
    )

    rows = [
        ("r1", "chrM", 10, 60, "NM:i:1", "=A=C", "1A2", True, True, True, True, False),
        ("r2", "chrM", 200, 0, "", None, None, True, False, False, False, True),
        ("r3", None, None, None, "", None, None, False, False, False, True, False),
    ]
    df = spark.createDataFrame(rows, ALIGNMENT_SCHEMA)
    out = str(tmp_path / "tiny.bam")
    assert write_alignments_bam(df, out) == 3
    back = {r["read_name"]: r for r in read_alignments_bam(spark, out).collect()}
    assert set(back) == {"r1", "r2", "r3"}
    assert back["r1"]["chrom"] == "chrM" and back["r1"]["start"] == 10
    assert back["r1"]["md"] == "1A2" and back["r1"]["seq"] == "=A=C"
    assert back["r1"]["attributes"] == "NM:i:1"
    assert back["r2"]["seq"] is None and back["r2"]["md"] is None
    assert back["r3"]["chrom"] is None
    assert back["r3"]["supplementary"] is False and back["r3"]["mate_mapped"]
