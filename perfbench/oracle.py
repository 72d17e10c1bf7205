"""Output checks that share no code with the engine.

* ``feature_oracle``: the per-read feature table computed in DuckDB from
  the generator's own rows. The generator recorded every substitution it
  injected, so no MD tag is parsed here.
* ``decode_bam``: a stdlib BAM reader (gzip + struct) for the engine's
  BAM writeback, independent of ``sources.bamcodec``.
* ``table_hash``: one canonical rendering + sha256 for feature tables
  from either side.
"""

from __future__ import annotations

import gzip
import hashlib
import struct

import duckdb
import pandas as pd

FEATURE_COLUMNS = [
    "Read",
    "MTMapQ",
    "MTNumAlignments",
    "MTEditDist",
    "LD",
    "NTMapQ",
    "NTNumAlignments",
    "NTEditDist",
    "NTScore",
    "NUMTOverlaps",
    "label",
]
_FLOAT_COLUMNS = {"MTMapQ", "NTMapQ", "NUMTOverlaps", "label"}

_VALID = (
    "primary_alignment AND read_paired AND proper_pair AND mate_mapped "
    "AND NOT supplementary"
)


def _tag(tag: str) -> str:
    return f"CAST(regexp_extract(attributes, '{tag}:i:(-?[0-9]+)', 1) AS BIGINT)"


# the read length pipeline.numt assumes for an alignment's extent
NUMT_READ_LENGTH = 100


def feature_sql(inputs) -> str:
    """DuckDB SQL for the joined, MapQ-normalised feature table.

    Semantics (the engine's documented ones): validity filter; per-read
    sums of MapQ, NH, NM (and XQ on the NT side); LD = sum of scaled r
    over every unordered pair of the read's variant occurrences;
    NUMTOverlaps = sum of scores of NUMTs on the alignment's chromosome
    overlapping [start, start + NUMT_READ_LENGTH]; inner join on the read;
    both MapQ sums z-scored with the pooled mean and sample stddev.
    """
    return f"""
    WITH mt AS (
        SELECT read_name AS Read, SUM(mapq) AS MTMapQ,
               SUM({_tag('NH')}) AS MTNumAlignments,
               SUM({_tag('NM')}) AS MTEditDist
        FROM read_parquet('{inputs.mt_parquet}') WHERE {_VALID} GROUP BY 1),
    v AS (
        SELECT read_name, variant,
               row_number() OVER (PARTITION BY read_name) AS i
        FROM read_parquet('{inputs.variants}')),
    ld AS (
        SELECT least(variant1, variant2) AS lo, greatest(variant1, variant2) AS hi,
               CAST(trunc(CAST(r AS DOUBLE) * 100000) AS BIGINT) AS ld
        FROM read_csv('{inputs.ld}', delim='\t', header=false,
                      columns={{'variant1': 'VARCHAR', 'variant2': 'VARCHAR', 'r': 'VARCHAR'}})),
    scored AS (
        SELECT a.read_name AS Read, SUM(ld.ld) AS LD
        FROM v a JOIN v b ON a.read_name = b.read_name AND a.i < b.i
        JOIN ld ON ld.lo = least(a.variant, b.variant)
               AND ld.hi = greatest(a.variant, b.variant)
        GROUP BY 1),
    numt AS (
        SELECT column0 AS chrom, CAST(column1 AS BIGINT) AS n_start,
               CAST(column2 AS BIGINT) AS n_end, CAST(column3 AS FLOAT) AS score
        FROM read_csv('{inputs.numt}', delim='\t', header=false, all_varchar=true)),
    nt_aln AS (
        SELECT *, row_number() OVER () AS aln
        FROM read_parquet('{inputs.nt_parquet}') WHERE {_VALID}),
    overlap AS (
        SELECT aln, SUM(CAST(score AS DOUBLE)) AS s
        FROM nt_aln JOIN numt ON nt_aln.chrom = numt.chrom
         AND nt_aln.start <= numt.n_end AND nt_aln.start + {NUMT_READ_LENGTH} >= numt.n_start
        GROUP BY 1),
    nt AS (
        SELECT read_name AS Read, SUM(mapq) AS NTMapQ,
               SUM({_tag('NH')}) AS NTNumAlignments,
               SUM({_tag('NM')}) AS NTEditDist, SUM({_tag('XQ')}) AS NTScore,
               ROUND(SUM(COALESCE(overlap.s, 0)), 6) AS NUMTOverlaps
        FROM nt_aln LEFT JOIN overlap USING (aln) GROUP BY 1),
    joined AS (
        SELECT mt.Read, MTMapQ, MTNumAlignments, MTEditDist,
               COALESCE(scored.LD, 0) AS LD,
               NTMapQ, NTNumAlignments, NTEditDist, NTScore, NUMTOverlaps
        FROM mt JOIN nt USING (Read) LEFT JOIN scored USING (Read)),
    stats AS (
        SELECT AVG(q) AS m, STDDEV_SAMP(q) AS sd FROM (
            SELECT MTMapQ AS q FROM joined UNION ALL SELECT NTMapQ FROM joined))
    SELECT Read, (MTMapQ - m) / sd AS MTMapQ, MTNumAlignments, MTEditDist, LD,
           (NTMapQ - m) / sd AS NTMapQ, NTNumAlignments, NTEditDist, NTScore,
           NUMTOverlaps, 0.0 AS label
    FROM joined, stats
    """


def feature_oracle(inputs, con: duckdb.DuckDBPyConnection | None = None) -> pd.DataFrame:
    own = con is None
    con = con or duckdb.connect()
    try:
        return con.execute(feature_sql(inputs)).df()
    finally:
        if own:
            con.close()


def _cell(col: str, v) -> str:
    if col in _FLOAT_COLUMNS:
        # 6 decimals absorbs summation-order ulps; +0.0 folds -0.0
        return f"{round(float(v), 6) + 0.0:.6f}"
    return str(int(v)) if col != "Read" else str(v)


def table_hash(df: pd.DataFrame) -> str:
    """Order-insensitive sha256 of a feature table (FEATURE_COLUMNS)."""
    cols = [df[c].tolist() for c in FEATURE_COLUMNS]
    lines = sorted(
        "|".join(_cell(c, v) for c, v in zip(FEATURE_COLUMNS, row))
        for row in zip(*cols)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# ----------------------------------------------------------------- BAM
_SEQ = "=ACMGRSVTWYHKDBN"
_INT_TAG = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}
_FIXED_WIDTH = {"A": 1, "f": 4}


def decode_bam(path: str) -> pd.DataFrame:
    """Records of a BAM file as rows comparable with ``alignment_rows``."""
    with open(path, "rb") as f:
        data = gzip.decompress(f.read())  # BGZF = concatenated gzip members
    if data[:4] != b"BAM\x01":
        raise ValueError(f"{path}: not a BAM file")
    (l_text,) = struct.unpack_from("<i", data, 4)
    off = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    refs = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, off)
        refs.append(data[off + 4 : off + 3 + l_name].decode())
        off += 8 + l_name
    rows = []
    while off < len(data):
        size, ref_id, pos, l_name, mapq, _bin, n_cigar, flag, l_seq = struct.unpack_from(
            "<iiiBBHHHi", data, off
        )
        end = off + 4 + size
        p = off + 36
        name = data[p : p + l_name - 1].decode()
        p += l_name + 4 * n_cigar
        packed = data[p : p + (l_seq + 1) // 2]
        seq = "".join(_SEQ[b >> 4] + _SEQ[b & 0xF] for b in packed)[:l_seq]
        p += (l_seq + 1) // 2 + l_seq
        tags, md = {}, None
        while p < end:
            tag, typ = data[p : p + 2].decode(), chr(data[p + 2])
            p += 3
            if typ in _INT_TAG:
                tags[tag] = struct.unpack_from(_INT_TAG[typ], data, p)[0]
                p += struct.calcsize(_INT_TAG[typ])
            elif typ in _FIXED_WIDTH:
                p += _FIXED_WIDTH[typ]
            elif typ in "ZH":
                z = data.index(b"\x00", p)
                if tag == "MD":
                    md = data[p:z].decode()
                p = z + 1
            else:
                raise ValueError(f"{path}: unsupported tag type {typ!r}")
        rows.append(
            (
                name,
                refs[ref_id] if 0 <= ref_id < n_ref else None,
                pos + 1,
                mapq,
                tags.get("NH"),
                tags.get("NM"),
                tags.get("XQ"),
                seq or None,
                md,
                not flag & 0x100,
                bool(flag & 0x1),
                bool(flag & 0x2),
                not flag & 0x8,
                bool(flag & 0x800),
            )
        )
        off = end
    return pd.DataFrame(rows, columns=ROW_COLUMNS)


ROW_COLUMNS = [
    "read_name", "chrom", "start", "mapq", "nh", "nm", "xq", "seq", "md",
    "primary_alignment", "read_paired", "proper_pair", "mate_mapped", "supplementary",
]


def alignment_rows(df: pd.DataFrame) -> pd.DataFrame:
    """Alignment-schema rows (parquet or generator) in ``ROW_COLUMNS`` form."""
    tags = df["attributes"].str.extract(r"NH:i:(-?\d+) NM:i:(-?\d+) XQ:i:(-?\d+)")
    out = df.assign(nh=tags[0].astype(int), nm=tags[1].astype(int), xq=tags[2].astype(int))
    return out[ROW_COLUMNS]


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Multiset equality of two ``ROW_COLUMNS`` frames."""
    def canon(df):
        return sorted(map(repr, df.astype(object).where(df.notna(), None).itertuples(index=False, name=None)))

    return len(a) == len(b) and canon(a) == canon(b)
