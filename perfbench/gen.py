"""Seeded, vectorised inputs for the benchmark workloads.

Everything here is numpy/pyarrow column arithmetic: rows are never
built one at a time in Python. The one per-record loop left is the
BAM encode, which goes through ``sources.bamcodec``'s public encoder
so the files are exactly what the engine's own writer would emit.

The generator knows every substitution it injects, so it also writes
them out for the feature oracle (``oracle.py`` never parses an MD tag).

Outputs are cached on disk by (workload, size, seed) under the
benchmark's work directory; the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.array(list("ACGT"))
MT_CHROM = "chrM"
MT_LENGTH = 16569
NT_CHROMS = [str(i) for i in range(1, 23)] + ["X"]
NT_LENGTH = 2_100_000
LD_ROWS = 88_000  # the size of mitomap.ld
NUMT_ROWS = 25

# columns and arrow types of sources.bam.ALIGNMENT_SCHEMA
ALIGNMENT_ARROW = pa.schema(
    [
        pa.field("read_name", pa.string(), nullable=False),
        ("chrom", pa.string()),
        ("start", pa.int64()),
        ("mapq", pa.int32()),
        ("attributes", pa.string()),
        ("seq", pa.string()),
        ("md", pa.string()),
        ("primary_alignment", pa.bool_()),
        ("read_paired", pa.bool_()),
        ("proper_pair", pa.bool_()),
        ("mate_mapped", pa.bool_()),
        ("supplementary", pa.bool_()),
    ]
)


# Fixture shape (pipeline/fixtures.py): 100 bp reads with 0-3
# substitutions. A pass costs about the same at 300 reads as at 4000
# (fixed per-job overhead dominates), so the size is what keeps real
# decode work in the pass; the run budget keeps it well below 5e4.
N_READS = 4000  # read names on the MT side
READ_LEN = 100
MIN_SUBS, MAX_SUBS = 0, 3  # substitutions per MT alignment, inclusive
# Share of the alignments with 2+ substitutions where two of them are a
# local LD-table pair. The fixture draws its LD table independently of
# the reads, so no pair there ever hits and every LD score would be 0;
# no data in the repository gives a real hit rate, so this is a choice.
LD_ANCHOR_SHARE = 0.5


def _names(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(ids.astype("U"), 7))


def _flags(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Validity flags in the fixture's proportions (FIXTURES.md B.1)."""
    return {
        "primary_alignment": rng.random(n) > 0.05,
        "read_paired": rng.random(n) > 0.03,
        "proper_pair": rng.random(n) > 0.03,
        "mate_mapped": rng.random(n) > 0.03,
        "supplementary": rng.random(n) < 0.03,
    }


def valid_mask(df: pd.DataFrame) -> np.ndarray:
    """The engine's validity filter (Feature.scala:115-119) on generated rows."""
    return (
        df.primary_alignment
        & df.read_paired
        & df.proper_pair
        & df.mate_mapped
        & ~df.supplementary
    ).to_numpy()


def _attributes(nh: np.ndarray, nm: np.ndarray, xq: np.ndarray) -> np.ndarray:
    # tag order as bamcodec.decode_record renders it (sorted), so the
    # parquet and BAM copies decode to identical rows
    out = np.char.add("NH:i:", nh.astype("U"))
    out = np.char.add(np.char.add(out, " NM:i:"), nm.astype("U"))
    return np.char.add(np.char.add(out, " XQ:i:"), xq.astype("U"))


def ld_table(rng: np.random.Generator, local_span: int) -> pd.DataFrame:
    """88k LD pairs with unique canonical keys and nonzero scores.

    A third of the pairs sit within ``local_span`` bases of each other,
    so one read can carry both variants. Columns: variant1, variant2
    (file order, half of them swapped), r (as written), ld (the scaled
    integer score the engine derives from r).
    """
    n = int(LD_ROWS * 1.2)
    p1 = rng.integers(local_span + 1, MT_LENGTH - local_span, n)
    local = rng.random(n) < 1 / 3
    far = rng.integers(1, MT_LENGTH + 1, n)
    p2 = np.where(local, p1 + rng.integers(1, local_span, n), far)
    v1 = np.char.add(p1.astype("U"), rng.choice(BASES, n))
    v2 = np.char.add(p2.astype("U"), rng.choice(BASES, n))
    lo, hi = np.where(v1 <= v2, v1, v2), np.where(v1 <= v2, v2, v1)
    df = pd.DataFrame({"lo": lo, "hi": hi, "p1": p1, "p2": p2, "local": local})
    df = df[df.lo != df.hi].drop_duplicates(["lo", "hi"]).head(LD_ROWS)
    m = len(df)
    swap = rng.random(m) < 0.5
    r = rng.uniform(0.001, 0.9, m) * np.where(rng.random(m) < 0.2, -1, 1)
    r_text = np.char.mod("%.6f", r)
    return pd.DataFrame(
        {
            "variant1": np.where(swap, df.hi, df.lo),
            "variant2": np.where(swap, df.lo, df.hi),
            "r": r_text,
            # the engine's (r * 100000).cast(int) on the parsed text:
            # same IEEE multiply, truncation toward zero
            "ld": np.trunc(r_text.astype(np.float64) * 100000).astype(np.int64),
            "local": df.local.to_numpy(),
        }
    )


def numt_table(rng: np.random.Generator) -> pd.DataFrame:
    start = rng.integers(1, 1_900_000, NUMT_ROWS)
    return pd.DataFrame(
        {
            "chrom": rng.choice(NT_CHROMS, NUMT_ROWS),
            "start": start,
            "end": start + rng.integers(500, 200_000, NUMT_ROWS),
            # multiples of 1/64: exact in float32 and in any sum order
            "score": rng.integers(7, 65, NUMT_ROWS) / 64.0,
        }
    )


def _anchor_pairs(
    rng: np.random.Generator, ld: pd.DataFrame, n: int, read_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """For ``n`` anchored alignments: (start, genome positions (n, 2),
    read bases (n, 2)) of one local LD pair that fits in the read."""
    pos = [
        np.char.rstrip(ld[c].to_numpy().astype("U"), "ACGT").astype(np.int64)
        for c in ("variant1", "variant2")
    ]
    fits = ld.local.to_numpy() & (np.abs(pos[0] - pos[1]) < read_len)
    idx = rng.choice(np.flatnonzero(fits), n)
    g = np.stack([pos[0][idx], pos[1][idx]], axis=1)
    b = np.stack(
        [
            np.char.lstrip(ld[c].to_numpy()[idx].astype("U"), "0123456789")
            for c in ("variant1", "variant2")
        ],
        axis=1,
    )
    lo = g.min(axis=1)
    span = g.max(axis=1) - lo
    start = lo - rng.integers(0, read_len - span)
    return start, g, b


def mt_alignments(
    rng: np.random.Generator, n_reads: int, ld: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """MT alignments (calmd-masked seq + MD) and the genome-relative
    variants their MD tags encode (valid alignments only)."""
    L = READ_LEN
    mates = np.where(rng.random(n_reads) < 0.05, 1, 2)
    names = np.repeat(_names("read_", np.arange(n_reads)), mates)
    n = len(names)
    k = rng.integers(MIN_SUBS, MAX_SUBS + 1, n)
    start = rng.integers(1, MT_LENGTH - L + 2, n)
    read_base = rng.choice(BASES, (n, L))
    keys = rng.random((n, L))

    # anchors replace two of an alignment's own substitutions, so the
    # substitution count keeps the fixture's distribution
    anchored = np.flatnonzero((k >= 2) & (rng.random(n) < LD_ANCHOR_SHARE))
    if len(anchored):
        a_start, g, b = _anchor_pairs(rng, ld, len(anchored), L)
        start[anchored] = a_start
        rel = g - a_start[:, None]
        rows = anchored[:, None]
        keys[rows, rel] = -1.0  # always among the chosen positions
        read_base[rows, rel] = b

    kmax = int(k.max(initial=0))
    chosen = np.argsort(keys, axis=1)[:, :kmax]
    active = np.arange(kmax)[None, :] < k[:, None]
    # sort each row's active positions ascending (inactive go last)
    sort_key = np.where(active, chosen, L + 1)
    order = np.argsort(sort_key, axis=1)
    pos = np.take_along_axis(chosen, order, axis=1)
    active = np.take_along_axis(active, order, axis=1)
    bases = np.take_along_axis(read_base, pos, axis=1)

    seq = np.full((n, L), ord("="), dtype=np.uint8)
    r_idx, c_idx = np.nonzero(active)
    seq[r_idx, pos[r_idx, c_idx]] = bases[r_idx, c_idx].astype("S1").view(np.uint8)
    seq_str = seq.view(f"S{L}").ravel().astype("U")

    ref_base = rng.choice(BASES, (n, max(kmax, 1)))
    md = np.full(n, "", dtype="U1")
    prev = np.zeros(n, dtype=np.int64)
    for j in range(kmax):  # columns, not rows
        on = active[:, j]
        part = np.char.add((pos[:, j] - prev).astype("U"), ref_base[:, j])
        md = np.char.add(md, np.where(on, part, ""))
        prev = np.where(on, pos[:, j] + 1, prev)
    md = np.char.add(md, (L - prev).astype("U"))

    nh = rng.integers(1, 4, n)
    xq = rng.integers(0, 101, n)
    df = pd.DataFrame(
        {
            "read_name": names,
            "chrom": MT_CHROM,
            "start": start.astype(np.int64),
            "mapq": rng.integers(0, 61, n).astype(np.int32),
            "attributes": _attributes(nh, k, xq),
            "seq": seq_str,
            "md": md,
            **_flags(rng, n),
        }
    )
    # long form: one row per injected substitution of a VALID alignment,
    # variant = "<1-based genome position><read base>"
    valid = valid_mask(df)[r_idx]
    variants = pd.DataFrame(
        {
            "read_name": names[r_idx][valid],
            "variant": np.char.add(
                (start[r_idx] + pos[r_idx, c_idx]).astype("U"),
                bases[r_idx, c_idx],
            )[valid],
        }
    )
    return df, variants


def nt_alignments(rng: np.random.Generator, n_reads: int) -> pd.DataFrame:
    """Nuclear alignments: two per read, 80% of names shared with MT."""
    ids = np.arange(n_reads)
    shared = rng.random(n_reads) < 0.8
    names = np.where(shared, _names("read_", ids), _names("ntonly_", ids))
    names = np.repeat(names, 2)
    n = len(names)
    # a read's two alignments never share a start, so no two alignments
    # of one read are indistinguishable by (chrom, start, read_name)
    start = np.repeat(rng.integers(1, 1_999_000, n_reads), 2)
    start[1::2] += rng.integers(1, 1000, n_reads)
    return pd.DataFrame(
        {
            "read_name": names,
            "chrom": rng.choice(NT_CHROMS, n),
            "start": start.astype(np.int64),
            "mapq": rng.integers(0, 61, n).astype(np.int32),
            "attributes": _attributes(
                rng.integers(1, 4, n), rng.integers(0, 5, n), rng.integers(0, 101, n)
            ),
            "seq": None,
            "md": None,
            **_flags(rng, n),
        }
    )


def write_alignment_parquet(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, schema=ALIGNMENT_ARROW, preserve_index=False)
    pq.write_table(table, path)


def write_alignment_bam(
    df: pd.DataFrame, path: str, refs: list[tuple[str, int]]
) -> None:
    """Encode through the engine's public BAM encoder."""
    from mitoscape_spark.sources import bamcodec as bc
    from mitoscape_spark.sources.bgzf import MAX_PAYLOAD

    ref_index = {name: i for i, (name, _) in enumerate(refs)}
    flag = (
        np.where(df.read_paired, bc.FLAG_PAIRED, 0)
        | np.where(df.proper_pair, bc.FLAG_PROPER_PAIR, 0)
        | np.where(df.mate_mapped, 0, bc.FLAG_MATE_UNMAPPED)
        | np.where(df.primary_alignment, 0, bc.FLAG_SECONDARY)
        | np.where(df.supplementary, bc.FLAG_SUPPLEMENTARY, 0)
    )
    ref_id = df.chrom.map(ref_index).to_numpy()
    tag_cols = df.attributes.str.extract(r"NH:i:(\d+) NM:i:(\d+) XQ:i:(\d+)")
    tags = tag_cols.astype(np.int64).to_numpy()
    has_md = df.md.notna().to_numpy()
    records = [
        bc.encode_record(
            name,
            int(rid),
            int(s) - 1,
            int(q),
            int(f),
            sq or "",
            {"NH": int(t[0]), "NM": int(t[1]), "XQ": int(t[2]), **({"MD": m} if hm else {})},
        )
        for name, rid, s, q, f, sq, t, m, hm in zip(
            df.read_name, ref_id, df.start, df.mapq, flag, df.seq, tags, df.md, has_md
        )
    ]
    bc.write_bam(path, refs, records, block_payload=MAX_PAYLOAD)


@dataclass
class ClassifyInputs:
    """Paths of one classify workload's generated inputs."""

    mt: str
    nt: str
    mt_parquet: str
    nt_parquet: str
    ld: str
    numt: str
    variants: str  # injected substitutions of valid MT alignments
    n_alignments: int


def classify_inputs(seed: int, root: str, n_reads: int = N_READS) -> ClassifyInputs:
    """Generate (or reuse) the classify inputs for ``seed``."""
    out = os.path.join(root, f"classify-{n_reads}-{seed}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return ClassifyInputs(**json.load(f))
    tmp = out + ".partial"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    ld = ld_table(rng, READ_LEN)
    ld[["variant1", "variant2", "r"]].to_csv(
        os.path.join(tmp, "mitomap.ld"), sep="\t", header=False, index=False
    )
    numt_table(rng).to_csv(
        os.path.join(tmp, "numts.txt"), sep="\t", header=False, index=False
    )
    mt, variants = mt_alignments(rng, n_reads, ld)
    nt = nt_alignments(rng, n_reads)
    write_alignment_parquet(mt, os.path.join(tmp, "mt.parquet"))
    write_alignment_parquet(nt, os.path.join(tmp, "nt.parquet"))
    pq.write_table(
        pa.Table.from_pandas(variants, preserve_index=False),
        os.path.join(tmp, "variants.parquet"),
    )
    write_alignment_bam(mt, os.path.join(tmp, "mt.bam"), [(MT_CHROM, MT_LENGTH)])
    write_alignment_bam(
        nt, os.path.join(tmp, "nt.bam"), [(c, NT_LENGTH) for c in NT_CHROMS]
    )
    paths = ClassifyInputs(
        mt=os.path.join(out, "mt.bam"),
        nt=os.path.join(out, "nt.bam"),
        mt_parquet=os.path.join(out, "mt.parquet"),
        nt_parquet=os.path.join(out, "nt.parquet"),
        ld=os.path.join(out, "mitomap.ld"),
        numt=os.path.join(out, "numts.txt"),
        variants=os.path.join(out, "variants.parquet"),
        n_alignments=len(mt) + len(nt),
    )
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(asdict(paths), f)
    os.replace(tmp, out)
    return paths


# ---------------------------------------------------------------- queries
# Scale factor of the generated TPC-H-like corpus (table shapes and
# value domains follow TESTDATA.md's sf corpora).
QUERY_SF = 0.02

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_WORDS = np.array(
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window".split()
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact 2-decimal amounts (integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _timestamps(rng: np.random.Generator, lo: str, days: int, n: int, unit: str):
    base = np.datetime64(lo, unit)
    per_day = {"D": 1, "us": 86_400_000_000}[unit]
    return base + rng.integers(0, days * per_day, n).astype(f"timedelta64[{unit}]")


def query_corpus(seed: int, root: str, sf: float = QUERY_SF) -> str:
    """Write the ten corpus tables as single parquet files; return the dir."""
    out = os.path.join(root, f"queries_sf{sf}-{seed}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    write("region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": _names("NATION_", np.arange(25)),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", np.arange(n_cust)),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", np.arange(n_supp)),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(rng.choice(_WORDS, n_part), " part"),
        "p_brand": _names("Brand#", rng.integers(1, 26, n_part)),
        "p_type": rng.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "SMALL"]), n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _timestamps(rng, "1992-01-01", 2400, n_ord, "D").astype("datetime64[us]"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
        "l_shipdate": _timestamps(rng, "1992-01-01", 3650, n_line, "D").astype("datetime64[us]"),
    })
    write("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(_timestamps(rng, "2024-01-01", 30, n_events, "us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0, 560, n_events),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype("U")), "}"),
    })
    n_words = rng.integers(5, 60, n_docs)
    words = rng.choice(_WORDS, (n_docs, 60))
    text = words[:, 0]
    for j in range(1, 60):  # columns, not rows
        text = np.where(j < n_words, np.char.add(np.char.add(text, " "), words[:, j]), text)
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(np.array(["de", "en", "es", "fr", "zh"]), n_docs),
        "source": _names("src", rng.integers(0, 5, n_docs)),
        "n_chars": np.char.str_len(text).astype(np.int64),
    })
    n_vec = 1000
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            rng.normal(0, 0.15, n_vec * 64).astype(np.float32), 64
        ).cast(pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 4, n_vec)),
    })
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out
