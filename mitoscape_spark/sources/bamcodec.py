"""Pure-Python BAM codec over the BGZF layer (stdlib only).

Implements the subset of the public SAM/BAM spec the engine consumes
(reference: ADAM loadAlignments / Feature.scala:115-127 field usage):
header + reference dictionary, per-record flags, mapq, position, read
name, sequence, and the tag stream (int tags + MD:Z).

The load-bearing piece for scale is ``index_record_voffsets``: a
single streaming pass per file that records the BGZF *virtual offset*
((compressed_block_offset << 16) | in_block_offset) of every Nth
record boundary. Those checkpoints make the file exactly splittable —
each Spark task seeks to its checkpoint, decodes records, and stops at
the next task's checkpoint; no overlap, no boundary guessing. This is
the same contract a .bai index gives samtools, built without one.

Memory is O(one block + one record) — the pass never materializes the
decompressed stream.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from mitoscape_spark.sources.bgzf import iter_blocks, write_bgzf

MAGIC = b"BAM\x01"
SEQ_CODE = "=ACMGRSVTWYHKDBN"
_SEQ_INDEX = {base: code for code, base in enumerate(SEQ_CODE)}
# packed byte -> its two bases (high nibble first)
_SEQ_PAIRS = [hi + lo for hi in SEQ_CODE for lo in SEQ_CODE]
_FIXED = struct.Struct("<iiBBHHHiiii")  # per-record fixed fields

FLAG_PAIRED = 0x1
FLAG_PROPER_PAIR = 0x2
FLAG_MATE_UNMAPPED = 0x8
FLAG_SECONDARY = 0x100
FLAG_SUPPLEMENTARY = 0x800


# --------------------------------------------------------------- encode
def encode_header(refs: list[tuple[str, int]], text: str = "") -> bytes:
    out = [MAGIC, struct.pack("<i", len(text)), text.encode()]
    out.append(struct.pack("<i", len(refs)))
    for name, length in refs:
        nb = name.encode() + b"\x00"
        out += [struct.pack("<i", len(nb)), nb, struct.pack("<i", length)]
    return b"".join(out)


def encode_record(
    read_name: str,
    ref_id: int,
    pos0: int,
    mapq: int,
    flag: int,
    seq: str = "",
    tags: dict[str, int | str] | None = None,
) -> bytes:
    name_b = read_name.encode() + b"\x00"
    codes = [_SEQ_INDEX[base] for base in seq]
    if len(codes) % 2:
        codes.append(0)
    seq_nibbles = bytes(hi << 4 | lo for hi, lo in zip(codes[::2], codes[1::2]))
    tag_b = bytearray()
    for tag, val in (tags or {}).items():
        if isinstance(val, int):
            tag_b += tag.encode() + b"i" + struct.pack("<i", val)
        else:
            tag_b += tag.encode() + b"Z" + val.encode() + b"\x00"
    body = (
        _FIXED.pack(
            ref_id,
            pos0,
            len(name_b),
            mapq,
            0,  # bin (unused by the engine)
            0,  # n_cigar_op
            flag,
            len(seq),
            -1,  # next_refID
            -1,  # next_pos
            0,  # tlen
        )
        + name_b
        + seq_nibbles
        + b"\xff" * len(seq)  # qual: unavailable
        + bytes(tag_b)
    )
    return struct.pack("<i", len(body)) + body


def write_bam(
    path: str,
    refs: list[tuple[str, int]],
    records: list[bytes],
    block_payload: int = 4096,
) -> None:
    """Synthesize a BAM file (small block size default so tests exercise
    many blocks and record-spanning-block boundaries)."""
    write_bgzf(path, encode_header(refs) + b"".join(records), block_payload)


def encode_row(row: dict, ref_index: dict[str, int]) -> bytes:
    """Encode one engine alignment row (ALIGNMENT_SCHEMA field names,
    i.e. exactly what ``decode_record`` produces) back to BAM bytes —
    the inverse used by the single-file sink. Integer tags come from
    the ``attributes`` string ("XX:i:N ..."), MD from its own column;
    flags from the boolean columns."""
    tags: dict[str, int | str] = {}
    for item in (row.get("attributes") or "").split():
        tag, typ, val = item.split(":", 2)
        if typ == "i":
            tags[tag] = int(val)
    if row.get("md") is not None:
        tags["MD"] = row["md"]
    flag = 0
    if row.get("read_paired"):
        flag |= FLAG_PAIRED
    if row.get("proper_pair"):
        flag |= FLAG_PROPER_PAIR
    if not row.get("mate_mapped", True):
        flag |= FLAG_MATE_UNMAPPED
    if not row.get("primary_alignment", True):
        flag |= FLAG_SECONDARY
    if row.get("supplementary"):
        flag |= FLAG_SUPPLEMENTARY
    chrom = row.get("chrom")
    ref_id = ref_index[chrom] if chrom in ref_index else -1
    start = row.get("start")
    pos0 = int(start) - 1 if start is not None else -1
    mapq = row.get("mapq")
    return encode_record(
        row["read_name"],
        ref_id,
        pos0,
        int(mapq) if mapq is not None else 0,
        flag,
        row.get("seq") or "",
        tags,
    )


# --------------------------------------------------------------- decode
def _decode_tags(buf: bytes) -> tuple[dict[str, int], str | None]:
    """(int tags, MD string). Skips other tag types at spec'd widths."""
    ints: dict[str, int] = {}
    md = None
    i, n = 0, len(buf)
    widths = {"A": 1, "c": 1, "C": 1, "s": 2, "S": 2, "i": 4, "I": 4, "f": 4}
    int_fmt = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}
    while i + 3 <= n:
        tag = buf[i : i + 2].decode()
        typ = chr(buf[i + 2])
        i += 3
        if typ in int_fmt:
            ints[tag] = struct.unpack_from(int_fmt[typ], buf, i)[0]
            i += widths[typ]
        elif typ in widths:  # A / f — fixed width, not consumed as int
            i += widths[typ]
        elif typ in ("Z", "H"):
            end = buf.index(b"\x00", i)
            if typ == "Z" and tag == "MD":
                md = buf[i:end].decode()
            i = end + 1
        elif typ == "B":
            sub = chr(buf[i])
            count = struct.unpack_from("<i", buf, i + 1)[0]
            i += 5 + widths[sub] * count
        else:
            raise ValueError(f"unknown BAM tag type {typ!r}")
    return ints, md


def decode_record(body: bytes, refs: list[str]) -> dict:
    (
        ref_id,
        pos0,
        l_name,
        mapq,
        _bin,
        n_cigar,
        flag,
        l_seq,
        _nref,
        _npos,
        _tlen,
    ) = _FIXED.unpack_from(body, 0)
    off = _FIXED.size
    read_name = body[off : off + l_name - 1].decode()
    off += l_name + 4 * n_cigar
    seq_b = body[off : off + (l_seq + 1) // 2]
    seq = "".join([_SEQ_PAIRS[b] for b in seq_b])[:l_seq]
    off += (l_seq + 1) // 2 + l_seq
    ints, md = _decode_tags(body[off:])
    return {
        "read_name": read_name,
        "chrom": refs[ref_id] if 0 <= ref_id < len(refs) else None,
        "start": pos0 + 1,
        "mapq": mapq,
        "attributes": " ".join(f"{t}:i:{v}" for t, v in sorted(ints.items())),
        "seq": seq or None,
        "md": md,
        "primary_alignment": not flag & FLAG_SECONDARY,
        "read_paired": bool(flag & FLAG_PAIRED),
        "proper_pair": bool(flag & FLAG_PROPER_PAIR),
        "mate_mapped": not flag & FLAG_MATE_UNMAPPED,
        "supplementary": bool(flag & FLAG_SUPPLEMENTARY),
    }


class _Stream:
    """Streaming view over a file's BGZF payloads that can translate any
    absolute (decompressed) position to a virtual offset, retaining only
    the unconsumed tail in memory."""

    def __init__(self, path: str, from_coffset: int = 0):
        self._blocks = iter_blocks(path, from_coffset)
        self.buf = bytearray()
        self.base = 0  # absolute position of buf[0]
        self._block_map: list[tuple[int, int]] = []  # (abs_start, coffset)
        self.end_voffset: int | None = None  # set once EOF block is seen

    def _pull(self) -> bool:
        for coffset, payload in self._blocks:
            if not payload:  # BGZF EOF block
                self.end_voffset = coffset << 16
                continue
            self._block_map.append((self.base + len(self.buf), coffset))
            self.buf += payload
            return True
        return False

    def ensure(self, abs_pos: int, n: int) -> bool:
        while self.base + len(self.buf) < abs_pos + n:
            if not self._pull():
                return False
        return True

    def view(self, abs_pos: int, n: int) -> bytes:
        s = abs_pos - self.base
        return bytes(self.buf[s : s + n])

    def voffset(self, abs_pos: int) -> int:
        i = 0
        for j, (abs_start, _) in enumerate(self._block_map):
            if abs_start <= abs_pos:
                i = j
            else:
                break
        abs_start, coffset = self._block_map[i]
        return (coffset << 16) | (abs_pos - abs_start)

    def compact(self, abs_pos: int) -> None:
        """Drop consumed bytes below abs_pos; the block map keeps the
        entry covering abs_pos so voffset translation stays valid."""
        drop = abs_pos - self.base
        if drop > 1 << 20:
            del self.buf[:drop]
            self.base = abs_pos
            keep_from = 0
            for j, (s, _) in enumerate(self._block_map):
                if s <= abs_pos:
                    keep_from = j
            self._block_map = self._block_map[keep_from:]


def read_refs(path: str) -> tuple[list[tuple[str, int]], int]:
    """Reference dictionary — (name, length) in header order — plus the
    absolute end position of the header."""
    st = _Stream(path)
    st.ensure(0, 12)
    if st.view(0, 4) != MAGIC:
        raise ValueError("not a BAM file (bad magic)")
    l_text = struct.unpack("<i", st.view(4, 4))[0]
    pos = 8 + l_text
    st.ensure(pos, 4)
    n_ref = struct.unpack("<i", st.view(pos, 4))[0]
    pos += 4
    refs = []
    for _ in range(n_ref):
        st.ensure(pos, 4)
        l_name = struct.unpack("<i", st.view(pos, 4))[0]
        st.ensure(pos + 4, l_name + 4)
        name = st.view(pos + 4, l_name - 1).decode()
        length = struct.unpack("<i", st.view(pos + 4 + l_name, 4))[0]
        refs.append((name, length))
        pos += 4 + l_name + 4
    return refs, pos


def index_record_voffsets(
    path: str, every_n: int = 10_000
) -> tuple[list[int], int]:
    """One streaming pass: virtual offsets of record boundaries at
    ``every_n`` spacing (first record always included) plus the end
    virtual offset. Consecutive checkpoint pairs are the split plan."""
    _, pos = read_refs(path)
    st = _Stream(path)
    st.ensure(pos, 0)
    checkpoints: list[int] = []
    i = 0
    while st.ensure(pos, 4):
        size = struct.unpack("<i", st.view(pos, 4))[0]
        if i % every_n == 0:
            checkpoints.append(st.voffset(pos))
        if not st.ensure(pos + 4, size):
            raise ValueError("truncated BAM record")
        pos += 4 + size
        st.compact(pos)
        i += 1
    end = st.voffset(pos) if st._block_map else 0
    return checkpoints, end


def decode_range(path: str, vstart: int, vend: int) -> Iterator[dict]:
    """Decode records whose start voffset is in [vstart, vend) — exact,
    non-overlapping when the bounds come from index_record_voffsets.
    Seeks straight to vstart's block: tasks read only their slice."""
    refs = [name for name, _ in read_refs(path)[0]]
    coffset, uoffset = vstart >> 16, vstart & 0xFFFF
    st = _Stream(path, from_coffset=coffset)
    pos = uoffset
    # stream positions are relative to the seek block's payload start
    while st.ensure(pos, 4):
        if st.voffset(pos) >= vend:
            return
        size = struct.unpack("<i", st.view(pos, 4))[0]
        if not st.ensure(pos + 4, size):
            raise ValueError("truncated BAM record")
        yield decode_record(st.view(pos + 4, size), refs)
        pos += 4 + size
        st.compact(pos)
