"""Pure-Python XXH64 — an independent implementation of the public
xxHash64 spec (Yann Collet, public domain, github.com/Cyan4973/xxHash)
used ONLY oracle-side, to pin Spark's ``F.xxhash64`` (which applies
XXH64 with seed 42 to the UTF-8 bytes of a string) cross-engine.

This gives the 64-bit SimHash sketch (``operators/dedup.py``) a real
driver oracle: DuckDB has no xxhash, so the oracle is a golden parquet
computed here, single-process, from the same input table.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int = 0) -> int:
    """Unsigned 64-bit XXH64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def spark_xxhash64_str(s: str) -> int:
    """Signed 64-bit value matching Spark's ``F.xxhash64(string_col)``:
    XXH64(utf8_bytes, seed=42), two's-complement signed."""
    h = xxh64(s.encode("utf-8"), seed=42)
    return h - (1 << 64) if h >= (1 << 63) else h


def simhash64_rows(rows: list[tuple[int, str]]) -> list[dict]:
    """Single-process twin of ``operators/dedup.simhash_sketch`` (64-bit
    xxhash64 SimHash + 4×16-bit bands) for golden-parquet generation.

    Token pipeline replicates the Spark plan exactly: split
    ``lower(trim(text))`` on ``\\s+``, distinct tokens, per-bit ±1 vote
    of each token's xxhash64, majority (>0) sets the bit. Exactness
    details: Spark ``F.trim`` strips only 0x20 spaces (not tabs or
    newlines — Python ``.strip()`` would diverge on edge whitespace),
    and a NULL text propagates to ``explode(NULL)`` which emits no
    rows, so the doc is absent from the operator's output — the twin
    skips those rows too.
    """
    import re

    # re.ASCII: Java's \s (Spark) and RE2's \s (DuckDB) are ASCII-only;
    # Python's default \s would also split on U+00A0 etc. and diverge
    ws = re.compile(r"\s+", re.ASCII)
    out: list[dict] = []
    for doc_id, text in rows:
        if text is None:
            continue  # Spark: explode(null array) drops the doc
        tokens = dict.fromkeys(ws.split(text.strip(" ").lower()))
        votes = [0] * 64
        for tok in tokens:
            h = spark_xxhash64_str(tok) & _MASK
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        sim = 0
        for i in range(64):
            if votes[i] > 0:
                sim |= 1 << i
        signed = sim - (1 << 64) if sim >= (1 << 63) else sim
        out.append(
            {
                "doc_id": doc_id,
                "simhash": signed,
                **{f"band{b}": (sim >> (16 * b)) & 0xFFFF for b in range(4)},
            }
        )
    return out


# Bump when the twin's semantics change (tokenization, hash, bands) —
# cached goldens in /tmp are keyed on this.
TWIN_VERSION = 3  # v3: ASCII \s tokenization, trim-space/null parity


def write_simhash_golden(documents_parquet: str, out_path: str) -> int:
    """Compute the 64-bit SimHash golden for a documents parquet and
    write it (pure pyarrow, no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    rows = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    golden = simhash64_rows(rows)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([g["doc_id"] for g in golden], pa.int64()),
                "simhash": pa.array([g["simhash"] for g in golden], pa.int64()),
                **{
                    f"band{b}": pa.array(
                        [g[f"band{b}"] for g in golden], pa.int32()
                    )
                    for b in range(4)
                },
            }
        ),
        out_path,
    )
    return len(golden)
