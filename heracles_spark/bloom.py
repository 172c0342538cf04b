"""Per-file bloom filters — file skipping for point predicates on
NON-key columns.

The reference can only seek by row key; a predicate on a non-key column
scans every region (HBaseRelation residual filters). The min/max file
index (pruning.py) has the same blind spot: non-key columns are
unordered across files, so their boxes span everything and equality
predicates prune nothing.

Per-file blooms close the gap, mirroring what Delta/Iceberg do with
puffin/bloom sidecars: tables declare ``bloomCols`` in TBLPROPERTIES,
the writer builds one bloom per (file, column) at harvest time, and the
driver-side pruner drops files whose bloom proves the sought value
absent. Bloom answers are MAY/NO — exactly the contract of
``pruning.may_match`` — so pruning stays advisory and the codegen'd
filter re-checks every surviving row.

Two tiers:
1. **Parquet-native blooms** (writer option
   ``parquet.bloom.filter.enabled#col``): row-group skipping INSIDE a
   file, used automatically by the JVM scan. Free at read time.
2. **Catalog blooms** (this module): whole-FILE skipping before the
   scan is even planned — the list of paths handed to
   ``spark.read.parquet`` shrinks, which is what matters at 100 TB
   (a 1%-fpp bloom turns a point lookup on a non-key column from
   "open every footer" into "read ~1% of files spuriously").

Scale notes: blooms are built per new file at write time (incremental —
COW/append harvests only new files, same as the min/max index); sizing
is ~9.6 bits per distinct value for 1% fpp, i.e. ~1.2 MB per 1M-distinct
file — the same order as parquet's own bloom overhead, and the file
index already graduates to a parquet sidecar past the inline cap. On a
cluster the per-file build is a mapPartitions over file paths (one
column read per file, no shuffle); locally pyarrow does the same work
in-process.
"""

from __future__ import annotations

import base64
import hashlib
import math
from typing import Any, Iterable

# ~9.585 bits/value ⇒ 1% false-positive rate at k=7 (standard sizing:
# m/n = -ln(p)/ln(2)^2, k = m/n·ln(2)).
BITS_PER_VALUE = 9.585
K_HASHES = 7
# Above this many distinct values the bloom is denser than useful for
# FILE-level skipping (a file holding >1M distinct values of a column
# matches almost any probe anyway); min/max + parquet-native blooms
# still apply. Keeps the index entry bounded at ~1.2 MB/column.
MAX_NDV = 1_000_000


def _h2(value: Any) -> tuple[int, int]:
    """Two independent 64-bit hashes from one md5 — the classic
    Kirsch-Mitzenmacher double-hashing base. Values are canonicalized
    through ``str`` (ints, strings, dates all round-trip losslessly;
    the probe side canonicalizes identically)."""
    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return (int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1)


def build(values: Iterable[Any]) -> dict[str, Any] | None:
    """Bloom over the distinct non-null values; None when the column is
    too high-cardinality to be worth a file-level bloom."""
    vals = {v for v in values if v is not None}
    if len(vals) > MAX_NDV:
        return None
    m = max(64, int(math.ceil(len(vals) * BITS_PER_VALUE)))
    m += (-m) % 8
    bits = bytearray(m // 8)
    for v in vals:
        h1, h2 = _h2(v)
        for i in range(K_HASHES):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return {"m": m, "k": K_HASHES, "n": len(vals),
            "b64": base64.b64encode(bytes(bits)).decode("ascii")}


def may_contain(bloom: dict[str, Any], value: Any) -> bool:
    """MAY/NO membership. False positives possible (~1%), false
    negatives impossible — a NO is safe to prune on. A ``float`` probe
    is always MAY: ``build``'s set keeps one of -0.0 and 0.0 (equal to
    Python and to Spark's comparison), whose ``str`` forms differ."""
    if isinstance(value, float):
        return True
    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    h1, h2 = _h2(value)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def bloom_cols(properties: dict[str, str]) -> list[str]:
    """Parse the ``bloomCols`` table property ('a;b;c', reference-style
    separator like keyCols)."""
    return [c for c in properties.get("bloomCols", "").split(";") if c]


def may_match(pred: tuple, blooms: dict[str, dict[str, Any]]) -> bool:
    """Evaluate a pruning-AST predicate against a file's blooms with
    MAY/NO logic (same shape as pruning.may_match over min/max boxes).
    Only equality-style leaves can say NO; everything else is MAY."""
    op = pred[0].lower()
    if op == "and":
        return all(may_match(p, blooms) for p in pred[1:])
    if op == "or":
        return any(may_match(p, blooms) for p in pred[1:])
    if op == "not":
        return True
    if op == "=":
        b = blooms.get(pred[1])
        return True if b is None else may_contain(b, pred[2])
    if op == "in":
        b = blooms.get(pred[1])
        if b is None:
            return True
        return any(may_contain(b, v) for v in pred[2])
    return True
