"""Lossy 1-byte fieldnorm code (compatibility toggle, SURVEY §2.7).

The reference stores fieldnorms as 1-byte codes when `fieldnorms: true`
(tantivy's Lucene-style lossy encoding): small lengths exact, larger ones
bucketed geometrically, so long documents' BM25 length normalization loses
precision. This module is the shared quantizer used by BOTH the Spark
engine and the Python oracle when `IndexMeta.lossy_fieldnorms` is set, so
rank identity holds by construction under the same information-loss class.

The table is NOT bit-identical to tantivy's private code table; it is our
own documented code (ids 0..40 exact, then ×9/8 geometric steps — 256 ids
covering u32 lengths), chosen to match the reference's loss SHAPE. The
default (exact integer lengths, the toggle off) already matches the oracle
contract; this toggle exists for workloads that want reference-like norm
compression semantics.
"""

from __future__ import annotations

import numpy as np


def _build_table() -> np.ndarray:
    vals = list(range(41))  # 0..40 exact
    v = 40
    while len(vals) < 256:
        v = max(v + 1, (v * 9) // 8)
        vals.append(v)
    return np.asarray(vals, dtype=np.int64)


TABLE = _build_table()


def quantize(lens: np.ndarray) -> np.ndarray:
    """Round each length DOWN to its bucket's representative value."""
    arr = np.asarray(lens, dtype=np.int64)
    idx = np.searchsorted(TABLE, arr, side="right") - 1
    np.clip(idx, 0, len(TABLE) - 1, out=idx)
    return TABLE[idx]


def quantize_col(lens):
    """JVM twin of `quantize` for a Spark length column: exact below 41,
    else the largest table value ≤ the length."""
    from pyspark.sql import functions as F

    ln = lens.cast("long")
    table = F.array(*[F.lit(int(v)) for v in TABLE])
    return F.when(ln <= 40, ln).otherwise(
        F.element_at(table, F.size(F.filter(table, lambda t: t <= ln)))
    )


def quantize_one(n: int) -> int:
    return int(quantize(np.asarray([n]))[0])
