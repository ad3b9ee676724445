"""The JVM phrase matcher (engine.with_phrase_tf) against the oracle's
brute-force `_phrase_matches`, over random position lists."""

import numpy as np

from bayard_spark.oracle.engine import OracleIndex
from bayard_spark.query.engine import with_phrase_tf


def _plist(rng, dup: bool) -> list[int]:
    n = int(rng.integers(0, 7))
    pos = sorted(rng.integers(0, 14, n).tolist())
    return pos if dup else sorted(set(pos))


def test_phrase_tf_matches_oracle(spark):
    rng = np.random.default_rng(5)
    cols = ["p0", "p1", "p2", "p3"]
    rows = [
        (i, *[_plist(rng, dup=i % 7 == 0) for _ in cols]) for i in range(400)
    ]
    frame = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"{c} array<int>" for c in cols)
    ).cache()
    shapes = [
        ["p0", "p1"],
        ["p0", "p1", "p2"],
        ["p0", "p1", "p2", "p3"],
        ["p0", "p1", "p0"],          # a repeated term reuses its column
        ["p2", "p2"],
        ["p1", "p3", "p1", "p3"],
    ]
    try:
        for shape in shapes:
            for slop in range(-1, 4):
                got = {
                    r["doc_id"]: r["tf"]
                    for r in with_phrase_tf(frame, shape, slop)
                    .select("doc_id", "tf")
                    .collect()
                }
                for row in rows:
                    lists = [row[1 + cols.index(c)] for c in shape]
                    want = OracleIndex._phrase_matches(lists, slop)
                    assert got[row[0]] == want, (shape, slop, lists)
    finally:
        frame.unpersist()
