"""Posting-block layout: the list-column encoder round-trips exactly, both
in Arrow and through a Parquet write + JVM explode."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bayard_spark.build.codec import (
    BLOCK_SCHEMA,
    IndexFormatError,
    encode_group_table,
    explode_blocks,
    write_blocks,
)

POS_FIELDS = ("text",)


def _random_postings(rng, n_terms=6, block_size=128):
    """Posting rows of one (bucket) group: a positional field, a
    position-less field, a salted term, and lists that end exactly on,
    just past and well inside a block boundary."""
    rows = []
    sizes = [1, block_size, block_size + 1, 3 * block_size - 5, 40, 7]
    for fld in ("text", "url"):
        for t in range(n_terms):
            for salt in ([0, 1] if t == 0 else [0]):
                n = sizes[t % len(sizes)]
                docs = np.sort(rng.choice(1 << 40, size=n, replace=False))
                for d in docs:
                    tf = int(rng.integers(1, 5))
                    pos = (
                        np.sort(rng.choice(500, size=tf, replace=False))
                        .astype(int).tolist()
                        if fld in POS_FIELDS else None
                    )
                    rows.append(
                        (int(d), fld, f"term{t}", tf,
                         int(rng.integers(1, 300)), pos, 3, salt)
                    )
    rng.shuffle(rows)
    return rows


def _table(rows):
    cols = list(zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "field": pa.array(cols[1], pa.string()),
            "term": pa.array(cols[2], pa.string()),
            "tf": pa.array(cols[3], pa.int32()),
            "doc_len": pa.array(cols[4], pa.int32()),
            "positions": pa.array(cols[5], pa.list_(pa.int32())),
            "bucket": pa.array(cols[6], pa.int32()),
            "salt": pa.array(cols[7], pa.int32()),
        }
    )


def _decode_arrow(blocks: pa.Table):
    """Independent reader of the layout: per block, doc_id = first_doc_id +
    offset, and the payload lists line up by index."""
    out = []
    for b in blocks.to_pylist():
        pos = b["positions"]
        for k, off in enumerate(b["doc_offsets"]):
            out.append(
                (b["first_doc_id"] + off, b["field"], b["term"], b["tfs"][k],
                 b["lens"][k], None if pos is None else pos[k],
                 b["bucket"], b["salt"])
            )
    return sorted(out, key=lambda r: (r[1], r[2], r[7], r[0]))


def _sorted_rows(rows):
    return sorted(rows, key=lambda r: (r[1], r[2], r[7], r[0]))


class TestEncoder:
    def test_roundtrip_and_block_metadata(self):
        rng = np.random.default_rng(7)
        rows = _random_postings(rng)
        blocks = encode_group_table(_table(rows), block_size=128)
        assert _decode_arrow(blocks) == _sorted_rows(rows)
        for b in blocks.to_pylist():
            n = b["n_docs"]
            assert 1 <= n <= 128
            assert len(b["doc_offsets"]) == len(b["tfs"]) == len(b["lens"]) == n
            assert b["doc_offsets"][0] == 0
            assert b["doc_offsets"] == sorted(b["doc_offsets"])
            assert b["first_doc_id"] + b["doc_offsets"][-1] == b["last_doc_id"]
            assert (b["max_tf"], b["min_tf"]) == (max(b["tfs"]), min(b["tfs"]))
            assert (b["min_len"], b["max_len"]) == (min(b["lens"]), max(b["lens"]))
            assert (b["positions"] is None) == (b["field"] not in POS_FIELDS)
        # blocks of one list are numbered 0.. and only the last is partial
        per_list = {}
        for b in blocks.to_pylist():
            per_list.setdefault((b["field"], b["term"], b["salt"]), []).append(b)
        for bl in per_list.values():
            bl.sort(key=lambda b: b["block_id"])
            assert [b["block_id"] for b in bl] == list(range(len(bl)))
            assert all(b["n_docs"] == 128 for b in bl[:-1])

    def test_empty_group(self):
        empty = _table([(0, "text", "t", 1, 1, [0], 0, 0)]).slice(0, 0)
        out = encode_group_table(empty)
        assert out.num_rows == 0
        assert out.schema.names == [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 2**40),
                st.sampled_from(["text", "url"]),
                st.sampled_from(["a", "b", "c"]),
                st.lists(st.integers(0, 2**31 - 1), min_size=1, max_size=6,
                         unique=True),
                st.integers(0, 2**31 - 1),
            ),
            min_size=1,
            max_size=300,
            unique_by=lambda r: (r[0], r[1], r[2]),
        ),
        st.integers(1, 16),
    )
    def test_roundtrip_property(self, postings, block_size):
        rows = [
            (d, f, t, len(p), ln, sorted(p) if f in POS_FIELDS else None, 0, 0)
            for d, f, t, p, ln in postings
        ]
        blocks = encode_group_table(_table(rows), block_size=block_size)
        assert _decode_arrow(blocks) == _sorted_rows(rows)


def test_parquet_list_columns_explode_to_input(spark, tmp_path):
    """Random postings, written as Parquet list columns and exploded by the
    JVM reader, equal the input rows."""
    rng = np.random.default_rng(21)
    rows = _random_postings(rng)
    blocks = encode_group_table(_table(rows), block_size=128)
    path = str(tmp_path / "postings")
    write_blocks(spark.createDataFrame(blocks), path)
    back = explode_blocks(
        spark.read.parquet(path), "field", "term", "bucket", "salt",
        positions=True,
    )
    got = [
        (r["doc_id"], r["field"], r["term"], r["tf"], r["len"],
         r["positions"], r["bucket"], r["salt"])
        for r in back.collect()
    ]
    assert _sorted_rows(got) == _sorted_rows(rows)
    # the payload rides zstd Parquet list columns
    import glob

    import pyarrow.parquet as pq

    f = glob.glob(path + "/**/*.parquet", recursive=True)[0]
    col = pq.ParquetFile(f).metadata.row_group(0)
    names = {col.column(i).path_in_schema: col.column(i).compression
             for i in range(col.num_columns)}
    assert names["doc_offsets.list.element"] == "ZSTD"


def test_old_blob_layout_requires_rebuild(spark, tmp_path):
    """An index written with the earlier varint-blob columns fails to open
    with a typed error instead of a decode crash."""
    from bayard_spark.fsio import IndexFS
    from bayard_spark.query import SearchEngine
    from bayard_spark.schema import IndexPaths, webtext_index_meta

    root = str(tmp_path / "old")
    paths = IndexPaths(root)
    IndexFS(root).makedirs(root)
    IndexFS(root).write_text(paths.meta, webtext_index_meta().to_json())
    old = spark.createDataFrame(
        [("text", 0, "water", 0, 0, 1, 5, 5, 1, 1, 3, 3,
          b"\x05", b"\x01", b"\x03", b"")],
        "field string, bucket int, term string, salt int, block_id int, "
        "n_docs int, first_doc_id long, last_doc_id long, max_tf int, "
        "min_tf int, min_len int, max_len int, doc_bytes binary, "
        "tf_bytes binary, len_bytes binary, pos_bytes binary",
    )
    old.write.partitionBy("field", "bucket").parquet(paths.postings + "/wave=0")
    with pytest.raises(IndexFormatError, match="rebuild required"):
        SearchEngine(spark, root)
