"""Posting-block layout: 128-doc blocks stored as Parquet list columns.

Postings for a (field, term, salt) are cut into fixed-size blocks (128 docs,
the block size tantivy uses for its bitpacked postings). Each block is ONE
row of the postings table:

    field, bucket, term, salt, block_id       key (field/bucket = partitions)
    n_docs, first_doc_id, last_doc_id,
    max_tf, min_tf, min_len, max_len           block-max metadata
    doc_offsets : array<bigint>        doc_id - first_doc_id, ascending
    tfs         : array<int>           term frequency per doc
    lens        : array<int>           field length per doc (BM25 norm)
    positions   : array<array<int>>    token positions per doc, ascending;
                                       null when the field records no
                                       positions

The metadata columns are PLAIN COLUMNS, so block-max pruning and doc-range
skipping happen as ordinary Catalyst filters on the parquet scan. The
payload is not hand-encoded: Parquet (zstd, `POSTINGS_COMPRESSION`) does the
compression, and readers decode with ONE JVM projection (`explode_blocks`:
`inline(arrays_zip(...))`) — no Python runs between the scan and the scorer.

`encode_group_table` is the only writer of this layout; the bulk builder,
segment staging and the merge compactor all call it, so a block's content
depends only on its postings, never on the path that wrote it.

This is an original layout informed by public IR practice (tantivy's 128-doc
blocks + skip info; Lucene's block-max metadata; columnar list-typed posting
storage); no reference code reused.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_SIZE = 128
POSTINGS_COMPRESSION = "zstd"

BLOCK_SCHEMA = (
    "field string, bucket int, term string, salt int, block_id int, "
    "n_docs int, first_doc_id long, last_doc_id long, max_tf int, "
    "min_tf int, min_len int, max_len int, doc_offsets array<long>, "
    "tfs array<int>, lens array<int>, positions array<array<int>>"
)
_POS_TYPE = pa.list_(pa.int32())
_BLOCK_ARROW_SCHEMA = pa.schema(
    [
        ("field", pa.string()), ("bucket", pa.int32()),
        ("term", pa.string()), ("salt", pa.int32()),
        ("block_id", pa.int32()), ("n_docs", pa.int32()),
        ("first_doc_id", pa.int64()), ("last_doc_id", pa.int64()),
        ("max_tf", pa.int32()), ("min_tf", pa.int32()),
        ("min_len", pa.int32()), ("max_len", pa.int32()),
        ("doc_offsets", pa.list_(pa.int64())),
        ("tfs", pa.list_(pa.int32())),
        ("lens", pa.list_(pa.int32())),
        ("positions", pa.list_(_POS_TYPE)),
    ]
)


class IndexFormatError(RuntimeError):
    """The index was written in a posting layout this version cannot read
    (e.g. the earlier varint-blob columns); rebuild it from its source."""


def require_list_layout(postings: DataFrame) -> DataFrame:
    """Raise IndexFormatError unless `postings` carries the list columns."""
    if "doc_offsets" not in postings.columns:
        raise IndexFormatError(
            "rebuild required: this index stores postings in an older "
            "layout (columns "
            f"{sorted(set(postings.columns) - {'field', 'bucket', 'term'})}); "
            "rebuild it with IndexBuilder.build"
        )
    return postings


def encode_group_table(table: pa.Table, block_size: int = BLOCK_SIZE) -> pa.Table:
    """Posting rows of one (bucket, salt) group → block rows (BLOCK_SCHEMA).

    Input columns: doc_id, field, term, tf, doc_len, positions (list<int>,
    null for position-less fields), bucket, salt. Terms stay dictionary-coded
    ints: one lexsort over (field, term, salt, doc_id), run and block
    boundaries vectorized, and every payload column is a zero-copy ListArray
    whose offsets are the block boundaries. Python work is O(1) per group.
    """
    n = table.num_rows
    if n == 0:
        return _BLOCK_ARROW_SCHEMA.empty_table()
    fenc = pc.dictionary_encode(table.column("field").combine_chunks())
    tenc = pc.dictionary_encode(table.column("term").combine_chunks())
    fcodes = fenc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    tcodes = tenc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    doc = table.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tf = table.column("tf").to_numpy(zero_copy_only=False).astype(np.int32)
    dlen = table.column("doc_len").to_numpy(zero_copy_only=False).astype(np.int32)
    salt = table.column("salt").to_numpy(zero_copy_only=False).astype(np.int64)
    bucket = int(table.column("bucket")[0].as_py())

    order = np.lexsort((doc, salt, tcodes, fcodes))
    fcodes, tcodes, salt = fcodes[order], tcodes[order], salt[order]
    doc, tf, dlen = doc[order], tf[order], dlen[order]

    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (
        (fcodes[1:] != fcodes[:-1])
        | (tcodes[1:] != tcodes[:-1])
        | (salt[1:] != salt[:-1])
    )
    run_start_of = np.maximum.accumulate(np.where(new_run, np.arange(n), 0))
    within = np.arange(n) - run_start_of
    bstarts = np.flatnonzero(new_run | (within % block_size == 0))
    bends = np.append(bstarts[1:], n)
    nb = len(bstarts)
    first = doc[bstarts]
    # blocks tile the sorted group, so the block boundaries ARE the list
    # offsets of every payload column
    block_offsets = pa.array(np.append(bstarts, n).astype(np.int32))

    def per_block(values: pa.Array, mask=None) -> pa.ListArray:
        return pa.ListArray.from_arrays(block_offsets, values, mask=mask)

    pos_col = table.column("positions").combine_chunks()
    if pos_col.null_count == n:
        positions = pa.nulls(nb, type=pa.list_(_POS_TYPE))
    else:
        # a group mixes fields; blocks of a position-less field stay null
        valid = pos_col.is_valid().to_numpy(zero_copy_only=False)[order]
        block_null = ~valid[bstarts]
        positions = per_block(
            pos_col.take(pa.array(order)),
            mask=pa.array(block_null) if block_null.any() else None,
        )

    return pa.Table.from_arrays(
        [
            pa.DictionaryArray.from_arrays(
                pa.array(fcodes[bstarts].astype(np.int32)), fenc.dictionary
            ).cast(pa.string()),
            pa.array(np.full(nb, bucket, dtype=np.int32)),
            pa.DictionaryArray.from_arrays(
                pa.array(tcodes[bstarts].astype(np.int32)), tenc.dictionary
            ).cast(pa.string()),
            pa.array(salt[bstarts].astype(np.int32)),
            pa.array((within[bstarts] // block_size).astype(np.int32)),
            pa.array((bends - bstarts).astype(np.int32)),
            pa.array(first),
            pa.array(doc[bends - 1]),
            pa.array(np.maximum.reduceat(tf, bstarts)),
            pa.array(np.minimum.reduceat(tf, bstarts)),
            pa.array(np.minimum.reduceat(dlen, bstarts)),
            pa.array(np.maximum.reduceat(dlen, bstarts)),
            per_block(pa.array(doc - np.repeat(first, bends - bstarts))),
            per_block(pa.array(tf)),
            per_block(pa.array(dlen)),
            positions,
        ],
        schema=_BLOCK_ARROW_SCHEMA,
    )


def write_blocks(blocks: DataFrame, path: str) -> None:
    """Write block rows as the postings layout under `path`."""
    (
        blocks.write.mode("overwrite")
        .option("compression", POSTINGS_COMPRESSION)
        .partitionBy("field", "bucket")
        .parquet(path)
    )


def explode_blocks(
    blocks: DataFrame, *keep: str, positions: bool = False
) -> DataFrame:
    """Block rows → one row per posting: keep..., doc_id, tf, len
    [, positions], as ONE JVM generator projection (no Python).

    With positions=True, blocks of position-less fields yield null
    positions instead of being dropped (arrays_zip of a null list is null).
    """
    first = F.col("first_doc_id")
    arrays = [
        F.transform("doc_offsets", lambda o: o + first).alias("doc_id"),
        F.col("tfs").alias("tf"),
        F.col("lens").alias("len"),
    ]
    if positions:
        arrays.append(
            F.coalesce(
                F.col("positions"),
                F.array_repeat(
                    F.lit(None).cast("array<int>"), F.col("n_docs")
                ),
            ).alias("positions")
        )
    return blocks.select(*keep, F.inline(F.arrays_zip(*arrays)))
