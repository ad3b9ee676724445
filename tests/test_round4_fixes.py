"""Regression tests for the round-4 performance fixes (VERDICT r3).

1. The top-docs response path runs a SINGLE Spark action when no stored
   fields are requested: url/warc_ts ride the slim frame through
   TakeOrderedAndProject, and the second point-lookup action (the r3 change
   that cost +28% p50 on the driver bench) never fires. AQE may split one
   action into several jobs (broadcast stages), so the test pins the code
   path — no `_fetch_stored` call — rather than a job count.
2. Requested stored fields still fetch via a bounded doc_id point-lookup
   over the <=k winners only, and only for the columns not already carried.
3. Large winner id-lists switch from an IN-list pushdown to a broadcast
   semi-join (ADVICE r3: deep pagination inflates the IN predicate).
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def spy_fetch(built, monkeypatch):
    engine, _ = built
    calls: list[tuple[list, list]] = []
    real = engine._fetch_stored

    def spy(ids, cols):
        calls.append((list(ids), list(cols)))
        return real(ids, cols)

    monkeypatch.setattr(engine, "_fetch_stored", spy)
    return engine, calls


def test_top_docs_single_action_without_fields(built, spy_fetch):
    engine, calls = spy_fetch
    _, oracle = built
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 10,
        }
    )
    assert calls == [], "no-fields search must not run a point-lookup action"
    # response still complete: url + timestamp come from the carried columns
    assert resp.documents, "query should match documents"
    for d in resp.documents:
        assert d["id"].startswith("http")
        assert isinstance(d["timestamp"], int) and d["timestamp"] > 0
    # and rank-identical to the oracle
    ranked = oracle.top_k(
        {"kind": "term", "options": {"field": "text", "term": "water"}}, 10
    )
    got_urls = [d["id"] for d in resp.documents]
    want_urls = [oracle.docs[i]["url"] for i, _score in ranked]
    assert got_urls == want_urls


def test_stored_fields_fetch_is_bounded_point_lookup(built, spy_fetch):
    engine, calls = spy_fetch
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 5,
            "fields": ["lang", "url"],
        }
    )
    # exactly one lookup, winners only, and only the NOT-carried column
    assert len(calls) == 1
    ids, cols = calls[0]
    assert len(ids) <= 5
    assert cols == ["lang"], "url is carried in the slim frame, not re-fetched"
    for d in resp.documents:
        assert d["fields"]["lang"] in ("en", "de", "fr", "es", "ja", "pt", "it")
        assert d["fields"]["url"] == d["id"]


def test_large_id_list_uses_broadcast_semi_join(built):
    engine, _ = built
    all_ids = [r["doc_id"] for r in engine.docs.select("doc_id").collect()]
    engine.ISIN_LOOKUP_MAX = 16  # force the join path on this instance
    try:
        fetched = engine._fetch_stored(all_ids, ["lang", "url"])
    finally:
        del engine.ISIN_LOOKUP_MAX
    assert set(fetched) == set(all_ids)
    sample = fetched[all_ids[0]]
    assert set(sample) == {"doc_id", "lang", "url"}


def test_sort_path_single_action_and_shape(built, spy_fetch):
    engine, calls = spy_fetch
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "top_docs",
            "hits": 5,
            "sort": {"field": "warc_ts", "order": "desc"},
        }
    )
    assert calls == [], "sorted no-fields search must not run a point-lookup"
    ts = [d["timestamp"] for d in resp.documents]
    assert ts == sorted(ts, reverse=True)
    for d in resp.documents:
        assert d["score"] == 0.0 and d["sort_value"] is not None


# ---- ADVICE r4: doc-id reservation vs interleaved writers ----


def _mini_builder(spark, tmp_path_factory):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import webtext_df

    root = str(tmp_path_factory.mktemp("resv_idx"))
    meta = webtext_index_meta(num_buckets=4, num_waves=1)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, 40, partitions=2))
    return builder


def _put_batch(spark, n, seed):
    from bayard_spark.sources.webtext import webtext_df
    from pyspark.sql import functions as F

    return webtext_df(spark, n, seed=seed).withColumn(
        "url", F.concat(F.lit(f"https://put{seed}.example/"), F.col("url"))
    )


def test_interleaved_writers_never_share_id_ranges(spark, tmp_path_factory):
    from bayard_spark.build.segments import SegmentWriter

    builder = _mini_builder(spark, tmp_path_factory)
    w1 = SegmentWriter(spark, builder)
    w1.put_documents(_put_batch(spark, 5, seed=101))  # staged, NOT committed
    # a second writer created while w1 has staged-but-uncommitted work must
    # reserve PAST w1's marker, not reuse its range
    w2 = SegmentWriter(spark, builder)
    base2 = w2._next_doc_id()
    assert base2 >= w1._reserved_next
    w2.put_documents(_put_batch(spark, 5, seed=202))
    w2.commit()
    w1.commit()
    from bayard_spark.build.segments import visible_docs

    docs = visible_docs(spark, builder.paths)
    n_ids = docs.select("doc_id").distinct().count()
    assert n_ids == docs.count(), "duplicate doc_ids across writers"


def test_commit_fails_loudly_on_overlapping_reservation(
    spark, tmp_path_factory
):
    from bayard_spark.build.segments import SegmentWriter

    builder = _mini_builder(spark, tmp_path_factory)
    w1 = SegmentWriter(spark, builder)
    w1._next_doc_id()  # reserve BEFORE w2 stages (no marker yet -> overlap)
    w2 = SegmentWriter(spark, builder)
    w2.put_documents(_put_batch(spark, 5, seed=303))
    w2.commit()
    w1.put_documents(_put_batch(spark, 5, seed=404))
    with pytest.raises(RuntimeError, match="reservation conflict"):
        w1.commit()


def test_preload_cap_is_byte_sized(spark, tmp_path_factory):
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory)
    root = builder.paths.root

    class TinyCapEngine(SearchEngine):
        MAX_DICT_BYTES = 256  # force the wide-vocabulary fallback

    engine = TinyCapEngine(spark, root)
    assert not engine._dict_complete, "byte cap must skip the preload"
    # lazy metadata lookups still answer correctly
    resp = engine.search(
        {
            "query": {
                "kind": "term", "options": {"field": "text", "term": "water"}
            },
            "collection_kind": "count_and_top_docs",
            "hits": 5,
        }
    )
    assert resp.total_hits >= 0


# ---- phrase rank identity over skewed constituent shapes ----


def test_phrase_semi_decode_rank_identity(built):
    """Phrases whose constituents differ widely in df (rare+hot, hot+hot)
    keep the oracle's doc ids AND scores."""
    engine, oracle = built
    shapes = [
        ["the", "water"], ["water", "the"], ["of", "the"],
        ["people", "know"],
    ]
    for terms in shapes:
        q = {"kind": "phrase",
             "options": {"field": "text", "phrase_terms": terms,
                         "slop": 0}}
        resp = engine.search(
            {"query": q, "collection_kind": "count_and_top_docs",
             "hits": 10}
        )
        ranked = oracle.top_k(q, 10)
        want_urls = [oracle.docs[i]["url"] for i, _s in ranked]
        got_urls = [d["id"] for d in resp.documents]
        assert got_urls == want_urls, terms
        for d, (_i, s) in zip(resp.documents, ranked):
            assert abs(d["score"] - s) < 1e-9
        assert resp.total_hits == len(oracle.run(q))


def test_engine_is_thread_safe_for_concurrent_search(built):
    """One engine snapshot, 8 client threads, mixed query shapes —
    results must equal the sequential answers (shared plan caches may
    race benignly but never corrupt)."""
    from concurrent.futures import ThreadPoolExecutor

    engine, _ = built
    shapes = [
        {"kind": "term", "options": {"field": "text", "term": "water"}},
        {"kind": "term", "options": {"field": "text", "term": "people"}},
        {"kind": "phrase",
         "options": {"field": "text", "phrase_terms": ["the", "water"],
                     "slop": 1}},
        {"kind": "boolean", "options": {"subqueries": [
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "text", "term": "water"}}},
            {"occurrence": "must", "query": {
                "kind": "term",
                "options": {"field": "text", "term": "day"}}}]}},
    ]

    def ids(q):
        resp = engine.search(
            {"query": q, "collection_kind": "top_docs", "hits": 10}
        )
        return [d["id"] for d in resp.documents]

    sequential = [ids(q) for q in shapes]
    reqs = shapes * 6
    with ThreadPoolExecutor(8) as ex:
        got = list(ex.map(ids, reqs))
    for i, g in enumerate(got):
        assert g == sequential[i % len(shapes)]
