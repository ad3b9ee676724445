"""Regression tests for the round-5 fixes (VERDICT r4 / ADVICE r4).

1. ADVICE high — a SegmentWriter reused across commits (the streaming
   ingest shape: put→commit→put→commit) starts a NEW reservation window
   after each commit instead of tripping over its own already-committed
   id range.
2. ADVICE medium — a phrase returns an empty result (not an executor
   error) when every doc holding its rare term was tombstoned.
3. VERDICT Wrong #1 — the response path switches from the carry-through
   docs join to the ≤k point-lookup above the doc-store size gate, with
   identical results on both branches.
4. VERDICT Wrong #2 / ADVICE low — unigram_logprob broadcasts the vocab
   table only below the vocab-count gate (plain shuffle join above), and
   token-less docs emit NULL, not the maximum-quality 0.0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mini_builder(spark, tmp_path_factory, n_docs=40):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta
    from bayard_spark.sources.webtext import webtext_df

    root = str(tmp_path_factory.mktemp("r5_idx"))
    meta = webtext_index_meta(num_buckets=4, num_waves=1)
    builder = IndexBuilder(spark, meta, root)
    builder.build(webtext_df(spark, n_docs, partitions=2))
    return builder


def _put_batch(spark, n, seed):
    from bayard_spark.sources.webtext import webtext_df

    return webtext_df(spark, n, seed=seed).withColumn(
        "url", F.concat(F.lit(f"https://put{seed}.example/"), F.col("url"))
    )


# ---- 1. same-writer multi-commit reservation window ----


def test_same_writer_put_commit_put_commit(spark, tmp_path_factory):
    """The continuous-streaming shape: one writer, a commit per epoch.
    Before the fix the second commit raised a spurious 'doc-id
    reservation conflict' against the writer's own first range."""
    from bayard_spark.build.segments import SegmentWriter, visible_docs

    builder = _mini_builder(spark, tmp_path_factory)
    w = SegmentWriter(spark, builder)
    w.put_documents(_put_batch(spark, 5, seed=501))
    state1 = w.commit()
    w.put_documents(_put_batch(spark, 5, seed=502))
    state2 = w.commit()  # raised RuntimeError before the fix
    # two disjoint contiguous ranges recorded
    r1, r2 = state2["id_ranges"][-2], state2["id_ranges"][-1]
    assert r1[1] <= r2[0], (r1, r2)
    docs = visible_docs(spark, builder.paths)
    assert docs.select("doc_id").distinct().count() == docs.count()


def test_three_epoch_streaming_ingest(spark, tmp_path_factory):
    """StreamingIngestor itself across 3 non-empty epochs on one writer
    (the exact ADVICE scenario: available_now=False continuous ingest is
    foreachBatch calls on a shared ingestor)."""
    from bayard_spark.build.segments import visible_docs
    from bayard_spark.streaming.ingest import StreamingIngestor

    builder = _mini_builder(spark, tmp_path_factory)
    ingestor = StreamingIngestor(spark, builder)
    for epoch, seed in enumerate((601, 602, 603)):
        ingestor(_put_batch(spark, 4, seed=seed), epoch)
    docs = visible_docs(spark, builder.paths)
    assert docs.select("doc_id").distinct().count() == docs.count()
    assert docs.filter(F.col("url").rlike("put60[123]")).count() == 12


# ---- 2. phrase over a constituent whose every holder is tombstoned ----


def test_phrase_semi_decode_all_candidates_tombstoned(
    spark, tmp_path_factory
):
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory, n_docs=60)
    root = builder.paths.root
    probe = SearchEngine(spark, root)
    # pick a term present in few docs; tombstone EVERY doc holding it
    holders = [
        d["id"]
        for d in probe.search(
            {"query": {"kind": "term",
                       "options": {"field": "text", "term": "water"}},
             "collection_kind": "top_docs", "hits": 10_000}
        ).documents
    ]
    assert holders, "fixture term must occur"
    w = SegmentWriter(spark, builder)
    w.delete_documents(holders)
    w.commit()
    engine = SearchEngine(spark, root)
    resp = engine.search(
        {"query": {"kind": "phrase",
                   "options": {"field": "text",
                               "phrase_terms": ["water", "the"],
                               "slop": 0}},
         "collection_kind": "count_and_top_docs", "hits": 10}
    )
    assert resp.total_hits == 0 and resp.documents == []


# ---- 3. size-gated response path ----


def _term_req(fields=None, sort=None, hits=10):
    req = {
        "query": {"kind": "term",
                  "options": {"field": "text", "term": "water"}},
        "collection_kind": "count_and_top_docs",
        "hits": hits,
    }
    if fields:
        req["fields"] = fields
    if sort:
        req["sort"] = sort
    return req


def _doc_key(d):
    return (d["id"], d["score"], d["timestamp"], d["sort_value"], d["fields"])


def test_response_path_switches_at_doc_store_gate(built, monkeypatch):
    engine, _ = built
    small = engine.search(_term_req())
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    big = engine.search(_term_req())
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]
    assert small.total_hits == big.total_hits


def test_big_store_point_lookup_fetches_only_winners(built, monkeypatch):
    engine, _ = built
    calls = []
    real = engine._fetch_stored

    def spy(ids, cols):
        calls.append((list(ids), list(cols)))
        return real(ids, cols)

    monkeypatch.setattr(engine, "_fetch_stored", spy)
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    resp = engine.search(_term_req(hits=5))
    assert len(calls) == 1
    ids, cols = calls[0]
    assert len(ids) <= 5
    assert set(cols) == {"url", "warc_ts"}
    for d in resp.documents:
        assert d["id"].startswith("http") and d["timestamp"] > 0


def test_big_store_sort_carries_only_sort_field(built, monkeypatch):
    """Above the gate a fast-field sort still joins THE SORT COLUMN before
    top-k (ordering needs it) but url/warc_ts resolve via point-lookup;
    results identical to the small-store carry branch."""
    engine, _ = built
    sort = {"field": "warc_ts", "order": "desc"}
    small = engine.search(_term_req(sort=sort, hits=5))
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_DOCS_MAX", 0)
    big = engine.search(_term_req(sort=sort, hits=5))
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]


# ---- 4. unigram_logprob: vocab-gated broadcast + NULL for empty docs ----


def _uni_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the the the the"),
        (3, "   "),
        (4, ""),
        (5, "zyzzyva qwertyuiop"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_logprob_null_for_tokenless_docs(spark):
    from bayard_spark.functions.textstats import unigram_logprob

    out = {r["doc_id"]: r["logprob"]
           for r in unigram_logprob(_uni_df(spark)).collect()}
    assert out[3] is None and out[4] is None
    # every real doc scores strictly below the old empty-doc sentinel 0.0
    assert all(v < 0 for k, v in out.items() if v is not None)
    # repetitive high-frequency page ranks above the rare-vocab page
    assert out[2] > out[5]


def test_unigram_broadcast_gate(spark):
    from bayard_spark.functions.textstats import unigram_logprob

    df = _uni_df(spark)
    # r7: the measuring count persists the vocab table, so Catalyst now
    # sees its REAL materialized size and may auto-broadcast a tiny
    # cached vocab even above the explicit gate — which is safe (the
    # decision is from actual bytes, not estimates; a web-scale cached
    # vocab is huge and never auto-broadcasts). The gate governs the
    # FORCED hint, so isolate the hint by disabling auto-broadcast.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = unigram_logprob(
            df, broadcast_vocab_max=10**9
        )._jdf.queryExecution().executedPlan().toString()
        plan_wide = unigram_logprob(
            df, broadcast_vocab_max=0
        )._jdf.queryExecution().executedPlan().toString()
        # the vocab-table join must LOSE its broadcast above the gate
        assert plan_small.count("BroadcastHashJoin") > plan_wide.count(
            "BroadcastHashJoin"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    a = {(r["doc_id"], r["logprob"])
         for r in unigram_logprob(df, broadcast_vocab_max=10**9).collect()}
    b = {(r["doc_id"], r["logprob"])
         for r in unigram_logprob(df, broadcast_vocab_max=0).collect()}
    assert a == b


def test_unigram_vocab_count_override_skips_measuring(spark, monkeypatch):
    """A caller-supplied vocab_count must be honored (no count() job) and
    steer the branch exactly like a measured one."""
    from pyspark.sql import DataFrame

    from bayard_spark.functions.textstats import unigram_logprob

    df = _uni_df(spark)
    calls = []
    real_count = DataFrame.count

    def spy(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    plan = unigram_logprob(
        df, vocab_count=10**9
    )._jdf.queryExecution().executedPlan().toString()
    assert calls == [], "vocab_count must skip the measuring pass"
    plan_bc = unigram_logprob(
        df, vocab_count=1
    )._jdf.queryExecution().executedPlan().toString()
    assert plan_bc.count("BroadcastHashJoin") > plan.count(
        "BroadcastHashJoin"
    )


# ---- 5. size-gated tombstone broadcast (scale audit) ----


def test_tombstone_broadcast_gate(spark, tmp_path_factory, monkeypatch):
    """Above TOMBSTONE_BROADCAST_MAX the anti-join must lose its
    broadcast hint (a web-scale purge cannot ride a broadcast) with
    identical results on both branches."""
    import bayard_spark.build.segments as seg
    from bayard_spark.build.segments import SegmentWriter
    from bayard_spark.query import SearchEngine

    builder = _mini_builder(spark, tmp_path_factory, n_docs=50)
    root = builder.paths.root
    w = SegmentWriter(spark, builder)
    victims = [
        r["url"] for r in spark.read.parquet(builder.paths.docs)
        .select("url").limit(7).collect()
    ]
    w.delete_documents(victims)
    w.commit()

    def hinted(engine):
        # the HINT lives in the logical plan; the physical choice on a
        # 7-row test index is Spark's (auto-broadcast kicks in either
        # way here — at web scale its size estimate would shuffle).
        # The gate's job is only to stop FORCING the broadcast.
        plan = (
            engine._term_scores("text", "the")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        return "strategy=broadcast" in plan

    small = SearchEngine(spark, root)
    assert hinted(small), "under the gate the hint must be present"
    monkeypatch.setattr(seg, "TOMBSTONE_BROADCAST_MAX", 0)
    big = SearchEngine(spark, root)
    big._leaf_cache.clear()
    assert not hinted(big), "past the gate the hint must be gone"
    req = {"query": {"kind": "term",
                     "options": {"field": "text", "term": "the"}},
           "collection_kind": "count_and_top_docs", "hits": 10}
    a, b = small.search(req), big.search(req)
    assert a.total_hits == b.total_hits
    assert [d["id"] for d in a.documents] == [d["id"] for d in b.documents]
