"""Regression tests for the round-6 hot-term query-path work.

1. The posting explode yields the same (term, doc_id, tf, len) rows
   whether or not it also carries the positions list column.
2. The decode repartition hint: above DECODE_PARALLEL_MIN_DOCS the block
   frame gains a round-robin exchange (a hot term's posting list decodes
   across the cluster, not on the one task that scans its bucket file);
   below it the plan is unchanged. Results identical either way.
3. The response path switches from the carry-through docs join to the
   ≤k point-lookup above the CANDIDATE-count gate (a hot term on a small
   store), with identical results on both branches — the carry join's
   cost scales with the candidate count, not the doc-store size.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ---- 1. decode with positions == decode without ----


def test_batched_decode_matches_per_block_path(built):
    engine, _ = built
    blocks = engine._leaf_blocks("text", "the")
    fast = (
        engine._decode(blocks, want_positions=False)
        .select("term", "doc_id", "tf", "len")
        .orderBy("doc_id")
        .collect()
    )
    slow = (
        engine._decode(blocks, want_positions=True)
        .select("term", "doc_id", "tf", "len")
        .orderBy("doc_id")
        .collect()
    )
    assert len(fast) > 0
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_batched_decode_multibucket_multi_term(built):
    """The multi-term (fuzzy/regex) decode shape: blocks of several terms
    from several buckets through one batched decode pass."""
    engine, _ = built
    terms = ["the", "water", "of"]
    buckets = engine._buckets(terms)
    blocks = engine.postings.filter(
        (F.col("field") == "text")
        & F.col("bucket").isin(sorted(set(buckets.values())))
        & F.col("term").isin(terms)
    )
    fast = (
        engine._decode(blocks, want_positions=False)
        .select("term", "doc_id", "tf", "len")
        .orderBy("term", "doc_id")
        .collect()
    )
    slow = (
        engine._decode(blocks, want_positions=True)
        .select("term", "doc_id", "tf", "len")
        .orderBy("term", "doc_id")
        .collect()
    )
    assert len(fast) > 0
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


# ---- 2. decode parallelism hint ----


def test_decode_repartition_engages_above_hint(built, monkeypatch):
    engine, _ = built
    blocks = engine._leaf_blocks("text", "the")
    df_count = engine._df_of("text", "the")

    plain = engine._decode(blocks, want_positions=False)
    assert "RoundRobinPartitioning" not in plain._jdf.queryExecution().toString()

    monkeypatch.setattr(engine, "DECODE_PARALLEL_MIN_DOCS", 1)
    monkeypatch.setattr(engine, "DECODE_DOCS_PER_TASK", 16)
    par = engine._decode(blocks, want_positions=False, n_docs_hint=df_count)
    assert "RoundRobinPartitioning" in par._jdf.queryExecution().toString()

    a = sorted(
        tuple(r) for r in plain.select("doc_id", "tf", "len").collect()
    )
    b = sorted(tuple(r) for r in par.select("doc_id", "tf", "len").collect())
    assert a == b and len(a) == df_count


def test_term_scores_identical_with_forced_parallel_decode(
    built, monkeypatch
):
    engine, _ = built
    base = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in engine._term_scores("text", "the").collect()
    )
    engine._leaf_cache.clear()
    monkeypatch.setattr(engine, "DECODE_PARALLEL_MIN_DOCS", 1)
    monkeypatch.setattr(engine, "DECODE_DOCS_PER_TASK", 8)
    par = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in engine._term_scores("text", "the").collect()
    )
    engine._leaf_cache.clear()
    assert base == par


# ---- 3. candidate-count response-path gate ----


def _req(term="water", hits=10):
    return {
        "query": {"kind": "term",
                  "options": {"field": "text", "term": term}},
        "collection_kind": "count_and_top_docs",
        "hits": hits,
    }


def _doc_key(d):
    return (d["id"], d["score"], d["timestamp"], d["sort_value"], d["fields"])


def test_response_path_switches_at_candidate_gate(built, monkeypatch):
    engine, _ = built
    small = engine.search(_req())
    assert engine._last_response_path == "carry"
    monkeypatch.setattr(engine, "CARRY_JOIN_CANDIDATES_MAX", 0)
    big = engine.search(_req())
    assert engine._last_response_path == "point_lookup"
    assert [_doc_key(d) for d in small.documents] == [
        _doc_key(d) for d in big.documents
    ]
    assert small.total_hits == big.total_hits


def test_candidate_gate_uses_query_df_estimate(built):
    """A hot term (df over the gate) flips to point-lookup on its own df
    even though the doc store is far under CARRY_JOIN_DOCS_MAX; estimates
    compose through boolean musts (min) so a selective must keeps carry."""
    engine, _ = built
    hot_df = engine._df_of("text", "the")
    assert engine._cand_upper_estimate(
        {"kind": "term", "options": {"field": "text", "term": "the"}}
    ) == hot_df
    must = {
        "kind": "boolean",
        "options": {"subqueries": [
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "water"}}},
            {"occurrence": "must",
             "query": {"kind": "term",
                       "options": {"field": "text", "term": "the"}}},
        ]},
    }
    assert engine._cand_upper_estimate(must) == engine._df_of(
        "text", "water"
    )
    # unknown kinds stay on the measured-faster carry branch
    assert engine._cand_upper_estimate(
        {"kind": "regex", "options": {"field": "text", "regex": "wat.*"}}
    ) is None
