"""The query path runs no Python on executors, keeps no session-global
conf flips, and holds bounded per-engine caches.

1. Plan guard: the executed physical plan of every request kind (as the
   SQL status store records it, AQE final plan included) holds no Python
   node.
2. A stored-field fetch above ISIN_LOOKUP_MAX builds its id frame from an
   Arrow table without touching `spark.sql.execution.arrow.pyspark.enabled`
   and returns the same rows as the IN-list path.
3. The leaf-plan and expansion caches stay at their LRU caps while many
   distinct fuzzy/regex patterns arrive from several threads, with every
   answer still equal to the oracle.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandas",
)


def _executions(spark) -> dict[int, str]:
    """Execution id → physical plan text of every recorded SQL execution."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(lst.size()):
        e = lst.apply(i)
        out[int(e.executionId())] = str(e.physicalPlanDescription())
    return out


def _python_plans(spark, run) -> tuple[int, list[str]]:
    """Run `run()` and return (#executions it ran, Python-node hits)."""
    before = set(_executions(spark))
    run()
    new = {k: v for k, v in _executions(spark).items() if k not in before}
    hits = [
        node
        for plan in new.values()
        for node in PYTHON_NODES
        if node in plan
    ]
    return len(new), hits


def _term(t):
    return {"kind": "term", "options": {"field": "text", "term": t}}


def _bool(occ):
    return {"kind": "boolean", "options": {"subqueries": [
        {"occurrence": "must" if occ != "should" else "should",
         "query": _term("water")},
        {"occurrence": occ, "query": _term("the")},
    ]}}


REQUESTS = {
    "term": _term("water"),
    "must": _bool("must"),
    "should": _bool("should"),
    "must_not": _bool("must_not"),
    "phrase_slop0": {"kind": "phrase", "options": {
        "field": "text", "phrase_terms": ["of", "the"], "slop": 0}},
    "phrase_slop1": {"kind": "phrase", "options": {
        "field": "text", "phrase_terms": ["the", "of", "water"], "slop": 1}},
    "query_string": {"kind": "query_string", "options": {
        "query": "+water -people \"of the\"",
        "default_search_fields": ["text"]}},
    "fuzzy": {"kind": "fuzzy_term", "options": {
        "field": "text", "term": "watr", "distance": 1}},
    "regex": {"kind": "regex", "options": {"field": "text", "regex": "wa.*"}},
}


def test_guard_sees_python_nodes(spark):
    """The guard itself is live: a mapInArrow job is flagged."""
    def run():
        spark.range(3).mapInArrow(lambda it: it, "id long").collect()

    n, hits = _python_plans(spark, run)
    assert n >= 1 and "MapInArrow" in hits


@pytest.mark.parametrize("kind", sorted(REQUESTS))
def test_request_plans_have_no_python(built, spark, kind):
    engine, oracle = built
    engine._leaf_cache.clear()
    q = REQUESTS[kind]
    out = {}

    def run():
        out["resp"] = engine.search(
            {"query": q, "collection_kind": "count_and_top_docs", "hits": 10}
        )
        # the pruned top-docs-only branch plans differently
        engine.search({"query": q, "collection_kind": "top_docs", "hits": 5})

    n, hits = _python_plans(spark, run)
    assert n >= 1, "no execution was recorded"
    assert hits == [], f"{kind}: Python nodes {sorted(set(hits))}"
    resp = out["resp"]
    ranked = oracle.top_k(q, 10)
    assert [d["id"] for d in resp.documents] == [
        oracle.docs[i]["url"] for i, _ in ranked
    ]
    assert resp.total_hits == len(oracle.run(q))


def test_large_fetch_leaves_arrow_conf_untouched(built, spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    engine, _ = built
    key = "spark.sql.execution.arrow.pyspark.enabled"
    ids = [r["doc_id"] for r in engine.docs.select("doc_id").collect()]
    want = engine._fetch_stored(ids, ["url", "lang"])  # IN-list path
    sets = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        sets.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    before = spark.conf.get(key, None)
    monkeypatch.setattr(engine, "ISIN_LOOKUP_MAX", 8)
    got = engine._fetch_stored(ids, ["url", "lang"])
    assert len(ids) > 8
    assert key not in sets
    assert spark.conf.get(key, None) == before
    assert got == want


def test_caches_stay_at_cap_under_concurrent_patterns(
    built, spark, tmp_index_root, monkeypatch
):
    from bayard_spark.query import SearchEngine

    _, oracle = built
    monkeypatch.setattr(SearchEngine, "LEAF_CACHE_MAX", 4)
    monkeypatch.setattr(SearchEngine, "EXPANSION_CACHE_MAX", 6)
    engine = SearchEngine(spark, tmp_index_root)
    words = ["water", "people", "know", "time", "year", "world", "day",
             "life"]
    queries = []
    for w in words:
        queries.append({"kind": "fuzzy_term", "options": {
            "field": "text", "term": w[:-1] + "x", "distance": 1}})
        queries.append({"kind": "regex", "options": {
            "field": "text", "regex": w[:2] + ".*"}})

    def answer(q):
        r = engine.search(
            {"query": q, "collection_kind": "count_and_top_docs", "hits": 10}
        )
        return (
            [d["id"] for d in r.documents],
            [d["score"] for d in r.documents],
            r.total_hits,
        )

    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(answer, queries * 2))
    for q, (urls, scores, total) in zip(queries * 2, got):
        ranked = oracle.top_k(q, 10)
        assert urls == [oracle.docs[i]["url"] for i, _ in ranked], q
        assert all(abs(a - s) < 1e-9 for a, (_, s) in zip(scores, ranked))
        assert total == len(oracle.run(q))
    assert len(engine._expansion_cache) == 6
    assert len(engine._leaf_cache) == 4
