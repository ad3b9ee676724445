"""Generator determinism, sampler coverage and the bulk oracle loader."""

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.oracle_ref import FIELD_ANALYZERS, load_oracle


@pytest.mark.parametrize("parts", [1, 2, 3, 7])
def test_corpus_is_the_same_for_any_partition_count(parts):
    c = gen.Corpus(5, gen.CorpusParams(n_docs=300, recrawl_rate=0.05))
    rows = np.arange(c.p.n_rows)
    whole = c.frame(rows)
    chunks = [gen.Corpus(5, c.p).frame(r) for r in np.array_split(rows, parts)]
    pd.testing.assert_frame_equal(pd.concat(chunks, ignore_index=True), whole)


def test_seed_changes_the_corpus():
    a = gen.Corpus(1, gen.CorpusParams(n_docs=50)).frame(np.arange(50))
    b = gen.Corpus(2, gen.CorpusParams(n_docs=50)).frame(np.arange(50))
    assert not a["text"].equals(b["text"])


def test_expected_counts_match_the_tokens():
    c = gen.Corpus(3, gen.CorpusParams(n_docs=120, recrawl_rate=0.1))
    exp = gen.expected_index_counts(c)
    assert exp["n_docs"] == 120
    live = c.frame(c.winners())
    assert live["url"].is_unique
    words = live["text"].str.split()
    assert exp["avg_len"] == words.str.len().sum() / 120
    assert exp["text_postings"] == sum(len(set(w)) for w in words)


def _oracle_for(c, rows):
    f = c.frame(rows)
    return load_oracle(list(f["url"]), list(f["text"]), list(f["lang"]))


def test_sampler_emits_no_zero_hit_requests():
    c = gen.Corpus(11, gen.CorpusParams(n_docs=400))
    rows = np.arange(400)
    ids, offsets = c.tokens(rows)
    sampler = gen.RequestSampler(11, c.vocab, ids, offsets)
    oracle = _oracle_for(c, rows)
    reqs = sampler.mix(120)
    assert {r["_kind"] for r in reqs} == set(gen.REQUEST_KINDS)
    assert np.mean([r["_repeat"] for r in reqs]) == 0.5
    for i, r in enumerate(reqs):  # a repeat is an earlier same-kind request
        key = {k: v for k, v in r.items() if k != "_repeat"}
        assert not r["_repeat"] or key in [
            {k: v for k, v in e.items() if k != "_repeat"} for e in reqs[:i]]
    for r in reqs:
        assert len(oracle.run(r["query"])) > 0, r


def test_bulk_oracle_equals_add():
    from bayard_spark.analysis.analyzer import build_analyzers
    from bayard_spark.oracle import OracleIndex

    c = gen.Corpus(4, gen.CorpusParams(n_docs=80))
    f = c.frame(np.arange(80))
    bulk = load_oracle(list(f["url"]), list(f["text"]), list(f["lang"]))
    ref = OracleIndex(analyzers=build_analyzers({}),
                      field_analyzers=FIELD_ANALYZERS)
    for i, r in enumerate(f.itertuples()):
        ref.add(i, {"url": r.url, "text": r.text, "lang": r.lang})
    assert {k: dict(v) for k, v in bulk.postings.items()} == {
        k: dict(v) for k, v in ref.postings.items()}
    assert dict(bulk.doc_len) == dict(ref.doc_len)
    assert bulk.docs == ref.docs
    q = {"kind": "term", "options": {"field": "text", "term": "the"}}
    assert bulk.top_k(q) == ref.top_k(q)
