"""Reference answers from ``bayard_spark.oracle.OracleIndex`` and the checks
that compare the engine's responses with them.

``OracleIndex.add`` tokenizes one document per call; :func:`load_oracle`
fills the same structures from one tokenizer call over the whole corpus
(the harness tests pin it equal to ``add``), and caches ``avg_len``, which
the oracle otherwise recomputes for every posting it scores.  Answers are
cached under the checkout's ``.perfbench_cache`` keyed by the seed, corpus
parameters, request list and a hash of the oracle's source.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

from bayard_spark.oracle import OracleIndex

FIELD_ANALYZERS = {"url": "raw", "text": "default", "lang": "raw"}
K = 10


class BenchOracle(OracleIndex):
    """OracleIndex with a cached per-field average length."""

    def avg_len(self, field: str) -> float:
        cache = self.__dict__.setdefault("_avg_cache", {})
        if field not in cache:
            cache[field] = OracleIndex.avg_len(self, field)
        return cache[field]


def load_oracle(urls, texts, langs) -> BenchOracle:
    """An oracle over documents 0..n-1 with (url, text, lang) fields."""
    from bayard_spark.analysis.analyzer import build_analyzers

    o = BenchOracle(analyzers=build_analyzers({}),
                    field_analyzers=FIELD_ANALYZERS)
    n = len(texts)
    frame = o.analyzers["default"].tokenize(pd.Series(list(texts)))
    lens = np.bincount(frame["idx"].to_numpy(), minlength=n)
    frame = frame.sort_values(["token", "idx", "pos"], kind="stable")
    tok = frame["token"].to_numpy()
    doc = frame["idx"].to_numpy()
    pos = frame["pos"].to_numpy()
    starts = np.flatnonzero(
        np.r_[True, (tok[1:] != tok[:-1]) | (doc[1:] != doc[:-1])]
    )
    ends = np.r_[starts[1:], len(tok)]
    text_post = o.postings["text"]
    for s, e in zip(starts.tolist(), ends.tolist()):
        text_post[tok[s]][int(doc[s])] = pos[s:e].tolist()
    for d in range(n):
        o.doc_len["text"][d] = int(lens[d])
    for fname, vals in (("url", urls), ("lang", langs)):
        post, dl = o.postings[fname], o.doc_len[fname]
        for d, v in enumerate(vals):
            if v:
                post[v].setdefault(d, []).append(0)
                dl[d] = 1
            else:
                dl[d] = 0
    for d in range(n):
        o.docs[d] = {"url": urls[d], "text": texts[d], "lang": langs[d]}
    return o


def _source_hash() -> str:
    import bayard_spark.oracle.engine as eng

    h = hashlib.sha256()
    for path in (eng.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected_answers(cache_dir: str, key: dict, build_oracle, requests):
    """{request json: {"top": [[url, score]...], "ties": [urls at the k-th
    score], "total": n}}, from the cache when the key matches."""
    blob = json.dumps({"key": key, "requests": requests,
                       "src": _source_hash()}, sort_keys=True)
    digest = hashlib.sha256(blob.encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"oracle-{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    oracle = build_oracle()
    out = {}
    for req in requests:
        rk = json.dumps(req, sort_keys=True)
        if rk in out:
            continue
        scores = oracle.run(req["query"])
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        top = ranked[:K]
        ties = []
        if len(top) == K:
            kth = top[-1][1]
            ties = [oracle.docs[d]["url"] for d, s in ranked
                    if math.isclose(s, kth, rel_tol=1e-9, abs_tol=1e-12)]
        out[rk] = {
            "top": [[oracle.docs[d]["url"], s] for d, s in top],
            "ties": ties,
            "total": len(scores),
        }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def check_response(expected: dict, docs: list, total: int | None) -> str | None:
    """None when the engine's (url, score) list equals the oracle's top-k,
    comparing urls of tied scores as sets; otherwise the reason."""
    exp = expected["top"]
    if total is not None and total != expected["total"]:
        return f"total_hits {total} != {expected['total']}"
    if len(docs) != len(exp):
        return f"{len(docs)} hits != {len(exp)}"
    for i, (d, (_, es)) in enumerate(zip(docs, exp)):
        if not math.isclose(d["score"], es, rel_tol=1e-9, abs_tol=1e-12):
            return f"score[{i}] {d['score']!r} != {es!r}"
    kth = exp[-1][1] if exp else None
    groups: dict[int, tuple[set, set]] = {}
    for d, (eu, es) in zip(docs, exp):
        g = groups.setdefault(round(es * 1e9), (set(), set()))
        g[0].add(d["id"])
        g[1].add(eu)
    ties = set(expected["ties"])
    for key, (got, want) in groups.items():
        boundary = ties and kth is not None and key == round(kth * 1e9)
        if boundary:
            if not got <= ties:
                return "urls at the k-th score are not in the oracle's tie set"
        elif got != want:
            return "urls differ within a score group"
    return None
