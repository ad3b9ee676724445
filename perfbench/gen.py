"""Seeded input generator owned by the benchmark.

Every value is a pure function of ``(seed, stream, index)`` through a
counter-based hash (splitmix64), so a corpus generated in one chunk is
identical to the same rows generated in any number of chunks: the result
does not depend on how the rows are split into partitions.  All draws are
numpy array operations; text assembly is one Arrow ``binary_join`` over a
list array.

The vocabulary is a head of English function words followed by a long
tail of pseudo-words built from consonant-vowel syllables, drawn with a
Zipf-Mandelbrot law, so the term dictionary, fuzzy/regex expansion and the
bucket spread all see a long tail.  Re-crawled urls are planted at the
rate given by the workload's parameters, and the generator reports the
exact counts a correct index of the corpus holds.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_M64 = 0xFFFFFFFFFFFFFFFF

# streams: one constant per independent random quantity
S_VOCAB, S_LEN, S_TOK, S_RECRAWL, S_LANG, S_QUERY = range(1, 7)

HEAD_WORDS = [
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it", "with",
    "as", "was", "on", "be", "at", "by", "this", "have", "from", "or", "are",
    "not", "but", "which", "all", "were", "when", "we", "there", "can",
    "an", "their", "has", "more", "one", "will", "would", "what", "about",
]
_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")
SYLLABLES = np.array([c + v for c in _CONS for v in _VOWS]
                     + [c + v + "n" for c in "bdklmrst" for v in _VOWS])
LANGS = np.array(["en", "de", "fr", "es"])
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def hash64(seed: int, stream: int, idx) -> np.ndarray:
    key = mix64(np.array([(seed * 0x100000001B3 + stream * 0x9E37) & _M64],
                         dtype=np.uint64))[0]
    return mix64(np.asarray(idx, dtype=np.uint64) ^ key)


def uniform(seed: int, stream: int, idx) -> np.ndarray:
    """Uniform [0, 1) doubles, one per index."""
    return (hash64(seed, stream, idx) >> np.uint64(11)).astype(np.float64) * (
        1.0 / (1 << 53)
    )


def vocabulary(seed: int, size: int) -> np.ndarray:
    """``size`` distinct lowercase words: HEAD_WORDS, then pseudo-words
    whose syllable count grows with rank (rare words are longer)."""
    n_tail = size - len(HEAD_WORDS)
    cand = np.arange(int(n_tail * 1.4) + 64, dtype=np.uint64)
    rank_frac = cand.astype(np.float64) / max(len(cand), 1)
    n_syl = 2 + (rank_frac * 2.0 + uniform(seed, S_VOCAB, cand) * 1.2).astype(int)
    words = np.full(len(cand), "", dtype=object)
    for k in range(int(n_syl.max())):
        pick = hash64(seed, S_VOCAB + 16 + k, cand) % np.uint64(len(SYLLABLES))
        part = np.where(k < n_syl, SYLLABLES[pick.astype(np.int64)], "")
        words = words + part.astype(object)
    words = pd.unique(words)
    words = words[~np.isin(words, HEAD_WORDS)][:n_tail]
    if len(words) < n_tail:
        raise ValueError("vocabulary too large for the syllable space")
    return np.concatenate([np.array(HEAD_WORDS, dtype=object), words])


# Zipf-Mandelbrot exponent and offset of the term distribution
ZIPF_S, ZIPF_Q = 1.0, 2.7
# document length in tokens: log-normal, clipped
MEAN_LEN, LEN_SIGMA, MIN_LEN, MAX_LEN = 110.0, 0.45, 12, 600
VOCAB_SIZE = 40_000


def zipf_cdf(size: int) -> np.ndarray:
    w = 1.0 / (np.arange(size, dtype=np.float64) + ZIPF_Q) ** ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


@dataclass(frozen=True)
class CorpusParams:
    """Shape of one generated corpus; part of every cache key."""

    n_docs: int
    recrawl_rate: float = 0.0

    @property
    def n_rows(self) -> int:
        return self.n_docs + int(round(self.n_docs * self.recrawl_rate))


class Corpus:
    """Token-level corpus model for one (seed, params); rows are drawn on
    demand so any row range can be generated independently."""

    def __init__(self, seed: int, params: CorpusParams):
        self.seed = seed
        self.p = params
        self.vocab = vocabulary(seed, VOCAB_SIZE)
        self.cdf = zipf_cdf(VOCAB_SIZE)

    # ---- per-row draws ----

    def lengths(self, rows: np.ndarray) -> np.ndarray:
        u1 = np.maximum(uniform(self.seed, S_LEN, rows), 1e-12)
        u2 = uniform(self.seed, S_LEN + 32, rows)
        z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
        ln = np.exp(np.log(MEAN_LEN) + LEN_SIGMA * z)
        return np.clip(np.round(ln), MIN_LEN, MAX_LEN).astype(np.int64)

    def tokens(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(flat token ids, offsets) for the given rows, in row order."""
        rows = np.asarray(rows, dtype=np.int64)
        lens = self.lengths(rows)
        offsets = np.concatenate([[0], np.cumsum(lens)])
        owner = np.repeat(rows, lens)
        pos = np.arange(offsets[-1]) - np.repeat(offsets[:-1], lens)
        u = uniform(self.seed, S_TOK, owner.astype(np.uint64) << np.uint64(12)
                    | pos.astype(np.uint64))
        return np.searchsorted(self.cdf, u, side="right"), offsets

    def keys(self, rows: np.ndarray) -> np.ndarray:
        """Document key of each row: rows past n_docs re-crawl an earlier
        document (same url, later timestamp, new text)."""
        rows = np.asarray(rows, dtype=np.int64)
        n = self.p.n_docs
        target = (uniform(self.seed, S_RECRAWL, rows) * n).astype(np.int64)
        return np.where(rows < n, rows, target)

    def winners(self) -> np.ndarray:
        """Row index holding the live version of each key (last write by
        warc_ts, and re-crawl rows carry the latest timestamps)."""
        rows = np.arange(self.p.n_rows, dtype=np.int64)
        keys = self.keys(rows)
        win = np.arange(self.p.n_docs, dtype=np.int64)
        win[keys[self.p.n_docs:]] = rows[self.p.n_docs:]  # later rows overwrite
        return win

    # ---- frames ----

    @staticmethod
    def url(keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        site = (keys * 7919) % 97
        return (
            "https://s" + pd.Series(site).astype(str) + ".example/doc/"
            + pd.Series(keys).astype(str)
        ).to_numpy(dtype=object)

    def texts(self, rows: np.ndarray) -> np.ndarray:
        ids, offsets = self.tokens(rows)
        words = pa.array(self.vocab[ids], type=pa.string())
        lists = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                         words)
        text = pc.binary_join(lists, " ").to_numpy(zero_copy_only=False)
        return text.astype(object)

    def frame(self, rows: np.ndarray) -> pd.DataFrame:
        """Source rows in the indexer's input shape (url, warc_ts, text,
        lang)."""
        rows = np.asarray(rows, dtype=np.int64)
        keys = self.keys(rows)
        text = self.texts(rows)
        lang = LANGS[(hash64(self.seed, S_LANG, keys) % np.uint64(4)).astype(int)]
        return pd.DataFrame({
            "url": self.url(keys),
            "warc_ts": BASE_TS + rows.astype("timedelta64[s]"),
            "text": text,
            "lang": lang.astype(object),
        })


def doc_term_df(ids: np.ndarray, offsets: np.ndarray, n_terms: int):
    """Exact per-term document frequency and per-doc distinct-term counts
    of a tokenized corpus."""
    n = len(offsets) - 1
    owner = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
    pairs = np.unique(owner * n_terms + ids)
    df = np.bincount(pairs % n_terms, minlength=n_terms)
    distinct = np.bincount(pairs // n_terms, minlength=n)
    return df, distinct


def expected_index_counts(corpus: Corpus) -> dict:
    """What a correct build of ``corpus`` must contain: live docs, text-field
    postings and the text field's average length."""
    win = corpus.winners()
    ids, offsets = corpus.tokens(win)
    _, distinct = doc_term_df(ids, offsets, VOCAB_SIZE)
    return {
        "n_docs": int(len(win)),
        "text_postings": int(distinct.sum()),
        "avg_len": float(offsets[-1] / len(win)),
        "text_bytes": int(
            sum(len(t.encode()) for t in corpus.texts(win))
        ),
    }


def write_parquet(frame: pd.DataFrame, path: str, chunks: int = 4) -> None:
    """Write the indexer's input columns as ``chunks`` parquet files
    (microsecond timestamps, which Spark reads)."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = frame[["url", "warc_ts", "text", "lang"]]
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("text", pa.string()), ("lang", pa.string())])
    for i, part in enumerate(np.array_split(np.arange(len(cols)), chunks)):
        tbl = pa.Table.from_pandas(cols.iloc[part], schema=schema,
                                   preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# search request sampler
# ---------------------------------------------------------------------------

REQUEST_KINDS = [
    "term_head", "term_tail", "must", "should", "must_not", "phrase",
    "query_string", "fuzzy", "regex", "count",
]
# a regex request's prefix matches this many dictionary terms
REGEX_TERMS = (2, 16)


def _term(t: str) -> dict:
    return {"kind": "term", "options": {"field": "text", "term": t}}


def _bool(*clauses) -> dict:
    return {"kind": "boolean", "options": {"subqueries": [
        {"occurrence": occ, "query": q} for occ, q in clauses]}}


class RequestSampler:
    """Draws search requests from a corpus's measured df strata.

    Every request is built from an actual document (co-occurring terms,
    adjacent tokens, a present term for fuzzy/regex), so each one matches
    at least that document.  The strata are narrow df bands, so a request
    of one kind costs about the same whatever the seed: head = 20-60% of
    docs, mid = 1-4%, tail = 2 docs to 0.2%.
    """

    def __init__(self, seed: int, vocab: np.ndarray, ids: np.ndarray,
                 offsets: np.ndarray):
        self.seed = seed
        self.vocab = vocab
        self.ids = ids
        self.offsets = offsets
        self.n = len(offsets) - 1
        df, _ = doc_term_df(ids, offsets, len(vocab))
        self.df = df
        self.present_words = pd.Series(vocab[np.flatnonzero(df > 0)])
        share = df / self.n
        self.head = np.flatnonzero((share >= 0.20) & (share <= 0.60))
        self.mid = np.flatnonzero((share >= 0.01) & (share <= 0.04))
        self.tail = np.flatnonzero((df >= 2) & (df <= max(2, 0.002 * self.n)))
        self._ctr = 0

    def _u(self, n: int = 1) -> np.ndarray:
        idx = np.arange(self._ctr, self._ctr + n, dtype=np.uint64)
        self._ctr += n
        return uniform(self.seed, S_QUERY, idx)

    def _pick(self, arr: np.ndarray):
        return arr[int(self._u()[0] * len(arr))]

    def _doc_tokens(self, d: int) -> np.ndarray:
        return self.ids[self.offsets[d]:self.offsets[d + 1]]

    def _doc_with(self, term: int) -> int:
        """A document containing ``term`` (deterministic scan from a random
        start)."""
        start = int(self._u()[0] * self.n)
        for k in range(self.n):
            d = (start + k) % self.n
            if term in self._doc_tokens(d):
                return d
        raise ValueError("term not present")

    def _w(self, i: int) -> str:
        return str(self.vocab[i])

    def _phrase(self) -> tuple[str, str, np.ndarray]:
        """Two adjacent tokens around a mid-band term, and their doc's
        tokens."""
        a = self._pick(self.mid)
        toks = self._doc_tokens(self._doc_with(a))
        j = int(np.flatnonzero(toks == a)[0])
        j = j if j + 1 < len(toks) else j - 1
        return self._w(toks[j]), self._w(toks[j + 1]), toks

    def make(self, kind: str) -> dict:
        """One request body for ``kind`` (see REQUEST_KINDS)."""
        q: dict
        collection = "top_docs"
        if kind == "term_head":
            q = _term(self._w(self._pick(self.head)))
        elif kind == "term_tail":
            q = _term(self._w(self._pick(self.tail)))
        elif kind == "count":
            q = _term(self._w(self._pick(self.mid)))
            collection = "count_and_top_docs"
        elif kind in ("must", "must_not", "should"):
            a = self._pick(self.mid)
            toks = np.unique(self._doc_tokens(self._doc_with(a)))
            if kind == "must":
                others = np.intersect1d(toks, self.head)
                if len(others) == 0:
                    others = np.setdiff1d(toks, [a])
                b = self._pick(others)
                q = _bool(("must", _term(self._w(a))), ("must", _term(self._w(b))))
            elif kind == "must_not":
                b = self._pick(np.setdiff1d(self.head, toks))
                q = _bool(("must", _term(self._w(a))),
                          ("must_not", _term(self._w(b))))
            else:
                b = self._pick(self.tail)
                q = _bool(("should", _term(self._w(a))),
                          ("should", _term(self._w(b))))
        elif kind == "phrase":
            w1, w2, _ = self._phrase()
            q = {"kind": "phrase", "options": {
                "field": "text", "phrase_terms": [w1, w2], "slop": 0}}
        elif kind == "query_string":
            w1, w2, toks = self._phrase()
            neg = self._w(self._pick(np.setdiff1d(self.mid, np.unique(toks))))
            t = self._w(self._pick(self.mid))
            q = {"kind": "query_string", "options": {
                "query": f'{t} "{w1} {w2}" -{neg}',
                "default_search_fields": ["text"]}}
        elif kind == "fuzzy":
            base = ""
            while len(base) < 5:
                base = self._w(self._pick(self.mid))
            p = int(self._u()[0] * len(base))
            alt = "aeiou" if base[p] in "aeiou" else "bdgkpt"
            c = alt[int(self._u()[0] * len(alt))]
            if c == base[p]:
                c = alt[(alt.index(c) + 1) % len(alt)]
            q = {"kind": "fuzzy_term", "options": {
                "field": "text", "term": base[:p] + c + base[p + 1:],
                "distance": 1, "transposition_cost_one": False,
                "prefix": False}}
        elif kind == "regex":
            lo, hi = REGEX_TERMS
            for _ in range(256):
                pre = self._w(self._pick(np.concatenate([self.mid, self.tail])))[:4]
                if lo <= int(self.present_words.str.startswith(pre).sum()) <= hi:
                    break
            q = {"kind": "regex", "options": {
                "field": "text", "regex": re.escape(pre) + "[a-z]*"}}
        else:
            raise ValueError(f"unknown request kind {kind!r}")
        return {"query": q, "hits": 10, "collection_kind": collection,
                "_kind": kind}

    def mix(self, n: int) -> list[dict]:
        """``n`` requests cycling through REQUEST_KINDS in a fixed order.
        Even cycles draw fresh requests; odd cycles repeat, kind for kind,
        an earlier request of the same kind.  Every even number of whole
        cycles is therefore half repeats, and the kind and repeat
        composition is the same for every seed."""
        out: list[dict] = []
        seen: dict[str, list[dict]] = {k: [] for k in REQUEST_KINDS}
        for i in range(n):
            kind = REQUEST_KINDS[i % len(REQUEST_KINDS)]
            if (i // len(REQUEST_KINDS)) % 2:
                pool = seen[kind]
                out.append({**pool[int(self._u()[0] * len(pool))],
                            "_repeat": True})
            else:
                req = self.make(kind)
                seen[kind].append(req)
                out.append({**req, "_repeat": False})
        return out


def engine_request(req: dict) -> dict:
    """Strip the harness's bookkeeping keys from a sampled request."""
    return {k: v for k, v in req.items() if not k.startswith("_")}
