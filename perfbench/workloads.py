"""The benchmark workloads.

Each workload fixes its corpus and index settings, runs its set-up (timed
as ``setup_s``: program work only, never input generation or reference
answers), measures for the requested seconds, and checks every answer
outside the timed spans.  A workload returns:

- ``e2e``: the three shared end-to-end metrics (``setup_s``, ``ops_per_s``,
  ``op_p50_ms``);
- ``detail``: the workload's own named figures (e.g. ``build_docs_per_s``),
  timings as median / tail percentile / sample count, and the measured
  share of each input property;
- ``layers``: per-layer metrics from the spans (traced runs only).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle_ref import check_response, expected_answers, load_oracle
from perfbench.stats import summarize

now = time.perf_counter


class Ctx:
    """State of one benchmark run."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int,
                 seconds: float, cores: int, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.session_s = session_s
        self.measure_s = 0.0  # wall time inside _timed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._problems: list[str] | None = None
        self._lock = threading.Lock()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def attempt(self, fn, *args, what: str = ""):
        """Run one operation; an exception counts it failed (never raises)."""
        with self._lock:
            self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # the benchmark reports failures, it never dies
            self.fail(f"{what}: {type(e).__name__}: {e}",
                      traceback.format_exc(limit=3))
            return None

    @contextmanager
    def judged(self, what: str):
        """Answer checks of one operation: however many fail, or if a check
        raises on malformed output, the operation counts one wrong answer
        (and no extra attempt)."""
        self._problems = problems = []
        try:
            yield
        except Exception as e:  # malformed output is a wrong answer
            problems.append(f"{type(e).__name__}: {e}")
        finally:
            self._problems = None
        if problems:
            self.fail(f"wrong answer ({what}): " + "; ".join(problems[:5]))

    def verify(self, fn, *args) -> None:
        with self.judged(fn.__name__):
            fn(*args)

    def check(self, ok: bool, what: str) -> bool:
        """One answer check; call inside :meth:`judged`."""
        if not ok:
            self._problems.append(what)
        return ok

    def fail(self, msg: str, tb: str = "") -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(msg + ("\n" + tb if tb else ""))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if not f.startswith((".", "_")))
    return total


def _postings_table(root: str):
    return ds.dataset(os.path.join(root, "postings"), format="parquet",
                      partitioning="hive").to_table(
        columns=["field", "term", "salt", "n_docs"])


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _subtree(tracer, root_name: str, since: float) -> list[dict]:
    """Per root span: wall ms and Spark metrics summed over its subtree."""
    kids: dict[int, list[dict]] = {}
    for r in tracer.spans:
        if r["parent"] is not None:
            kids.setdefault(r["parent"], []).append(r)
    out = []
    for root in tracer.by_name(root_name, since):
        tot = {"wall_ms": (root["t1"] - root["t0"]) * 1e3}
        todo = [root]
        while todo:
            r = todo.pop()
            for k, v in r.get("spark", {}).items():
                tot[k] = tot.get(k, 0) + v
            todo.extend(kids.get(r["id"], []))
        tot.update({k: v for k, v in root.items() if k.startswith("a_")})
        out.append(tot)
    return out


def _totals(tracer, name: str, since: float) -> dict:
    """Wall ms and Spark metrics summed over every ``name`` span (with its
    subtree) since ``since``; missing metrics read 0."""
    out: dict = defaultdict(float)
    for t in _subtree(tracer, name, since):
        for k, v in t.items():
            if isinstance(v, (int, float)):
                out[k] += v
    return out


def _walls(tracer, name: str, since: float) -> list[float]:
    return [(r["t1"] - r["t0"]) * 1e3 for r in tracer.by_name(name, since)]


def _timed(ctx: Ctx, body, reset=None) -> tuple[float, float]:
    """Run ``body(deadline)``; a body measures whole units (builds, request
    cycles) until the deadline and at least its workload's minimum.  A
    traced run makes three passes, untraced, traced and untraced again,
    with ``reset()`` before the second and the third: the first pass warms
    the JIT and Spark's compiled plans, and the tracing overhead compares
    the traced pass with the untraced pass after it.  Returns the window of
    the traced pass (the only pass of an untraced run)."""
    tr = ctx.tracer
    traced = tr.enabled

    def untraced_pass() -> None:
        tr.enabled = False
        body(now() + ctx.seconds)
        tr.enabled = traced

    t0 = now()
    if traced:
        untraced_pass()
        if reset is not None:
            reset()
    t1 = now()
    body(t1 + ctx.seconds)
    t2 = now()
    if traced:
        tr.enabled = False
        if reset is not None:
            reset()
        untraced_pass()
    ctx.measure_s += now() - t0
    return t1, t2


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

BUILD_CORPUS = gen.CorpusParams(n_docs=1600, recrawl_rate=0.05)
BUILD_META = dict(num_buckets=8, num_waves=1, salt_span=512,
                  hot_df_threshold=800)
MIN_BUILDS = 2
WARMUP_ROWS = 400  # a small build warms the JIT and the Python workers


def _index_meta(settings: dict):
    from bayard_spark.schema import webtext_index_meta

    return webtext_index_meta(**settings)


def _wrap_builder(tracer, builder) -> None:
    tracer.wrap(builder, "assign_doc_ids", "indexer.docs")
    tracer.wrap(builder, "write_docs", "indexer.docs")
    tracer.wrap(builder, "_hot_terms_sampled", "indexer.hot")
    tracer.wrap(builder, "blockify_wave", "indexer.blocks")
    tracer.wrap(builder, "write_norms_stats_direct", "indexer.norms")


def _build_index(ctx: Ctx, src: str, root: str, settings: dict):
    from bayard_spark.build.indexer import IndexBuilder

    shutil.rmtree(root, ignore_errors=True)
    with ctx.tracer.span("indexer.build"):
        builder = IndexBuilder(ctx.spark, _index_meta(settings), root)
        _wrap_builder(ctx.tracer, builder)
        report = builder.build(ctx.spark.read.parquet(src))
    return builder, report


def _check_build(ctx: Ctx, root: str, report, expect: dict) -> None:
    post = _postings_table(root)
    text = post.filter(ds.field("field") == "text")
    n_post = int(np.sum(text.column("n_docs").to_numpy()))
    stats = pq.read_table(os.path.join(root, "stats")).to_pandas()
    avg = float(stats.loc[stats["field"] == "text", "avg_len"].iloc[0])
    ctx.check(report.n_docs == expect["n_docs"],
              f"n_docs {report.n_docs} != {expect['n_docs']}")
    ctx.check(n_post == expect["text_postings"],
              f"text postings {n_post} != {expect['text_postings']}")
    ctx.check(abs(avg - expect["avg_len"]) <= 1e-9 * expect["avg_len"],
              f"avg_len {avg} != {expect['avg_len']}")


def run_build(ctx: Ctx) -> dict:
    corpus = gen.Corpus(ctx.seed, BUILD_CORPUS)
    src = ctx.path("build_src")
    gen.write_parquet(corpus.frame(np.arange(BUILD_CORPUS.n_rows)), src,
                      chunks=ctx.cores)
    expect = gen.expected_index_counts(corpus)
    win = corpus.winners()
    ids, offsets = corpus.tokens(win)
    df, _ = gen.doc_term_df(ids, offsets, gen.VOCAB_SIZE)
    hot = df > BUILD_META["hot_df_threshold"]

    warm_src = ctx.path("build_warm_src")
    gen.write_parquet(corpus.frame(np.arange(WARMUP_ROWS)), warm_src,
                      chunks=ctx.cores)
    t0 = now()
    ctx.attempt(_build_index, ctx, warm_src, ctx.path("idx_warm"), BUILD_META,
                what="warm-up build")
    setup_s = ctx.session_s + (now() - t0)

    walls: list[float] = []
    starts: list[float] = []
    last = {}

    def loop(deadline: float) -> None:
        first = len(walls)
        while True:
            root = ctx.fresh(f"idx_{len(walls)}")
            t = now()
            out = ctx.attempt(_build_index, ctx, src, root, BUILD_META,
                              what="build")
            dt = now() - t
            if out is not None:
                walls.append(dt)
                starts.append(t)
                with ctx.tracer.span("harness.check"):
                    ctx.verify(_check_build, ctx, root, out[1], expect)
                last["root"] = root
            if now() >= deadline and len(walls) - first >= MIN_BUILDS:
                return
            shutil.rmtree(root, ignore_errors=True)

    w0, w1 = _timed(ctx, loop)
    in_win = [w for t, w in zip(starts, walls) if w0 <= t < w1]
    med = statistics.median(in_win) if in_win else float("nan")
    post_bytes = _dir_bytes(os.path.join(last["root"], "postings")) if last else 0
    salted = 0
    if last:
        tbl = _postings_table(last["root"])
        salted = len(set(tbl.filter(ds.field("salt") > 0).column("term")
                         .to_pylist()))
    n_docs = expect["n_docs"]
    detail = {
        "build_docs_per_s": {"value": n_docs / med, "unit": "docs/s"},
        "build_ms": {**summarize([w * 1e3 for w in in_win]), "unit": "ms"},
        "index_bytes_per_text_byte": {
            "value": post_bytes / expect["text_bytes"], "unit": "B/B"},
        "settings": BUILD_META,
        "properties": {
            "docs": n_docs,
            "source_rows": BUILD_CORPUS.n_rows,
            "recrawled_row_share": 1 - n_docs / BUILD_CORPUS.n_rows,
            "vocab_terms_present": int(np.sum(df > 0)),
            "hot_terms": int(hot.sum()),
            "hot_posting_share": float(df[hot].sum() / df.sum()),
            "salted_terms_in_index": salted,
        },
    }
    layers = {}
    if ctx.tracer.enabled:
        ctx.tracer.collect()
        layers = _build_layers(ctx, w0, expect)
        layers["trace.coverage"] = ctx.tracer.coverage(w0, w1)
    return {
        "e2e": {"setup_s": setup_s, "ops_per_s": n_docs / med,
                "op_p50_ms": med * 1e3},
        "samples": [(t, w * 1e3) for t, w in zip(starts, walls)],
        "detail": detail,
        "layers": layers,
        "window": (w0, w1),
    }


def _build_layers(ctx: Ctx, since: float, expect: dict) -> dict:
    """Per-build means of the indexer spans in the traced window."""
    tr = ctx.tracer
    builds = _subtree(tr, "indexer.build", since)
    n = max(len(builds), 1)
    docs, hot, blocks, norms = (
        _totals(tr, name, since) for name in (
            "indexer.docs", "indexer.hot", "indexer.blocks", "indexer.norms"))
    total = {k: sum(b.get(k, 0) for b in builds) for k in ("wall_ms", "task_ms")}
    postings = expect["text_postings"] + 2 * expect["n_docs"]  # + url, lang
    return {
        "indexer.docs.wall_ms": docs["wall_ms"] / n,
        "indexer.docs.shuffle_bytes": docs["shuffle_write_bytes"] / n,
        "indexer.hot.wall_ms": hot["wall_ms"] / n,
        "indexer.blocks.wall_ms": blocks["wall_ms"] / n,
        "indexer.blocks.map_task_ms": blocks["map_task_ms"] / n,
        "indexer.blocks.reduce_task_ms": blocks["reduce_task_ms"] / n,
        "indexer.blocks.shuffle_bytes_per_posting":
            blocks["shuffle_write_bytes"] / n / postings,
        "indexer.blocks.output_bytes": blocks["output_bytes"] / n,
        "indexer.norms.wall_ms": norms["wall_ms"] / n,
        "indexer.jobs": sum(b.get("jobs", 0) for b in builds) / n,
        "indexer.core_util": (total["task_ms"] / (total["wall_ms"] * ctx.cores)
                              if total["wall_ms"] else 0.0),
        "indexer.failed_tasks": sum(b.get("failed_tasks", 0) for b in builds),
    }


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

SEARCH_CORPUS = gen.CorpusParams(n_docs=1500)
SEARCH_META = dict(num_buckets=8, num_waves=1, salt_span=512,
                   hot_df_threshold=900)
SEARCH_REQUESTS = 200
CYCLE = len(gen.REQUEST_KINDS)
# whole kind cycles per phase (1 client, then nproc clients), at least;
# an even count keeps each phase's mix half repeats
PHASE_CYCLES = 2


def _wrap_engine(tracer, engine) -> None:
    tracer.wrap(engine, "scores", "engine.plan")
    tracer.wrap(engine, "_expand_fuzzy", "engine.expand")
    tracer.wrap(engine, "_expand_regex", "engine.expand")
    tracer.wrap(engine, "_collect_response", "engine.exec")


def _open_engine(ctx: Ctx, root: str):
    from bayard_spark.query import SearchEngine

    with ctx.tracer.span("engine.open"):
        engine = SearchEngine(ctx.spark, root)
    _wrap_engine(ctx.tracer, engine)
    return engine


def _search(ctx: Ctx, engine, req: dict):
    """One request → (documents, total_hits, seconds)."""
    t = now()
    with ctx.tracer.span("engine.request", a_kind=req["_kind"]):
        resp = engine.search(gen.engine_request(req))
    return resp.documents, resp.total_hits, now() - t


def run_search(ctx: Ctx) -> dict:
    corpus = gen.Corpus(ctx.seed, SEARCH_CORPUS)
    rows = np.arange(SEARCH_CORPUS.n_docs)
    frame = corpus.frame(rows)
    src = ctx.path("search_src")
    gen.write_parquet(frame, src, chunks=ctx.cores)
    ids, offsets = corpus.tokens(rows)
    sampler = gen.RequestSampler(ctx.seed, corpus.vocab, ids, offsets)
    requests = sampler.mix(SEARCH_REQUESTS)
    # one request warms the JIT and the Python workers; not measured
    warm = {**sampler.make("phrase"), "_kind": "warmup"}
    root = ctx.path("idx_search")

    results: list[tuple[dict, tuple, float]] = []
    lock = threading.Lock()
    state: dict = {}

    def one(engine, req):
        t = now()
        out = ctx.attempt(_search, ctx, engine, req, what=req["_kind"])
        if out is not None:
            with lock:
                results.append((req, out, t))
        return out

    def prepare() -> None:
        """A fresh engine with only the warm-up request run on it."""
        state["engine"] = ctx.attempt(_open_engine, ctx, root,
                                      what="engine open")
        one(state["engine"], warm)

    t0 = now()
    ctx.attempt(_build_index, ctx, src, root, SEARCH_META, what="base build")
    prepare()
    setup_s = ctx.session_s + (now() - t0)

    lat1: list[tuple[float, float]] = []  # (start, ms) at 1 client
    qps: list[tuple[float, float]] = []  # (start, requests/s) at nproc
    counts: list[int] = []  # requests per phase, fixed by the first pass

    def phase(p: int, start: int, deadline: float, clients: int) -> int:
        """Run requests[start:] with ``clients`` closed-loop clients, in
        pairs of whole kind cycles (fresh, then repeats), until the deadline
        and at least PHASE_CYCLES; a later pass replays exactly the first
        pass's requests."""
        fixed = counts[p] if p < len(counts) else None
        cur = [start]

        def take():
            with lock:
                n = cur[0] - start
                if fixed is not None and n >= fixed:
                    return None
                if (fixed is None and n % (2 * CYCLE) == 0
                        and n >= PHASE_CYCLES * CYCLE and now() >= deadline):
                    return None
                cur[0] += 1
                return requests[(start + n) % len(requests)]

        def client():
            while (req := take()) is not None:
                t = now()
                out = one(state["engine"], req)
                if out is not None and p == 0:
                    lat1.append((t, out[2] * 1e3))

        t = now()
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if p == 1:
            qps.append((t, (cur[0] - start) / (now() - t)))
        if fixed is None:
            counts.append(cur[0] - start)
        return cur[0] - start

    def loop(deadline: float) -> None:
        if state["engine"] is None:
            return
        n1 = phase(0, 0, deadline - ctx.seconds / 2, 1)
        phase(1, n1, deadline, ctx.cores)

    # a traced run replays the same requests on a fresh, equally warm engine
    w0, w1 = _timed(ctx, loop, reset=prepare)

    key = {"seed": ctx.seed, "corpus": repr(SEARCH_CORPUS), "w": "search"}
    ran = [gen.engine_request(r) for r, _, _ in results]
    expected = expected_answers(ctx.cache, key, _corpus_oracle(frame), ran)
    for req, (docs, total, _), _ in results:
        exp = expected[json.dumps(gen.engine_request(req), sort_keys=True)]
        want_total = total if req["collection_kind"] != "top_docs" else None
        with ctx.judged(req["_kind"]):
            why = check_response(exp, docs, want_total)
            ctx.check(why is None, f"{req['query']}: {why}")
            ctx.check(exp["total"] > 0, f"zero-hit request {req['query']}")

    # the figures of the pass in the window (the traced one in a traced run)
    s1 = summarize([v for t, v in lat1 if w0 <= t < w1])
    qps_w = next((v for t, v in qps if w0 <= t < w1), 0.0)
    measured = [r for r, _, t in results
                if w0 <= t < w1 and r["_kind"] != "warmup"]
    kinds = [r["_kind"] for r in measured]
    detail = {
        "query_p50_ms": {**s1, "unit": "ms", "clients": 1},
        "query_p95_ms": {"value": s1["p_value"], "p": s1["p"],
                         "n": s1["n"], "unit": "ms", "clients": 1},
        "query_qps": {"value": qps_w, "unit": "1/s",
                      "clients": ctx.cores, "n": counts[1] if counts else 0},
        "settings": SEARCH_META,
        "properties": {
            "docs": SEARCH_CORPUS.n_docs,
            "requests_per_phase": counts,
            "repeat_share": _mean(r["_repeat"] for r in measured),
            "kind_counts": {k: kinds.count(k) for k in gen.REQUEST_KINDS},
            "strata_terms": {"head": len(sampler.head), "mid": len(sampler.mid),
                             "tail": len(sampler.tail)},
        },
    }
    layers = {}
    if ctx.tracer.enabled:
        ctx.tracer.collect()
        hits = sum(len(out[0]) for _, out, t in results if w0 <= t < w1)
        layers = _engine_layers(ctx, w0, hits)
        layers["trace.coverage"] = ctx.tracer.coverage(w0, w1)
    return {
        "e2e": {"setup_s": setup_s, "ops_per_s": qps_w,
                "op_p50_ms": s1["median"] if s1["n"] else float("nan")},
        "samples": lat1,
        "detail": detail,
        "layers": layers,
        "window": (w0, w1),
    }


def _corpus_oracle(frame):
    return lambda: load_oracle(list(frame["url"]), list(frame["text"]),
                               list(frame["lang"]))


def _engine_layers(ctx: Ctx, since: float, hits: int) -> dict:
    tr = ctx.tracer
    reqs = [r for r in _subtree(tr, "engine.request", since)
            if r.get("a_kind") != "warmup"]
    n = max(len(reqs), 1)
    execs = _subtree(tr, "engine.exec", since)
    opens = _subtree(tr, "engine.open", float("-inf"))
    plan = _walls(tr, "engine.plan", since)
    out = {
        "engine.open.wall_ms": _mean(o["wall_ms"] for o in opens),
        "engine.open.jobs": _mean(o.get("jobs", 0) for o in opens),
        "engine.plan.wall_ms": sum(plan) / n,
        "engine.expand.wall_ms": _mean(_walls(tr, "engine.expand", since)),
        "engine.exec.wall_ms": _mean(e["wall_ms"] for e in execs),
        "engine.exec.task_ms": _mean(e.get("task_ms", 0) for e in execs),
        "engine.jobs_per_request": sum(r.get("jobs", 0) for r in reqs) / n,
        "engine.tasks_per_request": sum(r.get("tasks", 0) for r in reqs) / n,
        "engine.shuffle_bytes_per_request": sum(
            r.get("shuffle_write_bytes", 0) for r in reqs) / n,
        "engine.rows_read_per_hit": sum(
            r.get("input_records", 0) for r in reqs) / max(hits, 1),
    }
    for kind in gen.REQUEST_KINDS:
        ws = [r["wall_ms"] for r in reqs if r.get("a_kind") == kind]
        out[f"engine.kind.{kind}.p50_ms"] = statistics.median(ws) if ws else 0.0
    return out


WORKLOADS = {
    "build": run_build,
    "search": run_search,
}
