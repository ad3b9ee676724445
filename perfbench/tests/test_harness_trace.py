"""Span attribution on a tiny corpus: Spark jobs land in the innermost open
span, nested spans restore their parent's job group, self time excludes
children, and a missing entry point is reported instead of raising."""

import time

import numpy as np

from perfbench import gen
from perfbench.trace import Tracer
from perfbench.workloads import _wrap_builder


def test_jobs_attribute_to_innermost_span(spark):
    tr = Tracer(spark, enabled=True)
    with tr.span("outer"):
        spark.range(100).collect()
        with tr.span("inner"):
            r = spark.range(1000)
            r.groupBy(r.id % 3).count().collect()
        spark.range(10).collect()
    tr.collect()
    rep = tr.report()
    assert rep["outer"]["jobs"] == 2
    assert rep["inner"]["jobs"] >= 1
    assert rep["inner"]["shuffle_write_bytes"] > 0
    assert rep["outer"]["shuffle_write_bytes"] == 0
    outer = tr.by_name("outer")[0]
    inner = tr.by_name("inner")[0]
    assert inner["parent"] == outer["id"]
    selfs = tr.self_ms()
    assert abs(selfs[outer["id"]] + (inner["t1"] - inner["t0"]) * 1e3
               - (outer["t1"] - outer["t0"]) * 1e3) < 1e-6
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_disabled_tracer_records_nothing(spark):
    tr = Tracer(spark, enabled=False)
    with tr.span("x"):
        spark.range(5).count()
    tr.wrap(spark, "range", "y")
    tr.collect()
    assert tr.spans == [] and tr.missing == set()


def test_missing_entry_point_is_reported(spark):
    tr = Tracer(spark, enabled=True)

    class Obj:
        pass

    tr.wrap(Obj(), "no_such_method", "layer.gone")
    assert tr.missing == {"layer.gone"}


def test_coverage_leaves_out_harness_checks(spark):
    tr = Tracer(spark, enabled=True)
    t0 = time.perf_counter()
    with tr.span("work"):
        time.sleep(0.3)
    with tr.span("harness.check"):
        time.sleep(0.3)
    time.sleep(0.03)  # uncovered program time
    t1 = time.perf_counter()
    assert 0.85 < tr.coverage(t0, t1) < 0.95


def test_build_spans_on_a_tiny_index(spark, tmpdir_path):
    from bayard_spark.build.indexer import IndexBuilder
    from bayard_spark.schema import webtext_index_meta

    c = gen.Corpus(2, gen.CorpusParams(n_docs=60, recrawl_rate=0.1))
    src = tmpdir_path + "/src"
    gen.write_parquet(c.frame(np.arange(c.p.n_rows)), src, chunks=2)
    tr = Tracer(spark, enabled=True)
    meta = webtext_index_meta(num_buckets=4, num_waves=1, salt_span=16,
                              hot_df_threshold=30)
    with tr.span("indexer.build"):
        b = IndexBuilder(spark, meta, tmpdir_path + "/idx")
        _wrap_builder(tr, b)
        report = b.build(spark.read.parquet(src))
    tr.collect()
    assert report.n_docs == gen.expected_index_counts(c)["n_docs"]
    rep = tr.report()
    for name in ("indexer.docs", "indexer.hot", "indexer.blocks",
                 "indexer.norms"):
        assert rep[name]["jobs"] >= 1, name
    assert rep["indexer.docs"]["n"] == 2  # assign_doc_ids + write_docs
    assert rep["indexer.blocks"]["shuffle_write_bytes"] > 0
    assert rep["indexer.blocks"]["output_bytes"] > 0
    assert rep["indexer.blocks"]["map_task_ms"] > 0
    assert rep["indexer.blocks"]["reduce_task_ms"] > 0
    assert not tr.missing
