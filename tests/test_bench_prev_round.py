"""bench.py picks the newest USABLE previous-round artifact: rounds whose
bench timed out or crashed record `parsed: null` and must be skipped, not
crash the report writer."""

import json

import bench


def _write(d, name, obj):
    (d / name).write_text(json.dumps(obj))


def test_skips_parsed_null_artifacts(tmp_path):
    _write(tmp_path, "BENCH_r05.json", {"parsed": {"queries": {"q1": 0.5}}})
    _write(tmp_path, "BENCH_r06.json", {"parsed": None, "rc": 124})
    _write(tmp_path, "BENCH_r07.json", {"parsed": None})
    _write(tmp_path, "BENCH_r07_control.json", {"parsed": None, "rc": 124})
    _write(tmp_path, "BENCH_r07_frozen.json", {"parsed": {"queries": {}}})
    (tmp_path / "BENCH_r07_junk.json").write_text("{not json")
    assert bench._prev_round_queries(str(tmp_path)) == (
        "BENCH_r05.json", {"q1": 0.5}
    )


def test_newest_usable_wins_and_top_level_queries(tmp_path):
    _write(tmp_path, "BENCH_r02.json", {"queries": {"q1": 1.0}})
    _write(tmp_path, "BENCH_r03_control.json", {"parsed": None})
    _write(tmp_path, "BENCH_r03_seed.json", {"queries": {"q1": 2.0}})
    assert bench._prev_round_queries(str(tmp_path)) == (
        "BENCH_r03_seed.json", {"q1": 2.0}
    )


def test_no_usable_artifact(tmp_path):
    assert bench._prev_round_queries(str(tmp_path)) is None
    _write(tmp_path, "BENCH_r01.json", {"parsed": None})
    assert bench._prev_round_queries(str(tmp_path)) is None


def test_repo_artifacts_resolve():
    name, queries = bench._prev_round_queries()
    assert queries and all(isinstance(v, (int, float)) for v in queries.values())
