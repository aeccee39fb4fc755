"""bench.py's output contract — pure-function tests, no Spark. Its
consumer keeps only a ~2,000-char stdout tail and parses the LAST JSON
line out of it, so the line's key set and size are pinned here, plus
the ``--scale`` cache key."""

from __future__ import annotations

import json

import bench


def test_result_keys_and_queries():
    timings = {name: 1.0 for name in bench.BENCH_QUERIES}
    timings[bench.PIPELINE] = 4.0
    res = bench.bench_result(0.01, timings, turns=31613)
    assert set(res) == {"metric", "unit", "sf", "value", "queries",
                        "pipeline"}
    assert res["metric"] == "bench_total" and res["unit"] == "sec"
    assert len(bench.BENCH_QUERIES) == 15
    assert list(res["queries"]) == bench.BENCH_QUERIES + ["pipeline_triples"]
    assert res["value"] == 19.0
    assert res["pipeline"] == {"turns": 31613, "turns_per_sec": 7903.2}


def test_result_without_pipeline_has_no_pipeline_block():
    res = bench.bench_result(0.1, {"tpch_q1": 2.5, "dedup_exact": 0.5})
    assert "pipeline" not in res and "scaling" not in res
    assert res["value"] == 3.0


def test_default_entries_are_the_headline_series():
    args = bench._parse_args([])
    assert args.queries.split(",") == bench.BENCH_QUERIES + [bench.PIPELINE]
    assert args.reps == 1 and args.plans_dir is None and args.scale == 1


def test_line_fits_driver_stdout_tail():
    timings = {f"some_longish_query_name_{i:02d}": 11.234 for i in range(18)}
    timings[bench.PIPELINE] = 20.118
    line = json.dumps(bench.bench_result(0.1, timings, turns=1243917))
    assert len(line) < 1500, len(line)
    assert json.loads(line)["pipeline"]["turns"] == 1243917


def test_scale_cache_is_keyed_on_scale_and_source_dir(tmp_path):
    a, b = tmp_path / "sf0.01", tmp_path / "sf0.1"
    assert bench.scale_cache_dir(str(a), 2) != bench.scale_cache_dir(str(b), 2)
    assert bench.scale_cache_dir(str(a), 2) != bench.scale_cache_dir(str(a), 3)
    assert bench.scale_cache_dir(str(a), 2) == bench.scale_cache_dir(
        str(a) + "/", 2)
