"""Self-tests for the benchmark: input determinism, BENCHMARK.json limits,
and a tiny traced tick whose spans must cover its wall time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import filecmp
import io
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import fxgen  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _drops(root: str, seed: int, n: int) -> list[str]:
    gen = fxgen.TickInputs(root, seed, seed_days=60, drop_days=10, max_ticks=n)
    gen.write_pairs_csv()
    return [gen.drop(k)[0] for k in range(1, n + 1)]


def test_same_seed_gives_byte_identical_drops(tmp_path):
    a = _drops(str(tmp_path / "a"), 7, 3)
    b = _drops(str(tmp_path / "b"), 7, 3)
    c = _drops(str(tmp_path / "c"), 8, 3)
    for da, db, dc in zip(a, b, c):
        names = sorted(os.listdir(da))
        assert names == sorted(os.listdir(db)) and len(names) == len(fxgen.PAIRS)
        match, mismatch, errors = filecmp.cmpfiles(da, db, names, shallow=False)
        assert mismatch == [] and errors == [] and len(match) == len(names)
        assert filecmp.cmpfiles(da, dc, names, shallow=False)[1], "seed must matter"


def test_drop_stats_follow_the_state(tmp_path):
    gen = fxgen.TickInputs(str(tmp_path), 3, seed_days=60, drop_days=10, max_ticks=5,
                           malformed_share=0.2)
    before = gen.live_rows()
    inserted = 0
    for k in range(1, 6):
        _, now, stats = gen.drop(k)
        inserted += stats["inserted"]
        assert now.hour == 12 and stats["malformed"] > 0
    assert gen.live_rows() == before + inserted
    with pytest.raises(ValueError):
        gen.drop(7)


def test_benchmark_json_meets_the_limits(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    names = [m["name"] for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    for p in spec["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_.\-/]{1,200}", p) and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    assert set(spec["workloads"][i]["name"] for i in range(len(spec["workloads"]))) == set(
        workloads.WORKLOADS
    )


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]
    value, pct = workloads.tail(xs)
    assert value == 20.0 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert workloads.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_measured_window_is_whole_passes():
    run = workloads.Run(1, 24, False, "", None)
    assert len(run.measuring(1.0, per_pass=8)) == 24
    assert len(run.measuring(1.0, per_pass=7)) == 21
    assert len(run.measuring(3.0)) == 8
    assert len(workloads.Run(1, 1, False, "", None).measuring(1.0, per_pass=8)) == 8


def test_op_p50_is_the_median_of_per_kind_medians():
    samples = {"a": [0.5, 0.6, 0.7], "b": [0.7, 0.8, 9.0], "c": [1.0, 1.1, 1.2]}
    assert workloads.op_p50(samples) == 0.8
    assert workloads.op_p50({"tick": [3.0, 1.0, 2.0]}) == 2.0


@pytest.fixture(scope="module")
def spark():
    from fxspark.session import get_spark

    return get_spark("perfbench-selftest")


def test_tiny_traced_tick_spans_cover_its_wall(spark, spec, tmp_path):
    import fxspark.cli as cli
    import fxspark.fx as fx
    import tickcheck
    from fxspark import sink

    gen = fxgen.TickInputs(str(tmp_path / "in"), 5, seed_days=40, drop_days=5, max_ticks=2)
    pairs = gen.write_pairs_csv()
    store = str(tmp_path / "store")
    gen.write_seed_store(store)
    log_path = str(tmp_path / "run.log")

    run = workloads.Run(5, 1, True, str(tmp_path), lambda: spark)
    run.start_spark()
    tracer = run.tracer
    for attr, name in workloads.TICK_LAYERS.items():
        tracer.wrap(cli, attr, name)
    tracer.wrap(fx, "rate_change_report", "fx.rate_change_report")
    try:
        drop, now, stats = gen.drop(1)
        printed = io.StringIO()
        store_before = workloads.dir_bytes(store)
        with run.tracing(True), contextlib.redirect_stdout(printed):
            t0 = time.perf_counter()
            with run.span("cli.tick"):
                cli.tick(spark, store, rates_dir=drop, pairs_csv=pairs, log_path=log_path, now=now)
            wall = time.perf_counter() - t0
    finally:
        tracer.unwrap_all()
    assert cli.write_table is sink.write_table, "wrappers must be removed"

    with open(log_path, encoding="utf-8") as fh:
        last_log = fh.readlines()[-1]
    assert tickcheck.check_tick(
        store, gen.expected_table(), now, printed.getvalue(), last_log, stats["malformed"]
    ) == []

    workloads._record_tick_layers(run, stats, store_before)
    root = next(s for s in tracer.spans if s["name"] == "cli.tick")
    spans = [s for s in tracer.spans if s["root"] == root["id"]]
    children = [s for s in spans if s is not root]
    root_wall = root["end"] - root["start"]
    # The root span is the call, and its children lie inside it, one at a
    # time, so children plus self time add up to the root's wall.
    assert root_wall == pytest.approx(wall, abs=0.02)
    assert all(root["start"] <= s["start"] <= s["end"] <= root["end"] for s in children)
    self_s, _ = workloads._root_self(spans, root)
    assert self_s >= 0
    assert self_s + sum(s["end"] - s["start"] for s in children) == pytest.approx(root_wall, abs=1e-3)
    assert {s["name"] for s in children} == set(workloads.TICK_LAYERS.values()) | {
        "fx.rate_change_report"
    }
    # Every job of the tick is attributed to exactly one span.
    job_ids = [j for s in spans for j in s["job_ids"]]
    assert job_ids and len(job_ids) == len(set(job_ids))
    write = next(s for s in spans if s["name"] == "sink.write_table")
    assert write["output_rows"] == gen.live_rows()

    run.samples["tick"].append(wall)
    run.traced_samples["tick"].append(wall)
    emitted = workloads.layer_metrics(run)
    assert set(emitted) <= {m["name"] for m in spec["per_layer"]}
    assert emitted["sink.write_amplification"] == pytest.approx(
        gen.live_rows() / (stats["inserted"] + stats["changed"])
    )
