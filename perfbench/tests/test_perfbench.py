"""Tests of the benchmark's own arithmetic and oracles (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# -- tail percentile rule ---------------------------------------------------


@pytest.mark.parametrize("n", [20, 37, 50, 99, 100, 101, 250, 1000, 12345])
def test_tail_quantile_leaves_ten_samples_beyond(n):
    q = stats.tail_quantile(n)
    assert q is not None and 0.5 <= q <= 0.9
    beyond = n - math.ceil(q * n - 1e-9)
    assert beyond >= stats.TAIL_BEYOND
    # and it is the highest such percentile (one step up breaks the rule)
    if q < 0.9:
        up = round(q + 0.01, 2)
        assert n - math.ceil(up * n - 1e-9) < stats.TAIL_BEYOND


def test_tail_quantile_is_p90_from_100_samples_and_none_below_20():
    assert stats.tail_quantile(100) == 0.9
    assert stats.tail_quantile(99) == 0.89
    assert stats.tail_quantile(19) is None


def test_nearest_rank_quantiles():
    xs = [(float(x), 1) for x in range(100, 0, -1)]
    assert stats.weighted_quantile(xs, 0.5) == 50
    assert stats.weighted_quantile(xs, 0.9) == 90
    # weighted: one pass of 3 records at 1 s, one of 1 record at 5 s
    assert stats.weighted_quantile([(1.0, 3), (5.0, 1)], 0.5) == 1.0
    assert stats.weighted_quantile([(1.0, 3), (5.0, 1)], 0.9) == 5.0


def test_record_latency_refuses_unsupported_tail():
    with pytest.raises(ValueError):
        stats.record_latency([(1.0, 1)] * 5)


# -- self time ----------------------------------------------------------------


def test_prefix_cut_self_times():
    cuts = [("scan", 1.0), ("extract", 1.25), ("parse", 3.0), ("enrich", 2.9), ("write", 4.5)]
    got = spans.prefix_self_times(cuts)
    assert got == pytest.approx(
        {"scan": 1.0, "extract": 0.25, "parse": 1.75, "enrich": 0.0, "write": 1.5}
    )
    # self times telescope to the full cut when no cut runs backwards
    clean = cuts[:3] + [("write", 4.5)]
    assert sum(spans.prefix_self_times(clean).values()) == pytest.approx(4.5)


def test_span_self_time_subtracts_union_of_children():
    parent = spans.Span("p", 0.0, 10.0)
    kids = [spans.Span("a", 1.0, 4.0), spans.Span("b", 3.0, 5.0), spans.Span("c", 9.0, 12.0)]
    # children cover [1,5] and [9,10] inside the parent: 4 + 1
    assert spans.self_time(parent, kids) == pytest.approx(5.0)


def test_tracer_nesting_and_trace_ids(tmp_path):
    t = spans.Tracer()
    t.new_trace()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.trace == outer.trace == 1
    assert t.self_time(outer.id) <= outer.dur
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    assert [json.loads(x)["name"] for x in path.read_text().splitlines()] == ["outer", "inner"]


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("x") as s:
        pass
    assert s is None and t.spans == []


def test_patched_spans_wrap_calls_and_restore_originals():
    t = spans.Tracer()
    ns = types.SimpleNamespace(f=lambda x: x + 1)
    original = ns.f

    class C:
        def m(self, y):
            return ns.f(y) * 2

    with spans.patched(t, [(ns, "f", "inner"), (C, "m", "outer")]):
        assert C().m(1) == 4
    assert ns.f is original and C().m(1) == 4
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == t.spans[0].id


# -- untraced reference for the tracing overhead ------------------------------


def test_trace_overhead_uses_the_untraced_record(tmp_path):
    run_mod = _load_run_module()

    def make(trace, seed):
        args = types.SimpleNamespace(workload="bulk_routed", seed=seed, seconds=1, trace=trace)
        r = run_mod.Run(args, {"slots": 1, "heap_gb": 1, "ram_mb": 1})
        r.work = str(tmp_path)
        return r

    traced = make(1, 5)
    assert traced.trace_overhead(2.5, "pass_s") is None
    assert "trace.overhead_s" in traced.unmeasured and "trace.overhead_s" not in traced.metrics
    traced.save_reference({"pass_s": 9.0})  # a traced run records nothing
    make(0, 4).save_reference({"pass_s": 2.0})
    other_seed = make(1, 5)
    assert other_seed.trace_overhead(2.5, "pass_s") == 2.0
    assert other_seed.metrics["trace.overhead_s"] == pytest.approx(0.5)
    make(0, 5).save_reference({"pass_s": 2.25})
    same_seed = make(1, 5)
    assert same_seed.trace_overhead(2.5, "pass_s") == 2.25
    assert same_seed.metrics["trace.overhead_s"] == pytest.approx(0.25)


# -- latency map from checkpoint logs -------------------------------------------


def _checkpoint(tmp_path, batches: dict[int, list[str]], commit_times: dict[int, float],
                compact_upto: int | None = None):
    src = tmp_path / "ck" / "sources" / "0"
    com = tmp_path / "ck" / "commits"
    src.mkdir(parents=True)
    com.mkdir(parents=True)

    def entries(b):
        return [json.dumps({"path": f"file:///in/{n}", "timestamp": 0, "batchId": b})
                for n in batches[b]]

    for b in batches:
        if compact_upto is not None and b <= compact_upto:
            continue
        (src / str(b)).write_text("\n".join(["v1", *entries(b)]))
    if compact_upto is not None:
        lines = [e for b in sorted(batches) if b <= compact_upto for e in entries(b)]
        (src / f"{compact_upto}.compact").write_text("\n".join(["v1", *lines]))
    for b, t in commit_times.items():
        p = com / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))
    return str(tmp_path / "ck")


def test_file_latencies_from_source_log_and_commit_mtimes(tmp_path):
    ck = _checkpoint(
        tmp_path,
        {0: ["a.log", "b.log"], 1: ["c.log"], 2: ["d.log"]},
        {0: 1000.0, 1: 1002.5},  # batch 2 never committed
        compact_upto=0,
    )
    got = stats.file_latencies(
        {"a.log": 999.0, "b.log": 999.5, "c.log": 1001.0, "d.log": 1002.0, "e.log": 1003.0}, ck
    )
    assert got == {"a.log": (0, 1.0), "b.log": (0, 0.5), "c.log": (1, 1.5)}


def test_sustained_rate_from_full_batch_commit_intervals(tmp_path, monkeypatch):
    stream = pytest.importorskip("stream")
    monkeypatch.setattr(stream, "MAX_FILES", 2)
    monkeypatch.setattr(stream, "LINES_PER_FILE", 10)
    ck = _checkpoint(
        tmp_path,
        {0: ["a"], 1: ["b", "c"], 2: ["d", "e"], 3: ["f", "g"], 4: ["h"]},
        {0: 1.0, 1: 2.0, 2: 3.0, 3: 5.0, 4: 6.0},
    )
    # full batches 1, 2, 3 commit 1 s, 1 s and 2 s after their predecessor
    timed = set("abcdefgh")
    assert stream.sustained_rate(ck, timed) == pytest.approx(20 / 1.0)
    # a full batch of untimed files (warm-up, restart) does not count
    assert stream.sustained_rate(ck, timed - {"b"}) == pytest.approx(20 / 1.5)


# -- oracle and injected mismatches -------------------------------------------


def _load_run_module():
    import importlib

    return importlib.import_module("run")


def test_injected_oracle_mismatch_raises_error_rate():
    run_mod = _load_run_module()
    args = types.SimpleNamespace(workload="bulk_routed", seed=1, seconds=1, trace=0)
    run = run_mod.Run(args, {"slots": 1, "heap_gb": 1, "ram_mb": 1})
    expected = {"errors": 3, "ops": 2, "archive": 5}
    assert run.check("pass 1", dict(expected), expected)
    wrong = {**expected, "ops": 1}
    assert not run.check("pass 2", wrong, expected)
    assert run.error_rate() == pytest.approx(0.5)
    run.put("records_per_s", 10.0)
    res = run.result(metrics.END_TO_END)
    assert res["correct"] is False and res["attempted"] == 2 and res["failed"] == 1
    assert set(res["metrics"]) == set(metrics.END_TO_END)


def test_band_counts_follow_the_documented_severity_rule():
    import duckdb

    rows = [  # fmt, status, level, prio -> band
        (0, 503, None, None), (0, 404, None, None), (0, 200, None, None),
        (2, 500, None, None), (1, None, "crit", None), (1, None, "warn", None),
        (1, None, "notice", None), (3, None, None, 3), (3, None, None, 4),
        (3, None, None, 6), (9, 500, "crit", 0),
    ]
    con = duckdb.connect()
    con.register("t", pa.table({
        "fmt": [r[0] for r in rows], "status": [r[1] for r in rows],
        "level": [r[2] for r in rows], "prio": [r[3] for r in rows],
    }))
    got = oracle.band_counts(con, "SELECT * FROM t")
    assert got == {"errors": 4, "ops": 3, "archive": 3, "garbage": 1, "rows": 11}
    assert oracle.sink_expected(got) == {
        "errors": 4, "ops": 3, "archive": 3, "all": 10, "_quarantine": 1,
    }


def test_near_dup_oracle_drops_the_higher_id_of_each_close_pair(tmp_path):
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    variant = " ".join(words[:20] + ["zz"] + words[21:])  # one word swapped
    other = " ".join(f"u{i}" for i in range(40))
    far = " ".join(words[:20] + [f"v{i}" for i in range(20)])  # Jaccard < 0.8
    path = tmp_path / "d.parquet"
    pq.write_table(pa.table({"text": [base, variant, other, far]}), path)
    assert oracle.near_dup_survivors(str(path), 0.8) == 3


# -- generator ------------------------------------------------------------------


def test_generator_is_seeded_and_keeps_five_percent_garbage(tmp_path):
    import numpy as np

    a, b = (gen.pages_table(np.random.default_rng(7), 2000, gen.vocabulary(np.random.default_rng(7)))
            for _ in range(2))
    assert a.equals(b)
    fmt = a.column("fmt").to_pylist()
    assert fmt.count(9) == 100
    html = a.column("html").to_pylist()
    assert all(b"<!--log:" in h for h in html)


def test_generator_field_shares_follow_the_pages_fixture():
    import numpy as np

    g = gen.log_fields(np.random.default_rng(11), 200_000)
    status = {s: float(np.mean(g["status"] == s)) for s in (200, 301, 403, 404, 500, 503)}
    want = {200: 0.65, 301: 0.10, 403: 0.05, 404: 0.10, 500: 0.05, 503: 0.05}
    assert status == pytest.approx(want, abs=0.005)
    assert float(np.mean(g["level"] == "error")) == pytest.approx(0.4, abs=0.005)
    assert set(g["level"]) == {"error", "warn", "notice", "crit"}
    from rotel_spark.fixtures import TLD_ROWS

    assert sorted(gen.TLDS) == sorted(t for t, _, _ in TLD_ROWS)


def test_corpus_generator_plants_known_survivors(tmp_path):
    meta = gen.make_corpus(str(tmp_path / "c"), seed=3, clusters=300, dup_factor=3)
    assert meta["rows"] == meta["distinct"] * 3
    assert oracle.near_dup_survivors(str(tmp_path / "c" / "distinct.parquet"), 0.8) == 300


def test_stream_schedule_rates_and_jitter():
    sched = gen.stream_schedule(5, [{"name": "steady", "rate": 20.0, "seconds": 5.0},
                                    {"name": "overload", "rate": 200.0, "seconds": 1.0}])
    steady = [e for e in sched if e["phase"] == "steady"]
    assert 90 <= len(steady) <= 120
    assert all(e["t"] >= 5.0 for e in sched if e["phase"] == "overload")
    assert sched == gen.stream_schedule(5, [{"name": "steady", "rate": 20.0, "seconds": 5.0},
                                            {"name": "overload", "rate": 200.0, "seconds": 1.0}])


# -- the contract file --------------------------------------------------------------


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    run_mod = _load_run_module()
    assert [w["name"] for w in spec["workloads"]] == list(run_mod.WORKLOADS)
