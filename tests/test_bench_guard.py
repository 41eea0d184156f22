"""The bench regression guard's reference file must stay in lockstep
with the headline set (mechanical check — running the full bench is
the driver's job)."""

from __future__ import annotations

import json
from pathlib import Path

import bench

REF = Path(__file__).resolve().parent.parent / "bench_reference.json"


def test_reference_covers_headline_set():
    ref = json.loads(REF.read_text())
    assert set(bench.HEADLINE) <= set(ref["queries"]), (
        "bench_reference.json missing headline queries: "
        f"{set(bench.HEADLINE) - set(ref['queries'])}"
    )
    assert ref["sf"] == 0.1
    assert 1.0 < ref["ratio_limit"] <= 2.0
    assert all(v > 0 for v in ref["queries"].values())
    # round 14: both probes pinned, and the shuffle-normalized set
    # stays a subset of the headline queries
    assert ref["calibration"] > 0 and ref["calibration_shuffle"] > 0
    assert set(bench.SHUFFLE_NORMALIZED) <= set(bench.HEADLINE)


def test_bench_emits_per_query_spread(monkeypatch, capsys):
    """bench.py must report min/max per query alongside the median so
    noise is attributable without a re-run. Run the real main() with a
    stubbed query surface (no Spark) and check the JSON contract."""
    import types

    import bench as bench_mod

    calls = {"n": 0}

    class _FakeWriter:
        def format(self, *_):
            return self

        def mode(self, *_):
            return self

        def save(self):
            calls["n"] += 1

    class _FakeDF:
        write = _FakeWriter()

    def fake_queries():
        return {name: (lambda spark, sf: _FakeDF()) for name in bench_mod.HEADLINE}

    fake_entry = types.SimpleNamespace(queries=fake_queries)

    class _FakeCatalog:
        def clearCache(self):
            pass

    class _FakeSC:
        def setLogLevel(self, *_):
            pass

    fake_spark = types.SimpleNamespace(catalog=_FakeCatalog(), sparkContext=_FakeSC())
    fake_session = types.SimpleNamespace(get_spark=lambda *a, **k: fake_spark)

    import sys as _sys

    monkeypatch.setitem(_sys.modules, "__spark_entry__", fake_entry)
    monkeypatch.setitem(_sys.modules, "open_data_pipelines_spark.session", fake_session)
    # bench prefers EXTRA (bench-local callables) over the registry;
    # empty it so every headline name resolves to the stub above
    monkeypatch.setattr(bench_mod, "EXTRA", {})
    # the calibration probes need a real spark.range — stub them too
    monkeypatch.setattr(bench_mod, "_calibration", lambda spark: _FakeDF())
    monkeypatch.setattr(bench_mod, "_calibration_shuffle", lambda spark: _FakeDF())
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PASSES", "2")
    bench_mod.main()

    out = capsys.readouterr().out.strip().splitlines()[-1]
    result = json.loads(out)
    assert set(result["spread"]) == set(bench_mod.HEADLINE)
    for name in bench_mod.HEADLINE:
        s = result["spread"][name]
        assert s["min"] <= result["queries"][name] <= s["max"]
        # every timed sample and warm-up time is in the record
        assert len(s["samples"]) == 2 and len(s["warmup"]) == bench_mod.WARMUP_PASSES
        assert (min(s["samples"]), max(s["samples"])) == (s["min"], s["max"])
    # the fixed-work calibration probe reports its own spread and
    # stays OUT of the headline total (round-12: ambient normalizer)
    cal = result["calibration"]
    assert cal["min"] <= cal["median"] <= cal["max"]
    assert "calibration" not in result["queries"]
    # round 14: the shuffle probe rides the same contract
    shuf = result["calibration_shuffle"]
    assert shuf["min"] <= shuf["median"] <= shuf["max"]
    assert "calibration_shuffle" not in result["queries"]
    assert abs(result["value"] - round(sum(result["queries"].values()), 3)) < 1e-6
    # every headline query actually EXECUTED (warmup + measured
    # passes) — without this, a bench that emitted spreads while
    # skipping execution entirely would pass (round-9 test-review);
    # plus the two calibration probes' own warmup (1) + passes (2)
    headline_runs = len(bench_mod.HEADLINE) * (bench_mod.WARMUP_PASSES + 2)
    assert calls["n"] == headline_runs + 2 * 3
