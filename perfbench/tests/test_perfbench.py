"""Fast tests of the benchmark harness itself (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.mark.parametrize(
    "values,p,want",
    [
        ([3.0], 50, 3.0),
        ([3.0], 90, 3.0),
        ([4.0, 1.0, 3.0, 2.0], 50, 2.0),
        ([4.0, 1.0, 3.0, 2.0], 90, 4.0),
        (list(map(float, range(1, 11))), 90, 9.0),
        (list(map(float, range(1, 101))), 90, 90.0),
        (list(map(float, range(1, 102))), 90, 91.0),
        ([5.0, 5.0, 1.0], 100, 5.0),
    ],
)
def test_percentile_is_nearest_rank(values, p, want):
    assert stats.percentile(values, p) == want


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_per_layer_sums_per_op_medians_over_a_pass():
    class Fake:
        spans, invocations = [], []

    t = Fake()

    def inv(op, phase, traced, wall, build, jobs):
        i = {"id": len(t.invocations), "op": op, "phase": phase,
             "traced": traced, "ok": True, "wall_s": wall}
        if traced:
            i.update(jobs=jobs, build_jobs=1)
            t.spans.append({"name": "plans.build", "start": 0.0, "end": build,
                            "invocation": i["id"], "py4j_calls": 10})
        t.invocations.append(i)

    inv("q1", "warm", True, 5.0, 2.0, 9)
    inv("q2", "warm", True, 3.0, 1.0, 9)
    for wall, build, jobs in [(1.0, 0.5, 3), (1.2, 0.3, 3), (1.4, 0.4, 3)]:
        inv("q1", "timed", True, wall, build, jobs)
        inv("q2", "timed", True, wall / 2, build / 2, jobs + 1)
        inv("q1", "timed", False, wall - 0.1, 0.0, 0)
    m = stats.per_layer(t, start_s=1.0, warm_s=2.0, stored_ratio=0.0)
    assert set(m) == set(stats.PER_LAYER)
    assert m["plans.first_build_s"] == 3.0
    assert m["plans.repeat_build_s"] == pytest.approx(0.4 + 0.2)
    assert m["spark.jobs"] == 3 + 4
    assert m["plans.build_jobs"] == 2
    assert m["plans.py4j_calls"] == 20
    assert m["trace.overhead_s"] == pytest.approx((1.2 + 0.6) - 1.1)


def _digests(path: Path) -> dict[str, str]:
    return {
        str(p.relative_to(path)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(path.rglob("*.parquet"))
    }


@pytest.mark.parametrize("workload", ["curation", "ingest_serve"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload, monkeypatch):
    monkeypatch.setattr(gen, "N_BATCHES", 3)
    a = _digests(gen.materialize(workload, 7, tmp_path / "a"))
    b = _digests(gen.materialize(workload, 7, tmp_path / "b"))
    c = _digests(gen.materialize(workload, 8, tmp_path / "c"))
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_star_tables_are_seeded(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "N_ORDERS", 1_000)
    monkeypatch.setattr(gen, "N_LINEITEM", 4_000)
    a = _digests(gen.materialize("star_olap", 1, tmp_path / "a"))
    b = _digests(gen.materialize("star_olap", 1, tmp_path / "b"))
    c = _digests(gen.materialize("star_olap", 2, tmp_path / "c"))
    assert a == b
    assert {k for k in a if a[k] != c[k]} >= {"lineitem.parquet", "orders.parquet"}


def test_cache_is_reused_only_when_complete(tmp_path, monkeypatch):
    out = gen.materialize("curation", 3, tmp_path)
    marker = out / gen.MARKER
    stamp = (out / "documents.parquet").stat().st_mtime_ns
    assert gen.materialize("curation", 3, tmp_path) == out
    assert (out / "documents.parquet").stat().st_mtime_ns == stamp
    marker.unlink()  # a generation killed before its marker
    calls = []
    monkeypatch.setitem(gen.GENERATORS, "curation", lambda s, o: calls.append(s))
    gen.materialize("curation", 3, tmp_path)
    assert calls == [3] and marker.exists()


def test_cache_keeps_the_newest_sets(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_KEEP", 2)
    for seed in range(4):
        gen.materialize("curation", seed, tmp_path)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["curation-2", "curation-3"]


def test_benchmark_json_schema():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in gen.GENERATORS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_reported_metrics_match_benchmark_json():
    import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == stats.PER_LAYER
