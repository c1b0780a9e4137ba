"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run every declared workload end to end for one second,
traced and untraced (about four minutes); deselect them with
``-k 'not smoke'``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import (  # noqa: E402
    CURATION_OPS,
    LAKE_LATE_SHARE,
    WORKLOADS,
    OracleCache,
    plan_curation,
    plan_lake,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_tail_rule_leaves_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10**6) == 99.9
    for n in range(20, 400, 7):
        q = stats.tail_percentile(n)
        beyond = n * (1 - q / 100.0)
        assert beyond >= 10 - 1e-9, (n, q)
    values = [float(i) for i in range(1, 101)]
    v, q = stats.tail(values)
    assert q == 90.0 and sum(x > v for x in values) == 10
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_percentile_interpolates():
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert stats.percentile([5.0], 90) == 5.0


def test_kind_p50_weighs_every_kind_alike():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    # medians 2 and 8: their geometric mean, whatever the sample counts
    kinds = {"a": [1.0, 3.0, 2.0], "b": [8.0]}
    assert stats.kind_p50(kinds) == pytest.approx(4.0)
    assert stats.kind_p50({"step": [3.0, 1.0, 2.0]}) == pytest.approx(2.0)


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.check_metric_name(n) == n
    for bad in ("", "a b", "x/y", "_lead", "é"):
        with pytest.raises(ValueError):
            stats.check_metric_name(bad)
    names = {m["name"] for m in spec["end_to_end"]}
    assert "setup_s" in names
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_same_seed_same_curation_order():
    assert plan_curation(3, 4) == plan_curation(3, 4)
    assert plan_curation(3, 4) != plan_curation(4, 4)
    for p in plan_curation(3, 4):
        assert sorted(p) == sorted(CURATION_OPS)


def test_same_seed_same_batch_cut():
    base, batches = plan_lake(15_000, 11)
    assert (base, batches) == plan_lake(15_000, 11)
    assert plan_lake(15_000, 12) != (base, batches)
    seen = list(base) + [i for b in batches for i in b]
    assert len(seen) == len(set(seen))  # every row delivered at most once
    horizon = max(base)  # the latest row position already ingested
    late = total = 0
    for b in batches:
        late += sum(i < horizon for i in b)
        total += len(b)
        horizon = max(horizon, *b)
    assert 0.5 * LAKE_LATE_SHARE < late / total < 2 * LAKE_LATE_SHARE


def test_oracle_cache_replays_only_the_same_statement_and_data(tmp_path):
    import duckdb

    data, cache = tmp_path / "data", str(tmp_path / "cache")
    data.mkdir()
    (data / "t.csv").write_text("x\n1\n2\n")
    sql = f"SELECT sum(x) AS s FROM read_csv_auto('{data / 't.csv'}')"
    first = OracleCache(duckdb.connect(), str(data), cache).execute(sql)
    assert first.fetchall() == [(3,)] and first.description[0][0] == "s"
    dead = duckdb.connect()
    dead.close()  # a replayed result must not touch the connection
    assert OracleCache(dead, str(data), cache).execute(sql).fetchall() == [(3,)]
    (data / "t.csv").write_text("x\n1\n5\n")
    again = OracleCache(duckdb.connect(), str(data), cache).execute(sql)
    assert again.fetchall() == [(6,)]


def test_declared_workloads_exist():
    assert {w["name"] for w in _spec()["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_prints_every_metric(workload):
    spec = _spec()
    for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        result = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in declared}
        for m in declared:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]
            assert isinstance(result["metrics"][m["name"]]["value"], float)
