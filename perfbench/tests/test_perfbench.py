"""The benchmark's own tests.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
The smoke test starts one Spark process per workload and trace mode at
scale 0.001, so it takes a few minutes; the others need no Spark.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

import datagen
import workloads
from spans import OP_LAYER, Span, layer_split, reconcile, self_times

ROOT = Path(__file__).resolve().parents[2]
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_self_times_of_nested_spans():
    # op [0,10] > orchestrator [1,9] > {catalog [2,3], quality [4,8] > boundary [5,7]}
    spans = [
        Span("op", OP_LAYER, 0.0, 10.0, None, "op1"),
        Span("run", "orchestrator", 1.0, 9.0, 0, "op1"),
        Span("store", "catalog", 2.0, 3.0, 1, "op1"),
        Span("dq", "quality", 4.0, 8.0, 1, "op1"),
        Span("collect", "boundary", 5.0, 7.0, 3, "op1"),
        Span("op", OP_LAYER, 20.0, 21.0, None, "op2"),
    ]
    assert self_times(spans) == [2.0, 3.0, 1.0, 2.0, 2.0, 1.0]
    split = layer_split(spans)
    assert split["op1"] == {
        OP_LAYER: 2.0, "orchestrator": 3.0, "catalog": 1.0,
        "quality": 2.0, "boundary": 2.0, "wall": 10.0,
    }
    assert split["op2"] == {OP_LAYER: 1.0, "wall": 1.0}
    assert reconcile(split) == []
    split["op1"]["quality"] += 0.5
    assert reconcile(split) == [
        "op1: self-time sum 10.500000 != wall 10.0"
    ]


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory) -> Path:
    return datagen.ensure_tables(tmp_path_factory.mktemp("data"), 0.001)


def _run(data_dir: Path, tmp_path: Path) -> workloads.Run:
    return workloads.Run(None, data_dir, tmp_path)


def test_corrupted_fact_output_trips_the_check(data_dir, tmp_path):
    fact = workloads.EtlFact(seed=3)
    target = tmp_path / "fact"
    target.mkdir()
    con = _run(data_dir, tmp_path).duck()
    con.execute(f"COPY ({fact.expected_sql()}) TO '{target}/part-0.parquet'")
    assert workloads.check_table(con, fact.expected_sql(), target, "fact") == []

    con.execute(f"""COPY (SELECT * REPLACE (
        CASE WHEN l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
             THEN net_price + 0.01 ELSE net_price END AS net_price)
        FROM ({fact.expected_sql()})) TO '{target}/part-0.parquet'""")
    problems = workloads.check_table(con, fact.expected_sql(), target, "fact")
    con.close()
    assert len(problems) == 1, problems


def test_dropped_backfill_day_trips_the_check(data_dir, tmp_path):
    wl = workloads.EtlBackfill(seed=3)
    target = tmp_path / "daily"
    target.mkdir()
    con = _run(data_dir, tmp_path).duck()
    expected = """SELECT CAST(ts AS DATE) AS event_day, event_type,
        sum(CAST(round(value * 100) AS BIGINT)) AS value_cents_sum,
        count(*) AS value_cents_count,
        max(CAST(round(value * 100) AS BIGINT)) AS value_cents_max
        FROM events WHERE CAST(ts AS DATE) <> DATE '2024-01-07' GROUP BY ALL"""
    con.execute(f"COPY ({expected}) TO '{target}/part-0.parquet'")
    con.close()
    wl.passes = [(1, target)]
    problems = wl.check(_run(data_dir, tmp_path))
    assert len(problems) == 1 and "5 missing, 0 unexpected" in problems[0], problems


def test_corrupted_operator_result_trips_the_check():
    want = pd.DataFrame({"node": [1, 2, 3], "score": [0.5, 0.25, 0.25]})
    got = want.sample(frac=1.0, random_state=0)  # row order does not matter
    assert workloads.compare_frames(got, want) is None
    bad = got.copy()
    bad.loc[bad["node"] == 2, "score"] = 0.2500001
    assert "score" in workloads.compare_frames(bad, want)
    assert "row count" in workloads.compare_frames(got.iloc[:2], want)


def test_tables_are_deterministic(tmp_path):
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    d = datagen.ensure_tables(tmp_path, 0.001)
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM '{d}/lineitem.parquet'").fetchone()[0]
    assert n == datagen.row_counts(0.001)["lineitem"]


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_every_metric_with_its_unit(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _smoke(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCHMARK[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
