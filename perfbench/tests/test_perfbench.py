"""Tests of the benchmark's own machinery; no Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from tracing import parse_metric  # noqa: E402
from workloads import WORKLOADS, check_night  # noqa: E402


# ------------------------------------------------- pass time and percentiles


def test_pass_seconds_sums_per_kind_medians():
    ops = [("a", 1.0), ("b", 10.0), ("a", 3.0), ("b", 12.0), ("a", 2.0), ("b", 50.0)]
    assert stats.kind_medians(ops) == {"a": 2.0, "b": 12.0}
    assert stats.pass_seconds(ops) == 14.0


def test_pass_seconds_ignores_the_mix_of_kinds():
    # a pooled median would jump from the cheap kind's level to the dear
    # kind's as one more dear operation joins; the per-kind sum does not
    cheap, dear = [("cheap", 1.0)] * 3, [("dear", 5.0)] * 2
    assert stats.pass_seconds(cheap + dear) == stats.pass_seconds(cheap + dear * 2) == 6.0
    assert stats.percentile([d for _, d in cheap + dear], 0.5) == 1.0
    assert stats.percentile([d for _, d in cheap + dear * 2], 0.5) == 5.0


def test_two_samples_per_kind_take_their_mean():
    assert stats.pass_seconds([("a", 1.0), ("a", 2.0), ("b", 4.0), ("b", 6.0)]) == 6.5


def test_one_slow_sample_in_three_does_not_move_pass_seconds():
    steady = [("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 4.0), ("b", 4.0), ("b", 4.0)]
    stalled = [("a", 1.0), ("a", 9.0), ("a", 1.0), ("b", 4.0), ("b", 4.0), ("b", 30.0)]
    assert stats.pass_seconds(steady) == stats.pass_seconds(stalled) == 5.0


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]
    assert stats.percentile(xs, 0.5) == 5.5
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 10.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize("n,p", [(3, None), (10, 0), (19, 47), (20, 50), (99, 89),
                                 (100, 90), (1000, 99), (100000, 99)])
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= stats.TAIL_MIN_BEYOND


def test_tail_lines_name_the_sample_count():
    lines = stats.tail_lines([("q", 1.0)] * 3 + [("r", 2.0)] * 20)
    assert "no tail percentile" in lines[0] and lines[0].endswith("(n=3)")
    assert "p50 = 2 s" in lines[1] and lines[1].endswith("(n=20)")


def test_timed_passes_come_from_parameters():
    assert run.timed_passes(20, 6.5) == 3
    assert run.timed_passes(20, 18.0) == run.MIN_PASSES == 2
    assert run.timed_passes(60, 18.0) == 3


# ---------------------------------------------------------------- digests


def _frame():
    return pd.DataFrame({
        "k": [1, 2, 3, 4],
        "name": ["a", "b", "c", "d"],
        "v": [0.5, 1.25, -3.0, 7.0],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]),
    })


def test_digest_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)[["v", "ts", "k", "name"]]
    assert stats.frame_digest(df) == stats.frame_digest(shuffled)


@pytest.mark.parametrize("col,value", [("k", 9), ("name", "z"), ("v", 0.5000000001),
                                       ("ts", pd.Timestamp("2024-01-01 00:00:01"))])
def test_perturbed_row_fails_digest(col, value):
    df = _frame()
    bad = df.copy()
    bad.loc[2, col] = value
    assert stats.frame_digest(df) != stats.frame_digest(bad)


def test_missing_or_extra_row_fails_digest():
    df = _frame()
    assert stats.frame_digest(df) != stats.frame_digest(df.iloc[:3])
    assert stats.frame_digest(df) != stats.frame_digest(pd.concat([df, df.iloc[:1]]))


# -------------------------------------------------------------- generators


def _file_bytes(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            key = os.path.relpath(p, root)
            out[key] = os.readlink(p) if os.path.islink(p) else open(p, "rb").read()
    return out


def test_tables_are_the_same_bytes_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.make_tables(str(tmp_path / name), seed, 0.001)
    a, b, c = (_file_bytes(str(tmp_path / x)) for x in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(gen.TABLES)]
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert pq.read_metadata(str(tmp_path / "a" / "lineitem.parquet")).num_rows == 6000


def test_etl_inputs_are_the_same_bytes_per_seed(tmp_path):
    one = gen.make_etl_inputs(str(tmp_path / "one"), 2, 0.002, 2)
    two = gen.make_etl_inputs(str(tmp_path / "two"), 2, 0.002, 2)
    other = gen.make_etl_inputs(str(tmp_path / "other"), 3, 0.002, 2)
    bytes_one = {k: v for k, v in _file_bytes(str(tmp_path / "one")).items()
                 if not k.startswith("nights") or "customer" in k or "events" in k}
    bytes_two = {k: v for k, v in _file_bytes(str(tmp_path / "two")).items()
                 if not k.startswith("nights") or "customer" in k or "events" in k}
    assert bytes_one == bytes_two

    def strip(inp):  # the directories differ by construction
        return [{k: v for k, v in x.items() if k not in ("dir", "path")}
                for x in inp["nights"] + inp["batches"]]

    assert strip(one) == strip(two) != strip(other)


def test_night_kinds_fix_changed_keys_and_bands(tmp_path):
    base = str(tmp_path / "base")
    gen.make_tables(base, 4, 0.002)
    kinds = ["night_few", "night_many", "night_few"]
    nights = gen.make_nights(base, str(tmp_path / "n"), 4, kinds)
    for night in nights:
        n_bands, per_band = gen.NIGHT_KINDS[night["kind"]]
        assert len(night["changed_keys"]) == n_bands * per_band
        assert len({gen.dim_band(k) for k in night["changed_keys"]}) == n_bands
    totals = [n["events_total"] for n in nights]
    assert totals == [totals[0] + i * gen.NEW_EVENTS_PER_NIGHT for i in range(3)]
    # the changes accumulate: each night differs from the one before in
    # exactly its changed keys
    bal = [pq.read_table(os.path.join(d, "customer.parquet")).column("c_acctbal").to_pylist()
           for d in [base] + [n["dir"] for n in nights]]
    for before, after, night in zip(bal, bal[1:], nights):
        assert [i for i, (x, y) in enumerate(zip(before, after)) if x != y] == night["changed_keys"]


def test_dim_band_matches_spark_xxhash64():
    # pmod(xxhash64(key), 16) for BIGINT keys 0..15, as Spark 4.1 computes it
    assert [gen.dim_band(k) for k in range(16)] == [
        12, 2, 13, 11, 3, 5, 10, 1, 11, 12, 13, 15, 8, 8, 6, 2]


def test_batches_follow_their_kind(tmp_path):
    _, kinds = gen.etl_schedule(2)
    assert kinds == ["batch_in_order", "batch_in_order", "batch_late",
                     "batch_in_order", "batch_late"]
    batches = gen.write_batches(str(tmp_path), 3, kinds)
    assert [b["late"] for b in batches] == [k == "batch_late" for k in kinds]
    assert all(b["rows"] == gen.ROWS_PER_BATCH for b in batches)
    late = pq.read_table(batches[2]["path"]).column("ts").to_pylist()
    head = max(pq.read_table(batches[1]["path"]).column("ts").to_pylist()).date()
    assert sum(t.date() < head for t in late) == int(gen.ROWS_PER_BATCH * gen.LATE_ROW_SHARE)


# ---------------------------------------------- output checks (mutation)


def _warehouse(tmp_path, customers: int = 40):
    """A warehouse in run_etl's layout that one night loaded correctly,
    with that night's descriptor and run_etl metrics."""
    target, night_dir = tmp_path / "target", tmp_path / "night"
    night_dir.mkdir()
    keys = list(range(customers))
    cust = pd.DataFrame({"c_custkey": keys, "c_name": [f"C{k}" for k in keys],
                         "c_nationkey": [k % 25 for k in keys],
                         "c_acctbal": [float(k) for k in keys],
                         "c_mktsegment": ["BUILDING"] * customers})
    cust = cust.astype({"c_custkey": "int64", "c_nationkey": "int32"})
    pq.write_table(pa.Table.from_pandas(cust, preserve_index=False),
                   night_dir / "customer.parquet")
    changed = [3, 7]
    old = cust[cust["c_custkey"].isin(changed)].assign(c_acctbal=-1.0, is_current=False)
    dim = pd.concat([cust.assign(is_current=True), old])
    dim["_band"] = [gen.dim_band(k) for k in dim["c_custkey"]]
    for band, part in dim.groupby("_band"):
        d = target / "dim_customer" / f"_band={band}"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pandas(part.drop(columns="_band"), preserve_index=False),
                       d / "part-0.parquet")
    for year, n in ((1995, 30), (1996, 20)):
        d = target / "fact_lineitem" / f"ship_year={year}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"l_orderkey": pa.array(range(n), pa.int64())}),
                       d / "part-0.parquet")
    (target / "events").mkdir()
    pq.write_table(pa.table({"event_id": pa.array(range(100), pa.int64())}),
                   target / "events" / "part-0.parquet")
    night = {"dir": str(night_dir), "changed_keys": changed, "events_total": 100}
    metrics = {"rows_valid": 50,
               "dim_bands_rewritten": len({gen.dim_band(k) for k in changed})}
    return str(target), night, metrics, customers


def test_night_check_passes_a_correct_warehouse(tmp_path):
    assert check_night(*_warehouse(tmp_path)) is None


def _corrupt(tmp_path, how: str):
    target, night, metrics, customers = _warehouse(tmp_path)
    if how == "lost_current_row":
        d = os.path.join(target, "dim_customer", f"_band={gen.dim_band(0)}")
        t = pq.read_table(os.path.join(d, "part-0.parquet")).to_pandas()
        t = t[t["c_custkey"] != 0]
        pq.write_table(pa.Table.from_pandas(t, preserve_index=False),
                       os.path.join(d, "part-0.parquet"))
    elif how == "stale_value":
        snap = pq.read_table(os.path.join(night["dir"], "customer.parquet")).to_pandas()
        snap.loc[snap["c_custkey"] == 5, "c_acctbal"] += 1.0
        pq.write_table(pa.Table.from_pandas(snap, preserve_index=False),
                       os.path.join(night["dir"], "customer.parquet"))
    elif how == "fact_rows":
        metrics["rows_valid"] += 1
    elif how == "duplicate_event":
        pq.write_table(pa.table({"event_id": pa.array([0] + list(range(1, 100)), pa.int64())}),
                       os.path.join(target, "events", "part-0.parquet"))
        pq.write_table(pa.table({"event_id": pa.array([1], pa.int64())}),
                       os.path.join(target, "events", "part-1.parquet"))
        night["events_total"] = 101
    elif how == "extra_band":
        metrics["dim_bands_rewritten"] += 1
    return check_night(target, night, metrics, customers)


@pytest.mark.parametrize("how", ["lost_current_row", "stale_value", "fact_rows",
                                 "duplicate_event", "extra_band"])
def test_night_check_fails_a_corrupted_warehouse(tmp_path, how):
    assert _corrupt(tmp_path, how)


def test_failed_checks_fail_their_operations():
    ops = [{"kind": "a"}, {"kind": "b", "error": "raised"}, {"kind": "c"}, {"kind": "a"},
           {"kind": "b"}]
    assert run.count_failed(ops, {}) == 1
    assert run.count_failed(ops, {"a": "digest differs"}) == 3
    assert run.count_failed(ops, {"b": "dimension differs"}) == 2


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


# -------------------------------------------------------- metric parsing


def test_parse_sql_metric_strings():
    assert parse_metric("1,234") == (1234.0, None, None)
    total, med, mx = parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "10.0 MiB (1.0 KiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 7))")
    assert total == 10 * 2**20 and med == 2 * 2**20 and mx == 3 * 2**20
    total, med, mx = parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (2 ms, 250 ms, 800 ms (stage 3.0: task 9))")
    assert total == 1.5 and med == 0.25 and mx == 0.8


# ------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
