"""Tests of the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import datagen, stats
from perfbench.check import oracle_key, result_digest
from perfbench.probes import bytes_written, file_sigs, parse_metric
from perfbench.spans import Tracer, layer_self_times, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile choice and sample counts -------------------------------

def test_tail_keeps_ten_samples_beyond():
    t = stats.tail([float(i) for i in range(1, 101)])
    assert (t["pct"], t["beyond"], t["n"], t["value"]) == (90.0, 10, 100, 90.0)
    t = stats.tail([float(i) for i in range(1000)])
    assert (t["pct"], t["beyond"]) == (99.0, 10)


def test_tail_below_p90_is_the_maximum():
    # 22 samples: rank 12 leaves 10 above it, but it is the 55th
    # percentile, next to the median, so the maximum is the tail
    t = stats.tail([float(i) for i in range(22, 0, -1)])
    assert (t["value"], t["beyond"], t["pct"], t["n"]) == (22.0, 0, 100.0, 22)
    t = stats.tail([float(i) for i in range(99)])
    assert (t["value"], t["beyond"], t["pct"]) == (98.0, 0, 100.0)
    t = stats.tail([2.0, 5.0, 1.0])
    assert (t["value"], t["beyond"], t["pct"], t["n"]) == (5.0, 0, 100.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


def test_spread_is_iqr_over_median():
    vals = [10.0, 10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 10.0, 10.0]
    q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


# -- amplification arithmetic -------------------------------------------

def test_amplification_ratios():
    assert stats.write_amp(300, 100) == 3.0
    assert stats.space_amp(50, 200) == 0.25
    with pytest.raises(ValueError):
        stats.write_amp(1, 0)


def test_bytes_written_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "keep").write_bytes(b"x" * 10)
    (tmp_path / "old").write_bytes(b"x" * 20)
    before = file_sigs(str(tmp_path))
    (tmp_path / "old").unlink()                       # compacted away
    (tmp_path / "idx").mkdir()
    (tmp_path / "idx" / "new").write_bytes(b"x" * 30)  # written
    (tmp_path / "keep").write_bytes(b"y" * 15)          # rewritten
    after = file_sigs(str(tmp_path))
    assert bytes_written(before, after) == 45
    assert bytes_written(after, after) == 0


# -- span self time -------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "op": None, "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "bench.op", 0.0, 10.0),
        _span(1, "operators.build", 1.0, 4.0, 0),
        _span(2, "context.collect", 3.0, 6.0, 0),  # overlaps its sibling
        _span(3, "plans.plan", 8.0, 12.0, 0),      # runs past its parent
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[1] == pytest.approx(3.0)
    layers = layer_self_times(spans)
    assert layers["bench"] == pytest.approx(3.0)
    assert layers["plans"] == pytest.approx(4.0)


def test_tracer_records_parents_and_can_be_off():
    tr = Tracer(enabled=True)
    with tr.span("bench.op", "q1"):
        with tr.span("context.collect", "q1"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("bench.op"):
        pass
    assert off.spans == []


# -- generator determinism ---------------------------------------------------

def _digests(seed):
    return {n: datagen.table_digest(t) for n, t in datagen.build_tables(seed).items()}


def test_same_seed_same_rows():
    assert _digests(7) == _digests(7)


def test_other_seed_other_synthetic_rows():
    a = datagen.build_tables(7)
    b = datagen.build_tables(8)
    synth = datagen.SYNTH_ID_BASE
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        col = "text" if name == "documents" else "embedding"
        pick = lambda t: t.filter(  # noqa: E731
            pd.Series(t.column(key).to_numpy() >= synth).to_numpy()).column(col)
        assert pick(a[name]).to_pylist() != pick(b[name]).to_pylist()
    assert datagen.table_digest(a["lineitem"]) != datagen.table_digest(b["lineitem"])
    assert datagen.table_digest(a["region"]) == datagen.table_digest(b["region"])


def test_copies_have_disjoint_keys():
    t = datagen.build_tables(3)
    keys = t["orders"].column("o_orderkey").to_numpy()
    assert len(np.unique(keys)) == len(keys) == datagen.expected_rows("orders")
    li = t["lineitem"].to_pandas()
    orders = t["orders"].to_pandas()
    assert li["l_orderkey"].isin(orders["o_orderkey"]).all()


def test_dataset_is_written_verified_and_cached(tmp_path):
    d, m = datagen.ensure_dataset(str(tmp_path), 5)
    assert not m["cached"] and m["gen_s"] > 0
    assert m["rows"] == {n: datagen.expected_rows(n) for n in datagen.ALL_TABLES}
    datagen.verify(d)
    d2, m2 = datagen.ensure_dataset(str(tmp_path), 5)
    assert d2 == d and m2["cached"] and m2["digest"] == m["digest"]


def test_verify_rejects_truncated_and_retyped_tables(tmp_path):
    import pyarrow.parquet as pq

    d, _ = datagen.ensure_dataset(str(tmp_path), 5)
    part = os.path.join(d, "orders.parquet", "part-00003.parquet")
    os.remove(part)
    with pytest.raises(ValueError, match="orders: .* rows"):
        datagen.verify(d)
    d, _ = datagen.ensure_dataset(str(tmp_path / "b"), 5)
    part = os.path.join(d, "region.parquet", "part-00000.parquet")
    t = pq.read_table(part)
    pq.write_table(t.set_column(0, "r_regionkey", t.column(0).cast("int64")), part)
    with pytest.raises(ValueError, match="region: schema"):
        datagen.verify(d)


# -- oracle digest and metric parsing ------------------------------------------

def test_digest_ignores_row_order_and_dtype_width():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, -0.0], "s": ["b", None]})
    b = pd.DataFrame({"s": [None, "b"], "v": [0.0, 0.5], "k": [1.0, 2.0]})
    assert result_digest(a) == result_digest(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.0, 0.5000001], "s": [None, "b"]})
    assert result_digest(a)[1] != result_digest(c)[1]


def test_digest_of_nested_values():
    a = pd.DataFrame({"arr": [np.array([1, 2]), np.array([3])]})
    b = pd.DataFrame({"arr": [[3], [1.0, 2.0]]})
    assert result_digest(a) == result_digest(b)


def test_oracle_key_follows_the_sql():
    assert oracle_key("SELECT 1") == oracle_key("SELECT 1")
    assert oracle_key("SELECT 1") != oracle_key("SELECT 2")
    assert oracle_key(None) != oracle_key("SELECT 1")


def test_parse_sql_metric_strings():
    assert parse_metric("1,234") == 1234
    assert parse_metric("136.3 KiB") == pytest.approx(136.3 * 1024)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n8.8 s (2.2 s, 2.2 s, 2.2 s (stage 8.0: task 6))"
    ) == pytest.approx(8.8)
    assert parse_metric("total (min, med, max)\n485 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.485)
    assert parse_metric(None) == 0.0


# -- BENCHMARK.json matches what the runner prints ------------------------------

def test_benchmark_json_matches_runner():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.CONTRACT_E2E)
    assert {m["name"] for m in spec["per_layer"]} == set(run.LAYER_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E_UNITS[m["name"]] and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert m["unit"] == run.LAYER_UNITS[m["name"]]
    for w in spec["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_steal_share():
    from perfbench.probes import steal_share

    before = [100, 0, 10, 500, 0, 0, 0, 40, 0, 0]
    after = [200, 0, 20, 600, 0, 0, 0, 90, 0, 0]
    assert steal_share(before, after) == pytest.approx(50 / 260)
    assert steal_share(before, before) == 0.0
