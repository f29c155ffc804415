"""Input-validation guards for the round-5 suite6 operators (advisor
round-5 low item): bq_stats must fail loudly on empty or ragged
embedding inputs instead of raising an opaque IndexError / silently
skewing per-dimension thresholds."""

from __future__ import annotations

import os

import pytest

from datafusion_ray_spark.operators import suite6


def test_bq_stats_empty_input_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        suite6.bq_stats(empty)


def test_bq_stats_ragged_vectors_raise(spark):
    ragged = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.4, 0.5])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        suite6.bq_stats(ragged)


def test_profile_skew_flags_planted_hot_key(spark, monkeypatch):
    """Planted distribution: key 7 holds 1000 rows, nine others 10 each.
    mean = 1090/10 = 109 rows/key, so skew_permille = 1000*10*1000//1090
    = 9174 and the suggested salt = ceil(1000*10 / (4*1090)) = 3 — the
    factor that caps the hot key's chunks at ~4x the mean."""
    rows = [(7,)] * 1000 + [(k,) for k in range(10, 19) for _ in range(10)]
    planted = spark.createDataFrame(rows, "user_id long")
    monkeypatch.setattr(suite6, "_SKEW_EDGES",
                        [("events.user_id", "events", "user_id")])
    monkeypatch.setattr(suite6, "load_table", lambda _s, _d, _t: planted)
    r = suite6.run_profile_skew(spark, "ignored").collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (1090, 10, 1000)
    assert r["hot_key"] == 7
    assert r["skew_permille"] == 1000 * 10 * 1000 // 1090
    assert r["suggested_salt"] == 3


def test_bq_stats_uniform_vectors_pass(spark):
    # binary-exact values so floor(x*1e6) has no fp ambiguity
    ok = spark.createDataFrame(
        [(1, [0.25, -0.5]), (2, [0.75, 1.5]), (3, [-1.25, 0.5])],
        "vec_id long, embedding array<double>",
    )
    sums, n = suite6.bq_stats(ok)
    assert n == 3
    assert len(sums) == 2
    # micro-unit integer sums: floor(x*1e6) per value
    assert sums[0] == 250000 + 750000 - 1250000
    assert sums[1] == -500000 + 1500000 + 500000


def test_text_kl_null_source_matches_oracle(spark, sf_dir, tmp_path):
    """Documents with a NULL source: Spark and the DuckDB oracle SQL agree
    on every row, including the NULL-source group's own row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ray_spark.sources.tables import duckdb_register
    from datafusion_ray_spark.testing import assert_frames_match

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    rows = docs.slice(0, 40).to_pylist()
    for i in (3, 7):
        rows[i]["source"] = None
    pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema),
                   str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    duckdb_register(con, str(tmp_path), tables=("documents",))
    want = con.sql(suite6.text_kl_oracle()).df()
    got = suite6.run_text_kl(spark, str(tmp_path)).toPandas()
    assert want["source"].isna().sum() == 1
    assert_frames_match(got, want, name="text_kl_null_source")
