"""Seeded generator for the benchmark's input tables.

Scheme (the same one ``scale_check.build_x10`` uses for its 10x tier):

- A *base unit* of every table is drawn from ``numpy.random.default_rng``
  keyed on the seed, with the schemas and value domains of the engine's
  test data (FIXTURES.md): TPC-H-style star schema, ``events``,
  ``documents`` and ``embeddings``.
- ``region`` and ``nation`` are shared dimensions, written once.
- The star schema and ``events`` are replicated as *disjoint-key copies*:
  every key column is shifted by ``copy * stride``, so joins stay
  consistent within a copy and group-by cardinality on attribute columns
  is unchanged.
- ``documents``: every copy is a block of new documents drawn from the
  base vocabulary. Inside each block one document in twenty repeats an
  earlier one of the same block with " dup" appended, as in the test
  data. Copies are never verbatim clones, so pair-based dedup output
  grows with the copy count, not with its square.
- ``embeddings``: copy 0 holds unit-norm Gaussian vectors; the synthetic
  copies are zero-centred components in (-0.577, 0.577), the envelope
  ``build_x10`` measured on the engine's test data.

The seed salts every synthetic row, so two seeds give different rows and
one seed always gives byte-identical tables. Tables are written as
multi-file parquet directories (``<name>.parquet/part-*.parquet``), the
layout the engine's loaders and the DuckDB oracle both read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.probes import dir_stats

SHARED_DIMS = ("region", "nation")
TPCH_FACTS = ("customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = SHARED_DIMS + TPCH_FACTS + ("events", "documents", "embeddings")

#: Key columns shifted by ``copy * stride`` to keep copies disjoint; the
#: strides are those of ``scale_check._KEYED``.
KEYED = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
}
SYNTH_ID_BASE = 1_000_000

TS_US = pa.timestamp("us")
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", TS_US), ("o_orderpriority", pa.string()),
    ]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", TS_US),
    ]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", TS_US), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()),
        ("props", pa.string()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en",) * 8 + ("zh",) * 3 + ("es",) * 3 + ("fr",) * 3 + ("de",) * 3
EMB_DIM = 64
N_SOURCES = 20


#: rows of one base unit per table
BASE_ROWS = {
    "region": len(REGIONS), "nation": 25, "customer": 150, "supplier": 10,
    "part": 200, "orders": 1_500, "lineitem": 6_000, "events": 1_000,
    "documents": 50, "embeddings": 100,
}
#: users in one base unit of ``events``
EVENT_USERS = 15
#: disjoint-key copies of every table but the shared dimensions
COPIES = 10
#: parquet files per table directory (shared dimensions: one)
PARTS_PER_TABLE = 4


def expected_rows(table: str) -> int:
    return BASE_ROWS[table] * (1 if table in SHARED_DIMS else COPIES)


def _source_tag() -> str:
    """Hash of this module's source: a dataset cached by an older
    generator is never reused."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def _rng(seed: int, table: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, salt])


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    days = rng.integers(0, n_days, n).astype(np.int64)
    return pa.array(base + days * 86_400_000_000, TS_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables(seed: int) -> dict[str, pa.Table]:
    """One base unit of every table, drawn from the seed."""
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        [pa.array(range(len(REGIONS)), pa.int32()), pa.array(REGIONS)],
        schema=SCHEMAS["region"],
    )
    out["nation"] = pa.table(
        [pa.array(range(25), pa.int32()),
         pa.array([f"NATION_{i}" for i in range(25)]),
         pa.array([i % 5 for i in range(25)], pa.int32())],
        schema=SCHEMAS["nation"],
    )
    r = _rng(seed, "customer")
    n = BASE_ROWS["customer"]
    out["customer"] = pa.table(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array([f"Customer#{i:09d}" for i in range(n)]),
         pa.array(r.integers(0, 25, n), pa.int32()),
         pa.array(_money(r, -999.99, 9999.99, n)),
         _pick(r, SEGMENTS, n)],
        schema=SCHEMAS["customer"],
    )
    r = _rng(seed, "supplier")
    n = BASE_ROWS["supplier"]
    out["supplier"] = pa.table(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array([f"Supplier#{i:09d}" for i in range(n)]),
         pa.array(r.integers(0, 25, n), pa.int32()),
         pa.array(_money(r, -999.99, 9999.99, n))],
        schema=SCHEMAS["supplier"],
    )
    r = _rng(seed, "part")
    n = BASE_ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        [pa.array(np.arange(n, dtype=np.int64)),
         _pick(r, names, n),
         pa.array([f"Brand#{i}" for i in r.integers(1, 26, n)]),
         _pick(r, PART_TYPES, n),
         pa.array(r.integers(1, 51, n), pa.int32()),
         pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2))],
        schema=SCHEMAS["part"],
    )
    r = _rng(seed, "orders")
    n = BASE_ROWS["orders"]
    out["orders"] = pa.table(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array(r.integers(0, BASE_ROWS["customer"], n).astype(np.int64)),
         _pick(r, ("F", "O", "P"), n),
         pa.array(_money(r, 1000.0, 500_000.0, n)),
         _days(r, "1995-01-01", 2404, n),
         _pick(r, PRIORITIES, n)],
        schema=SCHEMAS["orders"],
    )
    r = _rng(seed, "lineitem")
    n = BASE_ROWS["lineitem"]
    out["lineitem"] = pa.table(
        [pa.array(r.integers(0, BASE_ROWS["orders"], n).astype(np.int64)),
         pa.array(r.integers(0, BASE_ROWS["part"], n).astype(np.int64)),
         pa.array(r.integers(0, BASE_ROWS["supplier"], n).astype(np.int64)),
         pa.array(r.integers(1, 8, n), pa.int32()),
         pa.array(r.integers(1, 51, n).astype(np.float64)),
         pa.array(_money(r, 900.0, 105_000.0, n)),
         pa.array(r.integers(0, 11, n) / 100.0),
         pa.array(r.integers(0, 9, n) / 100.0),
         _pick(r, ("A", "N", "R"), n),
         _pick(r, ("F", "O"), n),
         _days(r, "1995-01-02", 2498, n)],
        schema=SCHEMAS["lineitem"],
    )
    r = _rng(seed, "events")
    n = BASE_ROWS["events"]
    # Monotone timestamps over 30 days with microsecond jitter, like the
    # test data's event stream (event_id order == time order).
    span_us = 30 * 86_400_000_000
    ts = np.sort(r.integers(0, span_us, n)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.array(ts, TS_US),
         pa.array(r.integers(0, EVENT_USERS, n).astype(np.int64)),
         _pick(r, EVENT_TYPES, n),
         pa.array(np.maximum(np.round(r.exponential(50.0, n), 2), 0.01)),
         pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])],
        schema=SCHEMAS["events"],
    )
    out["documents"] = _documents(_rng(seed, "documents"), 0, BASE_ROWS["documents"])
    r = _rng(seed, "embeddings")
    n = BASE_ROWS["embeddings"]
    vecs = r.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = _embeddings(np.arange(n, dtype=np.int64),
                                    vecs.astype(np.float32),
                                    r.integers(0, 10, n))
    return out


def _documents(r: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """``n`` vocabulary-drawn documents of 10-99 words; one in twenty
    repeats an earlier document of the block with " dup" appended."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 8:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))]
            texts.append(" ".join(words))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        [pa.array(ids), pa.array(texts), _pick(r, LANGS, n),
         pa.array([f"src{i % N_SOURCES}" for i in ids]),
         pa.array([len(t) for t in texts], pa.int64())],
        schema=SCHEMAS["documents"],
    )


def _embeddings(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        [pa.array(ids), pa.ListArray.from_arrays(offsets, flat),
         pa.array(labels, pa.int32())],
        schema=SCHEMAS["embeddings"],
    )


def _shift(tbl: pa.Table, keys: dict[str, int], copy: int) -> pa.Table:
    for col, stride in keys.items():
        i = tbl.schema.get_field_index(col)
        shifted = tbl.column(col).to_numpy() + np.int64(copy * stride)
        tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(shifted, pa.int64()))
    return tbl


def build_tables(seed: int) -> dict[str, pa.Table]:
    """All tables of one dataset, in memory."""
    base = _base_tables(seed)
    tables: dict[str, pa.Table] = {}
    for name in SHARED_DIMS:
        tables[name] = base[name]
    for name, keys in KEYED.items():
        tables[name] = pa.concat_tables(
            [_shift(base[name], keys, c) for c in range(COPIES)]
        )
    r = _rng(seed, "documents_synthetic")
    docs = [base["documents"]]
    n_doc = BASE_ROWS["documents"]
    for c in range(1, COPIES):
        docs.append(_documents(r, SYNTH_ID_BASE + (c - 1) * n_doc, n_doc))
    tables["documents"] = pa.concat_tables(docs)
    r = _rng(seed, "embeddings_synthetic")
    n_syn = (COPIES - 1) * BASE_ROWS["embeddings"]
    syn = _embeddings(
        SYNTH_ID_BASE + np.arange(n_syn, dtype=np.int64),
        (r.integers(0, 1155, (n_syn, EMB_DIM)) - 577).astype(np.float32) / 1000.0,
        r.integers(0, 10, n_syn),
    )
    tables["embeddings"] = pa.concat_tables([base["embeddings"], syn])
    return tables


def table_digest(tbl: pa.Table) -> str:
    """Content hash of a table: identical rows in identical order give
    identical digests (IPC framing of equal data is byte-stable)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def _write(tbl: pa.Table, out: str, parts: int) -> None:
    os.makedirs(out)
    step = -(-tbl.num_rows // parts)
    for p in range(parts):
        chunk = tbl.slice(p * step, step)
        if chunk.num_rows or p == 0:
            pq.write_table(chunk, os.path.join(out, f"part-{p:05d}.parquet"))


def verify(data_dir: str) -> None:
    """Row counts and schemas of a written dataset, checked the way
    ``scale_check.verify_x10`` checks its 10x tier."""
    import pyarrow.dataset as ds

    for name in ALL_TABLES:
        d = ds.dataset(os.path.join(data_dir, f"{name}.parquet"))
        got, want = d.count_rows(), expected_rows(name)
        if got != want:
            raise ValueError(f"{name}: {got} rows, expected {want}")
        if not d.schema.remove_metadata().equals(SCHEMAS[name]):
            raise ValueError(f"{name}: schema {d.schema} != {SCHEMAS[name]}")


def ensure_dataset(cache_root: str, seed: int) -> tuple[str, dict]:
    """Path and manifest of the dataset for ``seed``; generated and
    verified on first use, then served from the cache (keyed by seed and
    by this module's source)."""
    data_dir = os.path.join(cache_root, f"seed{seed}_{_source_tag()}")
    manifest_path = os.path.join(data_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        manifest["cached"] = True
        return data_dir, manifest
    t0 = time.perf_counter()
    tables = build_tables(seed)
    tmp = data_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, tbl in tables.items():
        parts = 1 if name in SHARED_DIMS else PARTS_PER_TABLE
        _write(tbl, os.path.join(tmp, f"{name}.parquet"), parts)
    verify(tmp)
    manifest = {
        "seed": seed,
        "rows": {n: t.num_rows for n, t in tables.items()},
        "bytes": {n: dir_stats(os.path.join(tmp, f"{n}.parquet"))[0] for n in tables},
        "digest": {n: table_digest(t) for n, t in tables.items()},
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, data_dir)
    manifest["cached"] = False
    return data_dir, manifest
