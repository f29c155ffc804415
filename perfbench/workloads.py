"""The benchmark's workloads: op lists, why each exists, and what it reads."""

from __future__ import annotations

import re
from dataclasses import dataclass

from perfbench.datagen import ALL_TABLES


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    #: run through the ``DFRayContext`` facade (register_parquet -> sql ->
    #: collect) instead of the registry entry's own runner
    facade: bool = False
    #: ops write index or sink directories; each pass gets a fresh one
    writes: bool = False


TPCH = tuple(f"q{i}" for i in range(1, 23))

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "tpch_sf1",
            "TPC-H q1-q22 through the DFRayContext facade on 10 disjoint-key "
            "star-schema copies: scan, exchange and JVM codegen dominate, no "
            "Python workers",
            TPCH, facade=True,
        ),
        Workload(
            "llm_dedup",
            "dedup, text, sim and sketch registry operators: driver-side eager "
            "actions, Python-worker kernels and iterative shuffles dominate, "
            "no TPC-H query runs",
            ("dedup_minhash_lsh", "dedup_groups", "dedup_apply", "text_tfidf",
             "sketch_hll", "sim_semdedup"),
        ),
        Workload(
            "index_write",
            "index persist/compact/append/replace and sink ops writing a fresh "
            "dir per pass: the only workload where bytes written and stored "
            "show",
            ("dedup_index_persist", "dedup_index_compact", "sim_ivf_append",
             "sim_oidx_replace", "sink_compact", "sink_partitioned_prune"),
            writes=True,
        ),
        # Runnable by name but not in BENCHMARK.json: each benchmark run is
        # a fresh JVM with a cold pass, and three workloads are what fits
        # the benchmark's time budget. At this size its results are 10k
        # rows, too small for the result transfer it exists to measure.
        Workload(
            "event_windows",
            "sessionize, window and as-of/range joins on events with full "
            "results collected: sort/window exchanges and result transfer",
            ("ev_sessionize", "ev_session_window", "ev_scd2", "ev_ewma",
             "win_rolling_median", "win_rank", "join_asof", "join_range"),
        ),
    )
}


def tables_read(sql: str | None) -> tuple[str, ...]:
    """Input tables an op reads, taken from its oracle SQL."""
    if not sql:
        return ()
    return tuple(t for t in ALL_TABLES if re.search(rf"\b{t}\b", sql))
