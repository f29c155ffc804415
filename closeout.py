"""Round closeout: the serial artifact chain for a finished tree, one command.

    python closeout.py                    # every step, in chain order
    python closeout.py window ledger      # a subset (still in chain order)

Steps run in the fixed order of :func:`steps` and stop at the first failure.
Each step writes one log, ``.closeout/<step>.log``. Sessions come from
``build_session`` (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``), and
test data from the directory holding ``SPARK_GRAFT_SF_DIR``.

The certification ledger is regenerated LAST (``ledger``), after every
artifact, and its freshness tests run right after it (``ledger_tests``).
The full-suite ``pytest`` step therefore leaves ``tests/test_cert_ledger.py``
to ``ledger_tests``: before regeneration the ledger is stale by design on
any tree whose package changed this round.

``window`` rehearses the driver's correctness gate: a plain session runs
the certification window (the first 50 registry entries, as ordered by
``CERT_LEDGER.json``) at sf0.01 against DuckDB; see :func:`rehearse_window`.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
LOG_DIR = os.path.join(REPO, ".closeout")
PY = sys.executable

#: the exact-PassJoin entries, too superlinear for 100 copies
#: (``scale_check.KNOWN_SUPERLINEAR``)
X100_SKIP = ("dedup_fuzzy_prefix", "dedup_fuzzy_groups")


def rehearse_window(sf_dir: str) -> int:
    """Run the first 50 registry entries in a plain SparkSession (none of
    the engine's confs, a non-UTC session time zone) and compare each with
    the DuckDB oracle, as the driver's correctness gate does. Prints one
    line per entry and a summary line; returns the number of failures."""
    import duckdb
    from pyspark.sql import SparkSession

    from datafusion_ray_spark.queries.registry import build_registry
    from datafusion_ray_spark.session import DEFAULT_CPUS, ENGINE_DEFAULTS
    from datafusion_ray_spark.sources.tables import duckdb_register
    from datafusion_ray_spark.testing import assert_frames_match

    spark = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName("closeout_window")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", ENGINE_DEFAULTS["spark.driver.memory"])
        .getOrCreate()
    )
    con = duckdb.connect()
    duckdb_register(con, sf_dir)
    reg = build_registry()
    window = list(reg)[:50]
    failed = []
    for i, name in enumerate(window, 1):
        t0 = time.perf_counter()
        try:
            entry = reg[name]
            got = entry.run(spark, sf_dir).toPandas()
            if entry.oracle is None:
                assert len(got), f"{name}: rows-only entry returned 0 rows"
            else:
                assert_frames_match(got, con.sql(entry.oracle).df(), name=name)
            print(f"[{i:2}/{len(window)}] ok {name} ({len(got)} rows, "
                  f"{time.perf_counter() - t0:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 - the rehearsal must finish
            failed.append(name)
            print(f"[{i:2}/{len(window)}] FAIL {name}: {str(exc)[:300]}",
                  flush=True)
        spark.catalog.clearCache()
    spark.stop()
    print(f"window rehearsal: {len(window) - len(failed)}/{len(window)} "
          f"green; failed={failed}")
    return len(failed)


def _py(code: str) -> list[str]:
    return [PY, "-c", code]


def steps() -> dict[str, list[list[str]]]:
    """Step name -> the commands it runs, in chain order."""
    from datafusion_ray_spark.certledger import commit_rounds
    from datafusion_ray_spark.queries.registry import build_registry
    from datafusion_ray_spark.sources.tables import DEFAULT_SF_DIR

    testdata = os.path.dirname(DEFAULT_SF_DIR)
    sf001, sf01 = (os.path.join(testdata, s) for s in ("sf0.01", "sf0.1"))
    mf001, mf01 = (os.path.join(REPO, d)
                   for d in (".mfdata_closeout", ".mfdata_closeout_sf01"))
    rnd = commit_rounds()[1]
    x100 = ",".join(n for n in build_registry() if n not in X100_SKIP)

    def multifile(src: str, dst: str) -> list[str]:
        return _py("from datafusion_ray_spark.testing import make_multifile; "
                   f"make_multifile({src!r}, {dst!r})")

    return {
        "pytest": [[PY, "-m", "pytest", "tests/", "-q",
                    "--ignore=tests/test_cert_ledger.py"]],
        "bench": [[PY, "bench.py"]],
        "shuffle": [[PY, "shuffle_report.py"]],
        "correctness": [[PY, "correctness_local.py", "--sf-dir", sf001,
                         "--out", "CORRECTNESS_LOCAL.json"]],
        "multifile": [multifile(sf001, mf001),
                      [PY, "correctness_local.py", "--sf-dir", mf001,
                       "--out", "CORRECTNESS_MULTIFILE.json"]],
        "multifile_bench": [multifile(sf01, mf01),
                            [PY, "bench.py", "--sf-dir", mf01,
                             "--detail-out", "BENCH_MULTIFILE.json"]],
        "x10": [[PY, "scale_check.py", "--copies", "10",
                 "--out", f"SCALING_r{rnd:02d}.json"]],
        "x100": [[PY, "scale_check.py", "--copies", "100", "--queries", x100,
                  "--out", f"SCALING_X100_r{rnd:02d}.json"]],
        "window": [_py("import sys, closeout; "
                       f"sys.exit(closeout.rehearse_window({sf001!r}) > 0)")],
        "throughput": [[PY, "bench.py", "--family-throughput"]],
        "plans": [[PY, "plan_report.py"]],
        "ledger": [[PY, "-m", "datafusion_ray_spark.certledger"]],
        "ledger_tests": [[PY, "-m", "pytest", "tests/test_shuffle_drift.py",
                          "tests/test_scaling.py", "tests/test_cert_ledger.py",
                          "-q"]],
    }


def main(argv: list[str]) -> int:
    chain = steps()
    unknown = [a for a in argv if a not in chain]
    if unknown:
        print(f"unknown step(s) {unknown}; steps: {' '.join(chain)}",
              file=sys.stderr)
        return 2
    os.makedirs(LOG_DIR, exist_ok=True)
    for name, cmds in chain.items():
        if argv and name not in argv:
            continue
        log_path = os.path.join(LOG_DIR, f"{name}.log")
        print(f"=== {name} ({time.strftime('%H:%M:%S')}) -> {log_path}",
              flush=True)
        with open(log_path, "w") as log:
            for cmd in cmds:
                rc = subprocess.run(cmd, cwd=REPO, stdout=log,
                                    stderr=subprocess.STDOUT).returncode
                if rc:
                    break
        with open(log_path) as log:
            tail = log.readlines()[-3:]
        print("".join(tail), end="", flush=True)
        if rc:
            print(f"=== {name} FAILED (exit {rc})", file=sys.stderr)
            return 1
    print("=== closeout done: commit the artifacts; any package edit now "
          "needs `python closeout.py ledger ledger_tests` again")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
