"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at the given SF and
compares row count, column names, and sorted values against the
matching oracle_sql() run in DuckDB.  Stricter than the driver's
value-hash: full frame equality after sorting.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import threading

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from chomper_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64[ns,"):
            df[c] = df[c].dt.tz_localize(None)
        elif "datetime64" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype("datetime64[ns]")
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _spill_guard(con, spill: str, limit: int) -> threading.Event:
    """Interrupt the running DuckDB query once ``spill`` holds more than
    ``limit`` bytes — DuckDB 1.0 does not hold every spill file to
    ``max_temp_directory_size``.  Set the returned event to stop."""
    stop = threading.Event()

    def used() -> int:
        n = 0
        for e in os.scandir(spill):
            try:
                n += e.stat().st_blocks * 512
            except FileNotFoundError:  # a spill file removed mid-scan
                pass
        return n

    def watch() -> None:
        while not stop.wait(0.5):
            if used() > limit:
                con.interrupt()
                return

    threading.Thread(target=watch, daemon=True).start()
    return stop


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck", master="local[8]", shuffle_partitions=16)
    # DuckDB gets an eighth of physical memory (the Spark driver heap
    # has half; the JVM and the pandas frames need the rest) and spills
    # to a private temp dir, removed at exit, of at most half the free
    # disk (``_spill_guard`` enforces it): an oracle that does not fit
    # fails alone instead of taking the process, or the disk, from
    # every later query
    spill = tempfile.mkdtemp(prefix="selfcheck_duckdb_")
    atexit.register(shutil.rmtree, spill, True)
    mem_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 8 // 2**20
    spill_mib = shutil.disk_usage(spill).free // 2 // 2**20
    con = duckdb.connect(
        config={
            "memory_limit": f"{mem_mib}MiB",
            "temp_directory": spill,
            "max_temp_directory_size": f"{spill_mib}MiB",
        }
    )
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle)")
            continue
        stop = _spill_guard(con, spill, spill_mib * 2**20)
        try:
            exp = normalize(con.sql(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        finally:
            stop.set()
        if list(got.columns) != list(exp.columns):
            failures.append((name, f"columns {list(got.columns)} vs {list(exp.columns)}"))
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False, rtol=1e-9)
            print(f"ok   {name}: rows={len(got)}")
        except AssertionError as e:
            failures.append((name, str(e).splitlines()[-1]))
            print(f"FAIL {name}: value mismatch: {str(e).splitlines()[-1]}")
    print(f"\n{n_run - len(failures)}/{n_run} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
