"""Time every catalog query (Spark side + DuckDB oracle side) at sf0.01.

Produces per-query wall seconds so the catalog can be ordered
fastest-first for the driver's truncating sweep, and slow queries can
be optimized. Run: python scripts/time_catalog.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

import __spark_entry__ as entry_mod
from citybikedatawarehouse_spark.session import get_spark
from tests.oracle_harness import duckdb_con

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="time_catalog")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results: dict[str, dict] = {}
    t_all = time.monotonic()
    for name, fn in qs.items():
        t0 = time.monotonic()
        err = None
        nrows = -1
        try:
            df = fn(spark, SF_DIR)
            nrows = len(df.toPandas())
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:200]
        t_spark = time.monotonic() - t0

        t_duck = 0.0
        if name in oracles and err is None:
            t1 = time.monotonic()
            try:
                con = duckdb_con(SF_DIR)
                con.sql(oracles[name]).df()
                con.close()
            except Exception as e:  # noqa: BLE001
                err = f"oracle {type(e).__name__}: {e}"[:200]
            t_duck = time.monotonic() - t1

        results[name] = {
            "spark_s": round(t_spark, 3),
            "duck_s": round(t_duck, 3),
            "total_s": round(t_spark + t_duck, 3),
            "rows": nrows,
            "oracle": name in oracles,
            "err": err,
        }
        print(
            f"{name:32s} spark={t_spark:7.2f}s duck={t_duck:6.2f}s rows={nrows}"
            + (f" ERR={err}" if err else ""),
            flush=True,
        )

    total = time.monotonic() - t_all
    print(f"\nTOTAL {total:.1f}s for {len(qs)} queries")
    ranked = sorted(results.items(), key=lambda kv: -kv[1]["total_s"])
    print("\nslowest 15:")
    for name, r in ranked[:15]:
        print(f"  {name:32s} {r['total_s']:7.2f}s")
    with open(os.path.join(_HERE, "scripts", "catalog_times.json"), "w") as f:
        json.dump({"sf_dir": SF_DIR, "total_s": round(total, 1), "queries": results}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
