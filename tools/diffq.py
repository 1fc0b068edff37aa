#!/usr/bin/env python3
"""Differential-check named queries against their DuckDB oracles at one
or more SFs. Usage: python tools/diffq.py q1 [q2 ...] [--sf sf0.01,sf0.1]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sfs = ["sf0.01", "sf0.1"]
    if "--sf" in args:
        i = args.index("--sf")
        sfs = args[i + 1].split(",")
        args = args[:i] + args[i + 2:]

    from open_crime_etl_pipeline_spark.queries import all_specs
    from open_crime_etl_pipeline_spark.session import get_spark
    from open_crime_etl_pipeline_spark.testing import (
        compare_frames,
        duckdb_connection,
    )

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    bad = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb_connection(sf_dir)
        for name in args:
            spec = specs[name]
            spdf = spec.fn(spark, sf_dir).toPandas()
            if spec.oracle is None:
                print(f"{sf} {name}: rows={len(spdf)} (no oracle)", flush=True)
                continue
            r = compare_frames(name, spdf, con.execute(spec.oracle).fetchdf())
            if not r.ok:
                bad += 1
            print(
                f"{sf} {name}: {'OK' if r.ok else 'FAIL ' + (r.detail or '')[:200]}",
                flush=True,
            )
        con.close()
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
