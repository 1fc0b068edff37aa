#!/usr/bin/env python3
"""Run the full oracle differential at one or more scale factors and
write a JSON artifact (like the committed CORRECTNESS_LOCAL_r{N}.json
records) in the same shape the driver records, so coverage beyond the
driver's sampling window is verifiable without re-deriving it.

Usage: python tools/correctness_local.py --out FILE [SF_DIR ...]
``--out`` is required, so a plain run never overwrites a committed
record. Defaults: sf0.01 and sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python tools/correctness_local.py --out FILE [SF_DIR ...]"


def run_sf(spark, sf_dir: str) -> dict:
    import duckdb

    from open_crime_etl_pipeline_spark.queries import all_specs
    from open_crime_etl_pipeline_spark.testing import (
        compare_frames,
        duckdb_connection,
    )

    con = duckdb_connection(sf_dir)
    out: dict[str, dict] = {}
    for name, spec in sorted(all_specs().items()):
        t0 = time.perf_counter()
        try:
            spdf = spec.fn(spark, sf_dir).toPandas()
            if spec.oracle is None:
                out[name] = {
                    "rows_match": None, "schema_match": None, "hash_match": None,
                    "spark_rows": len(spdf), "oracle_rows": None,
                    "err": "no_oracle",
                }
            else:
                odf = con.execute(spec.oracle).fetchdf()
                r = compare_frames(name, spdf, odf)
                out[name] = {
                    "rows_match": len(spdf) == len(odf),
                    "schema_match": r.ok or "column" not in (r.detail or ""),
                    "hash_match": r.ok,
                    "spark_rows": len(spdf), "oracle_rows": len(odf),
                    "err": None if r.ok else (r.detail or "")[:300],
                }
        except Exception as exc:  # noqa: BLE001 - recorded, not swallowed
            out[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:300],
            }
        out[name]["sec"] = round(time.perf_counter() - t0, 2)
        if os.environ.get("CORRECTNESS_VERBOSE"):
            print(f"  {name}: {out[name]['sec']}s "
                  f"{'ok' if out[name]['hash_match'] else out[name]['err']}",
                  flush=True)
    con.close()
    return out


def check_driver_window() -> None:
    """Assert the driver's alphabetical correctness window (the query
    names in the latest committed CORRECTNESS_r*.json) equals the first
    50 sorted registry names — so 'driver 50/50 green' provably refers
    to a deterministic, unchanging prefix of the registry and the
    committed two-SF artifact covers everything beyond it (VERDICT r6
    item 7)."""
    import glob
    import re

    from open_crime_etl_pipeline_spark.queries import all_specs

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(
        glob.glob(os.path.join(root, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not arts:
        return
    with open(arts[-1], encoding="utf-8") as fh:
        data = json.load(fh)
    names = sorted(data)  # driver artifact: {query_name: result, ...}
    window = sorted(all_specs())[: len(names)]
    if list(names) != window:
        # The registry legitimately GROWS between the driver's runs —
        # a new query sorting into the first-50 shifts the window until
        # the next round's artifact lands. Reconstruct the registry as
        # of the artifact's round from the committed full-registry
        # snapshot (CORRECTNESS_LOCAL_r{same-or-earlier}.json) and
        # check against THAT era's window; renames/deletions (old names
        # gone from the live registry) still fail hard.
        art_round = int(
            re.search(r"r(\d+)", os.path.basename(arts[-1])).group(1)
        )
        locals_ = [
            p
            for p in glob.glob(os.path.join(root, "CORRECTNESS_LOCAL_r*.json"))
            if int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
            <= art_round
        ]
        assert locals_, (
            f"driver window in {os.path.basename(arts[-1])} != current "
            f"first-{len(names)} and no era snapshot exists to explain it"
        )
        latest_local = max(
            locals_,
            key=lambda p: int(
                re.search(r"r(\d+)", os.path.basename(p)).group(1)
            ),
        )
        with open(latest_local, encoding="utf-8") as fh:
            era = json.load(fh)
        # CORRECTNESS_LOCAL shape: {"sf0.01": {name: result}, "sf0.1": ...}
        era_names = sorted(next(iter(era.values())))
        missing_live = sorted(set(era_names) - set(all_specs()))
        assert not missing_live, (
            f"queries renamed/deleted since {os.path.basename(latest_local)}: "
            f"{missing_live[:5]}"
        )
        era_window = era_names[: len(names)]
        assert list(names) == era_window, (
            f"driver window in {os.path.basename(arts[-1])} != first "
            f"{len(names)} names of its era's registry "
            f"({os.path.basename(latest_local)}); drift starts at "
            f"{next((a, b) for a, b in zip(names, era_window) if a != b)}"
        )
        n_new = len(
            [n for n in window if n not in set(era_names)]
        )
        print(
            f"driver window check: {os.path.basename(arts[-1])} matches its "
            f"ERA window ({os.path.basename(latest_local)}); {n_new} new "
            f"name(s) enter the first-{len(names)} window at the next "
            f"driver run  OK"
        )
        return
    print(
        f"driver window check: {os.path.basename(arts[-1])} covers the "
        f"first {len(names)} of {len(all_specs())} sorted registry names  OK"
    )


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 2 or args[0] != "--out":
        sys.exit(USAGE)
    out_path = args[1]
    sf_dirs = args[2:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]

    check_driver_window()

    from open_crime_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="correctness-local",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    artifact: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        sf = os.path.basename(sf_dir.rstrip("/"))
        artifact[sf] = run_sf(spark, sf_dir)
        ok = sum(1 for v in artifact[sf].values() if v["hash_match"])
        no_oracle = sum(1 for v in artifact[sf].values() if v["err"] == "no_oracle")
        fails = sum(
            1 for v in artifact[sf].values()
            if v["hash_match"] is False and v["err"] != "no_oracle"
        )
        print(f"{sf}: {len(artifact[sf])} queries, {ok} hash-match, "
              f"{no_oracle} no_oracle, {fails} failures")
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
