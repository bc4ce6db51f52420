#!/usr/bin/env python3
"""Records expected.json: the DuckDB oracle's canonical answer hash for
every benchmark query on every input it runs on (the committed fixtures
and the replicas ScaleProbe.synthesize builds from them), plus the
fixtures' sha256.

    python3 perfbench/record.py            # from the repository root

Slow (some oracles take minutes); rerun only when a fixture, a workload's
query list or the replica synthesis changes. The oracle SQL comes from
SparkEntry.oracleSql, the same source the correctness gate uses.
"""
import json
import os
import shutil
import sys
import time

import duckdb

import run as bench


def oracle_hashes(classes, fixture, mult, items):
    work = os.path.abspath(os.path.join(bench.BUILD, "record", f"{fixture}_x{mult}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    conf = dict(mode="oracle", work=work, base=bench.fixture_dir(fixture), items=",".join(items),
                cores=len(os.sched_getaffinity(0)), seed=0, seconds=0, trace=0, mult=mult,
                setups=1, warm_passes=0, min_passes=0, max_passes=0, corpus="")
    bench.run_jvm(work, classes, conf, timeout=600)
    with open(os.path.join(work, "oracle.json")) as f:
        o = json.load(f)
    check = bench.gate()
    con = duckdb.connect()
    for t in bench.TABLES:
        p = os.path.join(o["dir"], f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    out = {}
    for name, sql in sorted(o["sql"].items()):
        if not sql:
            sys.exit(f"{name} has no oracle SQL")
        t0 = time.time()
        out[name] = bench.canonical_hash(con.execute(sql).arrow(), check)
        print(f"{fixture} x{mult} {name}: {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def main():
    classes = bench.build()
    expected = {"fixtures": {}, "hashes": {}}
    for fixture in ("sf0.01", "sf0.001"):
        expected["fixtures"][fixture] = {
            f"{t}.parquet": bench.sha256_file(os.path.join(bench.fixture_dir(fixture), f"{t}.parquet"))
            for t in bench.TABLES}
    inputs = {}
    for spec in bench.WORKLOADS.values():
        for fixture, mult in ((spec["fixture"], spec["mult"]), ("sf0.001", min(spec["mult"], 2))):
            key = fixture if mult == 1 else f"{fixture}_x{mult}"
            inputs.setdefault((key, fixture, mult), set()).update(
                i for i in bench.query_names(spec) if not i.startswith("kernel."))
    for (key, fixture, mult), items in sorted(inputs.items()):
        expected["hashes"][key] = oracle_hashes(classes, fixture, mult, sorted(items))
    with open(os.path.join(bench.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
