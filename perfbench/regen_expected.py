#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the outputs every run is checked
against.

    python3 perfbench/regen_expected.py

q-serial ops: the row count and fingerprint of the op's
oracle SQL (SparkEntry.oracleSql) run in DuckDB over perfbench/corpus.
stream-replay ops have no oracle: their sink contents are recorded from
a run of the engine, and the script refuses to record them unless every
pass of that run produced the same output.
"""
import collections
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_expected(classes, tmp):
    path = os.path.join(tmp, "oracle.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(run.SPARK_JARS, "*"),
                    "perfbench.Harness", "--dump-oracle", path], check=True)
    with open(path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(HERE, 'corpus', t + '.parquet')}')")
    out = {}
    for name, sql in sorted(oracle.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows, h = canon.fingerprint(cols, cur.fetchall())
        out[name] = {"rows": rows, "hash": h, "source": "duckdb oracle"}
    return out


def recorded_stream(classes, replay, tmp, n_cores):
    raw_path = os.path.join(tmp, "raw.json")
    ready, code = run.run_jvm(classes, ["--workload", "stream-replay", "--seed", "1",
                                        "--seconds", "0", "--trace", "0", "--replay", replay],
                              tmp, n_cores, raw_path, time.monotonic() + run.RUN_TIMEOUT_S)
    if code != 0:
        run.fail(f"stream-replay run failed\n{run.jvm_log_tail(tmp)}")
    with open(raw_path) as f:
        raw = json.load(f)
    seen = collections.defaultdict(set)
    for p in raw["passes"]:
        for o in p["ops"]:
            seen[o["name"]].add((o["rows"], o["hash"], o["error"]))
    out = {}
    for name, outs in sorted(seen.items()):
        if len(outs) != 1 or next(iter(outs))[2]:
            run.fail(f"{name}: passes disagree or failed: {outs}")
        rows, h, _ = next(iter(outs))
        out[name] = {"rows": rows, "hash": h, "source": "recorded from the engine"}
    return out


def main():
    n_cores = run.cores()
    classes, replay = run.build(n_cores)
    tmp = os.path.join(run.BUILD, "tmp", "regen")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        expected = oracle_expected(classes, tmp)
        expected.update(recorded_stream(classes, replay, tmp, n_cores))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} expected outputs")


if __name__ == "__main__":
    main()
