"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. Shows that every correctness check rejects a damaged output: one row
   dropped, or one value changed.
2. Runs each workload of ``BENCHMARK.json`` once untraced and once traced
   (one-second runs on the sf0.001 fixtures) and asserts that each prints
   every end-to-end and every per-layer metric with its declared unit, and
   that it reports no failed operation.

Exits 0 when everything holds.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import subprocess
import sys
from contextlib import closing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
SCALE = "sf0.001"  # the small fixture: the self-test checks behaviour, not speed

import run  # noqa: E402
import workloads  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def damage_sqlite_check(work: str) -> None:
    import pandas as pd

    db = os.path.join(work, "db")
    os.makedirs(db)
    rows = [(i, f"N{i}", i * 1.5) for i in range(100)]
    with closing(sqlite3.connect(workloads.sqlite_path(db, "t"))) as conn, conn:
        conn.execute('CREATE TABLE "t" ("k" INTEGER PRIMARY KEY, "n" TEXT, "v" REAL)')
        conn.executemany('INSERT INTO "t" VALUES (?, ?, ?)', rows)
    expected = workloads.fingerprint(pd.DataFrame(rows, columns=["k", "n", "v"]))
    cols = ["k", "n", "v"]
    check(workloads.sqlite_fingerprint(db, "t", cols) == expected, "transfer DB-sink check passes on intact table")
    with closing(sqlite3.connect(workloads.sqlite_path(db, "t"))) as conn, conn:
        conn.execute('DELETE FROM "t" WHERE "k" = 42')
    check(workloads.sqlite_fingerprint(db, "t", cols) != expected, "transfer DB-sink check fails with one row dropped")
    with closing(sqlite3.connect(workloads.sqlite_path(db, "t"))) as conn, conn:
        conn.execute('INSERT INTO "t" VALUES (42, \'N42\', 63.0)')
        conn.execute('UPDATE "t" SET "v" = 0.5 WHERE "k" = 7')
    check(workloads.sqlite_fingerprint(db, "t", cols) != expected, "transfer DB-sink check fails with one value changed")


def damage_spark_checks(spark) -> None:
    from dbtransfer_spark.transforms import apply_transforms

    data = os.path.join(workloads.DATA, SCALE)
    pdf = apply_transforms(spark.read.parquet(os.path.join(data, "lineitem.parquet")),
                           workloads.RESUME_TRANSFORMS).toPandas()
    expected = workloads.load_fingerprints("transfer", SCALE)["lineitem"]
    changed = pdf.copy()
    changed.loc[7, "l_quantity"] += 1
    ok = {"interrupted": True}, {"resumed_from": "9"}, True
    check(all(workloads.check_resume(*ok, workloads.fingerprint(pdf), expected)),
          "transfer resume checks pass on intact target")
    check(not all(workloads.check_resume(*ok, workloads.fingerprint(pdf.drop(index=42)), expected)),
          "transfer resume check fails with one row dropped")
    check(not all(workloads.check_resume(*ok, workloads.fingerprint(changed), expected)),
          "transfer resume check fails with one value changed")
    for i, what in enumerate(("not interrupted", "not resumed", "checkpoint incomplete")):
        flags = list(ok)
        flags[i] = {} if i < 2 else False
        check(not all(workloads.check_resume(*flags, expected, expected)),
              f"transfer resume check fails when {what}")

    # query_headline: the committed fingerprint of transfer_transform.
    committed = workloads.load_fingerprints("queries", SCALE)["transfer_transform"]
    out = workloads.query_functions()["transfer_transform"](spark, data).toPandas()
    check(workloads.fingerprint(out) == committed, "query_headline check passes on intact output")
    check(workloads.fingerprint(out.drop(index=42)) != committed,
          "query_headline check fails with one row dropped")
    col = out.columns[0]
    out.loc[7, col] += 1
    check(workloads.fingerprint(out) != committed, "query_headline check fails with one value changed")


def metrics_printed() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            proc = subprocess.run(
                spec["command"] + ["--workload", wl["name"], "--seed", "1", "--seconds", "1",
                                   "--trace", str(trace), "--scale", SCALE],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            check(proc.returncode == 0, f"{wl['name']} trace={trace} exits 0")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{wl['name']} trace={trace} prints the result keys")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{wl['name']} trace={trace} has no failed operation")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            check(got == want, f"{wl['name']} trace={trace} prints every declared metric with its unit")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)

    try:
        damage_sqlite_check(work)
        spark = run._start_spark(run.Context(0, run._host(), work), run.DRIVER_MEM)
        try:
            damage_spark_checks(spark)
        finally:
            run._stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics_printed()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
