"""Rebuild ``fingerprints.json``: the committed fingerprints the workloads
check their outputs against.

    python3 perfbench/fingerprints.py

For every fixture scale under ``perfbench/data/``, each fingerprint is
``tools/diffcheck.py``'s ``canonicalize`` + ``frame_hash`` of a frame
computed on Spark, and, where there is one, must equal that of the same
frame computed by DuckDB straight from the fixture tables, or nothing is
written.

- ``queries``: every query of ``query_headline``, run over the optimised
  layout; DuckDB runs the query's oracle SQL, where it has one.
- ``transfer``: ``apply_transforms`` of each transferred table with the
  workload's transforms (for the DB-sink tables, only the checked
  columns); DuckDB applies the same transforms in ``TRANSFER_SQL``.

Run it only when the query set, a transform or an intended result changes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402

TRANSFER_SQL = {
    "customer": "SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal * 100 AS c_acctbal FROM customer",
    "part": "SELECT p_partkey, p_retailprice FROM part",
    "orders": "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice FROM orders",
    "events": "SELECT event_id, value FROM events",
    "lineitem": "SELECT * REPLACE (LOWER(l_returnflag) AS l_returnflag, "
                "l_extendedprice * 100 AS l_extendedprice) FROM lineitem",
}


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from dbtransfer_spark.catalog import optimize_layout
    from dbtransfer_spark.transforms import apply_transforms

    work = os.path.join(ROOT, ".perfbench_work", f"fingerprints-{os.getpid()}")
    os.makedirs(work)
    ctx = run.Context(0, run._host(), work)
    spark = run._start_spark(ctx, run.DRIVER_MEM)
    oracles = dict(entrymod.oracle_sql())
    transforms = {name: (tf, cols) for name, (_, tf, cols) in workloads.DB_TABLES.items()}
    transforms["lineitem"] = (workloads.RESUME_TRANSFORMS, None)
    out: dict = {"queries": {}, "transfer": {}}
    bad = []

    def record(kind, scale, name, fp, oracle_sql, con):
        if oracle_sql is not None and workloads.fingerprint(con.execute(oracle_sql).df()) != fp:
            bad.append(f"{kind}/{scale}/{name}")
        out[kind].setdefault(scale, {})[name] = {**fp, "oracle": oracle_sql is not None}
        print(kind, scale, name, fp, "ORACLE MISMATCH" if f"{kind}/{scale}/{name}" in bad else "")

    try:
        for scale in workloads.SCALES:
            raw = os.path.join(workloads.DATA, scale)
            con = duckdb.connect()
            for f in sorted(os.listdir(raw)):
                con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{raw}/{f}'")
            data = optimize_layout(spark, raw, os.path.join(work, scale))
            for name, fn in workloads.query_functions().items():
                fp = workloads.fingerprint(fn(spark, data).toPandas())
                record("queries", scale, name, fp, oracles.get(name), con)
            for name, (tf, cols) in transforms.items():
                df = apply_transforms(spark.read.parquet(os.path.join(raw, f"{name}.parquet")), tf)
                fp = workloads.fingerprint((df.select(*cols) if cols else df).toPandas())
                record("transfer", scale, name, fp, TRANSFER_SQL[name], con)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("oracle mismatch:", bad, file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
