"""The benchmark's two workloads, their correctness checks and the layer
boundaries a traced run records.

The inputs are the seed-42 fixture tables committed under ``data/``
(``sf0.01`` for measured runs, ``sf0.001`` for the self-test).  Each
workload prepares its set-up (repeatably, so set-up can be timed as a
median), warms the JVM with untimed passes (``WARM_PASSES``; the query
workload with one parallel pass), and then runs passes.  A pass
is one closed-loop operation set: the next operation starts when the
previous one has finished.  A transfer pass keeps its destination; it is
checked after the measurement, outside every timed region.

- ``transfer``: the paper's transfer path, in two parts run one after the
  other in every pass.
  - DB sink: four parquet tables → SQLite through ``JDBCSink`` (the
    ``foreachPartition`` batched-upsert writer MySQL/PostgreSQL use),
    single shot, reference-style transforms, tables in parallel.
  - Resume: parquet → parquet chunked upsert of ``lineitem`` into a
    destination pre-seeded with the untransformed table; the run is
    interrupted after a chunk the seed picks and a fresh engine resumes
    from the checkpoint.
- ``query_headline``: the cheapest ``bench.HEADLINE`` query of each
  operator module, each materialised through the ``noop`` sink, in an order
  the seed picks.  It touches no transfer layer.  Its warm-up pass collects
  each result and checks it against a committed fingerprint; the timed
  passes write to ``noop`` and are not checked again.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
import sqlite3
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import closing
from dataclasses import dataclass, field
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SCALES = ("sf0.01", "sf0.001")  # measured runs, self-test

# Rate cap lifted so the workloads measure work, not limiter sleep.
RATE_LIMIT = 10**9
# Untimed passes before the first timed one.  After one, a transfer pass
# still gets ~15% faster over the next two, and the second timed
# pass varies most; after two, the timed passes are about level.
WARM_PASSES = 2


@dataclass
class Pass:
    wall: float = 0.0
    ops: dict[str, float] = field(default_factory=dict)  # operation → seconds
    rows: int = 0  # rows the checks counted in the destination
    attempted: int = 0
    failed: int = 0
    t0: float = 0.0  # perf_counter bounds of the timed part
    t1: float = 0.0
    windows: list[tuple[float, float]] = field(default_factory=list)  # timed parts, for spans
    jobs: int = 0
    upserts: int = 0
    bytes_written: int = 0
    final_bytes: int = 0
    # Deferred checks of the pass's outputs: each returns the rows it
    # counted in the destination and one bool per check, and removes the
    # outputs it checked.
    checks: list[Callable[[], tuple[int, list[bool]]]] = field(default_factory=list)


def _spark_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _dir_bytes(path: str, since: float = 0.0) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def fingerprint(pdf) -> dict:
    """``tools/diffcheck.py``'s order-independent row count and value hash
    of a pandas frame: the one check every workload uses."""
    from tools.diffcheck import canonicalize, frame_hash

    pdf = canonicalize(pdf)
    return {"rows": len(pdf), "hash": frame_hash(pdf)}


# ---------------------------------------------------------------------------
# SQLite connection factory (runs inside the Spark writer tasks).
# ---------------------------------------------------------------------------


_TABLE_RE = re.compile(r'^(?:INSERT INTO|CREATE TABLE IF NOT EXISTS)\s+"([^"]+)"')


class SqliteConnect:
    """Picklable DB-API connection factory for the JDBC sink.

    Each table lives in its own SQLite file under ``db_dir``, picked from
    the table named by the connection's first statement: SQLite locks a
    whole database per write, so tables written concurrently would
    otherwise queue on one lock, where a server database locks rows.
    With accumulators, the seconds spent inside ``execute``/``commit`` and
    the statement count are added to them, which splits the writer's time
    into Python and database parts."""

    def __init__(self, db_dir: str, exec_s=None, statements=None):
        self.db_dir = db_dir
        self.exec_s = exec_s
        self.statements = statements

    def __call__(self):
        return _TableConn(self)


class _TableConn:
    def __init__(self, factory: SqliteConnect):
        self._f = factory
        self._conn = None

    def _timed(self, fn, *args):
        if self._f.exec_s is None:
            return fn(*args)
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self._f.exec_s.add(time.perf_counter() - t)

    def cursor(self):
        return self

    def execute(self, sql, params=()):
        if self._conn is None:
            path = sqlite_path(self._f.db_dir, _TABLE_RE.match(sql).group(1))
            self._conn = sqlite3.connect(path, timeout=120)
        if self._f.statements is not None:
            self._f.statements.add(1)
        return self._timed(self._conn.execute, sql, params)

    def commit(self):
        if self._conn is not None:
            self._timed(self._conn.commit)

    def rollback(self):
        if self._conn is not None:
            self._conn.rollback()

    def close(self):
        if self._conn is not None:
            self._conn.close()


def sqlite_path(db_dir: str, table: str) -> str:
    return os.path.join(db_dir, f"{table}.db")


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.data = os.path.join(DATA, ctx.scale)

    @property
    def rng(self) -> random.Random:
        """The seed's random stream, restarted on every use."""
        return random.Random(self.ctx.seed)

    def prepare(self, i: int) -> None:
        """Set-up before the first pass."""

    def run_pass(self, label: str) -> Pass:
        raise NotImplementedError

    def warm(self) -> Pass:
        """``WARM_PASSES`` untimed passes (JIT and codegen warm-up), as one
        Pass.  Their outputs are not checked; they go with the run's work
        directory."""
        p = Pass()
        for i in range(WARM_PASSES):
            q = self.run_pass(f"warm{i}")
            p.wall += q.wall
            p.attempted += q.attempted
            p.failed += q.failed
        return p

    def check(self, passes: list[Pass]) -> list[bool]:
        """Run the passes' deferred checks: one bool per check, and one
        False for a check that raises."""
        oks = []
        for p in passes:
            for c in p.checks:
                try:
                    rows, ok = c()
                except Exception:
                    traceback.print_exc()
                    rows, ok = 0, [False]
                p.rows += rows
                oks += ok
        return oks


# -- transfer: DB-sink part --------------------------------------------------

DB_TABLES = {
    # name: (primary key, transforms, checked columns)
    "customer": ("c_custkey", {"c_name": "UPPER(c_name)", "c_acctbal": "c_acctbal * 100"},
                 ["c_custkey", "c_name", "c_acctbal"]),
    "part": ("p_partkey", {}, ["p_partkey", "p_retailprice"]),
    "orders": ("o_orderkey", {"o_orderdate": "DATE_FORMAT(o_orderdate, '%Y-%m-%d')"},
               ["o_orderkey", "o_orderdate", "o_totalprice"]),
    "events": ("event_id", {}, ["event_id", "value"]),
}
# lineitem stays out of the keyed DB sink: its (l_orderkey, l_linenumber)
# key is not unique in the fixtures, so which duplicate row wins would
# depend on task order.


def table_mappings(tables: dict):
    from dbtransfer_spark.config import ColumnTransformation, TableMapping

    return [
        TableMapping(
            name=name,
            primary_key=pk,
            column_transformations=[ColumnTransformation(c, e) for c, e in tf.items()],
        )
        for name, (pk, tf, _) in tables.items()
    ]


def sqlite_fingerprint(db_dir: str, table: str, columns: list[str]) -> dict:
    import pandas as pd

    cols = ", ".join(f'"{c}"' for c in columns)
    with closing(sqlite3.connect(sqlite_path(db_dir, table))) as conn:
        return fingerprint(pd.read_sql_query(f'SELECT {cols} FROM "{table}"', conn))


class TransferDB(Workload):
    """The DB-sink part of ``transfer``."""

    def __init__(self, ctx):
        super().__init__(ctx)
        # The checked columns of apply_transforms(source), per table.
        self.expected = load_fingerprints("transfer", ctx.scale)

    def _engine(self, db_dir: str, ckpt: str):
        from dbtransfer_spark.config import Config, DBConfig, MigrationConfig
        from dbtransfer_spark.engine import TransferEngine
        from dbtransfer_spark.sources.jdbc import JDBCSink

        cfg = Config(
            source=DBConfig(type="parquet", database=self.data, tables=table_mappings(DB_TABLES)),
            # get_sink cannot build a SQLite sink; the engine gets a
            # placeholder and the benchmark injects the JDBCSink below.
            destination=DBConfig(type="parquet", database=os.path.join(self.ctx.work, "unused")),
            migration=MigrationConfig(
                workers=self.ctx.workers, rate_limit=RATE_LIMIT, checkpoint_dir=ckpt,
            ),
        )
        cfg.set_defaults()
        engine = TransferEngine(self.spark, cfg)
        sc = self.spark.sparkContext
        if self.ctx.tracer is not None:
            self.exec_acc, self.stmt_acc = sc.accumulator(0.0), sc.accumulator(0)
            connect = SqliteConnect(db_dir, self.exec_acc, self.stmt_acc)
        else:
            self.exec_acc = self.stmt_acc = None
            connect = SqliteConnect(db_dir)
        engine.sink = JDBCSink(self.spark, DBConfig(type="sqlite"), connect=connect)
        return engine

    def run_pass(self, label: str) -> Pass:
        p = Pass()
        db_dir = os.path.join(self.ctx.work, f"dest_{label}")
        ckpt = os.path.join(self.ctx.work, f"ckpt_{label}")
        os.makedirs(db_dir)
        engine = self._engine(db_dir, ckpt)
        upsert = engine.sink.upsert

        def timed_upsert(df, table, keys):
            t = time.perf_counter()
            n = upsert(df, table, keys)
            p.ops[table.name] = time.perf_counter() - t
            p.upserts += 1
            return n

        engine.sink.upsert = timed_upsert
        jobs0 = _spark_job_ids(self.spark)
        p.t0 = time.perf_counter()
        results = engine.run()
        p.t1 = time.perf_counter()
        p.wall = p.t1 - p.t0
        p.jobs = len(_spark_job_ids(self.spark) - jobs0)
        if self.exec_acc is not None:
            self.ctx.counters["sink.jdbc.db_exec_s"] += self.exec_acc.value
            self.ctx.counters["sink.jdbc.statements"] += self.stmt_acc.value
        for name in DB_TABLES:
            p.attempted += 1  # the table's transfer
            p.failed += "error" in results.get(name, {"error": "missing"}) or not engine.store.is_complete(name)

        def check() -> tuple[int, list[bool]]:
            # Row count and key/transformed-column hash equal those of
            # apply_transforms(source), as committed in fingerprints.json.
            try:
                got = {name: sqlite_fingerprint(db_dir, name, cols)
                       for name, (_, _, cols) in DB_TABLES.items()}
                return (sum(fp["rows"] for fp in got.values()),
                        [got[name] == self.expected[name] for name in DB_TABLES])
            finally:
                shutil.rmtree(db_dir, ignore_errors=True)
                shutil.rmtree(ckpt, ignore_errors=True)

        p.checks.append(check)
        return p


# -- transfer: resume part ----------------------------------------------------

RESUME_CHUNKS = 4  # lineitem is upserted in this many key-range chunks
# Chunk size as a share of rows / RESUME_CHUNKS.  The resumed engine
# re-chunks what is left by row count, and key ranges hold unequal row
# counts; with an exact share, an interrupt after chunk 2 leaves rows for
# three chunks and one after chunk 3 for one, so the seed would change a
# pass's work by a whole upsert.  With this slack every interrupt point
# gives RESUME_CHUNKS upserts in all on both fixture scales.
RESUME_CHUNK_SLACK = 1.1
RESUME_TRANSFORMS = {"l_returnflag": "LOWER(l_returnflag)", "l_extendedprice": "l_extendedprice * 100"}


def check_resume(first: dict, second: dict, complete: bool, target_fp: dict, expected_fp: dict) -> list[bool]:
    """The four resume checks: interrupted, resumed, complete, equal."""
    return [
        bool(first.get("interrupted")),
        second.get("resumed_from") is not None,
        complete,
        target_fp == expected_fp,
    ]


class TransferResume(Workload):
    """The chunked upsert and resume part of ``transfer``."""

    def __init__(self, ctx):
        super().__init__(ctx)
        self.src = os.path.join(self.data, "lineitem.parquet")
        self.expected = load_fingerprints("transfer", ctx.scale)["lineitem"]
        # The interrupt point: a chunk in the middle half, picked by the seed.
        self.interrupt_after = self.rng.randrange(RESUME_CHUNKS // 4, (3 * RESUME_CHUNKS) // 4) + 1

    def prepare(self, i: int) -> None:
        import pyarrow.parquet as pq

        rows = pq.ParquetFile(self.src).metadata.num_rows  # from the footer, no Spark job
        self.chunk_rows = math.ceil(rows * RESUME_CHUNK_SLACK / RESUME_CHUNKS)
        # Pre-seed: the untransformed table, so every chunk replaces rows.
        self.seeded = os.path.join(self.ctx.work, f"resume_seeded{i}")
        os.makedirs(self.seeded)
        shutil.copy(self.src, os.path.join(self.seeded, "lineitem.parquet"))

    def _engine(self, dest: str, ckpt: str):
        from dbtransfer_spark.config import Config, DBConfig, MigrationConfig
        from dbtransfer_spark.engine import TransferEngine

        tables = {"lineitem": ("", RESUME_TRANSFORMS, [])}
        cfg = Config(
            source=DBConfig(type="parquet", database=self.data, tables=table_mappings(tables)),
            destination=DBConfig(type="parquet", database=dest),
            migration=MigrationConfig(workers=1, rate_limit=RATE_LIMIT, checkpoint_dir=ckpt),
        )
        cfg.set_defaults()
        return TransferEngine(self.spark, cfg, chunk_rows=self.chunk_rows)

    def run_pass(self, label: str) -> Pass:
        p = Pass()
        dest = os.path.join(self.ctx.work, f"resume_dest_{label}")
        ckpt = os.path.join(self.ctx.work, f"resume_ckpt_{label}")
        shutil.copytree(self.seeded, dest)
        target = os.path.join(dest, "lineitem.parquet")
        traced = self.ctx.tracer is not None

        def instrument(engine, stage: int):
            upsert = engine.sink.upsert
            calls = [0]

            def timed_upsert(df, table, keys):
                t_wall = time.time()
                t = time.perf_counter()
                n = upsert(df, table, keys)
                calls[0] += 1
                p.ops[f"{stage}:{calls[0]}"] = time.perf_counter() - t
                p.upserts += 1
                if traced:
                    p.bytes_written += _dir_bytes(target, since=t_wall)
                if stage == 0 and calls[0] == self.interrupt_after:
                    engine.shutdown()
                return n

            engine.sink.upsert = timed_upsert
            return engine

        jobs0 = _spark_job_ids(self.spark)
        p.t0 = time.perf_counter()
        first = instrument(self._engine(dest, ckpt), 0).run().get("lineitem", {})
        engine = instrument(self._engine(dest, ckpt), 1)
        second = engine.run().get("lineitem", {})
        p.t1 = time.perf_counter()
        p.wall = p.t1 - p.t0
        p.jobs = len(_spark_job_ids(self.spark) - jobs0)
        p.final_bytes = _dir_bytes(target)
        p.attempted += p.upserts
        p.failed += ("error" in first) + ("error" in second)
        complete = engine.store.is_complete("lineitem")

        def check() -> tuple[int, list[bool]]:
            try:
                fp = fingerprint(self.spark.read.parquet(target).toPandas())
                return fp["rows"], check_resume(first, second, complete, fp, self.expected)
            finally:
                shutil.rmtree(dest, ignore_errors=True)
                shutil.rmtree(ckpt, ignore_errors=True)

        p.checks.append(check)
        return p


class Transfer(Workload):
    name = "transfer"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = {"db": TransferDB(ctx), "resume": TransferResume(ctx)}

    def prepare(self, i: int) -> None:
        for part in self.parts.values():
            part.prepare(i)

    def run_pass(self, label: str) -> Pass:
        p = Pass()
        for prefix, part in self.parts.items():
            q = part.run_pass(label)
            p.wall += q.wall
            p.ops.update({f"{prefix}.{k}": v for k, v in q.ops.items()})
            p.windows.append((q.t0, q.t1))
            p.checks += q.checks
            for f in ("attempted", "failed", "jobs", "upserts", "bytes_written", "final_bytes"):
                setattr(p, f, getattr(p, f) + getattr(q, f))
        return p


# -- query_headline -----------------------------------------------------------

# The cheapest headline query of each operator module (measured on the
# sf0.01 fixtures), so every module has a per-layer metric while a run of
# the workload stays within the benchmark's time budget; all 48 entries
# of ``bench.HEADLINE`` do not fit it.  Listed slowest first (timed pass
# on 4 cores, in seconds), the order the parallel warm-up starts them in.
QUERIES = [
    "incremental_release",               # pipelines and sources.versioned  5.2
    "link_prediction_common_neighbors",  # graph         4.0
    "image_ahash_neardup",               # multimodal    2.3
    "copurchase_edges_build",            # shared_frames 1.5
    "ivm_delta_rollup",                  # cdc           1.1
    "training_data_build",               # corpus_qa     1.1
    "range_join_binned",                 # rangejoin     1.0
    "countmin_heavy_hitters",            # skew          1.0
    "q13_customer_distribution",         # tpch          0.9
    "asof_last_purchase",                # asof          0.7
    "events_session_30m",                # windows       0.6
    "dedup_exact_fingerprint",           # dedup         0.5
    "transfer_transform",                # queries       0.4
    "embedding_quantize_int8",           # similarity    0.4
    "text_stats",                        # text          0.3
]
# bench.py's bench-only entries, and the module whose code they time.
BENCH_ONLY = {"incremental_release": "pipelines", "copurchase_edges_build": "shared_frames"}


def query_functions() -> dict:
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    return {n: getattr(bench, f"_bench_{n}") if n in BENCH_ONLY else qs[n] for n in QUERIES}


def query_module(name: str, fn) -> str:
    return BENCH_ONLY.get(name) or fn.__module__.rsplit(".", 1)[-1]


def load_fingerprints(kind: str, scale: str) -> dict:
    """The committed fingerprints (see ``fingerprints.py``) of ``kind``:
    ``queries`` (the query results) or ``transfer`` (the transformed
    source tables, the checked columns only for the DB-sink tables)."""
    with open(os.path.join(HERE, "fingerprints.json")) as fh:
        committed = json.load(fh)[kind][scale]
    return {n: {"rows": f["rows"], "hash": f["hash"]} for n, f in committed.items()}


class QueryHeadline(Workload):
    name = "query_headline"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.qs = query_functions()
        self.order = list(QUERIES)
        self.rng.shuffle(self.order)

    def prepare(self, i: int) -> None:
        from dbtransfer_spark.catalog import optimize_layout

        t = time.perf_counter()
        self.layout = optimize_layout(self.spark, self.data, os.path.join(self.ctx.work, f"q_data{i}"))
        self.ctx.layout_s.append(time.perf_counter() - t)

    def warm(self) -> Pass:
        """The warm-up pass, which also checks every query's output
        against its committed fingerprint.  The queries run side by side,
        one per core, slowest first, and collect their results: warm-up
        only has to compile and load what the timed passes run, and this
        keeps a run of the workload within the benchmark's time budget.
        The pass's time leaves out the fingerprinting; the noop sink is
        warmed by the canary probe that runs before the first timed pass."""
        expected = load_fingerprints("queries", self.ctx.scale)

        def collect(name: str):
            try:
                return self.qs[name](self.spark, self.layout).toPandas()
            except Exception:
                traceback.print_exc()
                return None

        p = Pass(attempted=len(QUERIES))
        t = time.perf_counter()
        with ThreadPoolExecutor(self.ctx.nproc) as pool:
            results = list(pool.map(collect, QUERIES))
        p.wall = time.perf_counter() - t
        p.failed = sum(pdf is None for pdf in results)
        oks = [fingerprint(pdf) == expected.get(name)
               for name, pdf in zip(QUERIES, results) if pdf is not None]
        p.checks.append(lambda: (0, oks))
        return p

    def run_query(self, name: str) -> None:
        tracer = self.ctx.tracer
        fn = self.qs[name]
        if tracer is None:
            fn(self.spark, self.layout).write.format("noop").mode("overwrite").save()
            return
        with tracer.span(f"query.{name}", "bench"):
            df = tracer.wrap(fn, name, f"ops.{query_module(name, fn)}")(self.spark, self.layout)
            with tracer.span("noop.save", "exec"):
                df.write.format("noop").mode("overwrite").save()

    def run_pass(self, label: str) -> Pass:
        p = Pass()
        jobs0 = _spark_job_ids(self.spark)
        p.t0 = time.perf_counter()
        for name in self.order:
            p.attempted += 1
            t = time.perf_counter()
            self.run_query(name)
            p.ops[name] = time.perf_counter() - t
        p.t1 = time.perf_counter()
        p.wall = p.t1 - p.t0
        p.windows.append((p.t0, p.t1))
        p.jobs = len(_spark_job_ids(self.spark) - jobs0)
        return p


WORKLOADS = {w.name: w for w in (Transfer, QueryHeadline)}


# ---------------------------------------------------------------------------
# Layer boundaries for traced runs
# ---------------------------------------------------------------------------


def install_layers(tracer) -> None:
    """Wrap the public entry points of each program layer."""
    from dbtransfer_spark import catalog, checkpoint, engine, governance, pipelines, transforms
    from dbtransfer_spark.sources import base, jdbc, parquet, versioned

    for attr in ("run", "_run_table", "_run_chunked"):
        tracer.patch(engine.TransferEngine, attr, "engine")
    for attr in ("read", "detect_primary_key", "table_exists"):
        tracer.patch(parquet.ParquetSource, attr, "sources")
    tracer.patch(base.Source, "count_rows", "sources")
    tracer.patch(transforms, "apply_transforms", "transforms")
    tracer.patch(parquet.ParquetSink, "upsert", "sink.parquet")
    tracer.patch(base.Sink, "ensure_schema", "sink.parquet")
    tracer.patch(jdbc.JDBCSink, "upsert", "sink.jdbc", keep_value=True)
    tracer.patch(jdbc.JDBCSink, "ensure_schema", "sink.jdbc")
    for attr in ("load", "save", "mark_complete", "is_complete", "watermark"):
        tracer.patch(checkpoint.CheckpointStore, attr, "checkpoint")
    tracer.patch(governance.RateLimiter, "acquire", "governance", keep_value=True)
    tracer.patch(catalog, "load_table", "catalog")
    tracer.patch(pipelines, "incremental_release", "ops.pipelines")
    for attr in ("commit", "commit_append"):
        tracer.patch(versioned.VersionedDatasetStore, attr, "versioned")


def _spans_named(spans, suffix: str):
    return [s for s in spans if s.name.endswith(suffix)]


def _total(spans) -> float:
    return sum(s.end - s.start for s in spans)


def layer_metrics(ctx, tracer, passes: list[Pass]) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics over the traced passes, as per-pass means, and
    every layer's self time per pass (these add up to the pass time)."""
    windows = [w for p in passes for w in p.windows]
    spans = [s for t0, t1 in windows for s in tracer.within(t0, t1)]
    n = max(1, len(passes))
    self_s: dict[str, float] = {}
    for t0, t1 in windows:
        for layer, sec in tracer.self_times(tracer.within(t0, t1)).items():
            self_s[layer] = self_s.get(layer, 0.0) + sec
    wall = sum(p.wall for p in passes)
    upserts_pq = _spans_named(spans, "ParquetSink.upsert")
    upserts_jdbc = _spans_named(spans, "JDBCSink.upsert")
    acquires = _spans_named(spans, "RateLimiter.acquire")
    counts = _spans_named(spans, "Source.count_rows")
    commits = [s for s in spans if s.layer == "versioned"]
    final_bytes = sum(p.final_bytes for p in passes)
    m = {
        "session.start_s": ctx.session_s,
        "catalog.optimize_layout_s": statistics.median(ctx.layout_s) if ctx.layout_s else 0.0,
        "catalog.load_table_s": self_s.get("catalog", 0.0) / n,
        "engine.self_s": self_s.get("engine", 0.0) / n,
        "engine.spark_jobs": sum(p.jobs for p in passes) / n,
        "engine.jobs_per_chunk": (
            sum(p.jobs for p in passes) / sum(p.upserts for p in passes)
            if any(p.upserts for p in passes) else 0.0
        ),
        "sources.read_s": _total(_spans_named(spans, "ParquetSource.read")) / n,
        "sources.count_rows_s": _total(counts) / n,
        "sources.count_rows_calls": len(counts) / n,
        "transforms.apply_s": self_s.get("transforms", 0.0) / n,
        "sink.parquet.upsert_s": _total(upserts_pq) / n,
        "sink.parquet.upsert_calls": len(upserts_pq) / n,
        "sink.parquet.upsert_p50_s": (
            statistics.median(s.end - s.start for s in upserts_pq) if upserts_pq else 0.0
        ),
        "sink.parquet.bytes_written": sum(p.bytes_written for p in passes) / n,
        "sink.parquet.write_amp": (
            sum(p.bytes_written for p in passes) / final_bytes if final_bytes else 0.0
        ),
        "sink.jdbc.upsert_s": _total(upserts_jdbc) / n,
        "sink.jdbc.rows": sum(s.value or 0 for s in upserts_jdbc) / n,
        "sink.jdbc.db_exec_s": ctx.counters.get("sink.jdbc.db_exec_s", 0.0) / n,
        "sink.jdbc.statements": ctx.counters.get("sink.jdbc.statements", 0) / n,
        "checkpoint.save_s": _total(_spans_named(spans, "CheckpointStore.save")) / n,
        "checkpoint.saves": len(_spans_named(spans, "CheckpointStore.save")) / n,
        "checkpoint.load_s": _total(_spans_named(spans, "CheckpointStore.load")) / n,
        "governance.sleep_s": sum(s.value or 0.0 for s in acquires) / n,
        "governance.acquire_calls": len(acquires) / n,
        "pipelines.incremental_release_s": _total(_spans_named(spans, "pipelines.incremental_release")) / n,
        "versioned.commit_s": _total(commits) / n,
        "exec.noop_s": self_s.get("exec", 0.0) / n,
        "bench.self_s": self_s.get("bench", 0.0) / n,
        "trace.self_sum_ratio": sum(self_s.values()) / wall if wall else 0.0,
    }
    qs = query_functions()
    for q in QUERIES:
        per = [s.end - s.start for s in spans if s.name == f"query.{q}"]
        m[f"query.{q}_s"] = statistics.median(per) if per else 0.0
    for mod in sorted({query_module(n, fn) for n, fn in qs.items()}):
        m[f"ops.{mod}_s"] = self_s.get(f"ops.{mod}", 0.0) / n
    return m, {layer: sec / n for layer, sec in sorted(self_s.items())}
