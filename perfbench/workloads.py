"""The benchmark's workloads, each driven through public entry points
only, closed-loop with one client.

Every workload has the same shape: ``warm_up()`` (untimed; it also
collects what the correctness check needs), ``round(tr)`` (one timed
unit of work, repeated until the run's seconds are used up) and
``check()`` (untimed). ``tr`` is a ``trace.Tracer`` in the traced run
and a ``trace.NoTracer`` otherwise; ``trace_targets()`` names the layer
functions that the traced run wraps where the engine calls them.

``query_stream`` runs two phases, the query mix and the near-dup
stream: both drive the text operators (tokenize, shingle, MinHash), so
the stream starts on a JVM the queries already warmed, and a run pays
one session start and one cold start instead of two.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pandas as pd

from perfbench.gen import TABLES, Inputs


@dataclass
class Round:
    wall_s: float  # the round's timed wall time
    op_s: list[float]  # latencies of the workload's requests
    attempted: int
    failed: int
    named: dict[str, float]  # the round's phase metrics (pass_s, batch_p50_s, ...)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """Order-insensitive exact comparison; None when equal."""
    from tools.check_correctness import normalize

    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"cols {sorted(a.columns)} vs {sorted(b.columns)}"
    try:
        pd.testing.assert_frame_equal(
            normalize(a), normalize(b), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return f"values: {str(exc)[:300]}"
    return None


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def dir_files(path: str) -> list[str]:
    """Data files under ``path`` (Spark's _SUCCESS/.crc markers excluded)."""
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith(("_", "."))]
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in dir_files(path))


# -- query_mix -----------------------------------------------------------------

WARM_THREADS = 3


class QueryMix:
    """The 15 ``bench``-tagged registry queries into a ``noop`` sink, one
    pass per round, in sorted order like ``bench.py``."""

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        from dagster_etl_spark.registry import all_queries

        self.spark = spark
        self.sf_dir = inputs.sf_dir
        self.specs = all_queries()
        self.names = sorted(n for n, s in self.specs.items() if "bench" in s.tags)
        self.results: dict[str, pd.DataFrame | Exception] = {}
        self.oracles: dict[str, pd.DataFrame | Exception] = {}

    def _oracle_results(self) -> None:
        from tools.check_correctness import APPROX_BOUND

        con = duck_views(self.sf_dir)
        for n in self.names:
            sql = self.specs[n].oracle
            if sql is None and n in APPROX_BOUND:
                sql = self.specs[n.removesuffix("_approx")].oracle
            try:
                self.oracles[n] = con.execute(sql).fetchdf()
            except Exception as exc:  # reported by check()
                self.oracles[n] = exc
        con.close()

    def _collect(self, n: str) -> None:
        try:
            self.results[n] = self.specs[n].fn(self.spark, self.sf_dir).toPandas()
        except Exception as exc:  # reported by check()
            self.results[n] = exc

    def warm_up(self) -> None:
        """One untimed pass that collects every result for the check.
        It is the run's costliest untimed step (the JVM's and the Python
        workers' first use), so its queries run WARM_THREADS at a time
        while DuckDB computes the oracles on one more thread; pins are
        released once at the end, never under a running query."""
        from dagster_etl_spark.plans.cache import release_pinned

        oracle = threading.Thread(target=self._oracle_results)
        oracle.start()
        try:
            with ThreadPoolExecutor(WARM_THREADS) as pool:
                list(pool.map(self._collect, self.names))
        finally:
            oracle.join()
            release_pinned()

    def run(self, tr) -> Round:
        from dagster_etl_spark.plans.cache import release_pinned

        lat, failed = [], 0
        t_pass = time.perf_counter()
        for n in self.names:
            t0 = time.perf_counter()
            try:
                with tr.span("query_mix.query"):
                    with tr.span("registry.build"):
                        df = self.specs[n].fn(self.spark, self.sf_dir)
                    if tr.sc is not None:
                        with tr.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception:
                failed += 1
            finally:
                with tr.span("plans.release"):
                    tr.count("plans.pinned_released", release_pinned())
            lat.append(time.perf_counter() - t0)
        wall = time.perf_counter() - t_pass
        named = {"pass_s": wall, "query_p50_s": statistics.median(lat)}
        return Round(wall, lat, len(self.names), failed, named)

    def check(self) -> list[str]:
        from tools.check_correctness import APPROX_BOUND

        problems = []
        for n in self.names:
            got, want = self.results.get(n), self.oracles.get(n)
            if not isinstance(got, pd.DataFrame) or not isinstance(want, pd.DataFrame):
                problems.append(f"{n}: spark={got!r:.200} oracle={want!r:.200}")
                continue
            if n in APPROX_BOUND:
                err = approx_problem(got, want, *APPROX_BOUND[n])
            else:
                err = frames_equal(got, want)
            if err:
                problems.append(f"{n}: {err}")
        return problems


def approx_problem(got: pd.DataFrame, exact: pd.DataFrame, col: str, tol: float) -> str | None:
    """``tools/check_correctness.py``'s bound gate for an ``_approx``
    twin: every column but ``col`` exact, ``col`` within ``tol``."""
    keys = [c for c in sorted(exact.columns) if c != col]
    err = frames_equal(got[keys], exact[keys]) if col in got else "missing " + col
    if err:
        return err
    a = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = exact.sort_values(keys, kind="mergesort").reset_index(drop=True)
    bad = int(((a[col] - b[col]).abs() > (tol * b[col]).clip(lower=1)).sum())
    return f"{col} outside the {tol:.0%} bound on {bad} rows" if bad else None


# -- tenant_etl ----------------------------------------------------------------

DAYS = 2  # D: consecutive daily partitions per tenant
REPROCESS = 1  # R: trailing dates re-processed (the late-data path)
WARM_DATE = "2024-01-01"
FIRST_DATE = 2  # day of January 2024 of the first timed partition

_EXPECTED = {
    # tenant -> warehouse table -> DuckDB SELECT for one date
    "project_01": {
        "aps_input_wip": """
            SELECT l.l_linestatus, l.l_suppkey,
              CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS wip_qty,
              COUNT(DISTINCT l.l_orderkey) AS lot_count,
              CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                / COUNT(l.l_quantity) AS avg_qty_per_lot,
              CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
                AS high_priority_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE CAST(l.l_shipdate AS DATE) = DATE '{d}'
              AND o.o_orderpriority IS NOT NULL AND l.l_returnflag IN ('N', 'A')
              AND l.l_linestatus IS NOT NULL AND l.l_suppkey IS NOT NULL
            GROUP BY l.l_linestatus, l.l_suppkey""",
        "equipment_daily": """
            SELECT user_id, event_type, COUNT(*) AS n_events,
              CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
            FROM events
            WHERE CAST(ts AS DATE) = DATE '{d}' AND user_id IS NOT NULL
            GROUP BY user_id, event_type""",
    },
    "project_02": {
        "p02_input_wip": """
            SELECT l_linestatus, l_suppkey,
              CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS wip_qty,
              COUNT(DISTINCT l_orderkey) AS lot_count,
              CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0
                / COUNT(l_quantity) AS avg_qty_per_lot
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) = DATE '{d}' AND l_returnflag IN ('N', 'A')
              AND l_linestatus IS NOT NULL AND l_suppkey IS NOT NULL
            GROUP BY l_linestatus, l_suppkey""",
        "p02_equipment_daily": """
            SELECT coalesce(user_id, -1) AS user_id, event_type, COUNT(*) AS n_events,
              CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value,
              CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
                / COUNT(*) AS avg_value
            FROM events WHERE CAST(ts AS DATE) = DATE '{d}'
            GROUP BY coalesce(user_id, -1), event_type""",
    },
}


class TenantEtl:
    """Both sample tenants through ``PipelineRunner.run_partition`` over
    D consecutive dates into an empty lake and warehouse, then the last
    R dates again."""

    name = "tenant_etl"

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        import dagster_etl_spark.orchestration.transfers  # noqa: F401 (common transfers)
        import dagster_etl_spark.tenants as tenants_pkg
        import dagster_etl_spark.tenants.project_01  # noqa: F401 (registers plug-ins)
        import dagster_etl_spark.tenants.project_02  # noqa: F401
        from dagster_etl_spark.orchestration import ConfigLoader

        self.spark = spark
        self.sf_dir = inputs.sf_dir
        self.work = work_dir
        tdir = Path(tenants_pkg.__file__).parent
        self.tenants = ConfigLoader(tdir, env="dev").load_all_tenants()
        ids = sorted(t.tenant_id for t in self.tenants)
        if ids != sorted(_EXPECTED):
            raise RuntimeError(f"tenant set changed: {ids}")
        self.dates = [f"2024-01-{FIRST_DATE + i:02d}" for i in range(DAYS)]
        self.rounds = 0
        self.before_reprocess: dict[str, pd.DataFrame] = {}
        self.final: dict[str, pd.DataFrame] = {}

    def trace_targets(self) -> list:
        from dagster_etl_spark.orchestration import pipeline
        from dagster_etl_spark.sources import lake

        return [
            (pipeline.PipelineRunner, "extract", "orchestration.extract"),
            (pipeline.PipelineRunner, "transfer", "orchestration.transfer"),
            (pipeline.PipelineRunner, "load", "orchestration.load"),
            (pipeline, "load_table", "sources.load_table"),
            (lake, "write_partition", "sources.lake_write"),
            (pipeline, "upsert_parquet", "writers.upsert"),
        ]

    def _runner(self, tenant, base: str):
        from dagster_etl_spark.orchestration import PipelineRunner

        return PipelineRunner(self.spark, tenant, self.sf_dir, f"{base}/lake", f"{base}/wh")

    def warm_up(self) -> None:
        """One untimed partition per tenant into a throwaway lake and
        warehouse. Its cost is the JVM's and the pipeline code's
        first use, so the tenants run side by side: one cold partition
        alone takes as long as both together."""
        base = os.path.join(self.work, "tenant_warm")
        with ThreadPoolExecutor(len(self.tenants)) as pool:
            runs = [
                pool.submit(self._runner(t, f"{base}/{t.tenant_id}").run_partition, WARM_DATE)
                for t in self.tenants
            ]
            for f in runs:
                f.result()
        shutil.rmtree(base, ignore_errors=True)

    def _tables(self, base: str) -> dict[str, pd.DataFrame]:
        con = duckdb.connect()
        out = {}
        for tables in _EXPECTED.values():
            for table in tables:
                out[table] = con.execute(
                    f"SELECT * FROM read_parquet('{base}/wh/{table}/*.parquet')"
                ).fetchdf()
        con.close()
        return out

    def round(self, tr) -> Round:
        base = os.path.join(self.work, f"tenant_r{self.rounds}")
        shutil.rmtree(base, ignore_errors=True)
        self.rounds += 1
        lat, rows, failed, attempted = [], 0, 0, 0
        amp = [0, 0]  # bytes of targets after load, bytes of load batches

        def run(tenant, date: str) -> None:
            nonlocal rows, failed, attempted
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("tenant_etl.partition"):
                    res = self._runner(tenant, base).run_partition(date)
            except Exception:
                failed += 1
                return
            finally:
                lat.append(time.perf_counter() - t0)
            rows += sum(st["extract"]["row_count"] for st in res.values())
            if tr.sc is not None:
                for st in res.values():
                    if "load" in st:
                        staged = st.get("transfer", st["extract"])
                        amp[0] += dir_bytes(st["load"]["path"])
                        amp[1] += dir_bytes(staged["path"])

        for d in self.dates:
            for t in self.tenants:
                run(t, d)
        self.before_reprocess = self._tables(base)
        for d in self.dates[-REPROCESS:]:
            for t in self.tenants:
                run(t, d)
        self.final = self._tables(base)
        if tr.sc is not None:
            tr.count("sources.lake_files", len(dir_files(f"{base}/lake")))
            tr.count("writers.target_bytes", amp[0])
            tr.count("writers.batch_bytes", amp[1])
        # the round's time is its partitions' time: the warehouse
        # snapshots taken for the check are not part of the workload
        wall = sum(lat)
        named = {"partition_p50_s": statistics.median(lat), "rows_per_s": rows / wall}
        return Round(wall, lat, attempted, failed, named)

    def check(self) -> list[str]:
        problems = []
        con = duck_views(self.sf_dir)
        for tenant, tables in _EXPECTED.items():
            for table, sql in tables.items():
                want = con.execute(
                    " UNION ALL ".join(
                        f"SELECT *, '{d}' AS snapshot_date, '{tenant}' AS project_id "
                        f"FROM ({sql.format(d=d)})"
                        for d in self.dates
                    )
                ).fetchdf()
                got = self.final.get(table)
                if got is None:
                    problems.append(f"{table}: missing")
                    continue
                err = frames_equal(got, want)
                if err:
                    problems.append(f"{table}: {err}")
                err = frames_equal(self.before_reprocess.get(table, pd.DataFrame()), got)
                if err:
                    problems.append(f"{table}: re-processing changed it: {err}")
        con.close()
        return problems


# -- neardup stream ------------------------------------------------------------

THRESHOLD = 0.2
# slice id of the batch ingested untimed before each stream; the stream's
# own batch ids count from 0
WARM_SLICE = 1_000_000


class NearDupStream:
    """Documents streamed one batch file per trigger (``availableNow``)
    into ``IncrementalNearDupIndex.ingest_slice`` under ``foreachBatch``,
    then ``compact_slices`` and ``pairs``. Each round starts a fresh
    index; batch 0 is ingested into it untimed first, so the stream's
    first trigger does not carry the index's first-use costs."""

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.schema = spark.read.parquet(inputs.stream_dir).schema
        self.n_triggers = len(os.listdir(inputs.stream_dir))
        self.n_docs = spark.read.parquet(inputs.stream_dir).count()
        self.rounds = 0
        self.pairs: pd.DataFrame | None = None

    def _slice_files(self, idx) -> int:
        # the slice region of IncrementalNearDupIndex: beside its tables
        # in the warehouse, named after its bands table
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return len(dir_files(f"{wh}/{idx.bands_table.lower()}__slices"))

    def run(self, tr) -> Round:
        from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
        from dagster_etl_spark.plans.cache import release_pinned

        name = f"perfbench_nd{self.rounds}"
        ckpt = os.path.join(self.work, f"{name}_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        self.rounds += 1
        idx = IncrementalNearDupIndex(self.spark, name)
        idx.drop()
        with tr.span("streaming.warm_slice"):
            idx.ingest_slice(self.spark.read.parquet(self.inputs.warm_file), WARM_SLICE, THRESHOLD)
        ingest_s: list[float] = []
        failed = 0
        stream_span: list[int | None] = [None]

        def ingest_batch(batch_df, batch_id: int) -> None:
            nonlocal failed
            t0 = time.perf_counter()
            try:
                with tr.span("streaming.ingest_slice", parent=stream_span[0]):
                    if batch_df.isEmpty():
                        return
                    if not idx.ingest_slice(batch_df, batch_id, THRESHOLD):
                        tr.count("streaming.ingest_skipped")
            except Exception:
                failed += 1
                raise
            finally:
                ingest_s.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        with tr.span("streaming.stream"):
            stream_span[0] = tr.current()
            q = (
                self.spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.inputs.stream_dir)
                .writeStream.foreachBatch(ingest_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            tr.alias(str(q.runId), stream_span[0])
            try:
                q.awaitTermination()
            except Exception:
                failed += 1
        stream_s = time.perf_counter() - t0
        trig = [
            p["durationMs"]["triggerExecution"] / 1000
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        if tr.sc is not None:
            tr.count("streaming.committed_slice_files", self._slice_files(idx))
            tr.count("streaming.trigger_s", sum(trig))
            tr.count("streaming.batch_ingest_s", sum(ingest_s))
        t1 = time.perf_counter()
        try:
            with tr.span("streaming.compact_slices"):
                idx.compact_slices()
        except Exception:
            failed += 1
        compact_s = time.perf_counter() - t1
        try:
            with tr.span("operators.pairs"):
                idx.pairs().count()
        except Exception:
            failed += 1
        tr.count("plans.pinned_released", release_pinned())
        # untimed: keep this round's pairs for the check
        self.pairs = idx.pairs().toPandas()
        failed += abs(self.n_triggers - len(trig))
        wall = stream_s + compact_s
        named = {
            "batch_p50_s": statistics.median(trig) if trig else float("nan"),
            "docs_per_s": self.n_docs / wall,
        }
        return Round(wall, trig, len(trig) + 2, failed, named)

    def check(self) -> list[str]:
        from dagster_etl_spark.operators.dedup import minhash_neardup_pairs

        if self.pairs is None:
            return ["no stream round completed"]
        docs = self.spark.read.parquet(self.inputs.warm_file, self.inputs.stream_dir)
        want = minhash_neardup_pairs(docs, threshold=THRESHOLD).toPandas()
        err = frames_equal(self.pairs, want)
        return [f"pairs vs one-shot minhash_neardup_pairs: {err}"] if err else []


# -- workloads -----------------------------------------------------------------


class QueryStream:
    """Read-only analytics then streaming ingest: one round is a query
    pass followed by one near-dup stream. Requests (``op_s``) are the
    queries; the round's time is the pass plus the stream plus its
    compaction."""

    name = "query_stream"

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        self.queries = QueryMix(spark, inputs, work_dir)
        self.stream = NearDupStream(spark, inputs, work_dir)

    def trace_targets(self) -> list:
        return []

    def warm_up(self) -> None:
        self.queries.warm_up()

    def round(self, tr) -> Round:
        q = self.queries.run(tr)
        s = self.stream.run(tr)
        return Round(
            q.wall_s + s.wall_s,
            q.op_s,
            q.attempted + s.attempted,
            q.failed + s.failed,
            q.named | s.named,
        )

    def check(self) -> list[str]:
        return self.queries.check() + self.stream.check()


WORKLOADS = {w.name: w for w in (QueryStream, TenantEtl)}
