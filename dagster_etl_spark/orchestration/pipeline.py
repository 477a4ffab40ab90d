"""Staged pipeline runner — the asset-factory analog (SURVEY §3 entry
point 2): extract → transfer → load per partition, with the reference's
stage-handoff contract (each stage writes lake Parquet and passes a
``{"path", "row_count", "tenant_id"}`` dict; reference:
etl/factories/asset_factory.py:105-431).

Spark-first differences, by design:
* the extract partition predicate is composed with ``.filter`` —
  Catalyst pushes it into the scan — instead of string-appending WHERE
  to the source SQL (which breaks on queries that already have WHERE /
  ORDER BY; reference bug at etl/resources/rdb.py:97);
* the committed lake checkpoint is the only data path between stages:
  the handoff's ``"df"`` reads back the partition path just written,
  so transfer and load scan the small lake partition instead of
  re-running the source scan and upstream transforms, and in-run and
  Dagster runs consume identical inputs (as the reference does,
  round-tripping pandas through S3). A returned ``"df"`` is only
  valid until that partition is re-run, which overwrites its files;
* ``row_count`` is observed on the write itself
  (:func:`~dagster_etl_spark.writers.upsert.observe_rows`), not
  recounted by a separate job;
* the load stage is the distributed keyed-upsert writer, not per-row
  DELETE + 1000-row INSERT literals.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagster_etl_spark.orchestration.config import PipelineConfig, TenantConfig
from dagster_etl_spark.orchestration.plugins import (
    resolve_extract_query,
    resolve_load_config,
    resolve_transfer,
)
from dagster_etl_spark.sources import lake
from dagster_etl_spark.sources.fixtures import load_table
from dagster_etl_spark.writers.upsert import (
    append_parquet,
    observe_rows,
    observed_rows,
    upsert_parquet,
    with_tenant,
    write_counted,
)

StepHook = Callable[[dict[str, Any]], None]


@dataclass
class RunContext:
    """Step-level observability (A9/S13 substrate): one record per
    stage execution, exportable via orchestration.observability."""

    records: list[dict[str, Any]] = field(default_factory=list)
    hooks: list[StepHook] = field(default_factory=list)

    def record(self, **kw: Any) -> None:
        kw.setdefault("ts", time.time())
        self.records.append(kw)
        for h in self.hooks:
            h(kw)


class PipelineRunner:
    """Runs a tenant's configured pipelines for one partition date."""

    def __init__(
        self,
        spark: SparkSession,
        tenant: TenantConfig,
        source_dir: str,
        lake_base: str,
        warehouse_base: str,
        context: RunContext | None = None,
    ):
        self.spark = spark
        self.tenant = tenant
        self.source_dir = source_dir
        self.lake_base = lake_base
        self.warehouse_base = warehouse_base
        self.ctx = context or RunContext()

    # -- stages ---------------------------------------------------------------

    def extract(self, p: PipelineConfig, partition_date: str | None) -> dict[str, Any]:
        """Source scan (S1/S2): fixture Parquet (or JDBC behind the same
        interface), custom-query override (U2) > config.query > full
        scan, explicit column list (P1), composed partition predicate
        (P5), lake checkpoint write (S4)."""
        t0 = time.time()
        sql = resolve_extract_query(self.tenant.tenant_id, p.name) or p.query
        df = load_table(self.spark, self.source_dir, p.source_table)
        if sql is not None:
            df.createOrReplaceTempView(p.source_table)
            df = self.spark.sql(sql)
        if p.columns:
            df = df.select(*p.columns)
        lake_date = partition_date if p.date_column is not None else None
        if p.date_column is not None and partition_date is not None:
            df = df.filter(F.to_date(F.col(p.date_column)) == F.lit(partition_date))
        return self._checkpoint(df, p, "extract", lake_date, t0)

    def transfer(
        self,
        p: PipelineConfig,
        partition_date: str | None,
        upstream: dict[str, dict[str, Any]],
    ) -> dict[str, Any]:
        """U1 transfer function over named inputs: the in-run extract
        handoffs when given, else the lake checkpoints (the same data)."""
        t0 = time.time()
        inputs: dict[str, DataFrame] = {}
        for name in p.input_names:
            if name in upstream:
                inputs[name] = upstream[name]["df"]
            else:
                try:  # master-data inputs checkpoint under latest/
                    in_date = (
                        partition_date
                        if self.tenant.pipeline(name).date_column is not None
                        else None
                    )
                except KeyError:
                    in_date = partition_date
                inputs[name] = lake.read_partition(
                    self.spark, self.lake_base, self.tenant.tenant_id,
                    "extract", name, in_date,
                )
        fn = resolve_transfer(self.tenant.tenant_id, p.transfer_fn_name)
        df = fn(inputs, partition_date or "latest", self.tenant.tenant_id)
        lake_date = partition_date if p.date_column is not None else None
        return self._checkpoint(df, p, "transfer", lake_date, t0)

    def load(
        self, p: PipelineConfig, partition_date: str | None, staged: dict[str, Any]
    ) -> dict[str, Any]:
        """S8-S12: tenant-column injection + keyed upsert (or append /
        overwrite) into the warehouse path."""
        t0 = time.time()
        cfg = resolve_load_config(self.tenant.tenant_id, p.name) or p.load
        if cfg is None:  # explicit raise, not assert: survives python -O
            raise ValueError(f"load stage without load config: {p.name}")
        df = with_tenant(staged["df"], self.tenant.tenant_id)
        target = f"{self.warehouse_base.rstrip('/')}/{cfg.table}"
        if cfg.mode == "upsert":
            stats = upsert_parquet(self.spark, df, target, cfg.key_columns)
        elif cfg.mode == "append":
            stats = {"deleted": 0, "inserted": append_parquet(df, target)}
        else:
            stats = {"deleted": -1, "inserted": write_counted(df, target, "overwrite")}
        rec = {"df": df, "path": target, "row_count": stats["inserted"],
               "tenant_id": self.tenant.tenant_id, **stats}
        self.ctx.record(
            tenant=self.tenant.tenant_id, pipeline=p.name, stage="load",
            status="success", rows=stats["inserted"], elapsed_sec=round(time.time() - t0, 3),
        )
        return rec

    # -- orchestration --------------------------------------------------------

    def run_pipeline(
        self,
        name: str,
        partition_date: str | None,
        upstream: dict[str, dict[str, Any]] | None = None,
    ) -> dict[str, dict[str, Any]]:
        """extract → [transfer] → [load] for one pipeline; returns the
        stage handoffs keyed by stage."""
        p = self.tenant.pipeline(name)
        upstream = dict(upstream or {})
        out: dict[str, dict[str, Any]] = {}
        try:
            out["extract"] = self.extract(p, partition_date)
            upstream[p.name] = out["extract"]
            staged = out["extract"]
            if p.has_transfer:
                out["transfer"] = self.transfer(p, partition_date, upstream)
                staged = out["transfer"]
            if p.load is not None or resolve_load_config(self.tenant.tenant_id, p.name):
                out["load"] = self.load(p, partition_date, staged)
        except Exception as exc:  # failure hook parity (etl_hooks.py:19-82)
            self.ctx.record(
                tenant=self.tenant.tenant_id, pipeline=name, stage="run",
                status="failure", error=str(exc)[:500],
            )
            raise
        return out

    def run_partition(self, partition_date: str | None) -> dict[str, dict[str, Any]]:
        """All configured pipelines, extracts first (shared inputs),
        then transfers/loads — the per-partition daily job."""
        handoffs: dict[str, dict[str, Any]] = {}
        results: dict[str, dict[str, Any]] = {}
        for p in self.tenant.pipelines:
            handoffs[p.name] = self.extract(p, partition_date)
        for p in self.tenant.pipelines:
            staged = handoffs[p.name]
            stages = {"extract": staged}
            if p.has_transfer:
                stages["transfer"] = self.transfer(p, partition_date, handoffs)
                staged = stages["transfer"]
            if p.load is not None or resolve_load_config(self.tenant.tenant_id, p.name):
                stages["load"] = self.load(p, partition_date, staged)
            results[p.name] = stages
        return results

    # -- internals ------------------------------------------------------------

    def _checkpoint(
        self, df: DataFrame, p: PipelineConfig, stage: str, lake_date: str | None, t0: float
    ) -> dict[str, Any]:
        """Commit ``df`` as the stage's lake partition and hand off a
        read of that partition, counted by the write itself."""
        written, rows = observe_rows(df)
        path = lake.write_partition(
            written, self.lake_base, self.tenant.tenant_id, stage, p.name, lake_date
        )
        n = observed_rows(rows)
        self.ctx.record(
            tenant=self.tenant.tenant_id, pipeline=p.name, stage=stage,
            status="success", rows=n, elapsed_sec=round(time.time() - t0, 3),
        )
        return {"df": self.spark.read.parquet(path), "path": path, "row_count": n,
                "tenant_id": self.tenant.tenant_id}
