"""Warehouse writers — SURVEY §2 S8-S12.

The reference loads into Trino with hand-built SQL: 1000-row INSERT
VALUES batches and a per-row DELETE loop for upserts (reference:
etl/resources/trino.py:104-225). Both anti-patterns disappear on
Spark: appends are distributed file/JDBC writes; the keyed upsert is a
null-safe anti-join rewrite (or Iceberg/Delta ``MERGE INTO`` where a
transactional catalog is configured — the production path; this
container has plain Parquet only).

Faithful semantics reproduced from the reference:
* delete-then-insert by composite key, so duplicate keys **within the
  source batch** insert duplicates (not collapsed to one row) —
  reference behavior, tested;
* NULL key values match NULL target keys (``IS NULL`` branch at
  trino.py:206-207) -> null-safe equality ``<=>`` in the join;
* re-running the same batch is idempotent.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dagster_etl_spark.sources.lake import check_exists, delete_path, rename_or_raise


def with_tenant(df: DataFrame, tenant_id: str, column: str = "project_id") -> DataFrame:
    """S12: tenant-column injection before load (reference:
    etl/factories/asset_factory.py:380-381)."""
    return df.withColumn(column, F.lit(tenant_id))


def null_safe_key_condition(left: DataFrame, right: DataFrame, keys: list[str]):
    """``l.k <=> r.k`` conjunction — NULL keys match NULL keys."""
    return reduce(
        lambda a, b: a & b, [left[k].eqNullSafe(right[k]) for k in keys]
    )


# how long a finished write may take to report its observed row count:
# Spark completes an Observation from the listener bus, a few ms after
# the action returns; the bound only turns a pruned observation into an
# error instead of a hang
OBSERVE_TIMEOUT_S = 120.0


def observe_rows(
    df: DataFrame, obs: Observation | None = None
) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached: the action that consumes the
    returned frame (a write) reports its row count, with no extra job.
    Read it with :func:`observed_rows` after the action succeeds."""
    obs = obs or Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def observed_rows(obs: Observation) -> int:
    """The row count an :func:`observe_rows` frame saw in its first
    action. Raises instead of blocking forever when the metric never
    arrives — Spark drops it if the optimizer prunes the observed node
    (an observed side of a join with an empty relation)."""
    got: Future[int] = Future()

    def fetch() -> None:
        try:
            got.set_result(int(obs.get["rows"]))
        except Exception as exc:  # re-raised to the caller by got.result()
            got.set_exception(exc)

    threading.Thread(target=fetch, daemon=True).start()
    return got.result(timeout=OBSERVE_TIMEOUT_S)


def write_counted(df: DataFrame, path: str, mode: str) -> int:
    """Write ``df`` as Parquet at ``path``; returns the rows written,
    observed on the write itself."""
    written, rows = observe_rows(df)
    written.write.mode(mode).parquet(path)
    return observed_rows(rows)


def upsert_keys_plan(
    target: DataFrame, source: DataFrame, keys: list[str], inserted: Observation | None = None
) -> DataFrame:
    """Pure-plan upsert: target rows whose key is absent from source,
    plus ALL source rows (delete-then-insert semantics, S9).

    The anti-join's right side is the distinct key set only — tiny
    relative to the batch, so Spark broadcasts it and the target scan
    never shuffles. At cluster scale with Iceberg this becomes
    ``MERGE INTO t USING s ON <null-safe keys> WHEN MATCHED THEN DELETE``
    + append, with partition-level file pruning.

    ``inserted``, when given, counts the source rows on the union side
    only, so the key-set branch's scan of the same source is not counted.
    """
    src_keys = source.select(*keys).distinct()
    kept = target.join(
        F.broadcast(src_keys), on=null_safe_key_condition(target, src_keys, keys), how="left_anti"
    )
    batch = source.select(*target.columns)
    if inserted is not None:
        batch, _ = observe_rows(batch, inserted)
    return kept.unionByName(batch)


def upsert_parquet(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
) -> dict[str, int]:
    """Keyed upsert into a Parquet path; returns {"deleted", "inserted"}
    like the reference (trino.py:165-225).

    Parquet is not transactional, so the merge materializes to a
    staging dir and swaps via rename — readers never see a partial
    state under the final path.

    The counts come from the merge write itself, with no count jobs:
    ``before`` is observed on the target scan, ``inserted`` on the
    source side of the union (each source row once, duplicates
    included), ``after`` on the merged output, and
    ``deleted = before + inserted - after``. The first write into a
    missing path observes the source it writes.
    """
    if not check_exists(spark, path):
        return {"deleted": 0, "inserted": write_counted(source, path, "overwrite")}

    target, before = observe_rows(spark.read.parquet(path))
    inserted = Observation()
    merged, after = observe_rows(upsert_keys_plan(target, source, keys, inserted))
    staging = path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    n_before, n_inserted, n_after = map(observed_rows, (before, inserted, after))

    # rename-aside swap: the old data survives (as __old) until the new
    # data is in place, so a crash mid-swap never loses the target —
    # delete-then-rename would. (True atomicity needs a table format:
    # Iceberg/Delta MERGE is the production path, merge_delete_sql.)
    fs, final_p, jvm = _fs(spark, path)
    staging_p = jvm.org.apache.hadoop.fs.Path(staging)
    old_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    fs.delete(old_p, True)
    rename_or_raise(fs, final_p, old_p)
    try:
        rename_or_raise(fs, staging_p, final_p)
    except IOError:
        fs.rename(old_p, final_p)  # restore the target before surfacing
        raise
    if not fs.exists(final_p):
        raise IOError(f"merged data missing at {path} after swap; old copy kept")
    fs.delete(old_p, True)

    return {"deleted": n_before + n_inserted - n_after, "inserted": n_inserted}


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def append_parquet(source: DataFrame, path: str) -> int:
    """S8 batch insert -> distributed append (no literal rendering);
    returns the rows the append wrote."""
    return write_counted(source, path, "append")


def truncate_parquet(spark: SparkSession, path: str) -> None:
    """S10: truncate = delete the path (next write recreates)."""
    delete_path(spark, path)


def merge_delete_sql(catalog_table: str, keys: list[str]) -> str:
    """S9 production form, phase 1 of delete-then-insert: Iceberg/Delta
    MERGE deleting target rows whose (null-safe) key appears in the
    source batch; phase 2 is a plain distributed append of the batch.
    A single MERGE with UPDATE+INSERT would collapse duplicate source
    keys — the reference deliberately re-inserts them (trino.py:165-225).
    Emitted as SQL text only; the test container has no transactional
    catalog."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    return f"MERGE INTO {catalog_table} t USING __source s ON {on} WHEN MATCHED THEN DELETE"


def upsert_dml(table: str, staging: str, keys: list[str], columns: list[str]) -> list[str]:
    """S9 executable form for live warehouses without ``MERGE`` support:
    set-based delete-then-insert in ANSI SQL. Null-safe key equality via
    ``IS NOT DISTINCT FROM`` (the ANSI spelling of ``<=>``), duplicate
    source keys re-inserted as duplicates — the exact reference
    semantics (trino.py:165-225), minus its per-row DELETE loop.

    Runs as-is on DuckDB, Postgres and Trino; :func:`execute_upsert_dml`
    wraps the pair in one transaction.
    """
    on = " AND ".join(f"s.{k} IS NOT DISTINCT FROM {table}.{k}" for k in keys)
    cols = ", ".join(columns)
    return [
        f"DELETE FROM {table} WHERE EXISTS (SELECT 1 FROM {staging} s WHERE {on})",
        f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}",
    ]


def execute_upsert_dml(
    con, table: str, staging: str, keys: list[str], columns: list[str]
) -> dict[str, int]:
    """Execute the keyed upsert live over a DB-API connection, one
    transaction — the executable analog of the reference's Trino DML
    (trino.py:165-225: transactional delete of matched keys, then
    insert of the whole batch). ``con`` is any DB-API connection whose
    dialect accepts the ANSI DML from :func:`upsert_dml` (DuckDB in the
    test container; Postgres/Trino in production)."""
    delete_sql, insert_sql = upsert_dml(table, staging, keys, columns)
    con.execute("BEGIN")
    try:
        deleted = _dml_rowcount(con.execute(delete_sql))
        inserted = _dml_rowcount(con.execute(insert_sql))
        con.execute("COMMIT")
    except Exception:
        con.execute("ROLLBACK")
        raise
    return {"deleted": deleted, "inserted": inserted}


def _dml_rowcount(cursor) -> int:
    """Affected-row count from a DB-API DML result. DuckDB surfaces it
    as a one-row ``Count`` result set; drivers without a result set
    (``description is None``) report it via ``rowcount``."""
    if cursor.description is None:
        return int(cursor.rowcount)
    rows = cursor.fetchall()
    if len(rows) != 1 or len(rows[0]) != 1:
        raise ValueError(f"DML count result must be one row of one column, got {rows!r}")
    return int(rows[0][0])
