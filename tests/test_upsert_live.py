"""LIVE warehouse DML for SURVEY §2 S8/S9 — the keyed upsert executed
against a real database (DuckDB file), not just the parquet
join-rewrite: Spark lands the batch in a staging table over JDBC, then
``execute_upsert_dml`` runs the transactional delete-then-insert, and
the final table must equal ``upsert_keys_plan`` computed in Spark on
the same inputs.

This is the executable counterpart of the reference's Trino DML
(etl/resources/trino.py:165-225). ``MERGE INTO`` itself stays
text-emitted only (merge_delete_sql): no engine in this container
executes MERGE — DuckDB 1.0 predates it (added in 1.4) and Spark has
no row-level-operation catalog without Delta/Iceberg jars (probed:
absent). See COVERAGE.md §S9.
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import duckdb
import pytest

from dagster_etl_spark.sources.jdbc import find_duckdb_jdbc_jar
from dagster_etl_spark.writers.upsert import execute_upsert_dml, upsert_dml

REPO = Path(__file__).resolve().parents[1]

KEYS = ["lot_id", "step"]
COLS = ["lot_id", "step", "qty", "note"]

# target: 2 plain rows, 1 NULL-key row, 1 row untouched by the batch
TARGET = [
    ("lot_1", 10, 1.0, "old"),
    ("lot_1", 20, 2.0, "old"),
    (None, 10, 3.0, "old-null"),
    ("lot_9", 99, 9.0, "keep"),
]
# source: updates lot_1/10, matches the NULL key (null-safe), and
# carries a DUPLICATE key pair that must insert twice (reference
# delete-then-insert semantics, not MERGE-collapse)
SOURCE = [
    ("lot_1", 10, 100.0, "new"),
    (None, 10, 300.0, "new-null"),
    ("lot_2", 30, 5.0, "dup"),
    ("lot_2", 30, 6.0, "dup"),
]


def _expected_final():
    """Delete-then-insert by hand: target rows minus matched keys, plus
    every source row (duplicates kept)."""
    src_keys = {(r[0], r[1]) for r in SOURCE}
    kept = [r for r in TARGET if (r[0], r[1]) not in src_keys]
    return sorted(kept + SOURCE, key=lambda r: (str(r[0]), r[1], r[2]))


def test_upsert_dml_text_shape():
    delete_sql, insert_sql = upsert_dml("wip", "wip_staging", KEYS, COLS)
    assert "IS NOT DISTINCT FROM" in delete_sql
    assert delete_sql.count("IS NOT DISTINCT FROM") == len(KEYS)
    assert insert_sql.startswith("INSERT INTO wip (lot_id, step, qty, note)")


def test_execute_upsert_dml_live_duckdb(tmp_path):
    """Pure warehouse-side execution: staging loaded via DB-API, DML
    runs transactionally, final state matches hand-computed semantics
    (null-safe key match + duplicate re-insertion + idempotency)."""
    con = duckdb.connect(str(tmp_path / "wh.duckdb"))
    con.execute("CREATE TABLE wip (lot_id VARCHAR, step INT, qty DOUBLE, note VARCHAR)")
    con.execute("CREATE TABLE wip_staging AS SELECT * FROM wip WHERE 1=0")
    con.executemany("INSERT INTO wip VALUES (?, ?, ?, ?)", TARGET)
    con.executemany("INSERT INTO wip_staging VALUES (?, ?, ?, ?)", SOURCE)

    stats = execute_upsert_dml(con, "wip", "wip_staging", KEYS, COLS)
    assert stats == {"deleted": 2, "inserted": 4}
    got = sorted(
        con.execute("SELECT * FROM wip").fetchall(),
        key=lambda r: (str(r[0]), r[1], r[2]),
    )
    assert got == _expected_final()

    # re-running the same batch is idempotent (reference contract)
    stats2 = execute_upsert_dml(con, "wip", "wip_staging", KEYS, COLS)
    assert stats2 == {"deleted": 4, "inserted": 4}
    got2 = sorted(
        con.execute("SELECT * FROM wip").fetchall(),
        key=lambda r: (str(r[0]), r[1], r[2]),
    )
    assert got2 == _expected_final()
    con.close()


def test_execute_upsert_dml_rowcount_driver():
    """A driver whose DML returns no result set (sqlite3:
    ``description is None``) reports the affected rows via
    ``rowcount``; the stats match DuckDB's count-result path."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE wip (lot_id TEXT, step INT, qty REAL, note TEXT)")
    con.execute("CREATE TABLE wip_staging (lot_id TEXT, step INT, qty REAL, note TEXT)")
    con.executemany("INSERT INTO wip VALUES (?, ?, ?, ?)", TARGET)
    con.executemany("INSERT INTO wip_staging VALUES (?, ?, ?, ?)", SOURCE)
    con.commit()

    stats = execute_upsert_dml(con, "wip", "wip_staging", KEYS, COLS)
    assert stats == {"deleted": 2, "inserted": 4}
    got = sorted(
        con.execute("SELECT * FROM wip").fetchall(),
        key=lambda r: (str(r[0]), r[1], r[2]),
    )
    assert got == _expected_final()
    con.close()


def test_spark_to_live_warehouse_upsert(tmp_path):
    """Full pipeline shape: Spark computes the batch and lands it in
    the warehouse staging table over JDBC (live S8 append), the DML
    upserts it (live S9), and the warehouse's final state must equal
    Spark's own ``upsert_keys_plan`` on identical inputs. Subprocess
    because spark.jars must be set at session creation."""
    jar = find_duckdb_jdbc_jar()
    if jar is None:
        pytest.skip("no duckdb_jdbc jar on this machine (see COVERAGE.md S1-S3)")

    db = str(tmp_path / "wh.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE wip (lot_id VARCHAR, step INT, qty DOUBLE, note VARCHAR)")
    con.execute("CREATE TABLE wip_staging AS SELECT * FROM wip WHERE 1=0")
    con.executemany("INSERT INTO wip VALUES (?, ?, ?, ?)", TARGET)
    con.close()  # DuckDB is single-writer: release before the JVM connects

    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.sql import SparkSession, Row
        from pyspark.sql import functions as F
        from dagster_etl_spark.writers.upsert import upsert_keys_plan

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.jars", {jar!r})
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .getOrCreate()
        )
        cols = {COLS!r}
        source = spark.createDataFrame([tuple(r) for r in {SOURCE!r}], cols)
        target = spark.createDataFrame([tuple(r) for r in {TARGET!r}], cols)

        # live S8: distributed JDBC append into the warehouse staging table
        (source.write.format("jdbc")
            .option("url", "jdbc:duckdb:" + {db!r})
            .option("driver", "org.duckdb.DuckDBDriver")
            .option("dbtable", "wip_staging")
            .mode("append").save())

        # Spark-side truth for the same upsert
        plan_rows = sorted(
            [[r[c] for c in cols] for r in upsert_keys_plan(target, source, {KEYS!r}).collect()],
            key=lambda r: (str(r[0]), r[1], r[2]),
        )
        print("RESULT " + json.dumps(plan_rows))
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    spark_plan = [tuple(r) for r in json.loads(line[len("RESULT "):])]

    # JVM released the file; now execute the live DML warehouse-side
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM wip_staging").fetchone()[0] == len(SOURCE)
    stats = execute_upsert_dml(con, "wip", "wip_staging", KEYS, COLS)
    assert stats == {"deleted": 2, "inserted": 4}
    warehouse = sorted(
        con.execute("SELECT * FROM wip").fetchall(),
        key=lambda r: (str(r[0]), r[1], r[2]),
    )
    con.close()

    assert warehouse == _expected_final()
    assert [tuple(r) for r in warehouse] == spark_plan
