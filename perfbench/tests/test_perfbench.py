"""The benchmark's own tests: generator determinism, span arithmetic and
the event-log fold.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench import trace as T


def _tiny_source(root) -> str:
    """A fixture directory with every table the generator reads."""
    src = root / "src"
    src.mkdir()
    for name in gen.TABLES:
        cols = {"id": pa.array(range(40), pa.int64())}
        if name == "lineitem":
            start = dt.datetime(1995, 1, 2)
            cols["l_shipdate"] = pa.array(
                [start + dt.timedelta(days=i) for i in range(40)], pa.timestamp("us")
            )
        if name == "documents":
            cols["text"] = pa.array([f"doc {i}" for i in range(40)])
        pq.write_table(pa.table(cols), src / f"{name}.parquet")
    return str(src)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_same_seed_same_bytes(tmp_path):
    src = _tiny_source(tmp_path)
    a = gen.generate(src, str(tmp_path / "a"), seed=7, n_batches=3)
    b = gen.generate(src, str(tmp_path / "b"), seed=7, n_batches=3)
    c = gen.generate(src, str(tmp_path / "c"), seed=8, n_batches=3)
    da, db, dc = (_digest(os.path.dirname(i.sf_dir)) for i in (a, b, c))
    assert da == db
    assert da != dc


def test_generator_layout(tmp_path):
    src = _tiny_source(tmp_path)
    inp = gen.generate(src, str(tmp_path / "g"), seed=3, n_batches=4)
    li = pq.read_table(os.path.join(inp.sf_dir, "lineitem.parquet"))
    # the shift lands some ship day on the first day of the events window
    days = {t.date() for t in li.column("l_shipdate").to_pylist()}
    assert gen.EVENTS_START.date() in days
    assert li.num_rows == 40 and li.schema.field("l_shipdate").type == pa.timestamp("us")
    # every doc lands in exactly one batch: 1 warm-up file + 3 stream files
    assert len(os.listdir(inp.stream_dir)) == 3
    ids = pq.read_table(inp.warm_file).column("id").to_pylist()
    for f in sorted(os.listdir(inp.stream_dir)):
        ids += pq.read_table(os.path.join(inp.stream_dir, f)).column("id").to_pylist()
    assert sorted(ids) == list(range(40))
    # a table keeps its rows and schema, permuted
    docs = pq.read_table(os.path.join(inp.sf_dir, "documents.parquet"))
    assert sorted(docs.column("id").to_pylist()) == list(range(40))
    assert docs.column("id").to_pylist() != list(range(40))


def _span(sid, start, end, parent=None, name="s"):
    return T.Span(sid, name, start, end, parent, "r")


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # overlaps its sibling: counted once
        _span(4, 8.0, 12.0, 1),  # runs past its parent: clipped
        _span(5, 2.5, 2.75, 3),
    ]
    st = T.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.25)


def test_attribute_and_reconcile_on_synthetic_jobs():
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 6.0, 1)]
    jobs = [
        T.Job(0, f"{T.GROUP_PREFIX}1", 0.5, 1.5),  # root's own job
        T.Job(1, f"{T.GROUP_PREFIX}2", 3.0, 5.0),  # child's own job
        T.Job(2, f"{T.GROUP_PREFIX}2", 7.0, 8.0),  # child's group, outside it
    ]
    costs = T.attribute(spans, jobs)
    assert costs[1].self_s == pytest.approx(6.0)
    assert costs[1].jobs_s == pytest.approx(1.0)
    # driver time: the root's self region not covered by any job
    assert costs[1].driver_s == pytest.approx(6.0 - 1.0 - 1.0)
    assert costs[2].jobs_s == pytest.approx(2.0)
    assert costs[2].driver_s == pytest.approx(2.0)
    # job 2 covers 1 s of the root under another span's group: that
    # second is neither the root's jobs nor driver time
    assert T.reconcile(spans, costs, 1) == pytest.approx(1.0 / 10.0)
    # a job under an engine-set group (a streaming query's run id) goes
    # to the span the group is aliased to
    aliased = T.attribute(spans, [T.Job(3, "run-id", 3.0, 4.0)], {"run-id": 2})
    assert aliased[2].jobs == 1 and aliased[2].jobs_s == pytest.approx(1.0)


def test_interval_helpers():
    assert T.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert T.subtract([(0, 10)], [(2, 3), (5, 20)]) == [(0, 2), (3, 5)]
    assert T.length(T.intersect([(0, 10)], [(2, 3), (9, 11)])) == pytest.approx(2.0)


def test_event_log_fold_on_a_tiny_query(tmp_path):
    from pyspark.sql import functions as F

    from dagster_etl_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        "perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(log_dir),
            "spark.sql.warehouse.dir": str(tmp_path / "wh"),
        },
    )
    try:
        tracer = T.Tracer("test", spark.sparkContext)
        with tracer.span("root"):
            with tracer.span("query"):
                rows = (
                    spark.range(0, 1000, numPartitions=2)
                    .groupBy((F.col("id") % 3).alias("k"))
                    .count()
                    .collect()
                )
        assert sorted(r["count"] for r in rows) == [333, 333, 334]
        app_id = spark.sparkContext.applicationId
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    finally:
        spark.stop()
    jobs = T.fold_event_log(str(log_dir / app_id))
    root, query = sorted(tracer.spans, key=lambda s: s.id)
    mine = [j for j in jobs if j.group == f"{T.GROUP_PREFIX}{query.id}"]
    assert mine, "the query's jobs carry its span's job group"
    assert all(query.start - 0.05 <= j.start <= j.end <= query.end + 0.05 for j in mine)
    assert sum(j.totals["tasks"] for j in mine) >= 2
    assert sum(j.stages for j in mine) >= 1
    assert sum(j.totals["shuffle_write_bytes"] for j in mine) > 0
    costs = T.attribute(tracer.spans, jobs)
    assert costs[query.id].jobs == len(mine)
    assert abs(T.reconcile(tracer.spans, costs, root.id)) < 0.05
