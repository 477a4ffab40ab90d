"""Seeded input generator for the benchmark.

Re-lays a read-only fixture directory (the engine's ``sf0.1`` tables)
into a per-seed copy that the workloads read instead:

* every table is rewritten with pyarrow as ONE ``{name}.parquet`` file
  of many row groups, keeping the source schema, so
  ``fixtures.load_table`` and DuckDB read it unchanged while Spark
  splits each scan into several tasks;
* ``lineitem.l_shipdate`` is shifted by whole days so that a
  seed-chosen ship day lands on the first day of the ``events`` window
  (January 2024) -- without the shift the tenants' ``lot_history``
  pipelines extract 0 rows on every events date;
* ``documents`` is also sharded into ``n_batches`` batch files: the
  first under ``warm/`` (ingested untimed, before the stream starts),
  the rest under ``stream/``, one file per trigger.

The seed sets the row order of every table, the date shift and the
doc-to-batch assignment. The same seed and source give identical bytes.
The source directory is only read.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
# row groups per table file: enough that a scan splits into several
# tasks on a few cores; tables under ROW_GROUP_MIN rows stay one group
ROW_GROUPS = 16
ROW_GROUP_MIN = 256
EVENTS_START = dt.datetime(2024, 1, 1)
# generated seed directories kept beside the newest one
KEEP_SEEDS = 3
_DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class Inputs:
    """Paths of one generated input set."""

    sf_dir: str  # {name}.parquet per table
    warm_file: str  # documents batch 0
    stream_dir: str  # documents batches 1..n_batches-1


def _write(table: pa.Table, path: str) -> None:
    rg = max(ROW_GROUP_MIN, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rg, compression="snappy")


def _shift_shipdate(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    col = table.column("l_shipdate")
    unit = col.type.unit
    per_day = {"s": 86_400, "ms": 86_400_000, "us": _DAY_US, "ns": _DAY_US * 1000}[unit]
    first = pc.min(col).as_py()
    last = pc.max(col).as_py()
    # pick a ship day with at least a month of history after it
    span = max(1, (last - first).days - 31)
    day0 = dt.datetime(first.year, first.month, first.day) + dt.timedelta(
        days=int(rng.integers(0, span))
    )
    shift = (EVENTS_START - day0).days
    raw = col.cast(pa.int64())
    shifted = pc.add(raw, pa.scalar(shift * per_day, pa.int64())).cast(col.type)
    idx = table.schema.get_field_index("l_shipdate")
    return table.set_column(idx, table.schema.field(idx), shifted)


def _generate(src_dir: str, out: str, seed: int, n_batches: int) -> None:
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(out, "sf")
    stream_dir = os.path.join(out, "stream")
    os.makedirs(sf_dir)
    os.makedirs(stream_dir)
    os.makedirs(os.path.join(out, "warm"))
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        if name == "lineitem":
            table = _shift_shipdate(table, rng)
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
        if name == "documents":
            # the row order is already a seeded permutation: contiguous
            # chunks of it are a seeded doc-to-batch assignment
            bounds = np.linspace(0, table.num_rows, n_batches + 1).astype(int)
            base = 1_700_000_000
            for i in range(n_batches):
                path = os.path.join(out, "warm" if i == 0 else "stream", f"batch-{i:03d}.parquet")
                chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
                pq.write_table(chunk, path, compression="snappy")
                # the file source orders a directory by modification
                # time: pin it so batch i is always trigger i
                os.utime(path, (base + i, base + i))


def generate(src_dir: str, cache_root: str, seed: int, n_batches: int) -> Inputs:
    """Generate (or reuse the cached) inputs for ``seed``.

    The set is built in a temporary directory and renamed into place,
    so the set's directory exists only once it is complete."""
    out = os.path.join(cache_root, f"seed{seed}-b{n_batches}")
    if not os.path.isdir(out):
        missing = [t for t in TABLES if not os.path.exists(os.path.join(src_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"source fixtures missing in {src_dir}: {missing}")
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(src_dir, tmp, seed, n_batches)
        os.rename(tmp, out)
        _evict(cache_root, keep=out)
    return Inputs(
        os.path.join(out, "sf"),
        os.path.join(out, "warm", "batch-000.parquet"),
        os.path.join(out, "stream"),
    )


def _evict(cache_root: str, keep: str) -> None:
    """Drop all but the newest KEEP_SEEDS generated sets."""
    dirs = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith("seed") and ".tmp" not in d
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
