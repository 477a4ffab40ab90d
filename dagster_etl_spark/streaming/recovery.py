"""Recoverable foreachBatch ingest: the kill/restart harness around the
exactly-once slice ingest (operators' ``ingest_slice`` +
streaming/slicestore.py).

The property a 100 TB streaming ingest actually banks on is not "the
stream ran to completion once" — it's "the machine died mid-batch and
the restarted stream converged to the same state." Structured
Streaming's checkpoint replays the in-flight batch on restart
(at-least-once delivery to foreachBatch); ``ingest_slice`` turns that
into exactly-once:

* crash BEFORE the slice's manifest commit → the replay recomputes and
  overwrites the staged slice directories (deterministic encode ⇒
  identical rows) and commits;
* crash AFTER the manifest commit but before Spark's own checkpoint
  commit → the replayed batch is detected as committed and skipped.

``run_recoverable_ingest`` drives one availableNow pass with an
optional injected fault (batch id + stage label) so tests can kill the
stream at the nastiest points — mid-staging and in the
manifest-committed/checkpoint-uncommitted window — then call it again
with the SAME checkpoint directory to recover, and assert the final
standing state hash-equals the uninterrupted one-shot operator.

Reference parity note: the reference is batch-only; its recovery story
is idempotent daily reprocessing (etl/common/assets/transfer.py). This
is that contract at micro-batch grain.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class InjectedFault(RuntimeError):
    """Deliberate test-only crash inside foreachBatch."""


def run_recoverable_ingest(
    spark: SparkSession,
    in_dir: str,
    ckpt_dir: str,
    ingest_slice: Callable[[DataFrame, int], bool],
    fail_at: tuple[int, str] | None = None,
) -> None:
    """One availableNow pass over the parquet drop directory ``in_dir``
    (maxFilesPerTrigger=1 ⇒ one file per micro-batch), checkpointed at
    ``ckpt_dir``. ``ingest_slice(batch_df, batch_id, fault_hook=...)``
    must be an exactly-once slice ingest: the ``ingest_slice`` of any
    :class:`~dagster_etl_spark.streaming.slicestore.SlicedIndex` (the
    BM25, unigram-LM, DSIR, near-dup, float-IVF and IVF-PQ indexes).

    ``fail_at=(batch_id, label)`` raises :class:`InjectedFault` inside
    foreachBatch when that batch's ingest reaches that stage label,
    failing the stream exactly as a process kill at that point would.
    The labels come from the index's component declaration:
    ``staged_<component>`` after each component is staged, in the order
    its staging body stages them, then ``post_commit``. Call again with
    the same ``ckpt_dir`` and ``fail_at=None`` to recover. Raises
    ``StreamingQueryException`` (cause: InjectedFault) on the failing
    pass."""
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def once(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hook = None
        if fail_at is not None and batch_id == fail_at[0]:

            def hook(label: str) -> None:
                if label == fail_at[1]:
                    raise InjectedFault(
                        f"injected kill at batch {batch_id} / {label}"
                    )

        ingest_slice(batch_df, batch_id, fault_hook=hook)

    q = (
        stream.writeStream.foreachBatch(once)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
