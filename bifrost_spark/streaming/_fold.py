"""One ``foreachBatch`` fold for the output-carried streaming monitors
(sprt_monitor, cusum_monitor, page_hinkley, gst_monitor).

Each monitor is cumulative: batch N's rows continue a walk over every
earlier batch.  The walk's state lives in the monitor's OWN OUTPUT: every
emitted row carries the cumulative columns the next batch needs, and the
output is partitioned by ``batch_id``.  A monitor supplies two functions,
``state(prior_rows)`` and ``update(batch, state)``; the fold does the rest
per micro-batch N:

1. **Recover.**  List the output root once and read only the newest
   ``batch_id=M`` with M < N — one row per day (K rows for the
   group-sequential table), already holding the cumulative state.  A
   missing root is the first batch; an unreadable newest partition or a
   foreign entry in the root raises (only a missing path may reset a walk).
   The M < N restriction makes replay exactly-once: a re-run of batch N
   never reads its own half-written output, and the dynamic-overwrite sink
   rewrites ``batch_id=N`` in place.  Recovery cost does not grow with the
   age of the stream.
2. **Update and guard.**  Collect the update (summary-sized: one row per
   day or per look).  An empty update writes nothing.  Batches must arrive
   in key order: the batch's smallest ``lo`` key must exceed the prior
   partition's largest ``hi`` key, else the batch is a backfill correction
   for already-walked days and is rejected rather than appended as
   non-monotone duplicate rows.
3. **Write** the collected rows back as a local relation through
   ``write_batch_partition``: one file per batch, no second evaluation of
   the update and no executor-held checkpoint block.  Rows travel as
   Arrow both ways, so decimals, doubles and timestamp instants
   round-trip exactly and no Python worker starts.

Why output-carried state rather than ``applyInPandasWithState``
(SNIPPETS.md [1], used by ``streaming/stateful.py``): the carried values
are the exact integers, decimals and raw doubles the single-shot batch walk
computes, read back losslessly from parquet, so a continued or replayed
walk is bit-identical to the batch query; and the state is the readable
output itself, with no state store to version or rebuild.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.streaming._sink import batch_partitions, write_batch_partition


def prior_rows(spark, output_path: str, batch_id: int) -> list[dict]:
    """Rows of the newest output partition below ``batch_id``; empty when
    there is none (first batch)."""
    parts = batch_partitions(spark, output_path)
    older = [b for b in parts if b < batch_id]
    if not older:
        return []
    return spark.read.parquet(parts[max(older)]).toArrow().to_pylist()


def newest(rows: list[dict], key: str = "day") -> dict | None:
    """The row with the greatest non-null ``key``, or None."""
    keyed = [r for r in rows if r[key] is not None]
    return max(keyed, key=lambda r: r[key]) if keyed else None


@dataclass(frozen=True)
class Fold:
    """An output-carried monitor: ``state`` maps the newest prior
    partition's rows to the walk's carry, ``update`` continues the walk
    over one micro-batch; ``keys`` name the (lo, hi) ordering columns."""

    name: str
    state: Callable[[list[dict]], Any]
    update: Callable[[DataFrame, Any], DataFrame]
    keys: tuple[str, str] = ("day", "day")

    def emit(self, batch: DataFrame, batch_id: int, output_path: str) -> None:
        spark = batch.sparkSession
        prior = prior_rows(spark, output_path, batch_id)
        frame = self.update(batch, self.state(prior))
        table = frame.toArrow()
        if not table.num_rows:
            return
        lo_key, hi_key = self.keys
        lo = min((v for v in table[lo_key].to_pylist() if v is not None), default=None)
        hi = max((r[hi_key] for r in prior if r[hi_key] is not None), default=None)
        if lo is not None and hi is not None and lo <= hi:
            raise ValueError(
                f"{self.name}: batch {batch_id} starts at {lo_key} {lo} <= last "
                f"emitted {hi_key} {hi}; late rows are backfill corrections, "
                "not monitor updates (ordering contract)"
            )
        local = spark.createDataFrame(table, schema=frame.schema).coalesce(1)
        write_batch_partition(local, batch_id, output_path)

    def start(
        self, stream: DataFrame, output_path: str, checkpoint_path: str
    ) -> StreamingQuery:
        return (
            stream.writeStream.foreachBatch(
                lambda batch, batch_id: self.emit(batch, batch_id, output_path)
            )
            .option("checkpointLocation", checkpoint_path)
            .start()
        )
