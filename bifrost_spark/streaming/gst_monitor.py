"""Streaming group-sequential experiment monitor: per micro-batch of
enrollment outcomes, rebuild the K-look OBF/Pocock decision table from
the per-look counts already emitted — the always-on deployment of
``q_group_sequential`` (queries/experiment_ops.py) and the SIXTH
batch↔streaming pairing (centroid_drift, sketch_drift, sprt_monitor,
cusum_monitor, page_hinkley, and now the scheduled-looks design).

State device (output-carried, INTEGER counts — streaming/_fold.py): each
emit writes the full K-row decision table carrying the cumulative
readouts (n/conv per arm, z, boundaries, reject flags — the
q_group_sequential output contract), the anchor day (the experiment
start, fixed by the FIRST batch) and the batch's min/max entry days —
partitioned by batch_id.  Batch N reads the newest partition below N
and differences its cumulative n_a/conv_a/n_b/conv_b over ``look`` on
the driver to get the per-(variant, look) cells (at most 2K integers),
adds this batch's cells and rebuilds the table.  Integer counts recover
EXACTLY, so the continued table is identical to the single-shot one —
the multi-batch differential gates assert set equality, not tolerance.
Outputs written before the min_entry_day column existed also carry
per-look ``inc_*`` columns; recovery reads neither, so a restarted
stream continues from them.

Ordering contract (the fold's guard on min_entry_day against the prior
max_entry_day): each micro-batch is USER-COMPLETE (a user's whole
history arrives in one batch — the observation-window-closed delivery,
since `converted` is undefined before the window closes) and batches
arrive in strictly increasing entry-day order.  A late enrollment
belongs to an already-emitted entry day and is a backfill correction,
not a monitor update — rejected.  The anchor day never moves after
batch 0: with ordering, batch 0 holds the global earliest enrollment,
so the look schedule matches the batch query's.

Determinism mirrors q_group_sequential: counts are exact integers; z
and the PRECOMPUTED boundary literals come from the shared
``gs_decision_frame`` — one spelling, decisions agree by construction.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.experiment_ops import (
    gs_assignments,
    gs_decision_frame,
    gs_look_cells,
)
from bifrost_spark.streaming._fold import Fold

_Cells = list[tuple[str, int, int, int]]


def gst_state(prior: list) -> tuple[_Cells, _dt.date | None]:
    """(per-(variant, look) cells, anchor day) from the newest prior
    table: its cumulative counts differenced over ``look``."""
    cells: _Cells = []
    prev = (0, 0, 0, 0)
    for r in sorted(prior, key=lambda r: r["look"]):
        cum = (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"])
        cells.append(("A", r["look"], cum[0] - prev[0], cum[1] - prev[1]))
        cells.append(("B", r["look"], cum[2] - prev[2], cum[3] - prev[3]))
        prev = cum
    return cells, (prior[0]["anchor_day"] if prior else None)


def batch_gst_update(
    batch: DataFrame, state: tuple[_Cells, _dt.date | None]
) -> DataFrame:
    """One micro-batch of raw events → the full K-look decision table
    with its anchor and the batch's min/max entry days; empty for a
    batch with no attributable users."""
    prior_cells, anchor = state
    spark = batch.sparkSession
    assign = gs_assignments(batch)
    bounds = assign.agg(
        F.min(F.col("first_day").cast("date")).alias("min_entry_day"),
        F.max(F.col("first_day").cast("date")).alias("max_entry_day"),
    ).filter(F.col("min_entry_day").isNotNull())
    anchor_col = (
        F.col("min_entry_day") if anchor is None else F.lit(anchor).cast("date")
    )
    bounds = bounds.select(
        anchor_col.alias("anchor_day"), "min_entry_day", "max_entry_day"
    )
    cells = gs_look_cells(assign, bounds.select(F.col("anchor_day").alias("d0")))
    if prior_cells:
        prior = spark.createDataFrame(
            prior_cells, "variant string, look bigint, n bigint, c bigint"
        )
        cells = (
            cells.unionByName(prior)
            .groupBy("variant", "look")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("c").cast("bigint").alias("c"),
            )
        )
    return gs_decision_frame(spark, cells).crossJoin(bounds)


GST = Fold(
    "gst_monitor", gst_state, batch_gst_update, ("min_entry_day", "max_entry_day")
)


def start_gst_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    derives its per-look enrollment cells, rebuilds the K-look decision
    table from the output-carried cumulative counts, and emits it to the
    batch_id-partitioned replay-idempotent sink."""
    return GST.start(stream, output_path, checkpoint_path)
