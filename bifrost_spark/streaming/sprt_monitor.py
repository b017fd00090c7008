"""Streaming SPRT experiment monitor: per micro-batch of enrollment
outcomes, continue Wald's sequential walk from the totals already
emitted — the always-on deployment of ``q_sprt_monitor``
(queries/monitor_ops.py), completing the batch↔streaming pairing family
(centroid_drift, sketch_drift, and now the sequential-decision monitor).

State device: the SPRT is inherently CUMULATIVE — batch N's llr needs
every prior batch's counts.  The running totals live in the monitor's
OWN OUTPUT (streaming/_fold.py): each emit writes per-day rows carrying
both the day increments (n_day, c_day) and the cumulative n_cum /
conv_cum, partitioned by batch_id.  Batch N continues from the last
day's cumulative counts in the newest partition below N.

Ordering contract: each micro-batch is USER-COMPLETE (a user's whole
event history arrives in one batch — the "observation window closed"
delivery every outcome-attribution pipeline uses, since a user's
converted flag is undefined until their window closes) and batches
arrive in increasing entry-day order.  A late enrollment would belong to
an already-emitted day and is a backfill correction, not a monitor
update; the fold rejects it.

Determinism mirrors q_sprt_monitor: counts are exact integers, the llr
multiplies them by PRECOMPUTED log literals (shared constants, one
spelling in monitor_ops.sprt_walk), decisions compare the same unrounded
double — a replayed batch emits identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.monitor_ops import arm_b_daily_enrollments, sprt_walk
from bifrost_spark.streaming._fold import Fold, newest


def sprt_state(prior: list) -> tuple[int, int]:
    """(n, c) already walked: the last emitted day's cumulative counts."""
    last = newest(prior)
    return (last["n_cum"], last["conv_cum"]) if last else (0, 0)


def batch_sprt_update(batch: DataFrame, state: tuple[int, int]) -> DataFrame:
    """One micro-batch of raw events → its arm-B daily enrollment
    increments walked forward from the prior totals."""
    return sprt_walk(arm_b_daily_enrollments(batch), *state)


SPRT = Fold("sprt_monitor", sprt_state, batch_sprt_update)


def start_sprt_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    derives its enrollment increments, continues the walk from the
    output-carried totals, and emits per-day decision rows to the
    batch_id-partitioned replay-idempotent sink."""
    return SPRT.start(stream, output_path, checkpoint_path)
