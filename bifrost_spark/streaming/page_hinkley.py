"""Streaming Page-Hinkley drift monitor: per micro-batch of raw events,
continue the running-mean deviation walk from the state already emitted
— the always-on deployment of ``q_page_hinkley``
(queries/experiment_ops.py) and the FIFTH batch↔streaming pairing
(centroid_drift, sketch_drift, sprt_monitor, cusum_monitor, and now
Page-Hinkley).

State device — the EXACT-carry refinement of the family: PH is pure
prefix sums (no max-clamp recursion), so the output can carry the state
EXACTLY: each emitted day row keeps its day count ``t`` (integer), the
cumulative DECIMAL(28,12) metric sum ``sum_m`` and addend sum
``sum_add`` (parquet round-trips decimals losslessly), and the running
minimum ``ph_min`` (a previously-computed double).  Batch N takes the
last day's row of the newest output partition below N
(streaming/_fold.py) and hands those values back to the SAME ``ph_walk``
helper — so the continued walk is BIT-IDENTICAL to a single-shot walk
over all days, which the multi-batch differential gates assert with set
equality, not tolerance.  Contrast: the SPRT twin carries integer
counts and the CUSUM twin raw clamped doubles; PH closes the family
with exact decimal carries.

Ordering contract and backfill rejection are the fold's: batches carry
whole days in increasing day order; a batch whose earliest day does not
strictly follow the last emitted day is rejected.

No baseline artifact at all: Page-Hinkley's reference level is the
running mean itself, which is exactly why it is the drift monitor you
can deploy on a metric with no trusted warm-up week.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bifrost_spark.queries.experiment_ops import ph_decisions, ph_walk
from bifrost_spark.queries.monitor_ops import cusum_daily_frame
from bifrost_spark.streaming._fold import Fold, newest


def ph_state(prior: list) -> tuple:
    """(t, sum_m, sum_add, ph_min): the last emitted day's exact carry."""
    last = newest(prior)
    if last is None:
        return 0, None, None, None
    return last["t"], last["sum_m"], last["sum_add"], last["ph_min"]


def batch_ph_update(batch: DataFrame, state: tuple) -> DataFrame:
    """One micro-batch of raw events → its days' PH rows continued from
    the carried (t, sum_m, sum_add, ph_min) state, with the exact state
    columns kept alongside the decision contract for the next batch's
    recovery."""
    t0, sum_m0, sum_add0, min0 = state
    rows = ph_walk(
        # cusum_daily_frame: the shared 12-dp daily-mean spelling (the
        # batch query's _daily_means over a loaded table is identical)
        cusum_daily_frame(batch).select("day", "m"),
        t0=t0,
        sum_m0=sum_m0,
        sum_add0=sum_add0,
        min0=min0,
    )
    return ph_decisions(rows).join(
        rows.select("day", "t", "sum_m", "sum_add", "ph_min"), "day"
    )


PAGE_HINKLEY = Fold("page_hinkley", ph_state, batch_ph_update)


def start_ph_monitor(
    stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Start the monitor on a stream of raw events: each micro-batch
    folds its days' means, continues the prefix-sum walk from the
    output-carried exact state, and emits per-day decision+state rows to
    the batch_id-partitioned replay-idempotent sink."""
    return PAGE_HINKLEY.start(stream, output_path, checkpoint_path)
