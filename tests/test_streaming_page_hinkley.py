"""Gates for the streaming Page-Hinkley monitor
(streaming/page_hinkley.py): exact batch parity with q_page_hinkley when
all days arrive in one micro-batch, BIT-identical walk continuation
across batches (exact decimal output-carried state — the strongest carry
in the pairing family), and backfill rejection end to end.  The
recovery, replay and three-batch gates shared by the four output-carried
monitors are in test_streaming_fold.py."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming.page_hinkley import start_ph_monitor
from bifrost_spark.tables import load_table

_OUT_COLS = ["day", "day_mean", "ph_m", "deficit", "alarm"]


def _rows(df):
    return {tuple(r[c] for c in _OUT_COLS) for r in df.select(*_OUT_COLS).collect()}


def _day_split(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    days = [
        r["day"]
        for r in ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .orderBy("day")
        .collect()
    ]
    mid = days[len(days) // 2]
    return ev, mid


def test_single_batch_matches_batch_twin_exactly(spark, sf_dir, tmp_path):
    ev, _ = _day_split(spark, sf_dir)
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = start_ph_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    assert _rows(spark.read.parquet(out)) == _rows(
        registry.queries()["q_page_hinkley"](spark, sf_dir)
    )


def test_multi_batch_state_continues_bit_identically(spark, sf_dir, tmp_path):
    ev, mid = _day_split(spark, sf_dir)
    src = str(tmp_path / "msrc")
    ev.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.parquet(src)
    ev.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "mout"), str(tmp_path / "mckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_ph_monitor(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    emitted = spark.read.parquet(out)
    assert emitted.select("batch_id").distinct().count() == 2
    # exact decimal carry → set equality with the single-shot batch walk
    assert _rows(emitted) == _rows(
        registry.queries()["q_page_hinkley"](spark, sf_dir)
    )


def test_continued_walk_equals_single_shot_walk(spark):
    """ph_walk continued from any split's carried (t, sum_m, sum_add,
    ph_min) equals the single-shot walk in every column.  Means carrying a
    5 in the 12th decimal make a sum rounded to 11 decimals anywhere in the
    carry (a DECIMAL(38,11) intermediate) show up as a changed row."""
    from bifrost_spark.queries.experiment_ops import ph_walk

    ms = [1.000000000005, 2.000000000005, 0.333333333333, 4.000000000005,
          7.123456789015, 0.5, 9.000000000005]
    d0 = datetime.date(2024, 1, 1)
    days = [(d0 + datetime.timedelta(i), m) for i, m in enumerate(ms)]
    daily = spark.createDataFrame(days, "day date, m double")
    full = ph_walk(daily).orderBy("day").collect()
    for cut in range(1, len(days)):
        split = F.lit(days[cut][0])
        last = ph_walk(daily.filter(F.col("day") < split)).orderBy(F.desc("day")).first()
        cont = ph_walk(
            daily.filter(F.col("day") >= split),
            t0=last["t"],
            sum_m0=last["sum_m"],
            sum_add0=last["sum_add"],
            min0=last["ph_min"],
        )
        assert cont.orderBy("day").collect() == full[cut:], f"split before day {cut}"


def test_backfill_batch_is_rejected(spark, sf_dir, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    ev, mid = _day_split(spark, sf_dir)
    src = str(tmp_path / "bsrc")
    ev.filter(F.date_trunc("day", "ts") >= F.lit(mid)).coalesce(1).write.parquet(src)
    ev.filter(F.date_trunc("day", "ts") < F.lit(mid)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out, ckpt = str(tmp_path / "bout"), str(tmp_path / "bckpt")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_ph_monitor(stream, out, ckpt)
    with pytest.raises(StreamingQueryException, match="ordering contract"):
        q.processAllAvailable()
    q.stop()
