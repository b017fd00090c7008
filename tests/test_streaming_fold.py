"""Gates for the shared output-carried fold (streaming/_fold.py),
parametrized over the four monitors that run through it: a three-batch
continuation equals the single-shot batch walk, recovery reads only the
newest prior partition, replay of batch N never reads its own output,
only a missing output path resets a walk, and the one ordering guard
rejects backfill batches.  Each monitor's single-batch twin, two-batch
and end-to-end backfill gates stay in its own test module."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bifrost_spark import registry
from bifrost_spark.streaming._fold import Fold, prior_rows
from bifrost_spark.streaming._sink import batch_partitions
from bifrost_spark.streaming.cusum_monitor import cusum_fold, fit_cusum_baseline
from bifrost_spark.streaming.gst_monitor import GST
from bifrost_spark.streaming.page_hinkley import PAGE_HINKLEY
from bifrost_spark.streaming.sprt_monitor import SPRT
from bifrost_spark.tables import load_table

import test_streaming_cusum as cusum_t
import test_streaming_gst as gst_t
import test_streaming_page_hinkley as ph_t
import test_streaming_sprt as sprt_t

MONITORS = ["sprt_monitor", "cusum_monitor", "page_hinkley", "gst_monitor"]


@dataclass
class Case:
    fold: Fold
    batches: list[DataFrame]  # key-ordered, user-/day-complete
    rows: Callable[[DataFrame], set]  # a frame's compared rows
    twin: Callable[[], set]  # the single-shot batch walk's rows
    per_day: bool  # rows per day (else one whole table per batch)


def _by_day(ev: DataFrame, days: list, parts: int = 3) -> list[DataFrame]:
    """``ev`` cut at day boundaries into ``parts`` consecutive runs."""
    cuts = [days[len(days) * k // parts] for k in range(1, parts)]
    day = F.date_trunc("day", "ts")
    bounds = [None, *cuts, None]
    return [
        ev.filter(
            (F.lit(True) if lo is None else day >= F.lit(lo))
            & (F.lit(True) if hi is None else day < F.lit(hi))
        )
        for lo, hi in zip(bounds, bounds[1:])
    ]


def _case(name, spark, sf_dir, tmp_path_factory) -> Case:
    q = registry.queries()
    if name == "sprt_monitor":
        fixture = tmp_path_factory.mktemp("sprtfix")
        sf = sprt_t._crafted_events(fixture, spark)
        ev = load_table(spark, sf, "events")
        entry = ev.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("d"))
        days = sorted(r["d"] for r in entry.select("d").distinct().collect())
        batches = [
            ev.join(entry.filter(F.col("d") == F.lit(d)), "user_id", "left_semi")
            for d in days
        ]
        twin = lambda: sprt_t._twin_rows(spark, sf)  # noqa: E731
        return Case(SPRT, batches, sprt_t._rows, twin, True)
    if name == "cusum_monitor":
        base, tail, tail_days = cusum_t._split_days(spark, sf_dir)
        fold = cusum_fold(*fit_cusum_baseline(base))
        twin = lambda: cusum_t._rows(q["q_cusum_drift"](spark, sf_dir))  # noqa: E731
        return Case(fold, _by_day(tail, tail_days), cusum_t._rows, twin, True)
    if name == "page_hinkley":
        ev, _ = ph_t._day_split(spark, sf_dir)
        day = F.date_trunc("day", "ts").alias("d")
        days = sorted(r["d"] for r in ev.select(day).distinct().collect())
        twin = lambda: ph_t._rows(q["q_page_hinkley"](spark, sf_dir))  # noqa: E731
        return Case(PAGE_HINKLEY, _by_day(ev, days), ph_t._rows, twin, True)
    gst_dir = gst_t._write_fixture_dir(
        str(tmp_path_factory.mktemp("gstfix")), gst_t._staggered_events()
    )
    ev = gst_t._events_df(spark, gst_dir)
    batches = [ev.filter(F.col("user_id").between(lo, lo + 3)) for lo in (0, 4, 8)]
    twin = lambda: gst_t._rows(q["q_group_sequential"](spark, gst_dir))  # noqa: E731
    return Case(GST, batches, gst_t._rows, twin, False)


@pytest.fixture(params=MONITORS)
def case(request, spark, sf_dir, tmp_path_factory) -> Case:
    return _case(request.param, spark, sf_dir, tmp_path_factory)


def _check_continuation(case: Case, emitted: DataFrame) -> None:
    """Each batch's rows are the single-shot walk's: per-day monitors emit
    every walk row exactly once across the batches; the whole-table
    monitor's last table is the walk's table."""
    batch_ids = sorted(r[0] for r in emitted.select("batch_id").distinct().collect())
    assert len(batch_ids) == len(case.batches)
    twin = case.twin()
    if case.per_day:
        assert case.rows(emitted) == twin
        assert emitted.count() == len(twin)
    else:
        assert case.rows(emitted.filter(F.col("batch_id") == batch_ids[-1])) == twin


def test_continued_output_equals_single_shot_walk(spark, case, tmp_path):
    """Three micro-batches through the streaming query: batch 2 recovers
    from batch 1's partition alone, so a recovery that needed older
    partitions (or double-counted them) changes its rows."""
    src = tmp_path / "src"
    for k, batch in enumerate(case.batches):
        part = src / f"b{k}"
        batch.coalesce(1).write.parquet(str(part))
        for f in part.glob("*.parquet"):
            dst = src / f"{k:02d}-{f.name}"
            f.rename(dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))  # arrival order
    schema = case.batches[0].schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = case.fold.start(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()
    _check_continuation(case, spark.read.parquet(out))


def test_recovery_reads_only_newest_prior_partition(spark, case, tmp_path):
    """With batches 0 and 1 written, corrupting batch_id=0 must change
    neither the state batch 2 recovers nor batch 2's rows."""
    out = str(tmp_path / "out")
    for k in (0, 1):
        case.fold.emit(case.batches[k], k, out)
    before = case.fold.state(prior_rows(spark, out, 2))
    earlier = case.rows(spark.read.parquet(out))
    for f in (tmp_path / "out" / "batch_id=0").glob("*.parquet"):
        f.write_bytes(b"this is not parquet")
    assert case.fold.state(prior_rows(spark, out, 2)) == before
    case.fold.emit(case.batches[2], 2, out)
    got = case.rows(spark.read.parquet(batch_partitions(spark, out)[2]))
    assert got == (case.twin() - earlier if case.per_day else case.twin())


def test_replay_reads_only_prior_partitions(spark, case, tmp_path):
    """Re-emitting batch 1 after its own output exists recovers the same
    state (the batch_id < N restriction) and rewrites identical rows."""
    out = str(tmp_path / "out")
    case.fold.emit(case.batches[0], 0, out)
    state = case.fold.state(prior_rows(spark, out, 1))
    assert state != case.fold.state([])
    case.fold.emit(case.batches[1], 1, out)
    once = case.rows(spark.read.parquet(out))
    if case.per_day:
        assert once < case.twin()
    assert case.fold.state(prior_rows(spark, out, 1)) == state
    case.fold.emit(case.batches[1], 1, out)
    assert case.rows(spark.read.parquet(out)) == once
    assert sorted(batch_partitions(spark, out)) == [0, 1]


def test_missing_output_is_first_batch_but_corrupt_output_raises(
    spark, case, tmp_path
):
    """Only the missing-path case may reset the walk.  A root-level stray
    file, a foreign directory or an unreadable newest partition must fail
    the batch, never silently restart the walk from zero."""
    never = tmp_path / "never_written"
    assert prior_rows(spark, str(never), 5) == []
    case.fold.emit(case.batches[0], 5, str(never))
    assert sorted(batch_partitions(spark, str(never))) == [5]
    for name, bad in (
        ("junk", "part-00000.parquet"),
        ("foreign", "other/part-00000.parquet"),
        ("corrupt", "batch_id=3/part-00000.parquet"),
    ):
        root = tmp_path / name
        (root / bad).parent.mkdir(parents=True, exist_ok=True)
        (root / bad).write_bytes(b"this is not parquet")
        (root / "_SUCCESS").write_bytes(b"")
        with pytest.raises(Exception) as err:
            case.fold.emit(case.batches[1], 5, str(root))
        if name != "corrupt":
            assert "not a batch_id= partition" in str(err.value)
        assert not (root / "batch_id=5").exists()
    # a partition at or above N is never read: batch 3's replay starts fresh
    assert prior_rows(spark, str(tmp_path / "corrupt"), 3) == []


def test_guard_rejects_backfill(case, tmp_path):
    """A batch whose earliest key does not follow the last emitted one is
    a backfill correction: the fold raises and writes nothing."""
    out = str(tmp_path / "out")
    case.fold.emit(case.batches[1], 0, out)
    with pytest.raises(ValueError, match="backfill.*ordering contract"):
        case.fold.emit(case.batches[0], 1, out)
    assert not (tmp_path / "out" / "batch_id=1").exists()


def test_gst_recovers_from_outputs_with_increment_columns(
    spark, sf_dir, tmp_path_factory
):
    """Group-sequential outputs written before min_entry_day existed carry
    per-look inc_* columns instead; a stream restarted on them recovers
    its cells from the cumulative counts alone."""
    case = _case("gst_monitor", spark, sf_dir, tmp_path_factory)
    out = tmp_path_factory.mktemp("gstold") / "out"
    for k in (0, 1):
        case.fold.emit(case.batches[k], k, str(out))
    part = str(out / "batch_id=1")
    incs = ("inc_n_a", "inc_c_a", "inc_n_b", "inc_c_b")  # wrong on purpose: unread
    old = spark.read.parquet(part).drop("min_entry_day").select(
        "*", *[F.lit(-1).cast("bigint").alias(c) for c in incs]
    )
    old = spark.createDataFrame(old.collect(), old.schema)  # detach from part
    old.coalesce(1).write.mode("overwrite").parquet(part)
    case.fold.emit(case.batches[2], 2, str(out))
    assert case.rows(spark.read.parquet(str(out / "batch_id=2"))) == case.twin()
