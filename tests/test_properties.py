"""Property-based tests (hypothesis) for the hand-built join operators.

The oracle-parity suite checks ONE fixed dataset; these properties check the
*algorithms* on adversarial small inputs: the banded range join must equal
the naive inequality join on any input, and the union+window as-of join must
equal the per-row argmax definition on any input.  Small generated inputs,
exhaustive ground truth computed in Python.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPOCH = datetime.datetime(2024, 1, 1)

# (user_id 0..3, seconds offset 0..7200) — collisions and boundary hits likely
event_lists = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 7200)),
    min_size=0,
    max_size=30,
    unique=True,
)

RANGE_SECS = 1800  # 30 min, matches q_join_range's window


def _mk_events(spark, events):
    rows = [
        (i, uid, EPOCH + datetime.timedelta(seconds=s))
        for i, (uid, s) in enumerate(events)
    ]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=event_lists)
def test_banded_range_join_equals_naive(spark, events):
    df = _mk_events(spark, events)
    band_us = RANGE_SECS * 1_000_000
    band = (F.unix_micros(F.col("ts")) / F.lit(band_us)).cast("bigint")
    a = df.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("ts").alias("ts_a"),
        F.explode(F.array(band, band - 1)).alias("band"),
    )
    b = df.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("ts").alias("ts_b"),
        band.alias("band"),
    )
    got = {
        (r.event_a, r.event_b)
        for r in (
            a.join(b, ["user_id", "band"])
            .filter(
                (F.col("ts_b") < F.col("ts_a"))
                & (F.col("ts_b") >= F.col("ts_a") - F.expr(f"INTERVAL {RANGE_SECS} SECOND"))
            )
            .select("event_a", "event_b")
            .dropDuplicates(["event_a", "event_b"])
            .collect()
        )
    }
    naive = {
        (ia, ib)
        for ia, (ua, sa) in enumerate(events)
        for ib, (ub, sb) in enumerate(events)
        if ua == ub and sb < sa and sb >= sa - RANGE_SECS
    }
    assert got == naive


edge_lists = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_connected_components_equals_union_find(spark, monkeypatch, edges):
    """Both paths: the driver fold, and (bound 0) the Spark propagation loop."""
    from bifrost_spark.operators import driver_fold
    from bifrost_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    ).distinct()
    got = {}
    for bound in (driver_fold.DRIVER_FOLD_ROWS, 0):
        with monkeypatch.context() as m:
            m.setattr(driver_fold, "DRIVER_FOLD_ROWS", bound)
            got[bound] = {
                (r.id, r.component)
                for r in connected_components(pairs, max_iter=30).collect()
            }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    truth = {(v, find(v)) for v in verts}
    assert got == {driver_fold.DRIVER_FOLD_ROWS: truth, 0: truth}


# Words over an alphabet with ASCII, Latin-1, a BMP character above the
# surrogate block and an astral one: UTF-16 order (Java's String.compareTo)
# would put U+1D518 before U+FF21, code-point order (Python, and Spark's
# UTF-8 binary order) after it, so a tie between them catches the wrong one.
bpe_vocabs = st.dictionaries(
    st.text(alphabet="ab\u00e4\uff21\U0001d518", min_size=1, max_size=6),
    st.integers(1, 4),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vocab=bpe_vocabs, k=st.integers(1, 8))
@example(vocab={"aaaa": 1}, k=3)  # greedy: merge(a,a) gives [aa, aa], then a tie
@example(vocab={"ab": 2, "ba": 2}, k=2)  # equal counts: (p1, p2) order decides
@example(vocab={"\uff21\U0001d518": 1, "\U0001d518\uff21": 1}, k=1)
@example(vocab={"ab": 1}, k=5)  # exhausted after two merges
def test_bpe_driver_fold_equals_spark_loop(spark, vocab, k):
    from bifrost_spark.queries.corpus_stats import _bpe_merges_spark, _bpe_merges_local

    words = spark.createDataFrame(list(vocab.items()), "word string, wc bigint")
    assert _bpe_merges_local(list(vocab.items()), k) == _bpe_merges_spark(words, k)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=event_lists, cutoff=st.integers(0, 3))
def test_asof_union_window_equals_argmax(spark, events, cutoff):
    """Left side: events of users <= cutoff; right side: all events.  For
    each left row the as-of match is the right row with max ts <= left ts
    (excluding itself as rows are distinct by construction), argmax broken
    by event_id — computed naively in Python and via the union+window plan."""
    df = _mk_events(spark, events)
    left = df.filter(F.col("user_id") <= cutoff)
    right = df

    l_tag = left.select(
        "user_id", "ts", F.lit(None).cast("long").alias("right_id"),
        F.col("event_id").alias("left_id"), F.lit(1).alias("side"),
    )
    r_tag = right.select(
        "user_id", "ts", F.col("event_id").alias("right_id"),
        F.lit(None).cast("long").alias("left_id"), F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "right_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        (r.left_id, r.asof)
        for r in l_tag.unionByName(r_tag)
        .withColumn("asof", F.last("right_id", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("left_id", "asof")
        .collect()
    }
    naive = {}
    for il, (ul, sl) in enumerate(events):
        if ul > cutoff:
            continue
        cands = [
            (sr, ir)
            for ir, (ur, sr) in enumerate(events)
            if ur == ul and sr <= sl
        ]
        naive[il] = max(cands)[1] if cands else None
    assert got == set(naive.items())


# doubles that stress the 6-decimal rounding boundary and magnitude spread;
# bounded so DECIMAL(28,6) cannot overflow
money_lists = st.lists(
    st.floats(
        min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=money_lists)
# Regression: shortest-repr "536870912.6183465" HALF_UP-rounds UP at 6 dp,
# but the exact binary value (…64527…) rounds DOWN — the two models differ,
# and Spark follows the shortest-repr string (BigDecimal.valueOf).
@example(values=[536870912.6183465])
def test_dsum_equals_exact_decimal_model(spark, values):
    """The engine's central determinism device (queries/_util.dsum): the
    decimal-accumulated sum of doubles must equal the exact Python model of
    Spark's cast — double→shortest decimal string (BigDecimal.valueOf, same
    as Python repr) → HALF_UP at 6 dp — summed exactly, emitted as one
    double, independent of partitioning.  This is the property that makes
    every SUM/AVG in the engine bit-stable across partition counts and task
    retries.  NOTE it is Spark-internal determinism: DuckDB rounds the cast
    differently on doubles whose true value has ≥7 significant fractional
    digits (see _util docstring), so cross-engine oracles additionally
    require ≤6-fractional-digit true values — which every fixture dsum
    input satisfies."""
    import decimal

    from bifrost_spark.queries._util import dsum

    q6 = decimal.Decimal("0.000001")
    exact = sum(
        decimal.Decimal(repr(v)).quantize(q6, rounding=decimal.ROUND_HALF_UP)
        for v in values
    )
    expect = float(exact)
    df = spark.createDataFrame([(v,) for v in values], "x double")
    for nparts in (1, 7):
        got = df.repartition(nparts).agg(dsum("x", "s")).collect()[0].s
        assert got == expect, (nparts, got, expect)


# ---------------------------------------------------------------------------
# Media codecs: round-trip on arbitrary shapes/samples (no Spark needed)

import numpy as np

image_arrays = st.tuples(
    st.integers(1, 12), st.integers(1, 12), st.integers(0, 2**32 - 1)
)


@given(image_arrays)
@settings(max_examples=50, deadline=None)
def test_ppm_round_trip_any_shape(dims):
    from bifrost_spark.operators.media import decode_ppm, encode_ppm

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
       st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=50, deadline=None)
def test_wav_round_trip_any_samples(samples, rate):
    from bifrost_spark.operators.media import decode_wav, encode_wav

    arr = np.asarray(samples, dtype=np.int16)
    out, r = decode_wav(encode_wav(arr, rate))
    assert r == rate
    assert np.array_equal(out, arr)


@given(image_arrays, st.integers(1, 8), st.integers(1, 8))
@settings(max_examples=50, deadline=None)
def test_resize_nearest_properties(dims, oh, ow):
    """Output pixels are a subset of input pixels (nearest-neighbor never
    invents values) and the shape contract holds for any geometry."""
    from bifrost_spark.operators.media import resize_nearest

    h, w, seed = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = resize_nearest(img, oh, ow)
    assert out.shape == (oh, ow, 3)
    in_px = {tuple(p) for p in img.reshape(-1, 3)}
    assert all(tuple(p) in in_px for p in out.reshape(-1, 3))


# ---------------------------------------------------------------------------
# Duplicated-span island merge: positions -> maximal spans invariants

positions_lists = st.lists(st.integers(1, 60), min_size=1, max_size=25)


@given(positions_lists, st.integers(2, 10))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_span_island_merge_matches_reference(spark, positions, k):
    """The window-based gaps-and-islands merge in q_dup_spans equals a
    straightforward sequential merge for ANY hit-position set: spans are
    disjoint, separated by > k, cover every hit, and end exactly
    max(pos)+k-1 per island."""
    pos = sorted(set(positions))
    # sequential reference merge
    ref = []
    for p in pos:
        if ref and p - ref[-1][1] <= k:
            ref[-1][1] = p
            ref[-1][2] += 1
        else:
            ref.append([p, p, 1])
    expected = {(a, b + k - 1, n) for a, b, n in ref}

    df = spark.createDataFrame([(1, p) for p in pos], "doc_id long, pos long")
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = df.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, 0).otherwise(1),
    )
    labeled = lagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = {
        (r.span_start, r.span_end, r.n)
        for r in labeled.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# EWMA kernel: pandas ewm(adjust=False) must equal the exact recursion

@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_ewma_kernel_matches_recursion(values):
    import pandas as pd

    from bifrost_spark.queries.analytics import _EWMA_ALPHA, _ewma_kernel

    pdf = pd.DataFrame(
        {
            "user_id": [1] * len(values),
            "event_id": range(len(values)),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(len(values)), unit="s"),
            "value": values,
        }
    )
    out = _ewma_kernel(pdf)
    # exact sequential recursion, seeded with the first value
    ref, acc = [], None
    for v in values:
        acc = v if acc is None else _EWMA_ALPHA * v + (1 - _EWMA_ALPHA) * acc
        ref.append(acc)
    for got, want in zip(out["ewma"], ref):
        assert abs(got - round(want, 9)) <= 1e-8 * max(1.0, abs(want))


# ---------------------------------------------------------------------------
# Partition-count invariance: the decimal-accumulation discipline means the
# SAME bytes come back at any parallelism — the local stand-in for "same
# result on 32 local threads and a 1000-executor cluster".

def test_results_invariant_across_partition_counts(spark):
    from bifrost_spark import registry

    sf_dir = "/root/testdata/sf0.001"
    qs = registry.queries()
    probes = [
        "q_agg_hash",
        "q_tpch08",
        "q_tpch14",
        "q_mixture_weights",
        # round-4 drift statistics: integer-arithmetic determinism claim
        "q_ks_drift",
        "q_psi_drift",
    ]
    baseline = {}
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in probes:
                rows = sorted(
                    map(str, qs[name](spark, sf_dir).collect())
                )
                if name in baseline:
                    assert rows == baseline[name], (
                        f"{name} drifted at shuffle.partitions={parts}"
                    )
                else:
                    baseline[name] = rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)


# ---------------------------------------------------------------------------
# Baldr frame codec: arbitrary binary payloads round-trip byte-exactly;
# any mid-frame truncation is detected, and a frame-boundary cut yields
# exactly the preceding record prefix (reference wire format, kafka.clj:9).

@given(st.lists(st.binary(min_size=0, max_size=200), max_size=20),
       st.integers(0, 10_000))
@settings(max_examples=150, deadline=None)
@example(payloads=[b""], cut=4)  # empty record, mid-header cut
def test_baldr_codec_roundtrip_and_truncation(payloads, cut):
    from bifrost_spark.sources.baldr import frame_records, unframe_records

    wire = frame_records(payloads)
    assert unframe_records(wire) == payloads

    cut = min(cut, len(wire))
    prefix, pos = wire[:cut], 0
    # walk the record boundaries to predict the verdict for this cut
    boundary, n_whole = True, 0
    for p in payloads:
        nxt = pos + 8 + len(p)
        if nxt > cut:
            boundary = cut == pos
            break
        pos, n_whole = nxt, n_whole + 1
    if boundary:
        assert unframe_records(prefix) == payloads[:n_whole]
    else:
        with pytest.raises(ValueError):
            unframe_records(prefix)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user_id
            st.one_of(  # NULL observations interleave with real ones
                st.none(),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(1, 7),  # forced Arrow-batch size
)
@settings(max_examples=60, deadline=None)
@example(rows=[(0, None), (0, 1.0), (0, None)], batch_size=1)  # NULL at
# the boundary: the carry must stay unseeded, then re-seed, then hold
def test_ewma_scan_batch_boundary_invariance(rows, batch_size):
    """Chopping the partition-sorted frame at ANY Arrow-batch boundary —
    including mid-user and on a NULL row — must reproduce the single-batch
    scan exactly, and both must equal the skip-NULL reference recursion.
    This pins the carried-state logic the NULL fuzz fix touched (an
    unseeded user carries NaN until their first real value; NULL rows emit
    the carried state)."""
    import numpy as np
    import pandas as pd

    from bifrost_spark.queries.analytics import _EWMA_ALPHA, _ewma_scan

    rows = sorted(enumerate(rows), key=lambda t: (t[1][0], t[0]))
    pdf = pd.DataFrame(
        {
            "user_id": [u for _, (u, _) in rows],
            "event_id": [i for i, _ in rows],
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta([i for i, _ in rows], unit="s"),
            "value": pd.array(
                [v for _, (_, v) in rows], dtype="float64"
            ).to_numpy(dtype="float64", na_value=np.nan),
        }
    )

    def run(chunks):
        out = pd.concat(list(_ewma_scan(chunks)), ignore_index=True)
        return list(zip(out["event_id"], out["ewma"]))

    whole = dict(run([pdf]))
    chopped = dict(
        run(
            [
                pdf.iloc[i : i + batch_size].reset_index(drop=True)
                for i in range(0, len(pdf), batch_size)
            ]
        )
    )
    # reference: skip-NULL recursion per user over the same order
    ref, acc = {}, {}
    for i, (u, v) in rows:
        if v is not None:
            acc[u] = (
                v
                if u not in acc
                else _EWMA_ALPHA * v + (1 - _EWMA_ALPHA) * acc[u]
            )
        ref[i] = round(acc[u], 9) if u in acc else None
    for i in ref:
        w, c = whole[i], chopped[i]
        if ref[i] is None:
            assert np.isnan(w) and np.isnan(c), (i, w, c)
        else:
            assert w == c, (i, w, c)  # boundary-invariant, bit-identical
            assert abs(w - ref[i]) <= 1e-8 * max(1.0, abs(ref[i]))


def test_ewma_scan_carry_across_arrow_batches(spark):
    """The mapInPandas EWMA scan must continue a user's recursion exactly
    when their rows straddle an Arrow batch boundary — forced here with a
    37-row batch size, compared against the per-group kernel (which never
    splits a group)."""
    from bifrost_spark import registry
    from bifrost_spark.queries.analytics import _ewma_kernel

    from bifrost_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        scan = {
            (r.user_id, r.event_id, r.ewma)
            for r in registry.queries()["q_ewma"](spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    ref = {
        (r.user_id, r.event_id, r.ewma)
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            _ewma_kernel,
            "user_id long, event_id long, ts timestamp, value double, ewma double",
        )
        .collect()
    }
    assert scan == ref


def test_embedding_outliers_join_gate_identical(spark, monkeypatch):
    """VERDICT r6: above the fold-back gate q_embedding_outliers must stop
    embedding one literal centroid array per label in the plan and instead
    equi-join the engine-side centroid table — with IDENTICAL output.
    Forced here by shrinking the gate to 1 collected row."""
    from bifrost_spark import registry
    from bifrost_spark.queries import curation_ops

    sf_dir = "/root/testdata/sf0.001"
    lit_path = registry.queries()["q_embedding_outliers"](spark, sf_dir)
    assert "_cent" not in lit_path.columns  # literal path: no join column
    lit_rows = {tuple(r) for r in lit_path.collect()}

    monkeypatch.setattr(curation_ops, "_OUTLIER_FOLDBACK_GATE_ROWS", 1)
    join_path = registry.queries()["q_embedding_outliers"](spark, sf_dir)
    plan = join_path._jdf.queryExecution().executedPlan().toString()
    assert "_cent" in plan, "gated path must fold back via the centroid join"
    assert {tuple(r) for r in join_path.collect()} == lit_rows
