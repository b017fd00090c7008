"""Event-analytics operator family: funnel, cohort retention, SCD2 change
tracking, MERGE-style upsert, and running-distinct windows.

These are the standing questions a product/training-data team asks of the
event stream the reference (uswitch/bifrost) merely archives — the engine
answers them directly.  All five are DuckDB-oracle-checked.

Note on events.ts: the fixture stores TIMESTAMP(NANOS); tables.py rebuilds
a µs timestamp, and the oracle reads the same parquet natively, so both
engines see identical µs instants (see tables.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bifrost_spark.registry import query
from bifrost_spark.tables import load_table

FUNNEL_STEPS = ("view", "click", "purchase")


@query(
    "q_funnel",
    oracle="""
        WITH v AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t1
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t2
          GROUP BY e.user_id
        )
        SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
        UNION ALL
        SELECT 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
        UNION ALL
        SELECT 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users counted at
    each stage only if the step happened AT-OR-AFTER their entry into the
    previous stage (min-timestamp semantics, the standard funnel rule).

    Plan: one filtered min-aggregate per step, each joined to the previous
    step's result — 3 shuffles on user_id, all map-side combined, and each
    step's frontier shrinks monotonically.  At 100 TB the step frontiers
    (one row per surviving user) are dimension-sized, so the step joins
    broadcast; each step's events scan carries its event_type filter to
    parquet.

    Materialization trade (measured, sf0.1, like-for-like best-of-4):
    v and c each have two consumers (next stage + stage count), and the
    un-materialized plan re-derives them — 6 pruned events scans instead
    of 3.  Eager localCheckpoint of the two frontiers costs +19% locally
    (0.74 → 0.88 s: RDD round-trip + 2 extra jobs on tiny data) but
    halves the fact-table scans — the term that dominates at 100 TB —
    so the checkpoint spelling ships.  (Lazy checkpoint and persist()
    measured no better locally: 1.18 s / 0.99 s on first-population.)"""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=True)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.lit("view").alias("stage"), F.count(F.lit(1)).alias("n_users"))
        .unionAll(
            c.agg(F.lit("click").alias("stage"), F.count(F.lit(1)).alias("n_users"))
        )
        .unionAll(
            p.agg(
                F.lit("purchase").alias("stage"), F.count(F.lit(1)).alias("n_users")
            )
        )
    )


@query(
    "q_cohort_retention",
    oracle="""
        WITH first_seen AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM events GROUP BY user_id
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) // 7
                 AS BIGINT) AS weeks_since,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen ISO week,
    activity counted per whole week since the cohort week started.

    weeks_since is integer day-difference floor-divided by 7 — exact
    integer arithmetic, engine-portable (both engines' date_trunc('week')
    is ISO Monday).  Plan: first_seen is one shuffle on user_id; the join
    back is user-dimension-sized (broadcastable); the distinct count is
    the only other shuffle."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_week")) / 7
            ).alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "q_scd2",
    oracle="""
        SELECT user_id, event_type, valid_from, lead(valid_from) OVER (
                 PARTITION BY user_id ORDER BY valid_from, tie_id
               ) AS valid_to
        FROM (
          SELECT user_id, event_type, ts AS valid_from, event_id AS tie_id
          FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
          )
          WHERE prev_type IS NULL OR event_type <> prev_type
        )
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 change tracking: collapse each user's event stream to
    rows where event_type CHANGED, with [valid_from, valid_to) validity
    intervals (open interval = current state).

    The dimension-build primitive for slowly-changing attributes: lag()
    finds change points, lead() closes each interval at the next change.
    Both windows share one partitioning (user_id) → a single shuffle; the
    (ts, event_id) order key is unique so intervals are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.col("event_id").alias("tie_id"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "tie_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


@query(
    "q_merge_upsert",
    oracle="""
        WITH tgt AS (
          SELECT l_partkey AS p_partkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS revenue
          FROM lineitem GROUP BY l_partkey
        )
        SELECT p.p_partkey,
               CASE WHEN tgt.p_partkey IS NULL THEN 0.0 ELSE tgt.revenue END
                 AS revenue,
               p.p_retailprice AS retail_price,
               CASE WHEN tgt.p_partkey IS NULL THEN 'inserted'
                    ELSE 'updated' END AS merge_action
        FROM part p LEFT JOIN tgt ON tgt.p_partkey = p.p_partkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (Delta/Iceberg MERGE INTO semantics on plain
    DataFrames): the per-part revenue state (target) is merged with the
    part dimension (source) — WHEN MATCHED the state row is updated with
    the retail price, WHEN NOT MATCHED a zero-revenue row is inserted
    (parts never ordered exercise the insert branch for real).

    MERGE on immutable storage is an outer join + branch projection that
    REWRITES the state — exactly how Delta executes it under the hood;
    at scale both sides hash-partition on the merge key (one shuffle
    each) and the rewrite is partition-parallel.  The decimal-accumulated
    revenue keeps the double bit-stable across engines (see _util)."""
    from bifrost_spark.queries._util import dsum

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    target = l.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        dsum("l_extendedprice", "revenue")
    )
    matched = target["p_partkey"].isNotNull()
    return p.join(target, "p_partkey", "left").select(
        "p_partkey",
        F.when(matched, F.col("revenue")).otherwise(F.lit(0.0)).alias("revenue"),
        F.col("p_retailprice").alias("retail_price"),
        F.when(matched, F.lit("updated")).otherwise(F.lit("inserted")).alias(
            "merge_action"
        ),
    )


@query(
    "q_running_distinct",
    oracle="""
        SELECT e1.event_id, e1.user_id,
               CAST((SELECT COUNT(DISTINCT e2.event_type) FROM events e2
                     WHERE e2.user_id = e1.user_id
                       AND (e2.ts < e1.ts
                            OR (e2.ts = e1.ts AND e2.event_id <= e1.event_id)))
                 AS INT) AS n_types_seen
        FROM events e1
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user: after each event, how many distinct
    event types has this user produced so far?  (The "behavioral breadth"
    feature for churn/quality models.)

    Spark: ``size(collect_set() OVER (... ROWS UNBOUNDED PRECEDING))`` —
    one shuffle on user_id, state per frame bounded by |event types| (tiny
    and fixed), so it scales with users × events linearly.  The oracle is
    a correlated COUNT(DISTINCT) subquery — O(n²) per user, fine at
    fixture scale, which is exactly why the window form is the engine's
    implementation and the quadratic form is only the checker."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
    )


INTERVAL_MINUTES = 30


@query(
    "q_interval_merge",
    oracle=f"""
        WITH iv AS (
          SELECT user_id, ts AS s, ts + INTERVAL {INTERVAL_MINUTES} MINUTE AS e,
                 event_id
          FROM events
        ),
        marked AS (
          SELECT user_id, s, e, event_id,
                 CASE WHEN s > max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      OR max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                      THEN 1 ELSE 0 END AS new_island
          FROM iv
        ),
        islands AS (
          SELECT user_id, s, e,
                 SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM marked
        )
        SELECT user_id, CAST(island AS BIGINT) AS island,
               MIN(s) AS island_start, MAX(e) AS island_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM islands
        GROUP BY user_id, island
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: merge each user's overlapping 30-minute event
    intervals into maximal covered islands — the coverage/uptime question
    session windows DON'T answer (session_window merges by inter-START
    gap; islands merge by actual interval OVERLAP, so a long interval can
    bridge events a gap rule would split).

    One window partitioning (user_id) drives both passes — running max of
    interval END over preceding rows marks island starts, a running sum
    numbers them — then one aggregate; two shuffles total and pure
    integer/timestamp comparisons, so both engines agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {INTERVAL_MINUTES} MINUTES")).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", F.col("island").cast("bigint").alias("island")).agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_seq_pattern",
    oracle="""
        WITH seqs AS (
          -- NULL-typed events carry no symbol: string_agg would skip them
          -- while Spark's array_join folds an all-NULL user to '' instead
          -- of NULL — excluded up front on BOTH engines (fuzzer catch,
          -- round 10)
          SELECT user_id,
                 string_agg(substr(event_type, 1, 1), ''
                            ORDER BY ts, event_id) AS seq
          FROM events
          WHERE event_type IS NOT NULL
          GROUP BY user_id
        )
        SELECT user_id,
               CAST(LENGTH(seq) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
                 AS n_conversion_paths
        FROM seqs
    """,
)
def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (the MATCH_RECOGNIZE gap): per user,
    count non-overlapping view→clicks*→purchase paths by folding the
    ordered event stream into a symbol string and running a regex over it.

    Spark has no MATCH_RECOGNIZE; the scalable encoding is ONE shuffle
    (collect per user), then sort/fold/regex as per-row array+string
    expressions — state per user is |events| bytes (one symbol each), and
    both engines' regex engines count leftmost non-overlapping matches
    identically for this backref-free pattern.  The (ts, event_id) sort
    key is unique → the symbol string, and hence the count, is exactly
    deterministic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    sym = F.struct(
        F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("ini")
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(sym)), lambda x: x["ini"]), ""
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.regexp_count("seq", F.lit("vc*p")).cast("bigint").alias(
            "n_conversion_paths"
        ),
    )


PR_ITERS = 5
PR_DAMP = 0.85


def _pr_oracle() -> str:
    """Unrolled 5-iteration PageRank CTE mirroring the Spark loop exactly
    (same decimal-accumulated sums, same IEEE op order)."""
    head = """
        WITH pairs AS (
          SELECT user_id, event_type AS src,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
          FROM events
        ),
        edges AS (
          SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS c
          FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        outs AS (SELECT src, SUM(c) AS tot FROM edges GROUP BY src),
        w AS (
          SELECT e.src, e.dst, e.c / o.tot AS w
          FROM edges e JOIN outs o ON o.src = e.src
        ),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        r0 AS (SELECT node, CAST(0.2 AS DOUBLE) AS rank FROM nodes)
    """
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
        r{i} AS (
          SELECT n.node,
                 0.03 + 0.85 * COALESCE(CAST(SUM(CAST(r.rank * w.w
                     AS DECIMAL(28,18))) AS DOUBLE), 0.0) AS rank
          FROM nodes n
          LEFT JOIN w ON w.dst = n.node
          LEFT JOIN r{i-1} r ON r.node = w.src
          GROUP BY n.node
        )""")
    return (
        head + "," + ",".join(iters)
        + f" SELECT node, round(rank, 12) AS pagerank FROM r{PR_ITERS}"
    )


@query("q_pagerank", oracle=_pr_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 5 fixed iterations) over the
    event-type transition graph — the second iterative-algorithm family
    beside connected components (q_dedup_cluster), built as a driver loop
    of DataFrame joins (each iteration is one plan stage; no RDDs).

    Determinism: per-iteration in-rank sums accumulate in DECIMAL(28,18)
    (order-independent — float neighbor sums are the classic
    nondeterminism in distributed PageRank) and the teleport/damping
    arithmetic is a fixed IEEE sequence, so iterations are partition-count
    stable.  The residual CROSS-ENGINE delta is the double→decimal
    rounding mode on tie values (≤1 ulp after 5 iterations, measured),
    so the compared output rounds to 12 decimals — far above the ulp,
    far below any rank gap.
    Scale shape: ranks live in a DataFrame keyed by node (shuffle per
    iteration on dst); the tiny transition graph here broadcasts, and at
    web scale the same loop hash-partitions edges by dst — the Pregel
    layout — with AQE handling hub skew."""
    ev = load_table(spark, sf_dir, "events")
    wlead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wlead).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    outs = edges.groupBy("src").agg(F.sum("c").alias("tot"))
    w = edges.join(outs, "src").select(
        "src", "dst", (F.col("c") / F.col("tot")).alias("w")
    )
    # w and nodes are re-read EVERY iteration; checkpoint them once so
    # the events scan + window + edge aggregation run once, not 5x (the
    # same lineage-cut discipline as q_dedup_cluster), and the iteration
    # plans stay O(1) deep
    w = w.localCheckpoint(eager=True)
    nodes = ev.select(F.col("event_type").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    ranks = nodes.select("node", F.lit(0.2).cast("double").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = w.join(ranks, w.src == ranks.node).select(
            F.col("dst").alias("node"),
            (F.col("rank") * F.col("w")).cast("decimal(28,18)").alias("d"),
        )
        ranks = (
            nodes.join(
                contrib.groupBy("node").agg(F.sum("d").cast("double").alias("s")),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    F.lit(0.03) + F.lit(PR_DAMP) * F.coalesce("s", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 12).alias("pagerank"))


@query(
    "q_outlier_iqr",
    oracle="""
        WITH q AS (
          SELECT l_returnflag,
                 quantile_cont(l_quantity, 0.25) AS q1,
                 quantile_cont(l_quantity, 0.75) AS q3
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
               CASE WHEN l.l_quantity > q.q3 + 1.5 * (q.q3 - q.q1)
                      OR l.l_quantity < q.q1 - 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END AS is_outlier
        FROM lineitem l JOIN q ON q.l_returnflag = l.l_returnflag
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier flagging: rows outside [Q1 − 1.5·IQR,
    Q3 + 1.5·IQR] per group — the standard numeric-quality gate before a
    distribution-sensitive training mix.

    Exact percentiles of integer-valued quantities at dyadic probes are
    exact dyadic doubles (see q_percentile_cont), so the fences and the
    comparisons are bit-identical in both engines.  Group fences are a
    5-row broadcast back onto the fact scan — zero fact shuffle, like
    q_zscore."""
    l = load_table(spark, sf_dir, "lineitem")
    q = l.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q1"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q3"),
    )
    j = l.join(F.broadcast(q), "l_returnflag")
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("l_quantity") > F.col("q3") + 1.5 * iqr) | (
        F.col("l_quantity") < F.col("q1") - 1.5 * iqr
    )
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when(out, 1).otherwise(0).alias("is_outlier"),
    )


@query(
    "q_ab_test",
    oracle="""
        WITH assign AS (
          SELECT user_id,
                 CASE WHEN (ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                            % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) * 4 > COUNT(*)
                      THEN 1 ELSE 0 END AS converted
          FROM events GROUP BY user_id
        ),
        agg AS (
          SELECT variant,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(converted) AS DOUBLE) AS conv
          FROM assign GROUP BY variant
        ),
        wide AS (
          SELECT
            MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
            MAX(CASE WHEN variant = 'A' THEN conv END) AS c_a,
            MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
            MAX(CASE WHEN variant = 'B' THEN conv END) AS c_b
          FROM agg
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
               CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
               (c_a / n_a - c_b / n_b)
                 / sqrt(((c_a + c_b) / (n_a + n_b))
                        * (1 - (c_a + c_b) / (n_a + n_b))
                        * (1 / n_a + 1 / n_b)) AS z_stat
        FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users deterministically
    assigned to variants by md5 hash (the engine-portable bucket device),
    outcome = "heavy purchaser" (purchases exceed 25% of the user's
    events — chosen to discriminate on the fixture, where every user has
    at least one purchase), statistic = pooled-variance z.

    Every input to the statistic is an exact integer count, and the z
    formula is one fixed IEEE sequence mirrored in the oracle, so even the
    float output hash-matches.  Plan: per-user outcome (one shuffle),
    per-variant counts (tiny), single-row statistic — experiment readouts
    cost two aggregates regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) % 2 == 0,
        "A",
    ).otherwise("B")
    assign = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) * 4
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select("user_id", variant.alias("variant"), "converted")
    # variant depends only on user_id → computable post-agg
    agg = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("conv"),
    )
    wide = agg.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("c_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("c_b"),
    )
    p = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    z = (F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b")) / F.sqrt(
        p * (1 - p) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return wide.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        z.alias("z_stat"),
    )


_EWMA_ALPHA = 0.2


def _ewma_kernel(pdf):
    """Per-user EWMA over the event sequence — the inherently sequential
    recursion EWMA_t = α·x_t + (1−α)·EWMA_{t−1}, seeded with the first
    value (pandas ewm(adjust=False) semantics), vectorized by pandas
    inside one Arrow batch per group."""
    pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
    # ignore_na=True: NULL observations are SKIPPED (state carries, the
    # NULL row emits the carried state) — pandas' default gap-aware decay
    # reweights across gaps, which no SQL recursion can mirror (fuzzer
    # finding); the skip semantics are the textbook recursion over
    # observed values, identical on both engines
    ewma = pdf["value"].ewm(
        alpha=_EWMA_ALPHA, adjust=False, ignore_na=True
    ).mean()
    out = pdf[["user_id", "event_id", "ts", "value"]].copy()
    out["ewma"] = ewma.round(9)
    return out


def _ewma_scan(batches):
    """Partition-sorted EWMA scan: ONE python call per Arrow batch instead
    of one per group (groupBy().applyInPandas measured 4-5 s of pure
    per-group round-trip overhead for 1 500 users at sf0.1 — this scan
    runs the same recursion in ~1 s, and at 100 TB per-group overhead ×
    billions of keys is the difference that matters).  Requires rows
    hash-partitioned by user and sorted (user, ts, event_id) within the
    partition; a user whose rows straddle an Arrow-batch boundary is
    continued exactly via the carried last EWMA (bit-identical: the same
    two products + commutative add as pandas ewm's recursion)."""
    import numpy as np
    import pandas as pd

    carry: dict = {}
    for pdf in batches:
        n = len(pdf)
        out = np.empty(n)
        vals = pdf["value"].to_numpy()
        for uid, idx in pdf.groupby("user_id", sort=False).indices.items():
            v = vals[idx]
            if uid in carry:  # boundary continuation: seeded recursion
                y = carry[uid]  # nan = not yet seeded (all-NULL so far)
                arr = np.empty(len(v))
                for j, x in enumerate(v):
                    # NULL observations are skipped: state carries through
                    # and re-seeds on the first real value (fuzzer finding
                    # — the unguarded recursion NaN-poisoned the rest of
                    # the series after a batch boundary)
                    if not np.isnan(x):
                        # x == y: pandas ewm leaves a repeated value
                        # unchanged, where the products would move it 1 ulp
                        y = (
                            x
                            if np.isnan(y) or x == y
                            else _EWMA_ALPHA * x + (1 - _EWMA_ALPHA) * y
                        )
                    arr[j] = y
            else:
                arr = (
                    pd.Series(v)
                    .ewm(alpha=_EWMA_ALPHA, adjust=False, ignore_na=True)
                    .mean()
                    .to_numpy()
                )
            out[idx] = arr
            # arr[-1] IS the carried state: NULL rows emit the state, so
            # the last element is nan only while the user is unseeded
            carry[uid] = arr[-1]
        res = pdf[["user_id", "event_id", "ts", "value"]].copy()
        res["ewma"] = np.round(out, 9)
        yield res


@query(
    "q_ewma",
    oracle=f"""
        WITH RECURSIVE seq AS (
          SELECT user_id, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ),
        -- NULL observations are SKIPPED (fuzzer finding): the recursion
        -- walks the non-null subsequence; NULL rows then inherit the
        -- carried state below (NULL while the user is unseeded)
        obs AS (
          SELECT user_id, rn, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY rn) AS orn
          FROM seq WHERE value IS NOT NULL
        ),
        walk AS (
          SELECT user_id, rn, orn, value AS ewma
          FROM obs WHERE orn = 1
          UNION ALL
          SELECT o.user_id, o.rn, o.orn,
                 {_EWMA_ALPHA} * o.value + {1 - _EWMA_ALPHA} * w.ewma
          FROM obs o JOIN walk w
            ON o.user_id = w.user_id AND o.orn = w.orn + 1
        )
        SELECT s.user_id, s.event_id, s.ts, s.value,
               round(last_value(w.ewma IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY s.rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 9) AS ewma
        FROM seq s LEFT JOIN walk w
          ON w.user_id = s.user_id AND w.rn = s.rn
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event value per user —
    the classic smoothing signal whose recursion (EWMA_t = α·x_t +
    (1−α)·EWMA_{t−1}) no built-in window function expresses without an
    exponent-overflow closed form.  This is the canonical applyInPandas
    case from the build guidance: per-key sequential semantics, Arrow
    batch per group, pandas' vectorized ewm inside.  Oracle-checked: the
    DuckDB recursive CTE runs the SAME float64 multiply-add recursion
    (two products + one commutative add per step → bit-identical, then
    both engines round at 9 dp); verified hash-equal at sf0.001/0.01/0.1.
    NULL observations are skipped on both engines (ignore_na=True /
    non-null-subsequence walk): the state carries through and the NULL
    row emits it — pinned by the NULL-value fuzz examples.

    Scale: one shuffle on user_id (the groupBy key); each group is one
    user's events — bounded and independent, so 100 TB parallelism is
    |users|, with AQE handling user skew.  Output rounded at 9 dp so any
    future oracle (or cross-run compare) is ulp-safe.
    tests/test_properties.py pins the kernel against the exact recursion
    on arbitrary inputs."""
    e = load_table(spark, sf_dir, "events")
    ordered = (
        e.select("user_id", "event_id", "ts", "value")
        .repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
    )
    return ordered.mapInPandas(
        _ewma_scan,
        "user_id long, event_id long, ts timestamp, value double, ewma double",
    )


@query(
    "q_time_weighted_avg",
    oracle="""
        WITH iv AS (
          SELECT user_id, value,
                 CAST(date_diff('second', ts,
                      lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS BIGINT) AS dur
          FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               round(CAST(SUM(CAST(round(value * dur, 6) AS DECIMAL(28,6)))
                          AS DOUBLE) / SUM(dur), 9) AS twa
        FROM iv
        WHERE dur IS NOT NULL
        GROUP BY user_id
        HAVING SUM(dur) > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value over IRREGULAR
    intervals — the metric a plain AVG gets wrong when observations
    aren't equally spaced (a price held for an hour must weigh 60× one
    held for a minute; the standard spelling for sensor/price/balance
    series).  Each event's value is weighted by the seconds until the
    user's next event (last event carries no duration).

    One window shuffle on user_id for the lead(), then the per-user
    aggregation reuses the same partitioning (no second exchange).
    Determinism: value is a 2-dp money column and dur an integer second
    count, so value·dur has exactly 2 fractional digits — the 6-dp
    decimal accumulation is an exact quantization on both engines
    (queries/_util.py contract); the final single IEEE division is
    rounded at 9 dp."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        "value",
        (
            F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long")
        ).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum(
                F.round(F.col("value") * F.col("dur"), 6).cast("decimal(28,6)")
            ).alias("s"),
            F.sum("dur").alias("d"),
        )
        .filter(F.col("d") > 0)
        .select(
            "user_id",
            "n_intervals",
            F.round(F.col("s").cast("double") / F.col("d"), 9).alias("twa"),
        )
    )


@query(
    "q_autocorr",
    oracle="""
        WITH daily AS (
          SELECT event_type, date_trunc('day', ts) AS d,
                 CAST(SUM(CAST(value AS DECIMAL(28,6))) * 100
                      AS DECIMAL(38,0)) AS xc
          FROM events GROUP BY 1, 2
        ),
        pairs AS (
          SELECT event_type, xc AS x,
                 LEAD(xc) OVER (PARTITION BY event_type ORDER BY d) AS y
          FROM daily
        ),
        m AS (
          SELECT event_type,
                 CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM pairs WHERE y IS NOT NULL GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                      * CAST(n * syy - sy * sy AS DOUBLE)),
                               9)
               END AS lag1_autocorr
        FROM m
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's DAILY value series —
    the time-series persistence diagnostic (is today's volume predictive
    of tomorrow's?) behind seasonality checks and anomaly baselines.

    Determinism end to end in integers: daily sums accumulate in
    DECIMAL and convert to exact CENTS integers (×100, DECIMAL(38,0));
    the lag pairs come from lead() over the (type, day) order (unique —
    no tie ambiguity); all five moments are integer sums of integer
    products in DECIMAL(38,0) (int64 would overflow: Σx² ~ (daily
    cents)²·days ≈ 10¹⁵ at sf0.1 and grows with SF); the Pearson
    formula converts the three exact co-moments to double at the very
    END (one conversion + one sqrt + one division, correctly rounded on
    both engines; output rounded at 9 dp).

    Scale: one shuffle to (type, day) — the series frame is calendar-
    bounded, tiny forever; one window + one moment aggregate over it."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        (F.sum(F.col("value").cast("decimal(28,6)")) * 100)
        .cast("decimal(38,0)")
        .alias("xc")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = daily.select(
        "event_type",
        F.col("xc").alias("x"),
        F.lead("xc").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    den = F.sqrt(vx.cast("double") * vy.cast("double"))
    # Zero-variance guard (adversarial-fuzzer finding): Pearson is
    # undefined for a constant series (or a single pair) — Spark ANSI
    # would throw DIVIDE_BY_ZERO where DuckDB floats to NaN/inf.  Both
    # engines emit NULL; the integer variance test keeps the branch
    # decision exact, and CASE short-circuits the division.
    corr = F.when((vx > 0) & (vy > 0), F.round(num / den, 9))
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        corr.alias("lag1_autocorr"),
    )


@query(
    "q_trimmed_mean",
    oracle="""
        WITH r AS (
          SELECT event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                 AS trimmed_mean
        FROM r
        WHERE rn > n // 10 AND rn <= n - n // 10
        GROUP BY event_type
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of the metric per event type — the robust-location
    estimator metric pipelines use when a handful of instrumented outliers
    would otherwise move the mean (the standard robustness companion to
    q_outlier_iqr's flagging pass).

    This is the PURE-BUILT-IN spelling of the statistic q_udaf_pandas
    computes with a GROUPED_AGG pandas UDAF (relational_ext2.py): same
    trim rule, zero Python in the hot path — the pair demonstrates the
    UDAF-to-JVM migration every 100 TB pipeline eventually makes (the
    UDAF ships every group's values through Arrow; this ships two window
    columns and an exact decimal sum).

    Scale shape: one rank window partitioned by event_type (the shuffle
    carries (type, value) once), then the SAME shuffle's partitioning
    feeds the trimmed aggregate — no second exchange.  Trim bounds are
    integer arithmetic on the per-group rank/count (n DIV 10 off each
    end), so group sizes below 10 trim nothing and nothing divides by a
    group-size expression.

    Determinism: rank ties break on event_id; the mean is an exact
    decimal sum (2-dp metric values, the dsum contract) over the kept
    rows divided once in double — bit-stable at any partitioning."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w.orderBy("value", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    kept = r.filter(
        (F.col("rn") > F.expr("n DIV 10")) & (F.col("rn") <= F.col("n") - F.expr("n DIV 10"))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )
