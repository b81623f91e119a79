"""Event/behavior analytics (16 operators): sessionization, funnel
conversion, cohort retention, time-series gap fill, distribution
windows, source diversity, SCD2 history, column profiling, integer
PageRank, EWMA, ntile binning, latest-state, lag features, MAD
outliers, DAU/MAU stickiness, and the activity heatmap.

These are the batch shapes a product/training-data pipeline runs at
100 TB (the reference's datagen feeds exactly this kind of downstream —
its surface stops at table writes, so these extend SURVEY.md §2's
query layer the same way the dedup/text/similarity families do).

Scale design
------------
* Sessionization is ONE shuffle (hash by ``user_id``); the session
  boundary flag, session index, and per-session aggregates all reuse the
  same partitioning, so Spark plans a single Exchange followed by
  sort-based windows and a partial-agg groupBy.  The same per-key
  layout carries SCD2, latest-state, lag features, EWMA (the one
  genuinely sequential recurrence, applyInPandas per user), and the
  retention/funnel conditional aggregations — no self-joins, no
  explosion (the classic mistake is N self-joins for N funnel stages).
* Gap fill generates the dense (entity × day) frame with ``sequence`` +
  ``explode`` on a one-row bounds aggregate — the dense frame is tiny
  relative to the fact table and the join against observed counts is
  broadcastable from the dense side.
* The distribution windows (ntile / percent_rank / cume_dist) ride one
  sort per partition key with tie-broken ordering so results are
  deterministic across any cluster layout.
* Column profiling runs all per-column aggregates in ONE scan (Expand);
  PageRank is integer-mass power iteration over a session-cached edge
  table with node-bounded broadcasts; MAD/DAU-MAU are two-phase
  aggregates whose intermediate is keys-not-events sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_data_gen_spark.operators import register
from iceberg_data_gen_spark.operators.common import (
    dsum,
    dsum_sql,
    iso_weekday,
    spread_scan,
    table_artifact,
)
from iceberg_data_gen_spark.operators.common import docs_table as _docs
from iceberg_data_gen_spark.session import load_tables

SESSION_GAP_SEC = 1800  # 30 min inactivity closes a session


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("events",))["events"]


@register(
    "q_sessionize",
    oracle=f"""
    WITH flagged AS (
        -- ts IS NOT NULL on BOTH engines (NULL sweep r11): an event
        -- with no timestamp cannot be placed in a session — and the
        -- engines otherwise disagree structurally (Spark's NULLS FIRST
        -- opened a fresh session per NULL row, DuckDB's NULLS LAST
        -- merged them into the trailing session).  Matches the
        -- streaming twin, whose session window drops NULL event times.
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
                        > {SESSION_GAP_SEC} * 1000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE ts IS NOT NULL
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           {dsum_sql("value", 2)} AS sum_value
    FROM sess
    GROUP BY user_id, session_idx
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): boundary flag via
    ``lag``, session index via a running sum, then per-session rollup.

    One hash shuffle on ``user_id`` feeds the lag window, the running-sum
    window, AND the final groupBy (Spark reuses the partitioning; the
    plan has a single Exchange).  This is the batch twin of the
    streaming session window in streaming/events.py.
    """
    # NULL-ts events cannot be sessionized — dropped on both engines
    # (NULL sweep r11; see the oracle comment)
    e = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(order)
    new_sess = F.when(
        prev_us.isNull()
        | ((F.unix_micros("ts") - prev_us) > SESSION_GAP_SEC * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_idx", F.sum("new_sess").over(running))
        .groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation (shared dsum helper): events.value has
            # <= 2 decimal places, so the sum is exact regardless of
            # partition merge order; a raw double sum drifts with the
            # session's partitioning (playbook).
            dsum(F.col("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_funnel",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    ),
    stages AS (
        SELECT user_id,
               t_view IS NOT NULL AS s1,
               t_view IS NOT NULL AND t_click > t_view AS s2,
               t_view IS NOT NULL AND t_click > t_view
                   AND t_purchase > t_click AS s3
        FROM per_user
    ),
    counts AS (
        SELECT count(CASE WHEN s1 THEN 1 END) AS c1,
               count(CASE WHEN s2 THEN 1 END) AS c2,
               count(CASE WHEN s3 THEN 1 END) AS c3
        FROM stages
    )
    SELECT 1 AS stage_no, 'view' AS stage, c1 AS n_users FROM counts
    UNION ALL
    SELECT 2, 'view>click', c2 FROM counts
    UNION ALL
    SELECT 3, 'view>click>purchase', c3 FROM counts
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) counted WITHOUT
    self-joins: one per-user conditional aggregation computes the first
    timestamp of each stage, then boolean stage predicates compare them.

    The N-self-join formulation shuffles the fact table N times; this is
    one shuffle regardless of funnel depth — the only formulation that
    survives 100 TB.  NULL comparisons (user never clicked) are NULL →
    false in both engines.
    """
    e = _events(spark, sf_dir)
    first = F.min  # first occurrence = min event time

    def stage_ts(t: str):
        return first(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        stage_ts("view").alias("t_view"),
        stage_ts("click").alias("t_click"),
        stage_ts("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    counts = per_user.agg(
        F.count(F.when(s1, F.lit(1))).alias("c1"),
        F.count(F.when(s2, F.lit(1))).alias("c2"),
        F.count(F.when(s3, F.lit(1))).alias("c3"),
    )
    # one-row aggregate unpivoted to (stage_no, stage, n_users) — the
    # fact table is scanned and shuffled exactly once for all 3 stages
    return counts.selectExpr(
        "stack(3, 1, 'view', c1,"
        "         2, 'view>click', c2,"
        "         3, 'view>click>purchase', c3)"
        " AS (stage_no, stage, n_users)"
    )


@register(
    "q_retention",
    oracle="""
    WITH cohort AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT c.cohort_day,
           date_diff('day', c.cohort_day, a.active_day) AS day_offset,
           count(*) AS n_users
    FROM cohort c JOIN active a ON c.user_id = a.user_id
    WHERE date_diff('day', c.cohort_day, a.active_day) BETWEEN 0 AND 7
    GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each of the next 7 days they return.

    Both the cohort map and the (user, day) activity set shuffle on
    ``user_id`` once; the join is co-partitioned so no further exchange,
    and the output is |cohorts| × 8 rows.  At 100 TB the cohort side is
    users-not-events sized and AQE broadcast-flips it.
    """
    e = _events(spark, sf_dir)
    day = F.to_date("ts")
    cohort = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = e.select("user_id", day.alias("active_day")).distinct()
    off = F.datediff("active_day", "cohort_day")
    return (
        cohort.join(active, "user_id")
        .where((off >= 0) & (off <= 7))
        .groupBy("cohort_day", off.alias("day_offset"))
        # plain count, not count_distinct (review r10): within a
        # (cohort_day, day_offset) group each user contributes at most
        # one row — `active` is distinct on (user, day), a user has ONE
        # cohort_day, and the group's day_offset pins the active_day —
        # so the distinct aggregation was provably redundant state
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_gap_fill",
    oracle="""
    WITH obs AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events WHERE value > 195 GROUP BY 1, 2
    ),
    bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    frame AS (
        SELECT t.event_type, CAST(g.day AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds
        ) g
    )
    SELECT f.event_type, f.day, coalesce(obs.n, 0) AS n_events
    FROM frame f
    LEFT JOIN obs ON obs.event_type = f.event_type AND obs.day = f.day
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: dense (event_type × day) frame over the
    observed span, zero-filling days where the filtered series
    (value > 195 — sparse by construction) has no rows.

    The dense frame comes from ``sequence``+``explode`` over a one-row
    min/max aggregate crossed with the distinct entity set — tiny, built
    without touching the fact table a second time beyond two cheap
    aggregates; the left join broadcasts the OBS side (the only side a
    left-outer join can build on), itself bounded at |types| × |days|.
    """
    e = _events(spark, sf_dir)
    day = F.to_date("ts")
    obs = (
        e.where(F.col("value") > 195)
        .groupBy(F.col("event_type").alias("o_type"), day.alias("o_day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = e.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    frame = e.select("event_type").distinct().crossJoin(days)
    return (
        frame.join(
            obs,
            (frame["event_type"] == obs["o_type"]) & (frame["day"] == obs["o_day"]),
            "left",
        )
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(o_totalprice, 2) AS price
    FROM orders
    -- NULLS FIRST = Spark's ASC default on BOTH sort keys (NULL sweep
    -- r11; the o_orderkey tie-break pin was missing until the r12 keys
    -- sweep, seed 7, nulled enough orderkeys to misplace 77 rows)
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per order priority, tie-broken by key so row-position-dependent
    ntile is deterministic on any partition layout.

    Distinct surface vs ``relational3.q_window_frames`` (review r8,
    deliberate overlap): the partition key here is HIGH-cardinality-ish
    o_orderpriority (5 values, even sizes) vs o_orderstatus (3, heavily
    skewed), AND the output carries a rounded measure column through the
    window projection — together they pin ntile's bucket arithmetic on
    a different partition-size profile; q_window_frames additionally
    covers first_value/nth_value, which this query deliberately omits."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round("o_totalprice", 2).alias("price"),
    )


@register(
    "q_source_diversity",
    oracle="""
    WITH c AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY source, lang
    ),
    t AS (
        SELECT source, sum(n) AS total FROM c GROUP BY source
    )
    SELECT c.source,
           CAST(t.total AS BIGINT) AS n_docs,
           count(*) AS n_langs,
           round(1.0 - sum(CAST(c.n AS DOUBLE) * c.n)
                       / (CAST(t.total AS DOUBLE) * t.total), 6)
               AS lang_gini
    FROM c JOIN t ON c.source = t.source
    GROUP BY c.source, t.total
    """,
)
def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity profile: doc count, distinct
    languages, and Gini impurity of the language distribution — the
    mixture-monitoring view a training-data pipeline keeps per corpus
    source.

    Gini (1 − Σ pᵢ²) instead of Shannon entropy deliberately: it is pure
    rational arithmetic over counts, so Spark and DuckDB agree bit-for-bit
    (no libm log whose last ulp differs across engines).  Two hash
    aggregations partitioned by the same source key + a broadcast-sized
    totals join.
    """
    docs = _docs(spark, sf_dir)
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("total"))
    return (
        c.join(t, "source")
        .groupBy("source", "total")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.round(
                F.lit(1.0)
                - F.sum(F.col("n").cast("double") * F.col("n"))
                / (F.col("total").cast("double") * F.col("total")),
                6,
            ).alias("lang_gini"),
        )
        .select(
            "source",
            F.col("total").cast("bigint").alias("n_docs"),
            "n_langs",
            "lang_gini",
        )
    )


@register(
    "q_scd2",
    oracle="""
    -- NULLS FIRST = Spark's ASC default (NULL sweep r11): a NULL ts
    -- otherwise changes WHICH rows count as state changes
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev
      FROM events
    ), chg AS (
      SELECT user_id, event_type, ts, event_id FROM seq
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts NULLS FIRST, event_id NULLS FIRST) IS NULL
             AS is_current
    FROM chg
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's event
    stream into validity intervals of their current ``event_type`` state
    — a row per state CHANGE, with ``valid_from``/``valid_to`` interval
    bounds (lead of the next change) and an ``is_current`` flag on the
    open interval.  The standard warehouse dimension-history shape.

    One hash shuffle on ``user_id`` serves the change-detection lag, the
    filter, AND the interval lead — Spark reuses the partitioning, so
    the plan carries a single Exchange (same trick as q_sessionize).
    (ts, event_id) is a unique order key: no tie ambiguity."""
    e = _events(spark, sf_dir)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        e.withColumn("prev", F.lag("event_type").over(order))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    valid_to = F.lead("ts").over(order)
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@register(
    "q_column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(15,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderdate),
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR),
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)
    FROM orders
    """,
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator (pipeline QA surface): per-column null
    count, exact distinct count, and min/max rendered to engine-portable
    strings (ints verbatim, doubles via DECIMAL(15,2), timestamps via
    DATE — the playbook's portable casts).

    ONE scan over the table, TWO aggregates off it (r13 split — was one
    combined aggregate): mixing the 6 countDistincts with string min/max
    forced the whole multi-distinct onto SortAggregate (string agg
    buffers are immutable, so HashAggregate is ineligible), which paid a
    full Sort of the Expand ×7 output (1.05M wide rows at sf0.1) plus a
    second post-exchange Sort — measured 4.2s warm, the suite's most
    expensive entry.  Split, each half gets its cheap plan: the
    null-count/min/max aggregate has NO grouping keys, so its
    SortAggregate is a plain fold (no Sort node anywhere), and the
    distinct-only aggregate keeps longs in its buffer, so the Expand
    path stays HashAggregate end-to-end.  Both 1-row results cross-join
    back (broadcast) and unpivot via ``stack`` exactly as before —
    same 24 aggregates, bit-identical output.  At 100 TB swap the exact
    distincts for approx_count_distinct and keep the identical shape.

    The scan is also spread first (guide §2.5): on the single-row-group
    testdata layout the Expand + partial aggregation otherwise run on
    ONE task.  All aggregates are exact and order-insensitive (counts,
    distincts, min/max), so neither change can perturb a bit.
    """
    orders = spread_scan(
        load_tables(spark, sf_dir, ("orders",))["orders"],
        sf_dir,
        "orders",
        "o_orderkey",
    )

    ident = lambda x: x  # noqa: E731
    casts = {
        "o_orderkey": ident,
        "o_custkey": ident,
        "o_orderstatus": ident,
        "o_orderpriority": ident,
        "o_totalprice": lambda x: x.cast("decimal(15,2)"),
        "o_orderdate": lambda x: x.cast("date"),
    }
    minmax = orders.agg(
        *[
            a
            for c, caster in casts.items()
            for a in (
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
                caster(F.min(c)).cast("string").alias(f"mn_{c}"),
                caster(F.max(c)).cast("string").alias(f"mx_{c}"),
            )
        ]
    )
    distincts = orders.agg(
        *[F.countDistinct(F.col(c)).alias(f"nd_{c}") for c in casts]
    )
    one = minmax.crossJoin(F.broadcast(distincts))
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in casts
    )
    return one.selectExpr(
        f"stack({len(casts)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


PR_ITERS = 3

PR_SCALE = 1_000_000  # integer mass per node
# damping as an integer percentage, interpolated into BOTH the Spark
# expression and the oracle CTEs (review r10: the 85 / 15%-base pair was
# typed independently at four sites that must stay bit-identical for the
# integer-exact parity to hold)
PR_DAMP_PCT = 85
PR_BASE = PR_SCALE * (100 - PR_DAMP_PCT) // 100  # 150_000


def _pagerank_oracle() -> str:
    """Chained-CTE twin: each Lloyd-style iteration is one CTE pair.
    All arithmetic is BIGINT (floor division) so partition merge order
    cannot perturb a single bit — the playbook's integer-exactness rule
    applied to an iterative graph algorithm."""
    base = PR_BASE
    sql = """
    WITH ord AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   -- NULLS FIRST = Spark's ASC default (NULL sweep
                   -- r11): a NULL ts otherwise sits at the other end
                   -- of the user's stream and flips its edges
                   PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
               ) AS nxt
        FROM events
    ),
    edges AS (
        SELECT event_type AS src, nxt AS dst, count(*) AS w
        FROM ord WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
    m0 AS (SELECT node, CAST({scale} AS BIGINT) AS mass FROM nodes)
    """.format(scale=PR_SCALE)
    for i in range(1, PR_ITERS + 1):
        sql += """,
    c{i} AS (
        SELECT e.dst AS node,
               sum((((m.mass * {damp}) // 100) * e.w) // o.tw) AS contrib
        FROM edges e
        JOIN m{p} m ON m.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
    ),
    m{i} AS (
        SELECT n.node, {base} + coalesce(c.contrib, 0) AS mass
        FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )
    """.format(i=i, p=i - 1, base=base, damp=PR_DAMP_PCT)
    sql += f"SELECT node AS event_type, CAST(mass AS BIGINT) AS pagerank_mass FROM m{PR_ITERS}"
    return sql


@register("q_event_pagerank", oracle=_pagerank_oracle())
def q_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph — the iterative
    graph-algorithm shape (power iteration) as pure DataFrame joins.

    Graph: per-user event streams yield (type -> next type) edges with
    transition counts (one window pass); PR_ITERS power iterations
    propagate INTEGER mass (PR_DAMP_PCT% along out-edges proportional
    to weight with floor division, the rest as PR_BASE), so results are
    bit-exact against the chained-CTE oracle — float PageRank would
    diverge across partition merge orders.  Dangling-node mass
    evaporates (documented classic variant).  The damping/base pair is
    interpolated from the module constants into BOTH engines' arithmetic
    (review r10: four independently typed copies).

    Scale: nodes here are event types, but the plan is the web-graph
    one — each iteration is contribution-join + groupBy(dst) + left
    join, all on the node key; at 1e9 nodes you pre-partition edges by
    src, reuse that partitioning every iteration, and localCheckpoint
    the rank vector (as ``q_dedup_clusters`` does) to cut the lineage.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordd = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    edges = (
        ordd.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    outw = edges.groupBy("src").agg(F.sum("w").alias("tw"))
    # ONE cached edge table per (session, corpus) as an artifact — a
    # per-call .cache() pinned a fresh never-released copy in executor
    # storage every time the query ran (bench loops run it repeatedly).
    # nodes rides the same entry (r13, guide §2.4): the node table
    # appears in EVERY iteration's mass plan (PR_ITERS × 2 + 1 subtrees),
    # and uncached each appearance re-scanned events and re-ran the
    # distinct — ~7 redundant scan+agg jobs per call.  Caching the
    # |event types|-row table is also the 100 TB posture: the rank
    # vector's node spine is the one relation an iterative graph job
    # must NOT recompute per iteration.
    spine = lambda: (edges.join(outw, "src").cache(), nodes.cache())  # noqa: E731
    edges, nodes = table_artifact(spark, sf_dir, "events", ("pagerank_edges",), spine)

    base = PR_BASE
    mass = nodes.withColumn("mass", F.lit(PR_SCALE).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(F.broadcast(mass), edges["src"] == mass["node"])
            .select(
                "dst",
                F.expr(
                    f"(((mass * {PR_DAMP_PCT}) div 100) * w) div tw"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        mass = nodes.join(
            F.broadcast(contrib), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit(base) + F.coalesce("contrib", F.lit(0))).cast("long").alias("mass"),
        )
    return mass.select(
        F.col("node").alias("event_type"), F.col("mass").alias("pagerank_mass")
    )


@register(
    "q_ewma",
    oracle="""
    WITH RECURSIVE s AS (
        SELECT user_id, event_id, value,
               -- deliberately NO NULLS FIRST pin here (r11): the ewma
               -- kernel's pandas sort_values places NaN/NaT LAST,
               -- which matches DuckDB's ASC default exactly
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        -- user_id IS NOT NULL (r11 keys pass): per-entity state needs an
        -- entity — Spark's groupBy forms a NULL-key group while the
        -- recursion's equality join can never walk it
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    r AS (
        SELECT user_id, rn, event_id, value, value AS ewma FROM s WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn, s.event_id, s.value, (s.value + r.ewma) / 2
        FROM s JOIN r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, ewma FROM r
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 1/2) over event values — the genuinely
    SEQUENTIAL per-key operator Spark's built-ins cannot express: each
    state depends on the previous, so it runs as a grouped-map
    (applyInPandas) with one Arrow batch per user and a tight numpy loop
    inside.

    Exactness: alpha = 1/2 makes every step ``(x + prev) / 2`` — the
    division is exact in binary floating point and both engines evaluate
    the identical left-to-right recurrence (the oracle's recursive CTE
    steps in the same order), so results are bit-equal with no rounding.
    NULL values are filtered on BOTH engines before the recurrence
    (review r10: pandas turns a NULL into NaN, which the numpy loop
    would propagate as NaN doubles while the CTE propagates SQL NULL —
    different stringifications under the driver hash; testdata carries
    no NULLs today, but it regenerates every round).
    Scale: per-user history is the only sequential span; users fan out
    across executors (one shuffle on user_id) — the canonical
    stateful-timeseries layout.
    """
    import numpy as np
    import pandas as pd

    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())

    def ewma_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy()
        out = np.empty(len(vals))
        acc = 0.0
        for i, v in enumerate(vals):
            acc = v if i == 0 else (v + acc) / 2.0
            out[i] = acc
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "ewma": out}
        )

    return (
        # entity rule (r11 keys pass — see the oracle comment)
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(ewma_fn, "user_id long, event_id long, ewma double")
    )


@register(
    "q_ntile_binning",
    oracle="""
    WITH b AS (
        -- NULLS FIRST = Spark's ASC default on BOTH keys (NULL sweep
        -- r11/r12): NULL prices bin into decile 1, and NULL orderkey
        -- tie-breaks place identically (the aggregate is permutation-
        -- invariant within equal-price runs, but bit-identical bucket
        -- assignment is the stronger, cheaper property)
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice NULLS FIRST,
                               o_orderkey NULLS FIRST) AS bin
        FROM orders
    )
    SELECT bin, count(*) AS n_orders,
           min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
    FROM b GROUP BY bin
    """,
)
def q_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth (decile) feature binning with ``ntile`` — the
    discretization step of feature pipelines.  The (value, key)
    tie-break makes bucket assignment identical in both engines; min/max
    emit unrounded doubles (same element selected -> bit-equal).

    The global ntile is a single-partition window — fine for a
    threshold-sized result, but at 100 TB the same binning is done with
    approx_percentile edges + a broadcast range join (documented trade,
    as in q_length_band_filter)."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "q_event_latest_state",
    oracle="""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM (
        SELECT user_id, event_type, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def q_event_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins compaction: the CURRENT state per (user, event
    type) — the materialization step that turns an append-only event log
    into an upsert table (CDC compaction / Kafka log-compaction
    semantics, batch form).

    One hash exchange on the state key, and the rank-filter window
    compiles to WindowGroupLimit (plan-asserted): each reducer keeps a
    running top-1 instead of buffering the full group — at 100 TB the
    state per key is one row, not the key's history."""
    ev = _events(spark, sf_dir)

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "q_lag_features",
    oracle="""
    SELECT user_id, event_id, ts, value,
           lag(value, 1) OVER w AS lag1,
           lag(value, 2) OVER w AS lag2,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / least(row_number() OVER w, 3) AS rolling_mean3,
           CAST(row_number() OVER w AS BIGINT) AS event_seq
    FROM events
    -- NULLS FIRST = Spark's ASC default (NULL sweep r11): NULL-ts
    -- events must occupy the same sequence slots on both engines
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence feature engineering for per-user event models: lag-1/
    lag-2 values, 3-event rolling mean, and the event index — the
    window-feature block a churn/next-action model trains on.

    All four features ride ONE hash exchange + one sort on
    (user_id, ts): Catalyst fuses same-spec windows into a single Window
    node.  The rolling sum accumulates in DECIMAL because engines
    disagree on float summation order inside sliding frames (Spark adds
    incrementally, DuckDB may segment-tree) — exact accumulation makes
    the frame math order-independent, then one exact division."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    rn = F.row_number().over(w)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("value", 2).over(w).alias("lag2"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).over(wf).cast("double")
            / F.least(rn, F.lit(3))
        ).alias("rolling_mean3"),
        rn.cast("long").alias("event_seq"),
    )


@register(
    "q_value_outliers_mad",
    oracle="""
    WITH med AS (
        SELECT event_type,
               quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               m.med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type, m.med
    )
    SELECT e.event_type,
           count(*) AS n_events,
           m.med AS median_value,
           m.mad AS mad_value,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type, m.med, m.mad
    """,
)
def q_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per event type, flag values more than
    3 median-absolute-deviations from the median — the
    mean/stddev-free screen that survives heavy-tailed metrics.

    Two aggregation passes on the same event_type key (median, then MAD
    of deviations) and one counting join — all exact: Spark
    ``percentile`` and DuckDB ``quantile_cont`` both compute the
    linear-interpolated exact percentile, and the interpolation
    ``a + (b-a)*f`` is IEEE-exact given identical inputs.  Medians
    broadcast back (|event types| rows), so the fact table shuffles
    once per pass and never self-joins.

    r14 (VERDICT r13 #9): a spread_scan on the three single-task event
    scans was TRIED and measured a ~7% regression in an interleaved
    A/B (no-spread 0.863s vs spread 0.927s min-of-5, sf0.1/local[32])
    — percentile's partial aggregate is too light per row for the
    added exchange to pay.  The single-task scan stages remain by
    input layout; at healthy layouts they parallelize on their own."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad")
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    ).select(
        "event_type",
        "n_events",
        F.col("med").alias("median_value"),
        F.col("mad").alias("mad_value"),
        "n_outliers",
    )


@register(
    "q_dau_mau_stickiness",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(date_trunc('day', ts) AS DATE)   AS day,
               count(DISTINCT user_id) AS dau
        FROM events
        GROUP BY 1, 2
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               count(DISTINCT user_id) AS mau
        FROM events
        GROUP BY 1
    )
    SELECT m.month, m.mau,
           CAST(sum(d.dau) AS BIGINT) AS sum_dau,
           count(*) AS n_days,
           CAST(sum(d.dau) AS DOUBLE) / count(*) / m.mau AS stickiness
    FROM monthly m JOIN daily d USING (month)
    GROUP BY m.month, m.mau
    """,
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement scorecard: per month, distinct monthly actives (MAU),
    summed daily actives, and the DAU/MAU stickiness ratio — the
    product-health metric every activity pipeline reports.

    Two count-distinct aggregations over the same scan (day grain and
    month grain) joined on month (|months| rows broadcast); integer
    distinct counts make every input exact and stickiness is two exact
    divisions.  At 100 TB the exact distincts swap for HLL sketches with
    the identical plan shape."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(F.countDistinct("user_id").alias("mau"))
    return (
        daily.join(F.broadcast(monthly), "month")
        .groupBy("month", "mau")
        .agg(
            F.sum("dau").alias("sum_dau"),
            F.count(F.lit(1)).alias("n_days"),
            (
                F.sum("dau").cast("double") / F.count(F.lit(1)) / F.col("mau")
            ).alias("stickiness"),
        )
        .select("month", "mau", "sum_dau", "n_days", "stickiness")
    )


@register(
    "q_activity_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS INT) AS iso_weekday,
           CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (weekday × hour) activity grid behind every usage heatmap —
    one aggregation over calendar-bucketed event time with both volume
    and unique-user intensity.

    Same ISO-weekday normalization as q_weekday_seasonality (Spark
    dayofweek is Sunday-based); hour extraction agrees because both
    engines see the same session-zone timestamps.  168 output cells at
    any scale — the shuffle carries partial (cell, count, user-partials)
    rows only."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        iso_weekday("ts").alias("iso_weekday"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
