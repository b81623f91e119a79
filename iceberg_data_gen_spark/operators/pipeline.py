"""Training-data pipeline operators: the corpus-preparation steps a
large-scale LLM data pipeline runs AFTER dedup/quality filtering —
deterministic global shuffle into training shards, domain-mixture
rebalancing, inverted-index construction, and term co-occurrence counts.

Reference parity note: the reference implements none of these (it is a
table-population CLI, SURVEY.md §2.2); they enter via the driver's
north-star LLM-pipeline extension, alongside dedup.py / text.py /
similarity.py.

Design rules (100 TB posture)
-----------------------------
* Ordering/sampling keys are ``md5`` of stable ids — engine-portable,
  partition-layout-independent, reproducible run to run (TABLESAMPLE and
  rand() are neither).  This is the same primitive as q_sample_hash /
  q_temperature_sample.
* Shard-local positions come from a window partitioned BY SHARD, so no
  global total ordering is ever materialized: each shard sorts
  independently (at scale: ``repartitionByRange`` on the hash key then
  a per-partition sort — an exchange plus local sort, no single-reducer
  bottleneck).
* Token pair generation is a JVM higher-order-function expression over
  the sorted distinct-token array — no self-join, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_data_gen_spark.operators import register
from iceberg_data_gen_spark.operators.common import doc_order_key, ttr_expr
from iceberg_data_gen_spark.operators.common import table_artifact
from iceberg_data_gen_spark.operators.common import docs_table as _docs


def _shard_of(h: F.Column) -> F.Column:
    # hex digit -> 0..15: portable across Spark (instr) and DuckDB (strpos)
    return F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1


@register(
    "q_global_shuffle",
    oracle="""
    SELECT doc_id, source, shard,
           row_number() OVER (PARTITION BY shard
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS position
    -- doc_id IS NOT NULL (r11 keys pass, entity rule): id-less docs
    -- all hash to the NULL shard with fully-tied order keys, so their
    -- positions are assigned arbitrarily and differently per engine
    FROM (SELECT doc_id, source,
                 strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS shard
          FROM documents WHERE doc_id IS NOT NULL)
    """,
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards: every doc gets
    a (shard, position) from the md5 of its id — the reproducible
    "random" order a training run reads.

    The window partitions BY SHARD, so each of the 16 shards sorts
    independently — there is no global sort and no single-reducer
    stage; at 1000 executors this is one hash exchange on ``shard``
    plus embarrassingly parallel local sorts.
    """
    # entity rule (r11 keys pass — see the oracle comment)
    docs = _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    sharded = docs.select(
        "doc_id", "source", doc_order_key().alias("h")
    ).withColumn("shard", _shard_of(F.col("h")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    # long position (review r10): row_number() is int32 and a 100 TB
    # shard can exceed 2^31 docs; the oracle side is already BIGINT
    return sharded.select(
        "doc_id",
        "source",
        "shard",
        F.row_number().over(w).cast("long").alias("position"),
    )


@register(
    "q_domain_mixture",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk
        -- doc_id IS NOT NULL (r11 keys pass): md5(NULL) order keys and
        -- checksums of unidentifiable docs are undefined — the entity
        -- rule: id-less rows drop from id-keyed computations
        FROM documents WHERE doc_id IS NOT NULL
    ),
    cap AS (
        SELECT min(cnt) AS cap
        FROM (SELECT count(*) AS cnt FROM documents
              WHERE doc_id IS NOT NULL GROUP BY source)
    )
    SELECT source,
           count(*)    AS kept,
           CAST(sum(doc_id) AS BIGINT) AS kept_checksum
    FROM ranked, cap
    WHERE rk <= cap
    GROUP BY source
    """,
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: downsample every source to the size of
    the smallest one (a uniform target mix), choosing survivors by md5
    rank so the subsample is deterministic and engine-portable.  The
    checksum of kept doc_ids proves both engines selected the SAME
    documents, not merely the same number.

    Per-source ranking is a window partitioned by ``source`` (one hash
    exchange); the cap is a 1-row broadcast.  At a real mixture step the
    cap per source comes from a target-weights table instead of min() —
    same plan shape with the cap joined by source.
    """
    # id-less docs drop (r11 keys pass — see the oracle comment)
    docs = _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    h = doc_order_key()
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.select("doc_id", "source", h.alias("h")).withColumn(
        "rk", F.row_number().over(w)
    )
    cap = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("cap"))
    )
    return (
        ranked.join(F.broadcast(cap))
        .where(F.col("rk") <= F.col("cap"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("doc_id").alias("kept_checksum"),
        )
    )


@register(
    "q_inverted_index",
    oracle="""
    SELECT term,
           count(DISTINCT doc_id) AS doc_freq,
           count(*)               AS term_freq,
           min(doc_id)            AS first_doc,
           max(doc_id)            AS last_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per-term document frequency, corpus
    term frequency, and posting-list bounds — the metadata page of a
    search index over the corpus.

    One explode + one groupBy on ``term`` (map-side partial aggregation
    applies); posting bounds are min/max so no per-term list is
    materialized on any single task.  A full posting-list build at scale
    would ``collect_list(doc_id)`` per term with the same single
    exchange, writing lists straight to the index sink.
    """
    docs = _docs(spark, sf_dir)
    terms = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("term_freq"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "q_cooccurrence",
    oracle="""
    WITH toks AS (
        -- doc_id IS NOT NULL (r11 keys pass): the oracle's self-join on
        -- doc_id never matches NULL while Spark's per-row HOF pairs
        -- need no id — drop id-less docs on both engines
        SELECT doc_id,
               unnest(list_sort(list_distinct(string_split(text, ' ')))) AS tok
        FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT t1.tok AS term_a, t2.tok AS term_b, count(*) AS pair_count
    FROM toks t1 JOIN toks t2 ON t1.doc_id = t2.doc_id AND t1.tok < t2.tok
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence counts (the integer core of PMI / word-vector
    statistics): for every pair of distinct terms appearing in the same
    document, how many documents contain both.

    Pairs are generated JVM-side by a higher-order expression over the
    SORTED distinct-token array (slice beyond each element ⇒ each
    unordered pair exactly once, already in (a < b) form) — no self-join
    and no shuffle until the single pair-count groupBy.  Pair volume is
    quadratic in per-doc DISTINCT vocabulary, not document length; at
    scale the standard containment step is restricting to a top-V
    frequent-term vocabulary first (one broadcast semi-join), which
    bounds pairs per doc at V².  Counts are exact integers, so the
    oracle match is bit-for-bit.
    """
    # id-less docs drop (r11 keys pass — see the oracle comment)
    docs = _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    pairs = F.expr(
        "flatten(transform(toks, (x, i) -> "
        "  transform(slice(toks, i + 2, size(toks)), y -> struct(x AS a, y AS b))))"
    )
    return (
        docs.select(toks.alias("toks"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= 5)
    )


@register(
    "q_curriculum_order",
    oracle="""
    SELECT doc_id,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr,
           CAST(row_number() OVER (
               ORDER BY CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')) DESC,
                        doc_id
           ) AS BIGINT) AS global_rank
    -- doc_id IS NOT NULL (r11 keys pass): the rank tie-break is doc_id
    FROM documents WHERE doc_id IS NOT NULL
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: a GLOBAL rank over the whole corpus (here by
    type-token ratio, cleanest-first) computed WITHOUT a single-reducer
    sort — the pattern a 100 TB curriculum schedule needs.

    Plan: range-repartition on the sort key (sampled boundaries, fully
    parallel), rank locally within each range partition, then add
    per-partition offsets (a tiny driver-side cumulative sum over the
    partition COUNTS — 16 longs, not data).  The result equals
    ``row_number() OVER (ORDER BY ...)`` exactly, but every stage is
    embarrassingly parallel; the classic one-partition window would
    funnel the entire corpus through one task.  Ranks are deterministic
    even though the sampled range boundaries are not: the key
    (ttr DESC, doc_id) is a total order, and offsets are computed from
    the actual partition sizes.

    The range-partition count follows ``spark.sql.shuffle.partitions``
    (review r10: a hard-coded 16 was a parallelism ceiling — at the
    100 TB posture it would funnel the corpus through 16 sort tasks,
    exactly the bottleneck the operator exists to avoid); the global
    ranks are invariant to the count because the key is a total order.
    The eager localCheckpoint is an artifact per (session, corpus,
    n_parts) like the pagerank edge table (review r10: a per-call
    checkpoint pinned a fresh never-released corpus-sized copy in
    executor storage on every invocation — bench loops run this
    repeatedly).
    """

    # id-less docs drop (r11 keys pass): the rank tie-break is doc_id
    docs = _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    d = docs.select("doc_id", ttr_expr(F.split("text", " ")).alias("ttr"))
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = 16  # e.g. "auto" under some AQE configs
    # pin partitioning: pid must be stable across the count + window.
    # localCheckpoint blocks are not registered with the CacheManager
    # (ADVICE r10): a dropped artifact is released when the checkpointed
    # RDD is garbage-collected and the ContextCleaner reclaims its blocks
    def build():
        rp = d.repartitionByRange(n_parts, F.desc("ttr"), F.asc("doc_id"))
        return rp.withColumn("pid", F.spark_partition_id()).localCheckpoint(eager=True)

    rp = table_artifact(spark, sf_dir, "documents", ("curriculum_rp", n_parts), build)
    # partition sizes -> exclusive prefix offsets (n_parts rows on the driver)
    sizes = {r["pid"]: r["cnt"] for r in rp.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in range(n_parts):
        offsets[pid] = acc
        acc += sizes.get(pid, 0)
    off_df = rp.sparkSession.createDataFrame(
        [(p, o) for p, o in offsets.items()], "pid int, off long"
    )
    w = Window.partitionBy("pid").orderBy(F.desc("ttr"), F.asc("doc_id"))
    return (
        rp.withColumn("local_rank", F.row_number().over(w))
        .join(F.broadcast(off_df), "pid")
        .select(
            "doc_id",
            "ttr",
            (F.col("off") + F.col("local_rank")).cast("long").alias("global_rank"),
        )
    )


@register(
    "q_top_p_per_source",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (PARTITION BY source) AS total_chars,
               sum(n_chars) OVER (PARTITION BY source
                                  -- NULLS FIRST on the ASC tie-break =
                                  -- Spark's default (r11 latent-tie pin)
                                  ORDER BY n_chars DESC, doc_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING) AS cum_chars
        FROM documents
    )
    SELECT source,
           count(*) AS kept_docs,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           CAST(min(n_chars) AS BIGINT) AS cutoff_chars
    FROM scored
    WHERE (cum_chars - n_chars) * 5 < total_chars * 4
    GROUP BY source
    """,
)
def q_top_p_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus selection per source: keep the
    largest-first documents until 80% of each source's character mass is
    covered — the budgeted-keep step a data-mixture pipeline runs when a
    source must shrink without uniform subsampling.

    The keep rule uses the EXCLUSIVE cumulative sum (a doc is kept if
    the mass BEFORE it is still under the threshold), so exactly the
    boundary document crosses p.  Both windows (total + running) ride
    ONE hash exchange on ``source``.  The 80% cutoff is compared as
    ``prior_mass * 5 < total * 4`` — pure BIGINT arithmetic on BOTH
    engines (review r10: the previous ``< 0.8 * total`` ran in double
    on Spark but exact DECIMAL in DuckDB, where the 0.8 literal is
    DECIMAL(2,1); the engines happened to agree below ~2e15 chars per
    source, but the integer form is exact at ANY scale and immune to
    'equivalent' threshold rewrites)."""

    docs = _docs(spark, sf_dir)
    w_total = Window.partitionBy("source")
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(w_total).alias("total_chars"),
        F.sum("n_chars").over(w_run).alias("cum_chars"),
    )
    return (
        scored.where(
            (F.col("cum_chars") - F.col("n_chars")) * 5
            < F.col("total_chars") * 4
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.min("n_chars").cast("long").alias("cutoff_chars"),
        )
    )


TOKEN_BUDGET = 1_000_000  # total training tokens to fill


@register(
    "q_token_budget_epochs",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        FROM documents
        GROUP BY source
    ),
    tot AS (SELECT count(*) AS n_sources FROM per_source)
    SELECT source, n_docs, tokens,
           CAST({TOKEN_BUDGET} // n_sources AS BIGINT) AS target_tokens,
           CAST(ceil(CAST({TOKEN_BUDGET} // n_sources AS BIGINT)
                     / CAST(tokens AS DOUBLE)) AS BIGINT) AS epochs
    FROM per_source, tot
    """,
)
def q_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-run planning: per-source epoch counts against a global
    token budget with a uniform target mix — the "how many times do we
    repeat each source" table an LLM data-mixing config is built from
    (small sources repeat, large ones subsample at epochs=1).

    One aggregation over the corpus plus a 1-row broadcast of the source
    count; token totals are integer sums (map-side combinable) and the
    epoch count is ceil of one exact double division, so the plan is
    engine-exact and costs a single shuffle at any corpus size."""
    docs = _docs(spark, sf_dir)
    per_source = (
        docs.select("source", F.size(F.split("text", " ")).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("tokens"))
    )
    tot = per_source.agg(F.count(F.lit(1)).alias("n_sources"))
    # integer floor-division on BOTH sides (DuckDB `//` above): double
    # division + cast would truncate in Spark but round-to-nearest in a
    # DuckDB CAST, diverging whenever the fraction is >= .5
    target = F.expr(f"div({TOKEN_BUDGET}, n_sources)")
    return per_source.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        target.alias("target_tokens"),
        F.ceil(target / F.col("tokens").cast("double")).cast("long").alias("epochs"),
    )
