"""Deduplication operators over ``documents`` / ``embeddings`` — the
core large-corpus pipeline: exact hash dedup, normalized dedup, n-gram
Jaccard similarity, MinHash+LSH candidate generation, SimHash, and
embedding-cosine near-duplicate detection.

Scale design
------------
* Exact / normalized dedup: one hash-groupBy — a single shuffle on the
  content hash, map-side partial aggregation.  This is THE pattern at
  100 TB (hash is 16 bytes regardless of document size).
* MinHash+LSH: shingle → k min-hashes (one groupBy) → band buckets →
  self-join on (band, hash).  The self-join shuffles only (doc_id,
  signature) pairs — bounded by bands×docs, not docs² — which is why
  LSH is the scale path while all-pairs Jaccard is quadratic.
* All-pairs Jaccard here is deliberately restricted to within-language
  blocks (a blocking key), the standard trick to tame the quadratic;
  at 100 TB you'd block on LSH buckets instead (q_minhash_lsh).
* SimHash: per-word 32-bit hashes aggregated into per-bit vote sums —
  one groupBy, 32 integer aggregates, no UDFs.  The hash is derived
  from md5 hex (identical in Spark and DuckDB) so even this is
  oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_data_gen_spark.operators import QUERIES, register
from iceberg_data_gen_spark.operators.common import docs_table as _docs
from iceberg_data_gen_spark.operators.common import md5_hash32_sql, ngram_expr
from iceberg_data_gen_spark.operators.common import (
    round_half_up,
    round_half_up_sql,
    spread_scan,
    table_artifact,
    vec_complete,
)
from iceberg_data_gen_spark.session import load_tables

SIMHASH_BITS = 32
MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands × 4 rows
CC_DRIVER_MAX_EDGES = 2_000_000  # union-find shortcut cap (~32 MB of pairs)
# Corpus size past which the cluster/survivor chain switches its pair
# source from exact blocked-Jaccard (quadratic within blocks) to
# LSH candidates → exact-Jaccard confirm (linear in candidates) — the
# documented 100 TB dedup pipeline.  MEASURED (scripts/
# probe_lsh_crossover.py, testdata-shaped synthetic corpora with a 50k
# vocabulary and 5% near-dup rate): the LSH+confirm branch crosses over
# at ~550 docs and wins by 8× at 3k / ~95× at 10k (exact 227s vs 2.4s),
# with measured candidate recall 1.0 at every probed size.  The
# threshold is NOT set at the crossover: it sits strictly ABOVE the
# largest oracle-checked corpus (sf0.1 = 5k docs, ≤2.5s exact there) so
# every driver/oracle comparison keeps the bit-exact quadratic path,
# and 2× headroom keeps it there if testdata doubles.  Past 10k no
# oracle runs and the measured ~95×-and-growing win makes LSH+confirm
# the only sane default.  Tests and scale probes force the LSH path at
# any scale by lowering this constant.
DEDUP_LSH_MIN_DOCS = 10_000
# Clique cap for the cluster chain's CONFIRM-FILTERED candidates: the
# downstream exact-Jaccard filter drops star edges whose member↔bmin
# score dips below threshold (splitting clusters), so this path affords
# a larger in-bucket clique before star-reducing — ≤ ~32k in-row pairs
# per bucket, still linear in bucket count at any corpus size.
DEDUP_CHAIN_BUCKET_CAP = 256
def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


def _doc_count(spark: SparkSession, sf_dir: str) -> int:
    build = lambda: _docs(spark, sf_dir).count()  # noqa: E731
    return table_artifact(spark, sf_dir, "documents", ("doc_count",), build)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash, keep lowest doc_id."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_normalized",
    oracle="""
    SELECT md5(lower(regexp_replace(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'),
                                    ' +', ' ', 'g'))) AS norm_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on normalized text (lowercase, strip punctuation,
    collapse whitespace) — catches trivial reformatting duplicates."""
    docs = _docs(spark, sf_dir)
    norm = F.lower(
        F.regexp_replace(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""), " +", " ")
    )
    return (
        docs.select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Jaccard similarity (blocked all-pairs, exact)
# ---------------------------------------------------------------------------


@register(
    "q_jaccard_pairs",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.s, b.s)) AS i,
               len(a.s) + len(b.s) AS sz
        FROM w a JOIN w b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND len(a.s) * 10 >= len(b.s) * 9
         AND len(b.s) * 10 >= len(a.s) * 9
    )
    SELECT doc_a, doc_b,
           -- floor(x*1e4+0.5)/1e4 == common.round_half_up_sql's
           -- primitive (r11 review: native round() is
           -- representation-dependent across engines on
           -- representable 4dp ties — the r10 class)
           floor(CAST(i AS DOUBLE) / (sz - i) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
    FROM pairs
    WHERE CAST(i AS DOUBLE) / (sz - i) >= 0.9
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard ≥ 0.9 within language blocks.

    Scale tricks (identical in the oracle so results stay bit-exact):
    * size-band prefilter — J ≥ 0.9 forces |A|/|B| ∈ [0.9, 1/0.9], an
      integer predicate that prunes pairs before any array work;
    * one array op per pair — |A∪B| = |A|+|B|−|A∩B|, so array_union is
      never materialized.
    The join is equi-keyed on the blocking column (lang) with the
    quadratic confined to each block; the ratio of two ints is
    bit-identical across engines.
    """
    P = 16  # 2D pair-space blocking factor
    docs = _docs(spark, sf_dir)
    words = F.array_distinct(F.split("text", " "))

    # adaptive encoding for the quadratic stage:
    # * vocab ≤ 64 → dictionary-encode each word set into ONE 64-bit mask;
    #   per-pair Jaccard is bit_count(a&b)/bit_count(a|b) (~3 ALU ops)
    # * otherwise → 64-bit token arrays (array_intersect on longs)
    # Both are exactly the string-set Jaccard the oracle computes.
    #
    # The probe is a BOUNDED sample, not a full-corpus distinct: at 100 TB
    # any real vocabulary blows past 64 after one row group, so the common
    # case reads a few thousand tokens and picks the token path without
    # touching the rest of the corpus.  Only a tiny-vocab sample proceeds
    # to a map-only validation scan (no shuffle — the old probe's
    # distinct() shuffled) that falls back to tokens if ANY document holds
    # a word outside the sampled map, so results stay oracle-exact.
    def probe():
        vocab = [
            r.w
            for r in docs.select(F.explode(words).alias("w"))
            .limit(100_000)
            .distinct()
            .limit(64)
            .collect()
        ]
        # 63, not 64: bit index 63 would need F.lit(1 << 63), which
        # overflows the signed long literal and raises at expression-build
        # time — the sign bit is unusable for the mask
        use_bitmask = len(vocab) <= 63
        if use_bitmask:
            probe_map = F.create_map(
                *[x for wrd in vocab for x in (F.lit(wrd), F.lit(1))]
            )
            uncovered = (
                docs.select(words.alias("ws"))
                .where(
                    F.exists("ws", lambda x: F.element_at(probe_map, x).isNull())
                )
                .limit(1)
                .count()
            )
            use_bitmask = uncovered == 0
        return use_bitmask, sorted(vocab)

    # an artifact (review r7): the probe runs 2-3 eager driver jobs at
    # PLAN-BUILD time, and the cluster/survivor chain re-invokes this
    # query on every call
    use_bitmask, vocab = table_artifact(
        spark, sf_dir, "documents", ("jaccard_probe",), probe
    )

    # r13 (guide §2.5): tokenization + the 16× partner replication used
    # to run inside the single-task scan stage of the one-row-group
    # testdata layout — ONE core tokenized and shuffle-wrote 17× the
    # token arrays.  The adaptive spread parallelizes both; per-pair
    # arithmetic is exact (int ratios), so results are bit-identical.
    docs = spread_scan(docs, sf_dir, "documents", "doc_id")
    if use_bitmask:
        bit_map = F.create_map(
            *[x for i, wrd in enumerate(vocab) for x in (F.lit(wrd), F.lit(1 << i))]
        )
        mask = F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(F.coalesce(F.element_at(bit_map, x), F.lit(0))),
        )
        w = docs.select("doc_id", "lang", mask.alias("m"))
        w = w.withColumn("sz", F.bit_count("m"))
    else:
        tokens = F.array_distinct(F.transform(F.split("text", " "), lambda x: F.xxhash64(x)))
        w = docs.select("doc_id", "lang", tokens.alias("s")).withColumn("sz", F.size("s"))
    w = w.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(P)))

    # replicate side A across the P partner buckets: the join key becomes
    # (lang, bucket-pair), turning 5 skewed language partitions into 5×P
    # balanced ones — each (i, j) pair still occurs exactly once
    a = w.withColumn("partner", F.explode(F.sequence(F.lit(0), F.lit(P - 1)))).alias("a")
    b = w.alias("b")
    if use_bitmask:
        inter = F.bit_count(F.col("a.m").bitwiseAND(F.col("b.m")))
    else:
        inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    j = inter.cast("double") / (F.col("a.sz") + F.col("b.sz") - inter)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.partner") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") * 10 >= F.col("b.sz") * 9)
            & (F.col("b.sz") * 10 >= F.col("a.sz") * 9),
        )
        .where(j >= 0.9)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            round_half_up(j, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path for near-dedup)
# ---------------------------------------------------------------------------


def _shingle_expr(n: int) -> str:
    """The word n-gram shingle SQL expression over a words array ``w`` —
    the ONE definition every shingle consumer (shingles(),
    minhash_signatures(), q_ngram_jaccard_pairs) must share: the
    LSH-estimate vs exact-Jaccard correspondence and the DuckDB oracle
    parity both assume bit-identical shingle strings."""
    return ngram_expr("w", n)


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id → exploded distinct word n-gram shingles (built-ins only)."""
    with_words = df.select("doc_id", F.split("text", " ").alias("w"))
    expr = _shingle_expr(n)
    return (
        with_words.where(F.size("w") >= n)
        .select("doc_id", F.explode(F.array_distinct(F.expr(expr))).alias("shingle"))
    )


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE cached signature table per (session, corpus) as an artifact
    (review r7): a per-call .cache() pinned a fresh corpus-sized copy in
    executor storage on every invocation (bench passes and monitor loops
    re-run q_minhash_lsh) and never released any."""
    build = lambda: minhash_signatures(_docs(spark, sf_dir)).cache()  # noqa: E731
    return table_artifact(spark, sf_dir, "documents", ("minhash_sigs",), build)


def minhash_signatures(df: DataFrame, perms: int = MINHASH_PERMS, n: int = 3) -> DataFrame:
    """doc_id → minhash signature columns h0..h{perms-1}.

    SHUFFLE-FREE: each document's shingle array stays in its row and
    every permutation is ``array_min(transform(shingles, x ->
    xxhash64(x, seed)))`` — the signature is computed where the document
    already lives, so the only shuffle in the whole MinHash+LSH pipeline
    is the band-bucket self-join.  ~9× faster than the equivalent
    explode → groupBy(32 min-aggs) formulation (which shuffles one row
    per (doc, shingle)) and bit-identical to it: same xxhash64 over the
    same shingle strings.
    """
    with_words = df.select("doc_id", F.split("text", " ").alias("w"))
    expr = _shingle_expr(n)
    # repartition the RAW rows first: the source may be one parquet split,
    # and perms × |shingles| hashes per doc is the pipeline's CPU hot spot
    # — it must run on every core, not one
    base = (
        with_words.where(F.size("w") >= n)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.array_distinct(F.expr(expr)).alias("sh"))
    )
    # ONE-parameter callback via a closure factory: pyspark's transform()
    # dispatches on arity, and a `lambda x, s=s:` (two parameters) would
    # receive the ARRAY INDEX as s instead of the seed — every signature
    # column then hashes (element, position) identically, collapsing all
    # perms to one and making signatures order-dependent (regression-
    # locked in tests/test_llm_ops.py).
    def _perm(s: int):
        return lambda x: F.xxhash64(x, F.lit(s))

    cols = [
        F.array_min(F.transform("sh", _perm(s))).alias(f"h{s}")
        for s in range(perms)
    ]
    return base.select("doc_id", *cols)


LSH_BUCKET_CAP = 64  # clique→star threshold for mega-duplicate buckets


def _band_buckets(sigs: DataFrame) -> DataFrame:
    """``(doc_id, band, bh)`` band-bucket rows from a minhash signature
    table (``doc_id, h0..h{MINHASH_PERMS-1}``): each of the
    {LSH_BANDS} bands hashes its {MINHASH_PERMS // LSH_BANDS} contiguous
    signature columns with one ``xxhash64`` — computed in-row, exploded
    to one row per (doc, band).  Shared by ``_lsh_candidates`` (the
    production candidate stage) and ``q_minhash_lsh_audit`` (which
    recomputes the buckets to check the emitted pairs against them)."""
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    band_cols = []
    for b in range(LSH_BANDS):
        cols = [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def _lsh_candidates(sigs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Band-bucket candidate pairs ``(doc_a < doc_b)`` from a minhash
    signature table (``doc_id, h0..h{MINHASH_PERMS-1}``) — the banding,
    mega-bucket star reduction, and in-row clique expansion described in
    ``q_minhash_lsh`` (its candidate stage, shared with ``_dup_edges``'s
    word-level LSH branch)."""
    from pyspark.sql.window import Window

    buckets = _band_buckets(sigs)
    w = Window.partitionBy("band", "bh")
    buckets = buckets.select(
        "doc_id",
        "band",
        "bh",
        F.count(F.lit(1)).over(w).alias("bsz"),
        F.min("doc_id").over(w).alias("bmin"),
    ).where(F.col("bsz") >= 2)

    # sub-cap buckets: bounded collect (≤ cap elements), in-row clique
    small = (
        buckets.where(F.col("bsz") <= bucket_cap)
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("m"))
    )
    clique_pairs = small.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("m"),
                    lambda x, i: F.transform(
                        F.slice(F.col("m"), i + 2, F.size("m")),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    # mega buckets: star pairs stream from the windowed rows — no collect
    star_pairs = buckets.where(
        (F.col("bsz") > bucket_cap) & (F.col("doc_id") != F.col("bmin"))
    ).select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return clique_pairs.unionByName(star_pairs).distinct()


@register("q_minhash_lsh")  # hash-permutation minhash: not SQL-oracle-expressible
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidates with estimated Jaccard.

    Pipeline: 3-gram shingles → 32 min-hashes → 8 bands of 4 → self-join
    on (band_index, band_hash) → distinct candidate pairs → signature
    agreement as the Jaccard estimate.  The self-join input is one row
    per (doc, band): 8×|docs| rows, never |docs|² — the property that
    makes this the 100 TB near-dedup path.

    MEGA-BUCKET GUARD: a bucket of n near-identical docs would emit
    n(n-1)/2 clique pairs — quadratic in the corpus DUP RATE even though
    LSH is linear in its size (measured: 49× wall at 100× rows on a
    synthetic corpus where every doc has 99 siblings).  Buckets above
    {LSH_BUCKET_CAP} members therefore emit a STAR (each member paired
    with the bucket's min doc_id) instead of the clique — connectivity
    inside the bucket is preserved exactly (downstream connected-
    components clustering sees the same components), while the pair
    count drops from O(n²) to O(n).  Sub-cap buckets keep full cliques,
    so pair-level recall at test scale is unchanged.  Honest caveat:
    star connectivity holds at the CANDIDATE level — a consumer that
    threshold-filters the emitted est_jaccard can drop star edges
    (member↔bmin may score lower than a member↔member pair would have)
    and split borderline components; if downstream filters pairs, raise
    the cap or re-verify mega-bucket members against the representative
    before filtering.

    Pair generation needs NO self-join, and every in-memory structure is
    BOUNDED: one window over (band, bh) attaches each bucket's size and
    min doc_id (scalar aggregates — a 10M-member mega-bucket costs two
    longs, never a 10M-element array); sub-cap buckets are then
    collect_list'd (bounded at {LSH_BUCKET_CAP} elements by the filter
    BEFORE the collect) and their cliques expanded IN-ROW with array
    HOFs, while mega-bucket star pairs stream straight out of the
    windowed rows with no collection at all.  The window, the bounded
    groupBy, and the star projection all ride ONE (band, bh) exchange —
    the band-key self-join paid two.  Measured on the 100× scale probe
    (every doc given 99 near-dup siblings — the adversarial case): 49×
    wall (uncapped clique self-join) → 2.3× for 100× rows.
    """
    sigs = _minhash_sigs(spark, sf_dir)
    # The CANDIDATE-PAIR core is cached alongside the signatures (r14,
    # VERDICT r13 #1): banding + window + clique/star expansion +
    # distinct is the LSH index construction — a pure function of the
    # cached signatures — and re-ran end-to-end on every invocation
    # (this query, its audit companion, and monitor loops).  Same
    # train-once-probe-many posture as the signatures themselves: the
    # pairs are an INTERMEDIATE artifact (the est_jaccard scoring below
    # still computes per invocation from the signature table), the
    # first call in a session pays materialization, band/threshold
    # parameters are untouched.
    build = lambda: _lsh_candidates(sigs).cache()  # noqa: E731
    cand = table_artifact(spark, sf_dir, "documents", ("lsh_candidates",), build)

    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    # one SQL expression, not one Column call per signature position
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_PERMS)
    )
    return (
        cand.join(sa, cand["doc_a"] == F.col("sa.doc_id"))
        .join(sb, cand["doc_b"] == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"round(({agree}) / {MINHASH_PERMS}, 4)").alias("est_jaccard"),
        )
    )


@register(
    "q_minhash_lsh_audit",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS pairs_banded,
           TRUE AS star_connected,
           TRUE AS ordered_distinct,
           TRUE AS est_floor
    FROM documents
    """,
)
def q_minhash_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for MinHash+LSH (VERDICT r8 #1's
    ε-witness pattern): ``q_minhash_lsh`` itself is rows-only (hash
    permutations aren't SQL-expressible), but its CONTRACT is checkable
    in Spark and each clause becomes a boolean the oracle pins TRUE:

    * ``pairs_banded`` — every emitted pair shares ≥ 1 (band, band-hash)
      signature, i.e. LSH emitted only genuine bucket collisions.
    * ``star_connected`` — for EVERY bucket of size ≥ 2, every member is
      paired with the bucket's min-id representative.  Sub-cap cliques
      contain those edges as a subset; mega-bucket stars are exactly
      those edges — so this is the connectivity guarantee the star
      reduction advertises (components survive the O(n²)→O(n) cut).
    * ``ordered_distinct`` — pairs are canonical (doc_a < doc_b) and
      globally distinct.
    * ``est_floor`` — a shared band means ≥ {MINHASH_PERMS//LSH_BANDS}
      of {MINHASH_PERMS} signature hashes agree, so every est_jaccard
      is in [rows_per_band/perms, 1].

    SCALE: no |docs|² anywhere — the band-set check carries at most
    {LSH_BANDS} structs per doc in-row (array_intersect on two ≤8-element
    arrays), the star check is one window over the SAME (band, bh)
    partitioning the production pipeline uses plus an anti-join on
    candidate pairs (bounded by the LSH output, not the corpus square).
    """
    from pyspark.sql.window import Window

    from iceberg_data_gen_spark.operators import QUERIES
    pairs = QUERIES["q_minhash_lsh"](spark, sf_dir).cache()
    sigs = _minhash_sigs(spark, sf_dir)
    buckets = _band_buckets(sigs)

    # pairs_banded: in-row band-set intersection (≤ LSH_BANDS per side);
    # left joins so a pair whose doc somehow has no bucket rows FAILS
    # the boolean instead of vanishing from the check
    bsets = buckets.groupBy("doc_id").agg(
        F.collect_set(F.struct("band", "bh")).alias("bs")
    )
    checked = (
        pairs.join(
            bsets.select(F.col("doc_id").alias("doc_a"), F.col("bs").alias("bs_a")),
            "doc_a",
            "left",
        )
        .join(
            bsets.select(F.col("doc_id").alias("doc_b"), F.col("bs").alias("bs_b")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(
                F.size(F.array_intersect("bs_a", "bs_b")) >= 1, F.lit(False)
            ).alias("shares_band"),
        )
    )
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    # coalesce(0) on every bad-counter (review r10): over an EMPTY pair
    # set F.sum returns NULL and `None == 0` is False — a fully distinct
    # corpus (zero band collisions anywhere) would flip every boolean
    # FALSE against the oracle's unconditional TRUEs.  Vacuous truth is
    # correct there, and NOT a loophole for a broken LSH that emits zero
    # pairs on a dup-bearing corpus: the star check below derives its
    # expected pairs from the SIGNATURES, independent of the LSH output,
    # so an empty output with collision-bearing buckets still fails
    # star_connected.
    agg = checked.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("doc_a", "doc_b").alias("n_distinct"),
        F.coalesce(
            F.sum((~F.col("shares_band")).cast("long")), F.lit(0)
        ).alias("bad_band"),
        F.coalesce(
            F.sum((F.col("doc_a") >= F.col("doc_b")).cast("long")), F.lit(0)
        ).alias("bad_order"),
        F.coalesce(
            F.sum(
                (
                    (F.col("est_jaccard") < rows_per_band / MINHASH_PERMS)
                    | (F.col("est_jaccard") > 1.0)
                ).cast("long")
            ),
            F.lit(0),
        ).alias("bad_est"),
    ).collect()[0]

    # star_connected: every member of every ≥2 bucket must be paired
    # with that bucket's min-id representative (clique buckets contain
    # these edges as a subset; star buckets are exactly these edges)
    w = Window.partitionBy("band", "bh")
    b2 = buckets.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("bsz"),
        F.min("doc_id").over(w).alias("bmin"),
    )
    expected = (
        b2.where((F.col("bsz") >= 2) & (F.col("doc_id") != F.col("bmin")))
        .select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    n_missing = expected.join(
        pairs.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).count()

    n_docs = _doc_count(spark, sf_dir)  # an artifact (review r10)
    pairs.unpersist()
    # pairs_banded is vacuously TRUE on a zero-pair corpus (matching the
    # oracle's unconditional TRUE); star_connected independently fails a
    # broken-empty LSH output whenever the signatures produce any ≥2
    # bucket, so the old `n_pairs > 0` conjunct added no protection and
    # falsely failed dup-free corpora (review r10).
    return spark.createDataFrame(
        [
            (
                n_docs,
                agg.bad_band == 0,
                n_missing == 0,
                agg.bad_order == 0 and agg.n_pairs == agg.n_distinct,
                agg.bad_est == 0,
            )
        ],
        "n_docs long, pairs_banded boolean, star_connected boolean, "
        "ordered_distinct boolean, est_floor boolean",
    )


@register(
    "q_ngram_jaccard_pairs",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    s AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        FROM w
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.sh, b.sh)) AS i,
               len(a.sh) + len(b.sh) AS sz
        FROM s a JOIN s b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND len(a.sh) * 5 >= len(b.sh) * 4
         AND len(b.sh) * 5 >= len(a.sh) * 4
    )
    SELECT doc_a, doc_b,
           -- floor(x*1e4+0.5)/1e4 == common.round_half_up_sql's
           -- primitive (r11 review: native round() is
           -- representation-dependent across engines on
           -- representable 4dp ties — the r10 class)
           floor(CAST(i AS DOUBLE) / (sz - i) * 10000.0 + 0.5)
               / 10000.0 AS jaccard
    FROM pairs
    WHERE CAST(i AS DOUBLE) / (sz - i) >= 0.8
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 0.8 within language blocks — the
    exact counterpart of q_minhash_lsh's estimate (same shingle
    definition as ``shingles()``), and the n-gram flavor of
    q_jaccard_pairs' word-set dedup.

    Candidate generation is PREFIX FILTERING (the PPJoin family), not a
    blocked all-pairs join: with each doc's shingle hashes sorted under
    one global order, any pair with J ≥ t must share at least one hash
    among the first ``|s| − ⌈t·|s|⌉ + 1`` of each side (J ≥ t forces
    overlap ≥ ⌈t·|s|⌉, and missing the whole prefix caps overlap at
    ⌈t·|s|⌉ − 1).  So candidates come from an inverted-index equi-join
    on (lang, prefix-hash) — shuffle volume ≈ (1−t)·Σ|s| — and only
    candidates pay the exact array_intersect verify.  No quadratic
    stage anywhere; ⌈t·n⌉ with t = 4/5 is computed as (4n+4) div 5 in
    integer math so float rounding can never shorten a prefix into a
    false negative.
    """
    docs = _docs(spark, sf_dir)
    gram = _shingle_expr(3)
    tokens = F.array_sort(
        F.transform(F.array_distinct(F.expr(gram)), lambda x: F.xxhash64(x))
    )
    # Two plan-shape tricks keep the shingling work to ONE pass:
    # * ONE hash repartition on doc_id over the RAW rows (r14 — the r13
    #   shape paid two exchanges per branch: a keyless round-robin to
    #   parallelize shingle construction, which also costs the
    #   sortBeforeRepartition local sort per §2.5, THEN a hash exchange
    #   on doc_id).  Hashing the raw rows directly does triple duty:
    #   spreads the (possibly single-split) scan, runs all the shingle/
    #   hash/sort compute ABOVE the exchange on every core, and leaves
    #   the result HashPartitioning(doc_id) — the partitioning ALL FOUR
    #   consumers (prefix index a/b, verify a/b) sit on; identical
    #   subplans collapse to one reused stage so the arrays are computed
    #   once and read back from shuffle files.  The exchange now carries
    #   raw `text` instead of the (larger) hashed-shingle arrays.
    #   `lang` is carried through the candidate pairs and consumed by
    #   the verify joins so every branch prunes the exchange to the
    #   same columns — different pruning would fork the stage.
    # * non-equi join predicates are wrapped in when(...,True)  — a
    #   null-INtolerant predicate on sz/s would make Catalyst infer
    #   isnotnull(size(array_sort(...))) constraints and push the whole
    #   shingle expression back into the scan-side Filter, recomputing
    #   it per row below the exchange.  CaseWhen blocks the inference;
    #   the predicates are never null so semantics are unchanged.
    par = spark.sparkContext.defaultParallelism
    with_words = (
        docs.select("doc_id", "lang", "text")
        .repartition(par, "doc_id")
        .select("doc_id", "lang", F.split("text", " ").alias("w"))
    )
    w = (
        with_words.where(F.size("w") >= 3)
        .select("doc_id", "lang", tokens.alias("s"))
        .withColumn("sz", F.size("s"))
    )

    def _safe(cond):  # block isnotnull-constraint inference (see above)
        return F.when(cond, F.lit(True)).otherwise(F.lit(False))

    # prefix length |s| − ⌈0.8·|s|⌉ + 1, all-integer
    pref = w.select(
        "doc_id",
        "lang",
        "sz",
        F.explode(
            F.expr("slice(s, 1, sz - (4 * sz + 4) DIV 5 + 1)")
        ).alias("tok"),
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _safe(
                (F.col("a.sz") * 5 >= F.col("b.sz") * 4)
                & (F.col("b.sz") * 5 >= F.col("a.sz") * 4)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
        )
        .distinct()
    )
    sa, sb = w.alias("sa"), w.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    j = inter.cast("double") / (F.col("sa.sz") + F.col("sb.sz") - inter)
    return (
        cand.join(
            sa,
            (cand["doc_a"] == F.col("sa.doc_id"))
            & (cand["lang_a"] == F.col("sa.lang")),
        )
        .join(
            sb,
            (cand["doc_b"] == F.col("sb.doc_id"))
            & (cand["lang_b"] == F.col("sb.lang")),
        )
        .where(_safe(j >= 0.8))
        .select("doc_a", "doc_b", round_half_up(j, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (md5-derived bits → oracle-checkable)
# ---------------------------------------------------------------------------

def _simhash_total_sql() -> str:
    """The 32-bit SimHash of one ``GROUP BY doc_id`` group of word hashes
    ``h``, as ONE SQL expression spelled identically for Spark and
    DuckDB: bit b is set when the ±1 majority vote is positive, i.e.
    when 2·(number of words with bit b set) > (number of words) —
    branch-free per row, one integer decision per group and bit."""
    return " + ".join(
        f"CASE WHEN 2 * sum((h >> {b}) & 1) > count(*) "
        f"THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )


def _simhash_oracle_sql() -> str:
    # per-word 32-bit hash — the ONE md5_hash32_sql definition shared
    # with text.py's temperature-sampling key (r11 review)
    word_hash = md5_hash32_sql("w")
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), hashed AS (
        SELECT doc_id, {word_hash} AS h FROM words
    )
    SELECT doc_id, CAST({_simhash_total_sql()} AS BIGINT) AS simhash
    FROM hashed GROUP BY doc_id
    """


@register("q_simhash", oracle=_simhash_oracle_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document.

    Word hash = first 8 hex digits of md5 (portable across engines);
    per-bit majority vote via 32 integer aggregates in ONE groupBy —
    the whole operator is a single shuffle regardless of corpus size.
    The votes and the bit total are one SQL expression shared with the
    oracle: built term by term as Columns, the plan took ~1560 py4j
    calls (0.5 s) to describe against 0.24 s of execution.
    """
    # r13 (guide §2.5): the per-word md5 is this operator's CPU hot spot
    # and ran single-task on the one-row-group testdata scan — spread
    # first so the explode + hash + partial votes use every core.
    # Integer votes are order-insensitive, results bit-identical.
    docs = spread_scan(_docs(spark, sf_dir), sf_dir, "documents", "doc_id")
    hashed = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS w").selectExpr(
        "doc_id", "CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) AS h"
    )
    return hashed.groupBy("doc_id").agg(
        F.expr(f"CAST({_simhash_total_sql()} AS BIGINT)").alias("simhash")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates
# ---------------------------------------------------------------------------

# both engines pre-normalize each vector once (linear work), then spend
# exactly ONE dot product per pair (the quadratic part).  DuckDB's
# list_dot_product is a strict left-to-right fold, so the numpy kernel
# folds the same way (a dim-loop of vectorized mul+add — NOT einsum,
# whose SIMD partial accumulators differ in the last ulp for ~73% of
# dim-64 dots, measured), and rounds half-away like DuckDB's round()
# (np.round is half-even and differs on dyadic 6-decimal midpoints,
# e.g. 53/128 — review r8).  Both verified 0-mismatch over 4k random +
# dyadic-adversarial vectors; values stay bit-identical and the
# threshold is stable.
_COS_SQL = """
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    ),
    n AS (
        SELECT vec_id, label,
               list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
        FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.nv, b.nv), 6) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.nv, b.nv) >= 0.4
"""


@register("q_embedding_neardup", oracle=_COS_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.4), blocked by label.

    Grouped-map (applyInPandas) design: vectors ship through Arrow ONCE
    per blocking group, and the quadratic pair scoring runs as a numpy
    batch (a dim-loop of vectorized mul+add over the pair index arrays)
    instead of one interpreted expression per pair — the per-pair work
    never leaves a vectorized kernel, and only surviving pairs come back.

    Scale posture: the group key is (label, block_i, block_j) — a 2D
    tiling of the pair space with P hash buckets per label, so one task
    holds at most two buckets' vectors (~|label|/P rows each), never a
    whole label.  Raise P with corpus size; replication cost is P× the
    (tiny) vector payload.  The fold is strictly left-to-right per pair
    (see _COS_SQL header) so dots and rounding are bit-identical to the
    DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    P = 4  # pair-space tiling factor: each task sees ≤ 2 buckets of one label
    # NULL guards (review r10, FIXTURES.md permits NULLs in family-B
    # columns): a NULL label would form its own Spark grouping key and
    # pair its vectors while the oracle's `a.label = b.label` join never
    # matches NULLs; a NULL embedding survives the cast as a None cell
    # and crashes np.array on the mixed None/list column where the
    # oracle's list_dot_product(NULL, ...) quietly drops the row.
    e = (
        _emb(spark, sf_dir)
        .where(F.col("label").isNotNull() & vec_complete())
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    bucket = F.pmod(F.xxhash64("vec_id"), F.lit(P))
    tiled = (
        e.withColumn("bucket", bucket)
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(P - 1))))
        .select(
            "vec_id",
            "label",
            "v",
            "bucket",
            F.least("bucket", "k").alias("bi"),
            F.greatest("bucket", "k").alias("bj"),
        )
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        def seqdot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
            # left-to-right fold per row, vectorized ACROSS rows: each
            # step is one rounded mul + one rounded add, exactly the
            # scalar loop DuckDB's list_dot_product runs (einsum's
            # partial accumulators drift in the last ulp — review r8)
            acc = np.zeros(A.shape[0])
            for j in range(A.shape[1]):
                acc = acc + A[:, j] * B[:, j]
            return acc

        def pair_cos(MT: np.ndarray, iu: np.ndarray, ju: np.ndarray) -> np.ndarray:
            # the quadratic hot path: same left-to-right fold, but the
            # pair matrices are never materialized — per dim one
            # contiguous-row gather per side (np.take from the
            # transposed tile) + in-place mul/add over pair chunks.
            # Bit-identical to gathering M[iu]/M[ju] and folding
            # (verified); measured 6.2× the materialize+fold form at
            # 2M pairs (1.06s vs 6.6s), and faster than einsum on the
            # gathered matrices too (7.5s — dominated by the gather).
            D = MT.shape[0]
            n = len(iu)
            out = np.empty(n)
            chunk = 262144
            t = np.empty(min(chunk, max(n, 1)))
            a1, a2 = np.empty_like(t), np.empty_like(t)
            for c0 in range(0, n, chunk):
                c = min(chunk, n - c0)
                ii, jj = iu[c0 : c0 + c], ju[c0 : c0 + c]
                acc = out[c0 : c0 + c]
                acc.fill(0.0)
                tt, g1, g2 = t[:c], a1[:c], a2[:c]
                for j in range(D):
                    np.take(MT[j], ii, out=g1)
                    np.take(MT[j], jj, out=g2)
                    np.multiply(g1, g2, out=tt)
                    np.add(acc, tt, out=acc)
            return out

        bi, bj = pdf["bi"].iat[0], pdf["bj"].iat[0]
        sub = pdf.sort_values("vec_id")
        M = np.array(sub["v"].tolist(), dtype=np.float64)
        # 1e-12 clamp: the ONE zero-norm convention the whole ANN family
        # shares (see normalized_vectors) — without it a zero vector
        # yields NaN rows that silently drop pairs the oracle scores 0.0
        M = M / np.maximum(np.sqrt(seqdot(M, M)), 1e-12)[:, None]
        ids = sub["vec_id"].to_numpy()
        if bi == bj:  # triangular tile: pairs within one bucket
            iu, ju = np.triu_indices(len(ids), k=1)
        else:  # rectangular tile: cross pairs between the two buckets
            am = (sub["bucket"] == bi).to_numpy()
            ai, bjx = np.nonzero(am)[0], np.nonzero(~am)[0]
            iu = np.repeat(ai, len(bjx))
            ju = np.tile(bjx, len(ai))
            swap = ids[iu] > ids[ju]
            iu[swap], ju[swap] = ju[swap], iu[swap].copy()
        if len(iu) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        cos = pair_cos(np.ascontiguousarray(M.T), iu, ju)
        keep = cos >= 0.4
        # DuckDB round() is half-AWAY; np.round is half-even and flips
        # dyadic midpoints like 53/128 down.  Kept cosines are >= 0.4,
        # so the positive-only floor form is exact (0 mismatches over
        # 26k adversarial probes vs DuckDB — review r8).
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos_sim": np.floor(cos[keep] * 1e6 + 0.5) / 1e6,
            }
        )

    # an explicit hash repartition on the group keys: it is the Exchange
    # the grouping needs anyway, but AQE leaves its partition count alone
    # (it coalesced the ~1 MB tile shuffle into ONE task, so every group
    # ran through one Python worker on one core)
    par = spark.sparkContext.defaultParallelism
    return (
        tiled.repartition(par, "label", "bi", "bj")
        .groupBy("label", "bi", "bj")
        .applyInPandas(block_pairs, "id_a long, id_b long, cos_sim double")
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering (connected components over the similarity graph)
# ---------------------------------------------------------------------------

def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair source for the cluster → survivor chain,
    branching by corpus size (``(doc_a, doc_b)`` with doc_a < doc_b):

    * ``<= DEDUP_LSH_MIN_DOCS`` documents (every driver-checked SF):
      exact blocked-Jaccard (`q_jaccard_pairs`) — oracle-parity, the
      quadratic confined to language×size-band blocks.
    * above it: WORD-level MinHash-LSH
      candidates (``minhash_signatures(n=1)`` — unigram shingles, i.e.
      the very word sets the confirm step measures, so band recall at
      J=0.9 is 1-(1-0.9^4)^8 ≈ 0.9998; linear in corpus size,
      mega-buckets star-reduced) each CONFIRMED by the same exact
      word-set Jaccard ≥ 0.9 (and same-lang blocking) the small path
      computes.  Cost is one candidate-sized join against the token
      sets, so the whole chain tracks the LSH ratio at scale instead of
      the blocked-quadratic one.  Approximation is one-sided: a missed
      candidate can only split a borderline cluster, never merge
      unrelated documents — every emitted edge is exact-verified.
    """
    docs = _docs(spark, sf_dir)
    if _dedup_branch(spark, sf_dir) == "exact":
        return QUERIES["q_jaccard_pairs"](spark, sf_dir).select("doc_a", "doc_b")
    cand = _lsh_candidates(
        minhash_signatures(docs, n=1), bucket_cap=DEDUP_CHAIN_BUCKET_CAP
    )
    toks = docs.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("s")
    )
    a = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("la"), F.col("s").alias("sa")
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb"), F.col("s").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    j = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    # same-lang predicate matches the exact path's blocking key — without
    # it a cross-language candidate could CREATE an edge the exact path
    # never considers, breaking the one-sided (split-only) guarantee
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where((F.col("la") == F.col("lb")) & (j >= 0.9))
        .select("doc_a", "doc_b")
    )


def _dedup_branch(spark: SparkSession, sf_dir: str) -> str:
    """Which pair source the cluster → survivor chain uses for this
    corpus: ``"exact"`` (blocked exact Jaccard, oracle-parity) below
    ``DEDUP_LSH_MIN_DOCS`` documents, ``"lsh"`` above it.  Factored out
    of ``_dup_edges`` because the label memo must be keyed by the branch
    actually taken: the test suite lowers the threshold within one
    session and the two branches' label sets may legitimately differ
    (LSH recall < 1 can split borderline clusters).  The doc count is
    an artifact."""
    return "exact" if _doc_count(spark, sf_dir) <= DEDUP_LSH_MIN_DOCS else "lsh"


_CLUSTER_EDGE_SQL = """
    w AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM w a JOIN w b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND len(a.s) * 10 >= len(b.s) * 9
         AND len(b.s) * 10 >= len(a.s) * 9
         AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
    ),
    edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION ALL
        SELECT db AS src, da AS dst FROM pairs
    )
"""


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_SQL},
    reach AS (
        SELECT doc_id AS doc, doc_id AS lab FROM documents
        UNION
        SELECT e.dst AS doc, r.lab
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    labs AS (SELECT doc AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY doc)
    SELECT l.doc_id, l.cluster_rep, c.n AS cluster_size
    FROM labs l JOIN (
        SELECT cluster_rep, count(*) AS n FROM labs GROUP BY cluster_rep
    ) c USING (cluster_rep)
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard (≥0.9) similarity
    graph: every document labeled with its cluster representative (the
    min doc_id reachable through near-duplicate edges) + cluster size —
    the decision step that turns pair lists into keep/drop sets (keep
    rep, drop the rest).

    Iterative min-label propagation over ONLY the dup-graph nodes: the
    similarity graph is orders of magnitude smaller than the corpus
    (most documents have no near-duplicate), so isolated docs never
    enter the loop — they are their own representative by construction
    and join back in once at the end.  Each round is one join+groupBy
    on the (tiny) subgraph with a ``changed`` flag folded into the same
    materialization (no extra convergence join); ``localCheckpoint``
    truncates lineage so plans don't grow with iterations — the
    standard Spark shape for iterative graph algorithms (cf.
    large-star/small-star).  The oracle computes the same components
    with a recursive CTE.

    Pair source is ``_dup_edges``: exact blocked-Jaccard at
    driver-checked scale (oracle-parity), LSH candidates → exact-Jaccard
    confirm past ``DEDUP_LSH_MIN_DOCS`` documents (the linear 100 TB
    branch; candidate recall < 1 can only SPLIT clusters, never merge
    unrelated docs, because every surviving edge is exact-confirmed).
    """
    return _labels_to_clusters(spark, sf_dir, _dup_labels(spark, sf_dir))


def _dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, cluster_rep)`` for the DUP-GRAPH NODES ONLY (min
    doc_id reachable through near-duplicate edges) — the connected-
    components core shared by ``q_dedup_clusters`` (which joins it back
    to the full corpus and attaches sizes) and ``q_dedup_survivors``
    (which only needs the non-representative dup nodes to DROP, r13 —
    routing survivors through the clusters query computed a cluster-size
    groupBy + join over the full corpus whose output the survivor
    anti-join immediately discarded).

    MEMOIZED per (session, corpus, branch) — r14, VERDICT r13 #1: the
    label build is EAGER (edge generation + union-find run at plan-build
    time), so every clusters/survivors invocation re-paid the whole
    q_jaccard_pairs pipeline for a label set that is a pure function of
    the corpus file.  This is the same train-once-probe-many
    posture as the minhash signature cache: the dup-graph labels are the
    dedup family's trained artifact, the first invocation in a session
    pays the build, and every consumer probes it.  The key carries the
    branch actually taken (``_dedup_branch``) because the threshold can
    change between calls in one session and the two branches' label
    sets legitimately differ.  The labels themselves are tiny (dup-graph
    nodes only: bounded by the pair list, a sliver of the corpus)."""
    branch = _dedup_branch(spark, sf_dir)
    build = lambda: _dup_labels_build(spark, sf_dir)  # noqa: E731
    return table_artifact(spark, sf_dir, "documents", ("dup_labels", branch), build)


def _dup_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached label build behind ``_dup_labels`` (one eager pass:
    edges → connected components)."""
    pairs = _dup_edges(spark, sf_dir).localCheckpoint()
    n_pairs = pairs.count()
    if n_pairs <= CC_DRIVER_MAX_EDGES:
        # small-graph fast path (the common case: near-dup pairs are a
        # sliver of the corpus): union-find on the driver over a BOUNDED
        # edge list — the count above gates the collect, so this never
        # pulls more than ~32 MB; one job replaces O(diameter) rounds of
        # join+groupBy (GraphFrames' CC does the same shortcut).
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # toLocalIterator streams Arrow batches instead of materializing
        # up to CC_DRIVER_MAX_EDGES pyspark Row objects at once — Row
        # overhead is ~10× the 16-bytes-per-edge the cap budgets, so a
        # full .collect() at the boundary blew the ~32 MB budget by an
        # order of magnitude (review r8); only the int parent dict stays
        for row in pairs.select("doc_a", "doc_b").toLocalIterator(
            prefetchPartitions=True
        ):
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # union-by-min: every link points to a SMALLER id, so each
        # component's root IS its minimum node — find(n) is the label.
        # Ship the labels back as an Arrow-backed pandas frame of two
        # int64 arrays (review r10): a list of Python int-tuples at the
        # CC_DRIVER_MAX_EDGES cap (~4M nodes) costs hundreds of MB of
        # object overhead — the same blow-up the r8 toLocalIterator fix
        # removed from the input side, recreated on the output side.
        import numpy as np
        import pandas as pd

        nodes = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
        nodes.sort()
        reps = np.fromiter((find(int(n)) for n in nodes), dtype=np.int64,
                           count=len(nodes))
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": nodes, "cluster_rep": reps}),
            "doc_id long, cluster_rep long",
        )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_rep"))
        .localCheckpoint()
    )
    # Each round: one hop of neighbor-min propagation PLUS a
    # pointer-doubling shortcut (rep <- rep(rep)), so the un-propagated
    # distance halves per round and 24 rounds cover component diameters
    # up to ~2^24 — a plain one-hop loop capped at N rounds silently
    # splits any duplicate chain longer than N+1 documents.
    for _ in range(24):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("n_doc"))
            .agg(F.min("cluster_rep").alias("nbr_rep"))
        )
        stepped = (
            labels.join(nbr_min, labels["doc_id"] == F.col("n_doc"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_rep"), F.coalesce("nbr_rep", F.col("cluster_rep"))
                ).alias("cluster_rep"),
            )
        )
        reps = stepped.select(
            F.col("doc_id").alias("r_doc"), F.col("cluster_rep").alias("r_rep")
        )
        new_labels = (
            stepped.join(reps, stepped["cluster_rep"] == reps["r_doc"], "left")
            .select(
                stepped["doc_id"].alias("doc_id"),
                F.least(
                    stepped["cluster_rep"],
                    F.coalesce(F.col("r_rep"), stepped["cluster_rep"]),
                ).alias("cluster_rep"),
            )
            .localCheckpoint()
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "doc_id")
            .where(F.col("o.cluster_rep") != F.col("n.cluster_rep"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "cluster label propagation did not converge in 24 doubling "
            "rounds (component diameter > ~2^24) — refusing to return "
            "silently split clusters"
        )
    return labels


def _labels_to_clusters(
    spark: SparkSession, sf_dir: str, labels: DataFrame
) -> DataFrame:
    """Join dup-node labels back to the full corpus (isolated docs are
    their own representative) and attach cluster sizes.  No broadcast
    hints: the dup-node set is usually tiny but data-dependent (10%+ of
    a web corpus can be near-dup) — AQE picks broadcast when the
    measured size allows."""
    full = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_rep", F.col("doc_id")).alias("cluster_rep"))
    )
    sizes = full.groupBy("cluster_rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return full.join(sizes, "cluster_rep").select(
        "doc_id", "cluster_rep", "cluster_size"
    )


@register(
    "q_triangle_count",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM w a JOIN w b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
         AND len(a.s) * 10 >= len(b.s) * 9
         AND len(b.s) * 10 >= len(a.s) * 9
         AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
    )
    SELECT (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(*)
            FROM pairs e1
            JOIN pairs e2 ON e2.da = e1.db
            JOIN pairs e3 ON e3.da = e1.da AND e3.db = e2.db) AS n_triangles
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-duplicate graph — the clustering-
    coefficient primitive (how clique-like are the dup clusters?).

    Ordered-edge formulation: with every edge stored a<b, each triangle
    a<b<c is counted exactly once by the wedge join (a,b)⋈(b,c) closed
    by (a,c) — a two-step self-join, both equi-keyed on doc ids, no
    explosion beyond the true wedge count.  At 100 TB you'd pre-bucket
    edges by node so the wedge join is co-partitioned.
    """
    pairs = QUERIES["q_jaccard_pairs"](spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    wedges = e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
    triangles = wedges.join(
        e3,
        (F.col("e3.doc_a") == F.col("e1.doc_a")) & (F.col("e3.doc_b") == F.col("e2.doc_b")),
    )
    n_edges = pairs.count()
    return triangles.agg(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.count(F.lit(1)).alias("n_triangles"),
    )


@register(
    "q_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE
    {_CLUSTER_EDGE_SQL},
    reach AS (
        SELECT doc_id AS doc, doc_id AS lab FROM documents
        UNION
        SELECT e.dst AS doc, r.lab
        FROM reach r JOIN edges e ON e.src = r.doc
    ),
    labs AS (SELECT doc AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY doc)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN labs l USING (doc_id)
    WHERE l.cluster_rep = d.doc_id
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: one canonical document (min
    doc_id) per near-duplicate cluster, everything else dropped — the
    end-to-end output a training pipeline actually feeds the tokenizer,
    closing the pair→cluster→keep/drop loop that q_jaccard_pairs and
    q_dedup_clusters open.

    Survivors are exactly the docs that are NOT a non-representative
    dup-graph node, so this is ONE broadcast-ready ANTI-join of the
    corpus against the dup-node labels (r13 — previously routed through
    ``q_dedup_clusters``, paying a full-corpus cluster-size groupBy +
    join whose output the survivor filter immediately discarded; the
    label set itself is unchanged, so the survivor set is identical).
    No new shuffle of the corpus either way."""
    labels = _dup_labels(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    drop = labels.where(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


@register(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT md5(lower(trim(text))) AS h
        FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, lang, source, md5(lower(trim(text))) AS h
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id, b.lang, b.source,
           CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.h IN (SELECT h FROM batch GROUP BY h HAVING count(*) > 1)
                     AND b.doc_id <> (SELECT min(doc_id) FROM batch b2 WHERE b2.h = b.h)
                     THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM batch b
    LEFT JOIN (SELECT DISTINCT h FROM corpus) c ON c.h = b.h
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: classify every document of an incoming
    batch (here: doc_id % 10 = 0 stands in for "today's crawl") against
    the EXISTING corpus — ``dup_of_corpus`` (hash already ingested),
    ``dup_in_batch`` (duplicate within the batch itself, min-doc_id
    survivor wins), or ``new``.

    This is the daily-shape of dedup at 100 TB: the corpus side reduces
    to its DISTINCT HASH SET (one column, the only state the check
    needs — in production a bloom/hash index maintained incrementally),
    so each day's cost is |batch| + |corpus-hash-index|, never a
    re-scan of all past text.  Two hash joins + one in-batch window; no
    text comparison after the initial hash."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    h = F.md5(F.lower(F.trim("text")))
    corpus_hashes = (
        docs.where(F.col("doc_id") % 10 != 0).select(h.alias("ch")).distinct()
    )
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", "source", h.alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    classified = (
        batch.join(corpus_hashes, F.col("h") == F.col("ch"), "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("ch").isNotNull(), "dup_of_corpus")
            # h.isNotNull (review r10): NULL-text docs hash to NULL, and
            # the window groups NULLs together — without the guard the
            # second NULL-text batch doc classified 'dup_in_batch' while
            # the oracle's NULL-hostile `b.h IN (...)` falls through to
            # 'new'.  Two unhashable documents are not duplicates of
            # each other on either engine.
            .when((F.col("rn") > 1) & F.col("h").isNotNull(), "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )
    return classified


@register(
    "q_dup_rate_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(lower(trim(text)))) AS n_unique,
           CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS BIGINT)
               AS n_dup_docs,
           CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS DOUBLE)
               / count(*) AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate scorecard per source — the per-provider QA metric
    a crawl pipeline tracks over time (a source whose dup rate spikes
    gets throttled or re-crawled).

    One groupBy with a count-distinct over the normalized content hash:
    Catalyst plans the distinct via Expand with partial aggregation, so
    the shuffle carries (source, hash) partials, not documents.  Integer
    counts and one exact division."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.lower(F.trim("text")))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).cast("long").alias("n_dup_docs"),
        (
            (F.count(F.lit(1)) - F.countDistinct(h)).cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
    )
