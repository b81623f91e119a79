"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (the exactness baseline) and an LSH-bucketed approximate variant
(the scale path), plus embedding statistics.

Scale design
------------
* Brute-force: the query set is tiny and broadcast; the corpus streams
  past it (one pass, no corpus shuffle).  Per-query top-k is a window
  rank-filter, which Spark executes as a partial top-k per partition
  (WindowGroupLimit) before the final shuffle of k×|queries| rows.
* LSH: random-hyperplane sign buckets computed with deterministic
  arithmetic hyperplanes (no RNG, reproducible on any cluster); the
  candidate join is equi-keyed on the bucket id, so cost is
  sum(bucket²) not corpus².  Recall/bucket-size trades off via
  ``LSH_PLANES``.
* All vector math is JVM higher-order functions (zip_with/aggregate)
  over double-cast arrays — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_data_gen_spark.operators import register

# ONE home for the sequential-dot / unit-normalize helpers: the
# oracle-parity argument depends on the exact left-to-right fold, so a
# second copy here would have to stay bit-identical by hand (review r6)
from iceberg_data_gen_spark.operators.common import (
    normalized_vectors,
    round_half_up,
    table_artifact,
    vec_complete,
)
from iceberg_data_gen_spark.operators.common import vec_dot as _dot
from iceberg_data_gen_spark.session import load_tables

DIM = 64
N_QUERIES = 5  # vec_id 0..4 serve as the query set
TOP_K = 10
LSH_PLANES = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings/ids drop out (NULL sweep r11): a NULL v crashes the
    # numpy batch kernels, a NULL vec_id NaN-poisons their int64 id
    # arrays; matches normalized_vectors' filter and the oracles' WHERE
    return (
        _emb(spark, sf_dir)
        .where(vec_complete() & F.col("vec_id").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


def _vector_count(spark: SparkSession, sf_dir: str) -> int:
    build = lambda: _vectors(spark, sf_dir).count()  # noqa: E731
    return table_artifact(spark, sf_dir, "embeddings", ("count",), build)


# DRIVER-side helpers shared by the ANN family.  NOTE: mapInPandas
# kernels must stay SELF-CONTAINED (numpy + captured arrays only) — a
# kernel that calls a function from this module pickles it by reference,
# and the executor Python workers cannot import this package when the
# session owner added the repo to sys.path at runtime (the driver's
# vanilla-session contract).  That is why the per-batch normalize /
# PQ-encode blocks are repeated inside each kernel body.


def _query_matrix(e: DataFrame, n_queries: int):
    """Collect the deterministic query head (``vec_id < n_queries``) and
    return ``(q_ids, Q_unit, rows)`` — int64 ids, unit-normalized float64
    matrix, and the raw rows (for callers that also need labels)."""
    import numpy as np

    rows = sorted(
        e.where(F.col("vec_id") < n_queries).collect(), key=lambda r: r.vec_id
    )
    q_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    Q = np.array([r.v for r in rows], dtype=np.float64)
    # self-dot as a strict left-to-right fold so normalized components
    # are bit-identical to the oracle's list_dot_product-normalized nv
    # (einsum drifts in the last ulp — review r8, see dedup._COS_SQL)
    sq = np.zeros(Q.shape[0])
    for j in range(Q.shape[1]):
        sq = sq + Q[:, j] * Q[:, j]
    return q_ids, Q / np.maximum(np.sqrt(sq), 1e-12)[:, None], rows


def _norm_query_matrix(en: DataFrame, n_queries: int):
    """``_query_matrix`` twin over an ALREADY-normalized corpus frame
    (column ``nv`` from ``normalized_vectors``): collect the query head
    without re-normalizing.  Bit-identical to ``_query_matrix`` because
    ``normalized_vectors`` runs the same left-to-right fold + clamped
    divide JVM-side (one arithmetic convention, two executors)."""
    import numpy as np

    rows = sorted(
        en.where(F.col("vec_id") < n_queries).collect(), key=lambda r: r.vec_id
    )
    q_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    Q = np.array([r.nv for r in rows], dtype=np.float64)
    return q_ids, Q, rows


def _ann_ground_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brute-force top-{TOP_K} truth set (``query_id, neighbor_id``
    — K·|queries| rows), cached and materialized ONCE per (session,
    corpus) via the shared session cache.  ONE definition (review r9:
    q_ann_recall and the recall-floor witnesses each built the same
    'ann_ground_truth' cache entry from their own 8-line closure, so a
    projection change in one site would silently redefine the schema
    the other consumes)."""
    from iceberg_data_gen_spark.operators import QUERIES

    def _truth():
        df = (
            QUERIES["q_ann_bruteforce"](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .cache()
        )
        df.count()  # materialize now: K·|queries| rows, trivially small
        return df

    return table_artifact(spark, sf_dir, "embeddings", ("ann_ground_truth",), _truth)


def _norm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unit-normalized corpus ``(vec_id, label, nv)``, cached ONCE
    per (session, corpus) — VERDICT r8 #3: the normalization is itself
    a sequential-fold pass (the oracle-parity tax), so repeated ANN
    invocations (bench loops, recall monitors, the floor witnesses)
    should pay it once per corpus snapshot, exactly like the trained
    quantizers and the brute-force ground truth already do.  Storage is
    one corpus-sized MEMORY_AND_DISK entry per session, released when
    the session changes."""
    build = lambda: normalized_vectors(_emb(spark, sf_dir)).cache()  # noqa: E731
    return table_artifact(spark, sf_dir, "embeddings", ("ann_norm_corpus",), build)


def _round6_half_away_kernel():
    """DuckDB-exact 6dp half-away rounding for scored cosines, returned
    as a nested function so kernels capture it BY VALUE (the
    _grid_scores_kernel pattern).  ONE definition (r11 wave 5: the
    np.where/±floor block lived byte-identically in the bruteforce and
    knn kernels — the hand-sync hazard r9's grid-fold extraction
    eliminated for the scoring loop).  Sign-aware: -floor(-x*1e6+0.5)
    yields -0.0 for x in (-5e-7, 0), matching DuckDB's round()."""
    import numpy as np

    def round6(x):
        return np.where(
            x >= 0, np.floor(x * 1e6 + 0.5), -np.floor(-x * 1e6 + 0.5)
        ) / 1e6

    return round6


def _grid_scores_kernel():
    """ONE source of truth for the chunked left-to-right grid fold the
    oracle-compared scoring kernels use (review r9: two byte-identical
    inline copies in q_ann_bruteforce / q_knn_classify were exactly the
    hand-sync hazard the module header warns about).  Returned as a
    NESTED function so a mapInPandas kernel capturing it is pickled BY
    VALUE and stays self-contained on executors (same pattern as
    ``_flat_quantizer``).

    The (query, candidate) grid accumulates as a strict LEFT-TO-RIGHT
    fold over the dim axis: each step is one rounded mul + one rounded
    add per cell — the exact order of the oracle's ``list_dot_product``
    (review r8; einsum/BLAS partial sums drift in the last ulp).
    Optimized without changing the arithmetic sequence: M transposed
    once per batch (contiguous dim rows) and candidates processed in
    L2-sized chunks with in-place multiply/add — measured bit-identical
    to the naive fold and ~4× faster (54 vs 209 ms per 32×10k×64 batch;
    einsum is 9 ms but inexact)."""
    import numpy as np

    def grid_scores(Q, M):
        q, n = Q.shape[0], M.shape[0]
        D = Q.shape[1]
        MT = np.ascontiguousarray(M.T)
        out = np.empty((q, n))
        chunk = 4096
        tmp = np.empty((q, min(chunk, max(n, 1))))
        for c0 in range(0, n, chunk):
            c = min(chunk, n - c0)
            acc = out[:, c0 : c0 + c]
            acc.fill(0.0)
            t = tmp[:, :c]
            for j in range(D):
                np.multiply(Q[:, [j]], MT[j, c0 : c0 + c], out=t)
                np.add(acc, t, out=acc)
        return out

    return grid_scores


def _adc_tables(Q, B):
    """PQ asymmetric-distance lookup tables:
    ``T[q, j, c] = dot(Q[q] subspace j, B[j, c])``."""
    import numpy as np

    d = B.shape[2]
    return np.stack(
        [Q[:, j * d : (j + 1) * d] @ B[j].T for j in range(B.shape[0])], axis=1
    )


@register(
    "q_embedding_stats",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    )
    SELECT label,
           count(*) AS n_vectors,
           round(CAST(sum(CAST(sqrt(list_dot_product(v, v)) AS DECIMAL(38,18)))
                      AS DOUBLE) / count(*), 6) AS avg_norm,
           round(min(sqrt(list_dot_product(v, v))), 6) AS min_norm,
           round(max(sqrt(list_dot_product(v, v))), 6) AS max_norm
    FROM e
    GROUP BY label
    """,
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics (sanity layer for the ANN ops).

    The mean accumulates in DECIMAL on BOTH engines (review r8, the
    repo's dsum convention): a raw double avg merges partials in
    partition order, so Spark and DuckDB could land on opposite sides of
    the 6th-decimal rounding boundary; the decimal sum is
    order-independent and bit-identical across engines."""
    e = _emb(spark, sf_dir).where(vec_complete()).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    norm = F.sqrt(_dot(F.col("v"), F.col("v")))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(norm.cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_norm"),
        F.round(F.min(norm), 6).alias("min_norm"),
        F.round(F.max(norm), 6).alias("max_norm"),
    )


@register(
    "q_ann_bruteforce",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
              AND vec_id IS NOT NULL
    ),
    n AS (
        SELECT vec_id, list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
        FROM e
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
        FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= {TOP_K}
    """,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{K}: broadcast query matrix × one corpus pass.

    The query set is tiny and fixed, so it is collected once to the
    driver and closed over by a mapInPandas kernel; each Arrow batch of
    corpus vectors is scored against ALL queries as one numpy
    batch×queries dot grid — a single linear scan, no join, no per-pair
    expression evaluation.  The grid accumulates as a strict
    left-to-right fold over the dimension axis (NOT einsum/BLAS, whose
    partial accumulators drift in the last ulp — review r8) and rounds
    half-away, so every value is bit-identical to the oracle's
    round(list_dot_product(...), 6).

    Ranking happens on the 6-dp-rounded score with neighbor_id as the
    tie-break, making the top-k deterministic and engine-portable; the
    window is a partial top-k per partition (WindowGroupLimit) before
    the final k×|queries|-row shuffle.

    The corpus arrives PRE-NORMALIZED from the shared per-(session,
    corpus) cache (``_norm_corpus`` — VERDICT r8 #3): the sequential-
    fold normalization pass runs once per corpus snapshot instead of
    per invocation, and the kernel is pure scoring.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    en = _norm_corpus(spark, sf_dir).select("vec_id", "nv")
    q_ids, Q, _ = _norm_query_matrix(en, N_QUERIES)
    grid_scores = _grid_scores_kernel()  # shared fold, pickled by value
    round6 = _round6_half_away_kernel()  # shared rounding, by value

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # pre-normalized by the cached _norm_corpus pass (same
            # JVM-side fold + clamped divide as the old in-kernel code)
            M = np.array(pdf["nv"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            cos = grid_scores(Q, M)
            qq = np.repeat(q_ids, len(ids))
            cc = np.tile(ids, len(q_ids))
            keep = qq != cc
            kept = cos.ravel()[keep]
            yield pd.DataFrame(
                {
                    "query_id": qq[keep],
                    "neighbor_id": cc[keep],
                    "cos_sim": round6(kept),  # DuckDB-exact half-away
                }
            )

    scored = en.mapInPandas(score, "query_id long, neighbor_id long, cos_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
    )


IVF_CENTROIDS = 16  # floor; the effective k is corpus-derived (_ivf_k)
IVF_NPROBE = 4  # floor; the effective nprobe is sqrt-scaled (_ivf_nprobe)
IVF_KMEANS_ITERS = 2
# Target per-cell occupancy.  This is what actually bounds per-cell work
# at scale: IVF probe-list length and SemDeDup's within-cell greedy
# sweep (worst-case O(cell_rows²)) both grow with cell size, so the
# cluster count is DERIVED from the corpus size (k = N / target) rather
# than fixed — at a constant k the per-cell cost would be O((N/k)²), a
# latent quadratic at 100 TB.
IVF_TARGET_ROWS_PER_CELL = 4096
# Ceiling on FLAT k: beyond it the broadcast centroid matrix and the
# per-batch assign matmul (batch × k) become the cost driver instead of
# the cells (65536 × 64 doubles ≈ 33 MB broadcast — comfortably under
# Spark's broadcast sweet spot).  Past ~270M vectors (_TWO_LEVEL_MIN_N)
# `_corpus_centroids` switches to the TWO-LEVEL coarse quantizer below
# instead of growing k further.
IVF_MAX_CENTROIDS = 65536
# Two-level coarse quantizer (inverted multi-index, Babenko & Lempitsky
# CVPR'12 — the billion-vector FAISS/IMI layout): the cell space is the
# CROSS PRODUCT of two codebooks quantizing the two HALVES of the vector,
# cell = c1 * k2 + c2.  k = k1 * k2 cells are addressed while only
# k1 + k2 half-dim centroids are stored, so codebook broadcast is
# O(sqrt(k) * d) and per-vector assign cost is k1 + k2 half-dots — both
# O(sqrt(k)) where a flat quantizer is O(k).  At the 65536² ≈ 4.3e9-cell
# ceiling the broadcast is 2 × 65536 × 32 doubles ≈ 33 MB — the same
# bound the flat path respects, now covering ~17.6e12 vectors at target
# occupancy.  Tests and scale probes force it on at any scale by
# lowering _TWO_LEVEL_MIN_N.  n <= _TWO_LEVEL_MIN_N holds exactly when
# the wanted flat k (_ivf_want) fits under IVF_MAX_CENTROIDS.
_TWO_LEVEL_MIN_N = IVF_MAX_CENTROIDS * IVF_TARGET_ROWS_PER_CELL


def _ivf_want(n_vectors: int) -> int:
    """Uncapped cell count ``ceil(n / target-occupancy)`` — ONE
    definition shared by ``_ivf_k`` and the two-level codebook size in
    ``_corpus_centroids``."""
    import math

    return math.ceil(max(n_vectors, 1) / IVF_TARGET_ROWS_PER_CELL)


def _ivf_k(n_vectors: int) -> int:
    """Corpus-derived coarse-quantizer size: constant expected rows per
    cell, floored at {IVF_CENTROIDS} so tiny test corpora keep the
    recall-asserted 16-cell geometry, capped at {IVF_MAX_CENTROIDS}
    (see note above)."""
    return min(max(IVF_CENTROIDS, _ivf_want(n_vectors)), IVF_MAX_CENTROIDS)


def _ivf_nprobe(k: int) -> int:
    """sqrt-scaled probe count: 4 of 16 cells at the floor (the tested
    recall point), a shrinking FRACTION of cells as k grows — the
    classic IVF recall/cost curve (probing a fixed fraction would make
    probe cost linear in k again)."""
    return max(IVF_NPROBE, int(round(k**0.5)))


def _flat_quantizer(C):
    """Closure-based single-level quantizer over centroid matrix ``C``.

    Returns ``(assign, probe, k)``.  ``assign``/``probe`` are NESTED
    functions closing over plain numpy arrays only: cloudpickle
    serializes nested functions BY VALUE, so a mapInPandas kernel that
    captures ``assign`` stays self-contained on executors that cannot
    import this package (a class instance would pickle by reference to
    its class and break under the driver's vanilla session)."""
    import numpy as np

    def assign(M):
        return np.argmax(M @ C.T, axis=1).astype(np.int64)

    def probe(Q, nprobe):
        # inverted file for the query set: cell -> [query rows probing
        # it], from each query's ``nprobe`` closest centroids.  Inlined
        # (review r8) so the closure really closes over C alone, and
        # STABLE argsort so duplicate-centroid ties order identically
        # across numpy versions — same discipline as the IMI probe.
        order = np.argsort(-(Q @ C.T), axis=1, kind="stable")[:, :nprobe]
        cell_to_queries: dict[int, list[int]] = {}
        for qi in range(Q.shape[0]):
            for cell in order[qi]:
                cell_to_queries.setdefault(int(cell), []).append(qi)
        return cell_to_queries

    return assign, probe, len(C)


def _imi_quantizer(C1, C2):
    """Closure-based two-level quantizer (inverted multi-index): two
    half-space codebooks whose cross product addresses ``k1 * k2`` cells.

    ``assign`` ranks each half against its own codebook (argmax of the
    half-dot is scale-invariant, so full-vector normalization upstream
    suffices); ``probe`` is the EXACT multi-sequence traversal (Babenko
    & Lempitsky §3.2): a max-heap walk of the sorted-half-score grid
    that yields the true top-``nprobe`` cells by summed half score in
    O(nprobe log nprobe) pops — a fixed top-w×top-w grid would miss
    cells when one half's ranking dominates (e.g. the true #4 cell
    pairing the best a with the 4th-best b).
    Same self-contained-closure discipline as ``_flat_quantizer``.

    Batch bound: ``probe`` walks the heap on the DRIVER — O(n_queries ×
    nprobe) work and memory, independent of corpus size.  Fine for the
    query-set shapes here (hundreds–thousands of queries); a
    million-query batch should be chunked by the caller, not pushed
    through one probe() call."""
    import heapq

    import numpy as np

    h = C1.shape[1]
    k2 = len(C2)

    def assign(M):
        c1 = np.argmax(M[:, :h] @ C1.T, axis=1)
        c2 = np.argmax(M[:, h:] @ C2.T, axis=1)
        return (c1 * k2 + c2).astype(np.int64)

    def probe(Q, nprobe):
        s1 = Q[:, :h] @ C1.T
        s2 = Q[:, h:] @ C2.T
        cell_to_queries: dict[int, list[int]] = {}
        for qi in range(Q.shape[0]):
            # stable argsort: deterministic tie order across runs/hosts
            o1 = np.argsort(-s1[qi], kind="stable")
            o2 = np.argsort(-s2[qi], kind="stable")
            v1, v2 = s1[qi][o1], s2[qi][o2]
            heap = [(-(v1[0] + v2[0]), 0, 0)]
            seen = {(0, 0)}
            picked = 0
            while heap and picked < nprobe:
                _, i, j = heapq.heappop(heap)
                cell = int(o1[i]) * k2 + int(o2[j])
                cell_to_queries.setdefault(cell, []).append(qi)
                picked += 1
                if i + 1 < len(o1) and (i + 1, j) not in seen:
                    heapq.heappush(heap, (-(v1[i + 1] + v2[j]), i + 1, j))
                    seen.add((i + 1, j))
                if j + 1 < len(o2) and (i, j + 1) not in seen:
                    heapq.heappush(heap, (-(v1[i] + v2[j + 1]), i, j + 1))
                    seen.add((i, j + 1))
        return cell_to_queries

    return assign, probe, len(C1) * k2


def _corpus_centroids(e: DataFrame, sf_dir: str):
    """The shared coarse quantizer (IVF / IVF+PQ / SemDeDup) with
    corpus-DERIVED size: one cached ``count()`` sizes the cell count so
    per-cell occupancy stays ~constant as the corpus grows, then the
    codebooks train once per (corpus, params).

    Returns ``(assign, probe, k)`` closures (see ``_flat_quantizer``).
    Up to ``_TWO_LEVEL_MIN_N`` vectors the quantizer is a flat k-means
    codebook; past it it is the two-level inverted multi-index, which
    keeps BOTH the codebook broadcast and the per-vector assign cost
    O(sqrt(k)) — the flat-k ceiling no longer forces occupancy to grow
    with the corpus."""
    import math

    spark = e.sparkSession
    n = _vector_count(spark, sf_dir)
    if n <= _TWO_LEVEL_MIN_N:
        k = _ivf_k(n)
        C = table_artifact(
            spark, sf_dir, "embeddings", ("ivf", k, IVF_KMEANS_ITERS),
            lambda: _kmeans_centroids(e, k),
        )
        return _flat_quantizer(C)
    # two-level: each half-codebook holds ~sqrt(k_wanted) centroids (floor
    # 4 so forced tiny-corpus runs keep the recall-asserted 16-cell
    # geometry; cap 65536 per half = the same 33 MB broadcast bound)
    k1 = min(IVF_MAX_CENTROIDS, max(4, math.ceil(math.sqrt(_ivf_want(n)))))
    h = DIM // 2
    C1 = table_artifact(
        spark, sf_dir, "embeddings", ("imi1", k1, IVF_KMEANS_ITERS),
        lambda: _kmeans_centroids(e, k1, lo=0, hi=h),
    )
    C2 = table_artifact(
        spark, sf_dir, "embeddings", ("imi2", k1, IVF_KMEANS_ITERS),
        lambda: _kmeans_centroids(e, k1, lo=h, hi=DIM),
    )
    return _imi_quantizer(C1, C2)


def _pq(spark: SparkSession, sf_dir: str, e: DataFrame):
    """The PQ codebooks, ``(subspaces, codes, d)``: one training per corpus file."""
    key = ("pq", PQ_SUBSPACES, PQ_CODES, PQ_ITERS)
    return table_artifact(spark, sf_dir, "embeddings", key, lambda: _pq_codebooks(e))


def _kmeans_centroids(
    e: DataFrame,
    k: int,
    iters: int = IVF_KMEANS_ITERS,
    lo: int = 0,
    hi: int | None = None,
):
    """Deterministic spherical k-means (Lloyd) over the corpus, as Spark jobs.

    ``lo``/``hi`` restrict training to a dimension SLICE of the vectors —
    the two-level quantizer trains one codebook per vector half; the
    default full slice is byte-identical to the original behavior.

    * Seeded init, no RNG: the ``k`` vectors with the smallest
      ``xxhash64(vec_id)`` — a uniform, reproducible spread (plans stay
      identical across runs and clusters).
    * Each iteration is ONE Arrow pass over the corpus: a mapInPandas
      kernel emits per-batch partial ``(cell, count, sum)`` aggregates,
      which a JVM groupBy reduces to ``k`` rows before a bounded collect.
      Total cost = ``iters`` full scans + a k-row shuffle — the standard
      distributed k-means layout; no all-pairs, no driver-side corpus.
    * Empty cells keep their previous centroid; centroids are
      unit-normalized each round (cosine geometry).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    seed = (
        e.withColumn("h", F.xxhash64(F.col("vec_id")))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    if not seed:
        raise ValueError("k-means training needs at least one complete vector")
    # fewer complete vectors than k degrades gracefully: C simply has
    # n < k rows, every argmin/count below sizes off len(C) (r12 — the
    # PQ trainer had a fixed-size assumption here and crashed)
    C = np.array([r.v for r in seed], dtype=np.float64)[:, lo:hi]
    C = C / np.maximum(np.sqrt(np.einsum("ij,ij->i", C, C)), 1e-12)[:, None]

    dim = C.shape[1]
    for _ in range(iters):
        Cb = C

        def partials(
            batches: Iterator[pd.DataFrame], Cb=Cb, lo=lo, hi=hi
        ) -> Iterator[pd.DataFrame]:
            sums = np.zeros_like(Cb)
            counts = np.zeros(len(Cb), dtype=np.int64)
            for pdf in batches:
                M = np.array(pdf["v"].tolist(), dtype=np.float64)[:, lo:hi]
                M = M / np.maximum(np.sqrt(np.einsum("ij,ij->i", M, M)), 1e-12)[:, None]
                cells = np.argmax(M @ Cb.T, axis=1)
                np.add.at(counts, cells, 1)
                np.add.at(sums, cells, M)
            yield pd.DataFrame(
                {
                    "cell": np.arange(len(Cb), dtype=np.int32),
                    "cnt": counts,
                    "s": list(sums),
                }
            )

        part = e.mapInPandas(partials, "cell int, cnt long, s array<double>")
        # DECIMAL-accumulate the double partials (review r8): a plain
        # float F.sum merges per-partition rows in shuffle-fetch order —
        # last-ulp drift that can flip a next-iteration argmax tie and
        # break the documented run-to-run determinism.  The decimal cast
        # quantizes each partial identically every run, and decimal
        # addition is order-independent.
        rows = (
            part.groupBy("cell")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[
                    F.sum(F.col("s")[i].cast("decimal(38,18)"))
                    .cast("double")
                    .alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        C = Cb.copy()
        for r in rows:
            if r.cnt:
                vec = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64)
                C[r.cell] = vec / max(np.linalg.norm(vec), 1e-12)
    return C


@register("q_ann_ivf")  # partition-pruned approximate variant: rows-only check
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-{K}: assign every corpus vector
    to its nearest centroid, then probe only the {IVF_NPROBE} closest
    cells per query — the candidate set shrinks from |corpus| to
    ~|corpus|×nprobe/C, which is the classic billion-vector ANN layout
    (at 100 TB the cells become the table's partition keys, so a probe
    is partition pruning at the parquet scan).

    Centroids come from ``_kmeans_centroids`` — deterministic seeded
    spherical k-means run as Spark jobs ({IVF_KMEANS_ITERS} Lloyd
    iterations, one Arrow pass each).  Downstream (assignment scan,
    inverted probe lookup, exact re-rank) is the real IVF plan.
    Measured recall@10 vs q_ann_bruteforce at sf0.01 (synthetic
    near-uniform embeddings — a hard case for any IVF): 0.44 at
    nprobe=4/16, 0.60 at 6, 0.72 at 8; asserted ≥ 0.35 in
    tests/test_llm_ops.py.  nprobe is the recall/cost knob — real
    clustered embeddings sit far above this floor at the same probe
    fraction.  Assignment + scoring are numpy batch kernels via
    mapInPandas, one Arrow pass over the corpus each.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    e = _vectors(spark, sf_dir)
    assign, probe, k = _corpus_centroids(e, sf_dir)
    # query head off the CACHED normalized corpus (r11 wave 5): the
    # raw-scan _query_matrix re-read parquet + re-normalized per
    # invocation to collect a handful of query rows;
    # _norm_query_matrix is bit-identical by construction (one
    # arithmetic convention, see its docstring)
    q_ids, Q, _ = _norm_query_matrix(
        _norm_corpus(spark, sf_dir).select("vec_id", "nv"), N_QUERIES
    )
    # per-query probe list: the nprobe closest centroid cells, inverted to
    # a cell -> [query row] lookup (the "inverted file") carried in the
    # kernel closure — probing is then a dict lookup per corpus vector,
    # no join and no second pass over the corpus
    cell_to_queries = probe(Q, _ivf_nprobe(k))

    # probed cells as a sorted array: per batch, ONE argsort of the
    # batch's cell ids + two searchsorted calls locate every probed
    # cell's rows in O(batch log batch + probed) — the per-cell
    # `cells == cell` scan was O(probed × batch), which becomes the hot
    # path at two-level scale where a query probes ~sqrt(k) cells
    probed_cells = np.array(sorted(cell_to_queries), dtype=np.int64)

    def assign_and_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # input is the cached pre-normalized corpus (review r10):
            # the per-invocation in-kernel normalize re-paid a full
            # einsum pass the _norm_corpus cache already holds
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            cells = assign(M)
            order = np.argsort(cells, kind="stable")
            sorted_cells = cells[order]
            lo = np.searchsorted(sorted_cells, probed_cells, side="left")
            hi = np.searchsorted(sorted_cells, probed_cells, side="right")
            out_q, out_n, out_c = [], [], []
            for cell, lo_i, hi_i in zip(probed_cells, lo, hi):
                if lo_i == hi_i:
                    continue
                qis = cell_to_queries[int(cell)]
                in_cell = order[lo_i:hi_i]
                sub = M[in_cell]
                for qi in qis:
                    cos = np.einsum("j,ij->i", Q[qi], sub)
                    keep = ids[in_cell] != q_ids[qi]
                    out_q.append(np.full(keep.sum(), q_ids[qi]))
                    out_n.append(ids[in_cell][keep])
                    out_c.append(np.round(cos[keep], 6))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_c),
                }
            )

    nv = _norm_corpus(spark, sf_dir).select("vec_id", F.col("nv").alias("v"))
    scored = nv.mapInPandas(
        assign_and_score, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= TOP_K)


def _hyperplane(j: int) -> list[int]:
    """Deterministic ±1 hyperplane (no RNG → same plan on any cluster)."""
    return [1 if ((d * 31 + j * 17 + (d * d * j) % 13) % 7) % 2 == 0 else -1 for d in range(DIM)]


def lsh_bucket_col(v: Column) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per hyperplane."""
    bucket = F.lit(0)
    for j in range(LSH_PLANES):
        plane = F.array(*[F.lit(float(x)) for x in _hyperplane(j)])
        s = _dot(v, plane)
        bucket = bucket + F.when(s > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def _lsh_oracle() -> str:
    """DuckDB twin of the LSH plan: the ±1 hyperplanes are compile-time
    literals, so the whole bucket computation is expressible as CASE sums
    — sign decisions agree bit-exactly because both engines evaluate the
    identical sequential dot over identically-normalized doubles."""
    terms = []
    for j in range(LSH_PLANES):
        plane = ", ".join(str(float(x)) for x in _hyperplane(j))
        terms.append(
            f"(CASE WHEN list_dot_product(nv, [{plane}]) > 0 THEN {1 << j} ELSE 0 END)"
        )
    bucket = "\n           + ".join(terms)
    return f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
              AND vec_id IS NOT NULL
    ),
    n AS (
        SELECT vec_id, list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
        FROM e
    ),
    b AS (
        SELECT vec_id, nv,
           {bucket} AS bucket
        FROM n
    ),
    q AS (
        SELECT vec_id AS query_id, nv AS qv, bucket AS qb
        FROM b WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               -- floor(x*1e6+0.5)/1e6 on BOTH engines (r11 wave 5):
               -- native round() emits -0.0 for cosines in (-5e-7, 0)
               -- on DuckDB but +0.0 via Spark's F.round, a
               -- stringified-hash break; the shared primitive emits
               -- +0.0 on both and removes the representable-tie
               -- class too
               floor(list_dot_product(q.qv, c.nv) * 1000000.0 + 0.5)
                   / 1000000.0 AS cos_sim
        FROM b c JOIN q ON c.bucket = q.qb AND c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rnk
        FROM cand
    )
    WHERE rnk <= {TOP_K}
    """


@register("q_ann_lsh", oracle=_lsh_oracle())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{K} via random-hyperplane LSH buckets.

    Candidates are corpus vectors sharing the query's bucket; exact
    cosine then ranks within candidates.  The candidate join is an
    equi-join on bucket id — the quadratic never materializes.  Bucket
    assignment is deterministic arithmetic (no RNG), so the full result
    is oracle-checked against DuckDB computing the same planes.
    """
    # ONE cached bucketed corpus per (session, corpus) as an artifact: a
    # per-call .cache() would pin a fresh corpus-sized copy in executor
    # storage memory on every invocation (q_ann_recall re-invokes this
    # query) and never release any of them.  Derived from the shared
    # normalized base (VERDICT r8 #3): when the brute-force/kNN family
    # already materialized _norm_corpus, the bucketed build reads cached
    # nv instead of re-scanning parquet and re-running the normalization
    # fold
    def build():
        nv = _norm_corpus(spark, sf_dir).select("vec_id", "nv")
        return nv.withColumn("bucket", lsh_bucket_col(F.col("nv"))).cache()

    bucketed = table_artifact(spark, sf_dir, "embeddings", ("lsh_bucketed",), build)
    q = bucketed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv"), F.col("bucket").alias("qb")
    )
    cos = _dot(F.col("qv"), F.col("nv"))
    cand = bucketed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            round_half_up(cos, 6).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
    )


KNN_QUERIES = 32  # vec_id < 32 form the deterministic classification set
KNN_K = 16


@register(
    "q_knn_classify",
    oracle=f"""
    WITH e AS (
        -- NULL embeddings cannot be scored and NULL labels cannot vote
        -- or be voted for (a NULL clabel tie-break sorts NULLS FIRST in
        -- Spark vs NULLS LAST in DuckDB) — both drop, matching the
        -- Spark side (NULL sweep r11)
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
              AND label IS NOT NULL AND vec_id IS NOT NULL
    ),
    n AS (
        SELECT vec_id, label,
               list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
        FROM e
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.vec_id AS cid, c.label AS clabel,
               round(list_dot_product(q.nv, c.nv), 6) AS cos_sim
        FROM n q JOIN n c ON q.vec_id < {KNN_QUERIES} AND c.vec_id != q.vec_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, cid
            ) AS rnk
            FROM scored
        ) WHERE rnk <= {KNN_K}
    ),
    votes AS (
        SELECT query_id, true_label, clabel, count(*) AS votes
        FROM topk GROUP BY query_id, true_label, clabel
    )
    SELECT query_id, true_label, clabel AS predicted_label, votes
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY votes DESC, clabel
        ) AS r
        FROM votes
    ) WHERE r = 1
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label classification: majority vote over the top-{K} cosine
    neighbors of each query vector (vote ties -> smaller label id).

    Same scale shape as ``q_ann_bruteforce``: the {Q}-row query matrix is
    broadcast inside a mapInPandas grid-fold kernel, the corpus streams
    past it once, and the per-query top-k is a WindowGroupLimit partial before
    the tiny vote aggregation.  At 100 TB the corpus pass is the only
    full-data stage and it is embarrassingly parallel; everything after
    the window is k x |queries| rows.

    Shares the cached pre-normalized corpus with q_ann_bruteforce
    (``_norm_corpus`` — VERDICT r8 #3), so repeat invocations skip the
    normalization fold entirely.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    # NULL labels drop on BOTH the corpus side (cannot vote; a NULL
    # clabel group's tie-break sorts engine-differently) and the query
    # side (np.int32(None) raises) — the oracle's e CTE mirrors this
    en = (
        _norm_corpus(spark, sf_dir)
        .where(F.col("label").isNotNull())
        .select("vec_id", "label", "nv")
    )
    q_ids, Q, qrows = _norm_query_matrix(en, KNN_QUERIES)
    q_labels = np.array([r.label for r in qrows], dtype=np.int32)
    grid_scores = _grid_scores_kernel()  # shared fold, pickled by value
    round6 = _round6_half_away_kernel()  # shared rounding, by value

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # pre-normalized by the cached _norm_corpus pass
            M = np.array(pdf["nv"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            cos = grid_scores(Q, M)
            qq = np.repeat(q_ids, len(ids))
            tl = np.repeat(q_labels, len(ids))
            cc = np.tile(ids, len(q_ids))
            cl = np.tile(labels, len(q_ids))
            keep = qq != cc
            kept = cos.ravel()[keep]
            yield pd.DataFrame(
                {
                    "query_id": qq[keep],
                    "true_label": tl[keep],
                    "cid": cc[keep],
                    "clabel": cl[keep],
                    "cos_sim": round6(kept),
                }
            )

    scored = en.mapInPandas(
        score,
        "query_id long, true_label int, cid long, clabel int, cos_sim double",
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "cid")
    votes = (
        scored.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= KNN_K)
        .groupBy("query_id", "true_label", "clabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), "clabel")
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .where(F.col("r") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("clabel").alias("predicted_label"),
            "votes",
        )
    )


PQ_SUBSPACES = 16  # 64 dims -> 16 subspaces x 4 dims
PQ_CODES = 32
PQ_ITERS = 3


def _pq_codebooks(e: DataFrame):
    """Deterministic product-quantization codebooks: per subspace,
    k={PQ_CODES} L2 k-means over the slices of unit-normalized vectors.
    (16 subspaces x 32 codes x 3 Lloyd passes: measured mean recall@10
    0.58 vs brute force at sf0.01 on the near-uniform synthetic
    embeddings — the hard case; 8x16x2 gave 0.26.)

    ALL subspaces train together — each Lloyd iteration is ONE Arrow
    pass emitting (subspace, cell, count, sum) partials, reduced by a
    JVM groupBy to subspaces x codes rows before a bounded collect.  Seeded init from
    the smallest-xxhash64 vec_ids (no RNG; reproducible on any cluster).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    seed = (
        e.withColumn("h", F.xxhash64(F.col("vec_id")))
        .orderBy("h", "vec_id")
        .limit(PQ_CODES)
        .collect()
    )
    if not seed:
        raise ValueError("PQ training needs at least one complete vector")
    S = np.array([r.v for r in seed], dtype=np.float64)
    S = S / np.maximum(np.sqrt(np.einsum("ij,ij->i", S, S)), 1e-12)[:, None]
    if S.shape[0] < PQ_CODES:
        # degenerate corpus (fewer complete vectors than codes — the r12
        # element-NULL sweep's heavy seed shrank sf0.001 to 15 vectors):
        # pad by cycling the seeds.  Duplicate centroids are harmless —
        # argmin ties pick the first copy and the Lloyd update keeps an
        # empty cell's old centroid (`if r.n > 0` below).
        reps = -(-PQ_CODES // S.shape[0])
        S = np.tile(S, (reps, 1))[:PQ_CODES]
    d = S.shape[1] // PQ_SUBSPACES
    # C[j]: (PQ_CODES, d) codebook for subspace j
    C = np.stack([S[:, j * d : (j + 1) * d] for j in range(PQ_SUBSPACES)])

    for _ in range(PQ_ITERS):
        Cb = C.copy()

        def partials(batches: Iterator[pd.DataFrame], Cb=Cb) -> Iterator[pd.DataFrame]:
            sums = np.zeros_like(Cb)
            counts = np.zeros((PQ_SUBSPACES, PQ_CODES), dtype=np.int64)
            for pdf in batches:
                M = np.array(pdf["v"].tolist(), dtype=np.float64)
                M = M / np.maximum(np.sqrt(np.einsum("ij,ij->i", M, M)), 1e-12)[:, None]
                for j in range(PQ_SUBSPACES):
                    Mj = M[:, j * d : (j + 1) * d]
                    # L2 argmin via the expanded form; -2*dot dominates
                    d2 = (
                        np.einsum("ik,ik->i", Mj, Mj)[:, None]
                        - 2.0 * (Mj @ Cb[j].T)
                        + np.einsum("ck,ck->c", Cb[j], Cb[j])[None, :]
                    )
                    cells = np.argmin(d2, axis=1)
                    np.add.at(counts[j], cells, 1)
                    np.add.at(sums[j], cells, Mj)
            rows = [
                (j, c, int(counts[j, c]), list(sums[j, c]))
                for j in range(PQ_SUBSPACES)
                for c in range(PQ_CODES)
            ]
            yield pd.DataFrame(rows, columns=["sub", "cell", "cnt", "s"])

        red = (
            e.mapInPandas(
                partials, "sub int, cell int, cnt long, s array<double>"
            )
            .groupBy("sub", "cell")
            .agg(
                F.sum("cnt").alias("n"),
                # decimal-accumulated like _kmeans_centroids (review r8):
                # order-independent reduction keeps the codebooks
                # byte-deterministic across runs
                F.array(
                    *[
                        F.sum(F.col("s")[i].cast("decimal(38,18)"))
                        .cast("double")
                        .alias(f"d{i}")
                        for i in range(d)
                    ]
                ).alias("ssum"),
            )
            .collect()
        )
        for r in red:
            if r.n > 0:
                C[r.sub, r.cell] = np.array(r.ssum) / r.n
    return C


@register("q_ann_pq")  # trained quantizer: rows-only check
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{K} via PRODUCT QUANTIZATION with asymmetric
    distance computation (ADC) — the memory-compression ANN path: each
    corpus vector is {PQ_SUBSPACES} one-byte codes (32x smaller than
    64 float64s), and a query scores a candidate by summing
    {PQ_SUBSPACES} table lookups instead of a 64-dim dot product.

    One corpus pass encodes AND scores: the kernel assigns codes per
    batch, then scores every candidate against all queries from the
    per-query subspaces x codes lookup tables (numpy fancy indexing — no per-pair
    loop).  At 100 TB the codes column (16 bytes/vector) is what sits in
    memory; exact re-ranking of the top candidates would add one fetch
    of the survivors' full vectors.  Recall@10 vs q_ann_bruteforce is
    asserted >= a floor in tests/test_llm_ops.py.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    e = _vectors(spark, sf_dir)
    C = _pq(spark, sf_dir, e)  # (subspaces, codes, d)
    d = C.shape[2]
    # query head off the CACHED normalized corpus (r11 wave 5): the
    # raw-scan _query_matrix re-read parquet + re-normalized per
    # invocation to collect a handful of query rows;
    # _norm_query_matrix is bit-identical by construction (one
    # arithmetic convention, see its docstring)
    q_ids, Q, _ = _norm_query_matrix(
        _norm_corpus(spark, sf_dir).select("vec_id", "nv"), N_QUERIES
    )
    # ADC tables: T[q, j, c] = dot(Q[q] subspace j, C[j, c])
    T = _adc_tables(Q, C)

    def encode_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # pre-normalized corpus input (review r10, see q_ann_ivf)
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            codes = np.empty((len(M), PQ_SUBSPACES), dtype=np.int64)
            for j in range(PQ_SUBSPACES):
                Mj = M[:, j * d : (j + 1) * d]
                d2 = (
                    np.einsum("ik,ik->i", Mj, Mj)[:, None]
                    - 2.0 * (Mj @ C[j].T)
                    + np.einsum("ck,ck->c", C[j], C[j])[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            # approx cos: sum the PQ_SUBSPACES (16) table lookups per
            # (query, candidate)
            sub = np.arange(PQ_SUBSPACES)[None, :]
            scores = T[:, sub, codes].sum(axis=2)  # (n_q, batch)
            qq = np.repeat(q_ids, len(ids))
            cc = np.tile(ids, len(q_ids))
            keep = qq != cc
            yield pd.DataFrame(
                {
                    "query_id": qq[keep],
                    "neighbor_id": cc[keep],
                    "approx_cos": np.round(scores.ravel()[keep], 6),
                }
            )

    nv = _norm_corpus(spark, sf_dir).select("vec_id", F.col("nv").alias("v"))
    scored = nv.mapInPandas(
        encode_score, "query_id long, neighbor_id long, approx_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_cos"), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


@register(
    "q_embedding_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    ),
    s AS (
        SELECT vec_id, label, e,
               CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
                    ELSE 127.0 / list_max(list_transform(e, x -> abs(x)))
               END AS scale
        FROM v
    )
    SELECT vec_id, label,
           CAST(len(e) AS BIGINT) AS n_dims,
           CAST(list_sum(list_transform(e,
               x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS BIGINT)
               AS q_checksum,
           list_min(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)))
               AS q_min,
           list_max(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)))
               AS q_max,
           list_max(list_transform(e,
               x -> abs(CAST(floor(x * scale + 0.5) AS BIGINT) / scale - x)))
               AS max_abs_err
    FROM s
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression step before an ANN index ships to serving (4x smaller,
    one scale per vector).

    Everything is JVM-side array lambdas over the row's own vector:
    zero shuffles, zero Python.  The math uses only IEEE-exact ops
    (multiply, divide, floor — round-half-up spelled as floor(x+0.5) so
    BOTH engines evaluate the identical primitive expression; DuckDB's
    round() is half-AWAY like Spark's HALF_UP, see the convention lock
    in test_oracle_kernels_use_sequential_folds — an earlier version of
    this comment claimed half-even, which is numpy's np.round, not
    DuckDB), so the checksums AND the raw double reconstruction-error
    column are bit-identical across engines with no rounding in the
    output.
    """
    e = _emb(spark, sf_dir).where(vec_complete())
    ecol = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(ecol, lambda x: F.abs(x)))
    d = e.select(
        "vec_id",
        "label",
        ecol.alias("e"),
        F.when(maxabs == 0, F.lit(1.0)).otherwise(F.lit(127.0) / maxabs).alias("scale"),
    )
    scale = F.col("scale")
    qarr = F.transform("e", lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
    return d.select(
        "vec_id",
        "label",
        F.size("e").cast("long").alias("n_dims"),
        F.aggregate(qarr, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_checksum"),
        F.array_min(qarr).alias("q_min"),
        F.array_max(qarr).alias("q_max"),
        F.array_max(
            F.zip_with(qarr, F.col("e"), lambda qv, xv: F.abs(qv / scale - xv))
        ).alias("max_abs_err"),
    )


def _recall_oracle() -> str:
    """Compose the two already-registered oracles: recall@K of the LSH
    approximation against the brute-force ground truth.  DuckDB accepts
    WITH-bearing subqueries in parentheses, so both oracles nest
    verbatim — one source of truth, no duplicated SQL."""
    from iceberg_data_gen_spark.operators import ORACLES

    return f"""
    SELECT bf.query_id,
           count(l.neighbor_id) AS n_hit,
           count(*)             AS n_true,
           CAST(count(l.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
    FROM ({ORACLES['q_ann_bruteforce']}) bf
    LEFT JOIN ({ORACLES['q_ann_lsh']}) l
      ON l.query_id = bf.query_id AND l.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
    """


@register("q_ann_recall", oracle=_recall_oracle())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating similarity search: recall@K of the LSH-bucketed
    ANN against the exact brute-force top-K, per query — the quality
    gate an ANN index ships with.

    Both sides reuse the registered operators (single source of truth);
    the join is K·|queries| rows on each side, so the evaluation costs
    two index probes plus a trivially small join — runnable continuously
    as an index-health monitor at any corpus size.

    The brute-force side is the GROUND TRUTH for a fixed (session,
    corpus): its K·|queries| rows are cached and materialized once, so
    repeated recall evaluations (the bench loops this query) pay the
    exact full-corpus scan once per session instead of per call —
    exactly how a real index-health monitor amortizes its truth set
    (VERDICT r6 #5)."""
    from iceberg_data_gen_spark.operators import QUERIES

    bf = _ann_ground_truth(spark, sf_dir)
    lsh = (
        QUERIES["q_ann_lsh"](spark, sf_dir)
        .select(
            F.col("query_id").alias("l_qid"), F.col("neighbor_id").alias("l_nid")
        )
    )
    return (
        bf.join(
            lsh,
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("neighbor_id") == F.col("l_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("l_nid").alias("n_hit"),
            F.count(F.lit(1)).alias("n_true"),
            (F.count("l_nid").cast("double") / F.count(F.lit(1))).alias("recall_at_k"),
        )
    )


@register(
    "q_embedding_norm_outliers",
    oracle="""
    WITH norms AS (
        SELECT vec_id, label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm
        FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    ),
    med AS (SELECT quantile_cont(l2_norm, 0.5) AS med FROM norms),
    mad AS (
        SELECT m.med, quantile_cont(abs(n.l2_norm - m.med), 0.5) AS mad
        FROM norms n, med m GROUP BY m.med
    )
    SELECT n.label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN abs(n.l2_norm - d.med) > 3 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM norms n, mad d
    GROUP BY n.label
    """,
)
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA: vectors whose L2 norm is a MAD outlier —
    the broken-encoder / wrong-normalization screen run before any
    similarity index is built over a new embedding batch.

    The norm is computed in-row (array lambda, fixed summation order,
    then sqrt — all IEEE-exact), the global median/MAD are exact
    interpolated percentiles broadcast back as one row, and the final
    pass counts outliers per label.  No shuffle touches the vectors
    themselves after the norm projection."""
    e = _emb(spark, sf_dir).where(vec_complete())
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    norms = e.select(
        "vec_id",
        "label",
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)).alias("l2_norm"),
    )
    med = norms.agg(F.percentile("l2_norm", 0.5).alias("med"))
    mad = (
        norms.join(F.broadcast(med))
        .agg(
            F.first("med").alias("med"),
            F.percentile(F.abs(F.col("l2_norm") - F.col("med")), 0.5).alias("mad"),
        )
    )
    return (
        norms.join(F.broadcast(mad))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            # when/otherwise mirrors the oracle's CASE...ELSE 0 (r11
            # wave 5): F.sum over a group whose every condition is NULL
            # (all-NULL norms under heavy NULL injection) returned NULL
            # where DuckDB sums 0
            F.sum(
                F.when(
                    F.abs(F.col("l2_norm") - F.col("med")) > 3 * F.col("mad"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )


@register("q_ann_ivfpq")  # trained coarse+fine quantizers: rows-only check
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{TOP_K} via IVF + PQ — the composed billion-scale
    ANN layout (FAISS ``IVFx,PQy``): the IVF coarse quantizer prunes the
    candidate set to the {IVF_NPROBE} probed cells per query, and PQ
    asymmetric-distance tables score only those survivors — so at 100 TB
    the scan touches ~nprobe/C of the corpus AND holds only 1-byte-per-
    subspace codes in memory, the two savings multiplying.

    ONE corpus pass does everything: assign the coarse cell (argmax
    against the broadcast centroids), and for vectors landing in a
    probed cell, PQ-encode and ADC-score them against exactly the
    queries probing that cell (per-cell fancy indexing — no per-pair
    Python loop, no second scan, no join).  Both trained models are
    artifacts: train once per corpus file, reuse for every query
    batch.  Recall@{TOP_K} vs q_ann_bruteforce is
    floor-asserted in tests/test_llm_ops.py (measured 0.40 mean at
    sf0.01 on the near-uniform synthetic embeddings — consistent with
    the two stages' standalone recalls of 0.44 (IVF, nprobe=4/16) and
    0.58 (PQ) stacking); nprobe and the codebook
    size are the recall/cost knobs, and exact re-ranking of the
    survivors' full vectors is the standard final stage a production
    deployment adds.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    e = _vectors(spark, sf_dir)
    assign, probe, k = _corpus_centroids(e, sf_dir)
    B = _pq(spark, sf_dir, e)  # (subspaces, codes, d)
    d = B.shape[2]
    # query head off the CACHED normalized corpus (r11 wave 5): the
    # raw-scan _query_matrix re-read parquet + re-normalized per
    # invocation to collect a handful of query rows;
    # _norm_query_matrix is bit-identical by construction (one
    # arithmetic convention, see its docstring)
    q_ids, Q, _ = _norm_query_matrix(
        _norm_corpus(spark, sf_dir).select("vec_id", "nv"), N_QUERIES
    )
    # ADC tables: T[q, j, c] = dot(Q[q] subspace j, B[j, c])
    T = _adc_tables(Q, B)
    # inverted file: cell -> [query rows probing it]
    cell_to_queries = probe(Q, _ivf_nprobe(k))
    probed_cells = np.array(sorted(cell_to_queries), dtype=np.int64)

    def assign_encode_score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # pre-normalized corpus input (review r10, see q_ann_ivf)
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            cells = assign(M)
            # PQ-encode ONLY vectors in probed cells (the IVF prune)
            probed_mask = np.isin(cells, probed_cells)
            if not probed_mask.any():
                continue
            sel = np.nonzero(probed_mask)[0]
            Ms, ids_s, cells_s = M[sel], ids[sel], cells[sel]
            codes = np.empty((len(Ms), PQ_SUBSPACES), dtype=np.int64)
            for j in range(PQ_SUBSPACES):
                Mj = Ms[:, j * d : (j + 1) * d]
                d2 = (
                    np.einsum("ik,ik->i", Mj, Mj)[:, None]
                    - 2.0 * (Mj @ B[j].T)
                    + np.einsum("ck,ck->c", B[j], B[j])[None, :]
                )
                codes[:, j] = np.argmin(d2, axis=1)
            sub = np.arange(PQ_SUBSPACES)[None, :]
            # sort-based cell lookup (see q_ann_ivf): O(sel log sel +
            # probed) instead of one full `cells_s == cell` scan per cell
            order = np.argsort(cells_s, kind="stable")
            sorted_cells = cells_s[order]
            los = np.searchsorted(sorted_cells, probed_cells, side="left")
            his = np.searchsorted(sorted_cells, probed_cells, side="right")
            out_q, out_n, out_s = [], [], []
            for cell, lo_i, hi_i in zip(probed_cells, los, his):
                if lo_i == hi_i:
                    continue
                qis = cell_to_queries[int(cell)]
                in_cell = order[lo_i:hi_i]
                lut = T[qis]  # (len(qis), subspaces, codes)
                sc = lut[:, sub, codes[in_cell]].sum(axis=2)  # (qis, in_cell)
                for qrow, qi in enumerate(qis):
                    keep = ids_s[in_cell] != q_ids[qi]
                    out_q.append(np.full(keep.sum(), q_ids[qi]))
                    out_n.append(ids_s[in_cell][keep])
                    out_s.append(np.round(sc[qrow][keep], 6))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "approx_cos": np.concatenate(out_s),
                }
            )

    nv = _norm_corpus(spark, sf_dir).select("vec_id", F.col("nv").alias("v"))
    scored = nv.mapInPandas(
        assign_encode_score, "query_id long, neighbor_id long, approx_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_cos"), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


# Within-cluster cosine above which a later doc is pruned.  Scaled to
# the synthetic near-uniform test embeddings (within-cluster cosines top
# out ~0.47 at sf0.01, so 0.4 exercises both verdicts); real text
# embeddings cluster much tighter — production SemDeDup runs use ~0.95+.
SEMDEDUP_TAU = 0.4


@register("q_semdedup")  # k-means assignment upstream: rows-only check
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the shared
    k-means coarse quantizer, then WITHIN each cluster greedily prune
    every vector whose cosine to an already-kept vector is ≥
    {SEMDEDUP_TAU} — keeping the lowest ``vec_id`` of each semantic
    duplicate group.  This is the embedding-space complement of the
    lexical MinHash/SimHash family: it removes paraphrases and
    re-renderings that share no n-grams.

    Plan: centroids are an artifact (train once per corpus file,
    shared with IVF); ONE Arrow pass assigns cells;
    one ``applyInPandas`` per cluster runs the greedy scan as numpy
    matrix ops (each candidate row scored against the KEPT matrix in a
    vectorized sweep — never all-pairs across clusters).  At 100 TB the
    cluster count scales with the corpus so per-cluster blocks stay
    bounded (the SemDeDup paper's own cost model); the verdict is an
    auditable row per vector (cell, kept flag, and the EVIDENCE — the
    best cosine/id among vectors kept BEFORE this one, i.e. what the
    greedy decision actually saw, not the global nearest survivor), so
    the survivor set is
    ``WHERE kept`` and the dedup report is the rest.  Determinism: the
    greedy order is ``vec_id``, centroids are seeded — byte-stable
    output across runs (asserted in tests/test_llm_ops.py).
    """
    import numpy as np
    import pandas as pd

    e = _vectors(spark, sf_dir)
    cell_of, _probe, _k = _corpus_centroids(e, sf_dir)

    def assign(batches):
        for pdf in batches:
            M = np.array(pdf["v"].tolist(), dtype=np.float64)
            M = M / np.maximum(np.sqrt(np.einsum("ij,ij->i", M, M)), 1e-12)[:, None]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    # long, not int: two-level cell ids span k1*k2 > 2^31
                    "cell": cell_of(M),
                    "v": pdf["v"],
                }
            )

    assigned = e.mapInPandas(assign, "vec_id long, cell long, v array<double>")

    tau = SEMDEDUP_TAU

    def prune_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        sub = pdf.sort_values("vec_id").reset_index(drop=True)
        M = np.array(sub["v"].tolist(), dtype=np.float64)
        M = M / np.maximum(np.sqrt(np.einsum("ij,ij->i", M, M)), 1e-12)[:, None]
        n = len(sub)
        # kept vectors written once into a preallocated matrix — scoring
        # slices it instead of fancy-index-copying the kept set per row
        K = np.empty_like(M)
        kept_ids: list[int] = []
        kept = np.zeros(n, dtype=bool)
        # evidence = the kept vector that TRIGGERED the verdict (best
        # among those kept BEFORE row i — not the global nearest kept)
        evidence_cos = np.full(n, -2.0)
        evidence_id = np.full(n, -1, dtype=np.int64)
        ids = sub["vec_id"].to_numpy()
        for i in range(n):
            nk = len(kept_ids)
            if nk:
                cos = K[:nk] @ M[i]  # one vectorized sweep vs KEPT
                j = int(np.argmax(cos))
                evidence_cos[i] = cos[j]
                evidence_id[i] = kept_ids[j]
                if cos[j] >= tau:
                    continue  # pruned: near-duplicate of a kept vector
            kept[i] = True
            K[nk] = M[i]
            kept_ids.append(int(ids[i]))
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": sub["cell"],
                "kept": kept,
                "evidence_id": evidence_id,
                "evidence_cos": np.round(evidence_cos, 6),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        prune_cluster,
        "vec_id long, cell long, kept boolean, "
        "evidence_id long, evidence_cos double",
    )


# Conservative global recall floor for the IVF witness: measured 0.44
# (sf0.01) / 0.52 (sf0.001) with the deterministic trained quantizer on
# the synthetic near-uniform embeddings (a hard case for IVF — real
# clustered embeddings sit far higher at the same probe fraction).
IVF_RECALL_FLOOR = 0.25
# PQ witness floor: pytest asserts mean recall >= 0.4 (measured pooled
# 0.58 at sf0.01, 0.38 at sf0.001 — the small corpus is the binding
# case, and the corpus regenerates every round, so the floor keeps
# >0.1 slack under it).
PQ_RECALL_FLOOR = 0.25
# IVF+PQ stacks both approximations (standalone 0.44 × 0.58 ≈ 0.26;
# measured 0.40 mean at sf0.01); pytest floor is 0.2, witness matches.
IVFPQ_RECALL_FLOOR = 0.15

_RECALL_FLOOR_ORACLE = f"""
    SELECT count(DISTINCT vec_id) AS n_queries,
           TRUE AS recall_ok,
           TRUE AS topk_bounded
    FROM embeddings
    WHERE vec_id < {N_QUERIES}
          AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
    """


def _recall_floor_witness(
    spark: SparkSession, sf_dir: str, approx_name: str, floor: float
) -> DataFrame:
    """Shared body of the ``q_ann_*_recall_floor`` witnesses: pooled
    recall@{TOP_K} of ``approx_name``'s output against the cached
    brute-force ground truth, emitted as a boolean ≥ ``floor``.  The
    truth set is K·|queries| rows cached once per (session, corpus) —
    repeated witness runs pay one approximate-index probe each."""
    from iceberg_data_gen_spark.operators import QUERIES

    bf = _ann_ground_truth(spark, sf_dir)
    # distinct() before the join (review r9): a broken top-k stage that
    # emits each neighbor REPEATEDLY would otherwise multiply matched
    # truth rows in numerator and denominator and inflate pooled recall
    # past the floor — green for exactly the regression class the
    # witness exists to catch
    ap = (
        QUERIES[approx_name](spark, sf_dir)
        .select(
            F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
        )
        .distinct()
    )
    joined = bf.join(
        ap,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    # topk_bounded closes the OTHER over-emission hole (review r10): a
    # top-k stage that loses its rnk <= TOP_K filter emits every probed
    # candidate as DISTINCT pairs, which inflates pooled recall toward
    # 1.0 — the distinct() above cannot catch that.  Pinning max
    # per-query emission <= TOP_K makes recall_ok meaningful again.
    bound = (
        ap.groupBy("a_qid")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.coalesce(F.max("k"), F.lit(0)).alias("max_k"))
    )
    return (
        joined.agg(
            F.count_distinct("query_id").alias("n_queries"),
            (
                (F.count("a_nid").cast("double") / F.count(F.lit(1))) >= floor
            ).alias("recall_ok"),
        )
        .crossJoin(F.broadcast(bound))  # 1-row x 1-row
        .select(
            "n_queries",
            "recall_ok",
            (F.col("max_k") <= TOP_K).alias("topk_bounded"),
        )
    )


@register("q_ann_ivf_recall_floor", oracle=_RECALL_FLOOR_ORACLE)
def q_ann_ivf_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for the TRAINED-quantizer ANN path
    (VERDICT r7 #1's ε-witness pattern extended, r8): q_ann_ivf itself is
    rows-only (Lloyd iterations are not SQL-expressible), but its
    recall@{TOP_K} against the brute-force ground truth IS a
    deterministic function of (corpus, quantizer) now that the k-means
    reduction decimal-accumulates — so this companion computes the
    recall IN SPARK and emits a floor boolean the oracle pins to TRUE.
    An IVF regression (broken assignment, probe, or training) drops
    recall below {IVF_RECALL_FLOOR} and fails the driver's hash gate.
    """
    return _recall_floor_witness(spark, sf_dir, "q_ann_ivf", IVF_RECALL_FLOOR)


@register("q_ann_pq_recall_floor", oracle=_RECALL_FLOOR_ORACLE)
def q_ann_pq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for the PQ/ADC path (VERDICT r8 #1):
    the trained codebooks aren't SQL-expressible, but pooled
    recall@{TOP_K} vs the cached brute-force truth is deterministic for
    a fixed (corpus, codebook) — emitted as a boolean the oracle pins
    TRUE.  A PQ regression (broken encode, ADC table, or training)
    drops recall below {PQ_RECALL_FLOOR} and fails the driver hash gate;
    the finer per-query mean floor lives in tests/test_llm_ops.py.
    """
    return _recall_floor_witness(spark, sf_dir, "q_ann_pq", PQ_RECALL_FLOOR)


@register("q_ann_ivfpq_recall_floor", oracle=_RECALL_FLOOR_ORACLE)
def q_ann_ivfpq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for the composed IVF+PQ path (VERDICT
    r8 #1): both trained stages stack their approximations, so the
    pooled floor is the product of the standalone floors with slack —
    {IVFPQ_RECALL_FLOOR}.  A regression in EITHER stage (coarse assign/
    probe or codebook/ADC) shows up here even when the other stage's
    standalone witness stays green, because errors compound.
    """
    return _recall_floor_witness(spark, sf_dir, "q_ann_ivfpq", IVFPQ_RECALL_FLOOR)


@register(
    "q_semdedup_audit",
    oracle="""
    SELECT count(*) AS n_vectors,
           TRUE AS one_verdict_each,
           TRUE AS pruned_witnessed,
           TRUE AS kept_below_tau
    FROM embeddings
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL)) = 0)
              AND vec_id IS NOT NULL
    """,
)
def q_semdedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for SemDeDup (same ε-witness pattern):
    the greedy within-cluster prune is not SQL-expressible, but its
    CONTRACT is — every corpus vector gets exactly one verdict; every
    pruned vector's evidence is a KEPT, SMALLER-id vector in the SAME
    cluster with cosine ≥ tau; every kept vector's best-prior cosine was
    < tau (or it had no prior).  Each clause becomes a boolean the
    oracle pins to TRUE, so a semdedup regression (wrong verdicts, wrong
    evidence, lost vectors) fails the driver hash gate.

    The audit reads ``evidence_cos`` AFTER ``prune_cluster`` rounds it
    to 6 decimals while the keep/prune decision used the unrounded
    value, so both checks carry a half-quantum (5e-7) slack: a cosine of
    tau − 5e-7 is a correct KEEP yet rounds to exactly tau (review r8).
    """
    from iceberg_data_gen_spark.operators import QUERIES

    v = QUERIES["q_semdedup"](spark, sf_dir).cache()
    ev = v.select(
        F.col("vec_id").alias("e_id"),
        F.col("cell").alias("e_cell"),
        F.col("kept").alias("e_kept"),
    )
    joined = v.join(ev, v["evidence_id"] == ev["e_id"], "left")
    # an artifact (review r10): the q_semdedup call above already built
    # it via _corpus_centroids.  It counts the VECTOR-BEARING corpus
    # (NULL embeddings are outside the semdedup universe — r11), matching
    # the oracle's WHERE embedding IS NOT NULL
    n_total = _vector_count(spark, sf_dir)
    try:
        agg = joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("vec_id").alias("n_distinct"),
        # pruned: evidence exists, is kept, same cell, smaller id, cos >= tau
        F.sum(
            F.when(
                ~F.col("kept")
                & ~(
                    F.col("e_kept").isNotNull()
                    & F.col("e_kept")
                    & (F.col("e_cell") == F.col("cell"))
                    & (F.col("evidence_id") < F.col("vec_id"))
                    & (F.col("evidence_cos") >= SEMDEDUP_TAU - 5e-7)
                ),
                1,
            ).otherwise(0)
        ).alias("bad_pruned"),
        # kept: best-prior cosine < tau, or no prior kept (evidence -1)
        F.sum(
            F.when(
                F.col("kept")
                & ~(
                    (F.col("evidence_id") == -1)
                    | (F.col("evidence_cos") < SEMDEDUP_TAU + 5e-7)
                ),
                1,
            ).otherwise(0)
        ).alias("bad_kept"),
    ).collect()[0]
    finally:
        # unpersist in a finally (r11 wave 5): an exception in the
        # collect otherwise leaks the cached verdict set, and a
        # retrying caller (driver rounds, the sweep's keep-sweeping
        # except) accumulates corpus-sized storage entries — the
        # per-call .cache() leak class
        v.unpersist()
    return spark.createDataFrame(
        [
            (
                n_total,
                agg.n_rows == n_total and agg.n_distinct == n_total,
                agg.bad_pruned == 0,
                agg.bad_kept == 0,
            )
        ],
        "n_vectors long, one_verdict_each boolean, "
        "pruned_witnessed boolean, kept_below_tau boolean",
    )
