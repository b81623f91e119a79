"""Behavioral tests for operators without a SQL oracle (minhash LSH,
LSH ANN, multimodal decode) — determinism, internal consistency, and
cross-checks against their exact counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_data_gen_spark import operators

operators.load_all()

from tests.conftest import SF_DIR


def test_minhash_estimates_track_exact_shingle_jaccard(spark):
    """MinHash estimates the Jaccard of the 3-gram *shingle* sets it was
    built from: any pair with exact shingle-J ≥ 0.9 must surface as an
    LSH candidate (P_miss = (1-J^4)^8 ≈ 2e-4 at J=0.9), and estimates on
    found candidates must track the exact value within MinHash noise
    (σ = sqrt(J(1-J)/32) ≈ 0.09)."""
    from iceberg_data_gen_spark.operators.dedup import shingles
    from iceberg_data_gen_spark.session import load_tables

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    sh = shingles(docs).groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast("double")
    union = F.size(F.array_union(F.col("a.s"), F.col("b.s")))
    exact = {
        (r.doc_a, r.doc_b): r.j
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter / union).alias("j"),
        )
        .where(F.col("j") >= 0.3)
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in operators.QUERIES["q_minhash_lsh"](spark, SF_DIR).collect()
    }
    must_find = {p for p, j in exact.items() if j >= 0.9}
    missed = must_find - set(got)
    assert len(missed) <= max(1, len(must_find) // 20), (len(missed), len(must_find))
    overlap = [(got[p], exact[p]) for p in set(got) & set(exact)]
    if overlap:
        mae = sum(abs(e - x) for e, x in overlap) / len(overlap)
        assert mae < 0.2, mae
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_jaccard_bitmask_64_word_vocab_boundary(spark, tmp_path):
    """Regression (review r6): a corpus whose vocabulary is EXACTLY 64
    distinct words passed the old `len(vocab) <= 64` bitmask guard, and
    bit index 63 then built F.lit(1 << 63) — overflowing the signed long
    literal and raising at expression-build time.  The guard is now 63
    bits; a 64-word corpus must fall back to the token path and still
    return exact pairs."""
    words = [f"w{i:02d}" for i in range(64)]
    text = " ".join(words)
    rows = [
        (1, text, "en", "s", len(text)),
        (2, " ".join(words[:40]), "en", "s", 1),  # J = 40/64, size-banded out
        (3, text, "en", "s", len(text)),          # J = 1.0 with doc 1
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = operators.QUERIES["q_jaccard_pairs"](spark, str(tmp_path)).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == {(1, 3)}
    assert got[0].jaccard == 1.0


def test_minhash_signature_is_order_independent_and_perms_differ(spark):
    """Regression: the per-permutation seed was passed via a TWO-parameter
    lambda default (``lambda x, s=s``) and pyspark's ``transform``
    dispatches on arity — the array INDEX silently replaced the seed, so
    (a) all 32 signature columns collapsed to one hash function and
    (b) signatures depended on element ORDER inside the shingle array.
    Lock both properties: same word set in shuffled order → identical
    signature; distinct permutations → distinct column values."""
    from iceberg_data_gen_spark.operators.dedup import (
        MINHASH_PERMS,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in minhash_signatures(df, n=1).collect()}
    sig1 = [rows[1][f"h{i}"] for i in range(MINHASH_PERMS)]
    sig2 = [rows[2][f"h{i}"] for i in range(MINHASH_PERMS)]
    assert sig1 == sig2, "signature must depend on the SET, not array order"
    assert len(set(sig1)) > MINHASH_PERMS // 2, (
        "permutations collapsed to one hash function"
    )


def test_lsh_fed_cluster_chain_matches_exact_path(spark, monkeypatch):
    """A zero DEDUP_LSH_MIN_DOCS forces the cluster/survivor chain onto its
    100 TB branch (word-level MinHash-LSH candidates → exact-Jaccard
    confirm → union-find).  The approximation is one-sided (a missed
    candidate can only SPLIT a cluster), so the exact path's survivors
    must be a subset of the LSH path's — and at the word-LSH band
    recall of ~0.9998 the chains should agree on ≥90% of merges
    (measured: identical at sf0.01).  VERDICT r5 #3."""
    from iceberg_data_gen_spark.operators import dedup

    surv = operators.QUERIES["q_dedup_survivors"]
    # both branches must really be taken, or exact <= lsh holds trivially
    assert dedup._dedup_branch(spark, SF_DIR) == "exact"
    exact = {r.doc_id for r in surv(spark, SF_DIR).collect()}
    monkeypatch.setattr(dedup, "DEDUP_LSH_MIN_DOCS", 0)
    assert dedup._dedup_branch(spark, SF_DIR) == "lsh"
    lsh = {r.doc_id for r in surv(spark, SF_DIR).collect()}
    assert exact <= lsh, "LSH branch merged docs the exact path does not"
    n_docs = operators.QUERIES["q_dedup_clusters"](spark, SF_DIR).count()
    exact_merges = n_docs - len(exact)
    lsh_merges = n_docs - len(lsh)
    assert lsh_merges >= 0.9 * exact_merges, (lsh_merges, exact_merges)


def test_minhash_deterministic(spark):
    q = operators.QUERIES["q_minhash_lsh"]
    a = sorted((r.doc_a, r.doc_b, r.est_jaccard) for r in q(spark, SF_DIR).collect())
    b = sorted((r.doc_a, r.doc_b, r.est_jaccard) for r in q(spark, SF_DIR).collect())
    assert a == b and len(a) > 0


def test_ann_lsh_vs_bruteforce_recall(spark):
    """Bucketed ANN returns a subset ranking; recall@10 against the
    exact baseline should be well above chance (same-bucket rate for
    8 hyperplanes)."""
    exact = operators.QUERIES["q_ann_bruteforce"](spark, SF_DIR).collect()
    approx = operators.QUERIES["q_ann_lsh"](spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for r in approx:
        total += 1
        if r.neighbor_id in exact_sets.get(r.query_id, set()):
            hits += 1
    assert total > 0
    # review r8: `hits` was computed but never asserted.  A fixed recall
    # floor would be dishonest here — on the near-uniform synthetic
    # embeddings, 8-hyperplane buckets rarely contain the exact top-10
    # (measured: 0/16 at sf0.01; real clustered embeddings collide far
    # more).  The assertable property is CONSISTENCY: the registered
    # q_ann_recall operator must report exactly these hit/truth counts.
    rec = {
        r.query_id: (r.n_hit, r.n_true)
        for r in operators.QUERIES["q_ann_recall"](spark, SF_DIR).collect()
    }
    assert sum(h for h, _ in rec.values()) == hits, (rec, hits)
    assert {q: t for q, (_, t) in rec.items()} == {
        q: len(s) for q, s in exact_sets.items()
    }
    # every approx result must be internally ranked 1..k with no gaps
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (q, rnks)


def test_simhash_similar_docs_close(spark):
    """SimHash of a doc equals itself deterministically, and hamming
    distance to a near-identical doc (same word multiset) is 0."""
    df = operators.QUERIES["q_simhash"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    again = operators.QUERIES["q_simhash"](spark, SF_DIR).collect()
    assert sorted((r.doc_id, r.simhash) for r in rows) == sorted(
        (r.doc_id, r.simhash) for r in again
    )
    # all simhashes fit in 32 bits and are non-negative
    assert all(0 <= r.simhash < (1 << 32) for r in rows)


def test_multimodal_decode_plumbing(spark):
    """mapInPandas decode stage: schema, determinism, and agreement with
    the metadata-only scan on byte counts."""
    dec = operators.QUERIES["q_multimodal_decode"](spark, SF_DIR)
    assert dec.columns == ["doc_id", "format", "n_bytes", "mean_byte", "frames_sampled"]
    rows = {r.doc_id: r for r in dec.collect()}
    meta = {
        r.doc_id: r for r in operators.QUERIES["q_multimodal_meta"](spark, SF_DIR).collect()
    }
    assert set(rows) == set(meta)
    for doc_id, r in rows.items():
        assert r.n_bytes == meta[doc_id].n_bytes
        assert 0.0 <= r.mean_byte <= 255.0
        assert 1 <= r.frames_sampled <= 8


def test_media_table_partition_shape(spark):
    """The multimodal table keeps payload opaque binary + prunable meta."""
    from iceberg_data_gen_spark.operators.multimodal import media_table

    m = media_table(spark, SF_DIR)
    dtypes = dict(m.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["meta"].startswith("struct<format:string,width:int,height:int,n_bytes:")


def test_ann_ivf_recall_and_shape(spark):
    """IVF probes 4 of 16 k-means cells; recall@10 vs the exact baseline
    must beat the ~25% candidate-coverage floor with margin, and
    per-query results must be contiguously ranked.

    The floor is 0.35, not higher, deliberately: the synthetic embeddings
    are near-uniform, and balanced k-means cells make probed coverage ≈
    nprobe/C ≈ 25% (measured recall 0.44; 0.72 at nprobe=8 — the knob).
    The pre-k-means first-16 centroids scored ~0.5+ only because their
    skewed cells over-probed the big ones, i.e. scanned more of the
    corpus."""
    exact = operators.QUERIES["q_ann_bruteforce"](spark, SF_DIR).collect()
    approx = operators.QUERIES["q_ann_ivf"](spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for r in approx if r.neighbor_id in exact_sets.get(r.query_id, set()))
    assert len(approx) > 0
    assert hits / len(exact) >= 0.35, hits / len(exact)
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), q


def test_two_level_quantizer_forced_recall_and_determinism(spark, monkeypatch):
    """A zero _TWO_LEVEL_MIN_N forces the inverted-multi-index coarse
    quantizer (the >270M-vector path: two half-space codebooks whose
    cross product addresses k1*k2 cells with O(sqrt(k)) broadcast and
    assign cost).  Forced at test scale it must keep the recall floors
    of every _corpus_centroids consumer: IVF >= 0.35 (measured 0.48),
    IVF+PQ >= 0.2 (measured 0.36), SemDeDup full-coverage + kept rows —
    and stay deterministic across invocations (VERDICT r5 #2)."""
    from iceberg_data_gen_spark.operators import similarity

    monkeypatch.setattr(similarity, "_TWO_LEVEL_MIN_N", 0)
    # record each two-level build, so a flat run cannot pass these floors
    built = []
    imi = similarity._imi_quantizer
    monkeypatch.setattr(
        similarity, "_imi_quantizer", lambda *a: built.append(1) or imi(*a)
    )
    exact = operators.QUERIES["q_ann_bruteforce"](spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = operators.QUERIES["q_ann_ivf"](spark, SF_DIR).collect()
    hits = sum(
        1 for r in approx if r.neighbor_id in exact_sets.get(r.query_id, set())
    )
    assert len(approx) > 0
    assert hits / len(exact) >= 0.35, hits / len(exact)
    again = operators.QUERIES["q_ann_ivf"](spark, SF_DIR).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))
    pq_sets = {}
    for r in operators.QUERIES["q_ann_ivfpq"](spark, SF_DIR).collect():
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(pq_sets.get(q, set()) & exact_sets[q]) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.2, recalls
    sd = operators.QUERIES["q_semdedup"](spark, SF_DIR).collect()
    assert len(sd) == 500  # every vector classified, none lost to cells
    assert 0 < sum(1 for r in sd if r.kept) < len(sd)
    # ivf twice, ivfpq and semdedup each took the two-level quantizer
    assert len(built) == 4, built


def test_imi_quantizer_geometry():
    """Pure unit check of the inverted multi-index closures: cell ids are
    the c1*k2+c2 cross product (in range, both halves contributing), the
    probe map ranks by summed half-scores, and assign agrees with a
    brute-force two-half argmax."""
    import numpy as np
    import pytest

    from iceberg_data_gen_spark.operators.similarity import _imi_quantizer

    rng = np.random.RandomState(7)
    C1 = rng.randn(4, 3)
    C2 = rng.randn(5, 3)
    assign, probe, k = _imi_quantizer(C1, C2)
    assert k == 20
    M = rng.randn(50, 6)
    cells = assign(M)
    c1 = np.argmax(M[:, :3] @ C1.T, axis=1)
    c2 = np.argmax(M[:, 3:] @ C2.T, axis=1)
    assert (cells == c1 * 5 + c2).all()
    assert cells.dtype == np.int64
    probe_map = probe(M[:3], nprobe=4)
    # every query appears in exactly nprobe cells, incl. its own argmax cell
    per_q: dict[int, list[int]] = {}
    for cell, qis in probe_map.items():
        assert 0 <= cell < k
        for qi in qis:
            per_q.setdefault(qi, []).append(cell)
    for qi in range(3):
        assert len(per_q[qi]) == 4
        assert int(cells[qi]) in per_q[qi]
        # EXACT top-nprobe by summed half score (the multi-sequence
        # traversal contract): matches a brute-force all-cell ranking
        sums = {
            a * 5 + b: M[qi, :3] @ C1[a] + M[qi, 3:] @ C2[b]
            for a in range(4)
            for b in range(5)
        }
        brute = sorted(sums, key=lambda cell: -sums[cell])[:4]
        assert sorted(sums[c] for c in per_q[qi]) == pytest.approx(
            sorted(sums[c] for c in brute)
        )
    # the review's counterexample: one half dominant, the other graded —
    # the true top-4 pairs the best a with the 4 best b's (a fixed 3×3
    # grid would return (a2,b1) instead of (a1,b4))
    from iceberg_data_gen_spark.operators.similarity import _imi_quantizer as imi

    a_dom, p_dom, _ = imi(np.array([[10.0, 0, 0], [0, 1.0, 0]]),
                          np.array([[1.0, 0, 0], [0.99, 0.1, 0],
                                    [0.98, 0.1, 0.1], [0.97, 0.2, 0]]))
    q = np.array([[1.0, 0, 0, 1.0, 0, 0]])
    pm = p_dom(q, nprobe=4)
    got = sorted(pm)  # all 4 cells must pair a1 (index 0) with b1..b4
    assert got == [0, 1, 2, 3], got


def test_kmeans_centroids_deterministic_and_balanced(spark):
    """Seeded spherical k-means: identical centroids across runs (no RNG
    anywhere), unit-norm, and cells meaningfully more balanced than the
    old first-k-by-vec_id stand-in."""
    import numpy as np

    from iceberg_data_gen_spark.operators.similarity import (
        IVF_CENTROIDS,
        _kmeans_centroids,
    )
    from iceberg_data_gen_spark.session import load_tables

    e = (
        load_tables(spark, SF_DIR, ("embeddings",))["embeddings"]
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    c1 = _kmeans_centroids(e, IVF_CENTROIDS)
    c2 = _kmeans_centroids(e, IVF_CENTROIDS)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    # every cell non-empty after training (balance sanity)
    M = np.array([r.v for r in e.collect()], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1)[:, None]
    counts = np.bincount(np.argmax(M @ c1.T, axis=1), minlength=IVF_CENTROIDS)
    assert (counts > 0).all(), counts


def test_cc_distributed_path_matches_unionfind(spark):
    """The >2M-edge distributed label-propagation branch must produce
    exactly the labels of the driver union-find shortcut (the branch is
    data-size-selected, so correctness must not depend on which runs)."""
    from iceberg_data_gen_spark.operators import QUERIES, dedup

    sf = SF_DIR
    fast = {
        (r.doc_id, r.cluster_rep, r.cluster_size)
        for r in QUERIES["q_dedup_clusters"](spark, sf).collect()
    }
    cap = dedup.CC_DRIVER_MAX_EDGES
    dedup.CC_DRIVER_MAX_EDGES = -1  # force the distributed loop
    try:
        slow = {
            (r.doc_id, r.cluster_rep, r.cluster_size)
            for r in QUERIES["q_dedup_clusters"](spark, sf).collect()
        }
    finally:
        dedup.CC_DRIVER_MAX_EDGES = cap
    assert fast == slow


def test_pq_recall_floor(spark):
    """Product-quantization ADC top-10 must overlap the exact brute-force
    top-10 at >= 0.4 mean recall (measured 0.58 on the near-uniform
    synthetic embeddings — the hard case for any quantizer)."""
    from collections import defaultdict

    from iceberg_data_gen_spark.operators import QUERIES

    sf = SF_DIR
    pqs, bfs = defaultdict(set), defaultdict(set)
    for r in QUERIES["q_ann_pq"](spark, sf).collect():
        pqs[r.query_id].add(r.neighbor_id)
    for r in QUERIES["q_ann_bruteforce"](spark, sf).collect():
        bfs[r.query_id].add(r.neighbor_id)
    recalls = [len(pqs[q] & bfs[q]) / len(bfs[q]) for q in bfs]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def _check_observed_ingest(spark, sf_dir: str) -> list:
    """Run the observed ingest once and cross-check its metrics against
    an independent aggregate: n_seen and chars_seen equal a plain count
    and sum, and n_seen - n_rejected equals the rows kept."""
    from pyspark.sql import functions as F

    from iceberg_data_gen_spark.operators.common import docs_table
    from iceberg_data_gen_spark.operators.extensibility import _observed_ingest

    out, obs = _observed_ingest(spark, sf_dir)
    rows = out.collect()
    m = obs.get
    expected = docs_table(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c")
    ).collect()[0]
    assert (m["n_seen"], m["chars_seen"]) == (expected["n"], expected["c"]), m
    assert m["n_seen"] - m["n_rejected"] == len(rows), (m, len(rows))
    return rows


def test_observed_ingest_self_check(spark):
    """q_observed_ingest's Observation metrics agree with an
    independent aggregate (the extra scan lives only here; the
    operator itself reads the corpus once)."""
    from tests.conftest import SF_SMALL

    assert len(_check_observed_ingest(spark, SF_SMALL)) > 0


def test_pii_detection_on_injected_fixtures(spark):
    """The corpus is PII-free by construction, so q_pii_scan/q_pii_redact
    run their true-negative path at test scale; this test plants real
    PII-shaped strings and proves the patterns DETECT and REDACT them
    (same expressions the registered queries use)."""
    from pyspark.sql import functions as F

    from iceberg_data_gen_spark.operators.curation import (
        PII_EMAIL,
        PII_IPV4,
        PII_LONG_DIGITS,
    )

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk for details"),
        (2, "server at 10.0.255.3 responded"),
        (3, "card 4111111111111111 leaked"),
        (4, "nothing sensitive here at all"),
        (5, "mail a@b.io from 192.168.0.1 ref 123456789"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = df.select(
        "doc_id",
        "text",
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("em"),
        F.regexp_count("text", F.lit(PII_IPV4)).alias("ip"),
        F.regexp_count("text", F.lit(PII_LONG_DIGITS)).alias("id"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
            ),
            PII_LONG_DIGITS,
            "<ID>",
        ).alias("red"),
    ).collect()
    by_id = {r.doc_id: r for r in got}
    assert (by_id[1].em, by_id[1].ip, by_id[1].id) == (1, 0, 0)
    assert (by_id[2].em, by_id[2].ip, by_id[2].id) == (0, 1, 0)
    assert (by_id[3].em, by_id[3].ip, by_id[3].id) == (0, 0, 1)
    assert (by_id[4].em, by_id[4].ip, by_id[4].id) == (0, 0, 0)
    assert (by_id[5].em, by_id[5].ip, by_id[5].id) == (1, 1, 1)
    assert by_id[1].red == "contact me at <EMAIL> for details"
    assert by_id[5].red == "mail <EMAIL> from <IP> ref <ID>"
    # PII-free text passes through byte-identical
    assert by_id[4].red == by_id[4].text == "nothing sensitive here at all"
    # DuckDB (RE2) agrees with Spark (java.util.regex) on every fixture
    import duckdb

    con = duckdb.connect()
    for did, text in rows:
        n_em, n_ip, n_id = con.execute(
            "SELECT len(regexp_extract_all(?, ?)),"
            "       len(regexp_extract_all(?, ?)),"
            "       len(regexp_extract_all(?, ?))",
            [text, PII_EMAIL, text, PII_IPV4, text, PII_LONG_DIGITS],
        ).fetchone()
        assert (n_em, n_ip, n_id) == (
            by_id[did].em,
            by_id[did].ip,
            by_id[did].id,
        ), (did, text)


def test_ivfpq_recall_floor(spark):
    """IVF+PQ composed ANN: top-10 overlap with exact brute force must
    clear a floor despite BOTH approximations stacking (cell prune +
    code quantization) on near-uniform synthetic embeddings."""
    from collections import defaultdict

    from iceberg_data_gen_spark.operators import QUERIES

    sf = SF_DIR
    approx, exact = defaultdict(set), defaultdict(set)
    for r in QUERIES["q_ann_ivfpq"](spark, sf).collect():
        approx[r.query_id].add(r.neighbor_id)
    for r in QUERIES["q_ann_bruteforce"](spark, sf).collect():
        exact[r.query_id].add(r.neighbor_id)
    recalls = [len(approx[q] & exact[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_minhash_megabucket_star_reduction(spark, tmp_path):
    """A mega-duplicate cluster (150 near-identical docs) must produce
    O(n) star pairs, not the O(n²) clique — while still connecting every
    member transitively (same clusters downstream)."""
    import pandas as pd

    from iceberg_data_gen_spark.operators import QUERIES
    from iceberg_data_gen_spark.operators.dedup import LSH_BUCKET_CAP

    n_dup = 150
    assert n_dup > LSH_BUCKET_CAP
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        {"doc_id": i, "text": base, "lang": "en", "source": "s0",
         "n_chars": len(base)}
        for i in range(n_dup)
    ] + [
        {"doc_id": 1000 + i,
         "text": f"unique document number {i} with totally different words "
                 f"and more filler token{i}",
         "lang": "en", "source": "s1", "n_chars": 60}
        for i in range(5)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet")
    pairs = QUERIES["q_minhash_lsh"](spark, str(tmp_path)).collect()
    in_cluster = [p for p in pairs if p.doc_a < n_dup and p.doc_b < n_dup]
    # star: n-1 pairs, not n(n-1)/2 = 11175
    assert len(in_cluster) == n_dup - 1, len(in_cluster)
    # connectivity: every member reachable from the representative
    assert {p.doc_a for p in in_cluster} == {0}
    assert {p.doc_b for p in in_cluster} == set(range(1, n_dup))
    # identical docs agree on every signature
    assert all(p.est_jaccard == 1.0 for p in in_cluster)


def test_media_codec_roundtrip_exact(spark):
    """The REAL WAV/PPM codec path: decoding the encoded bytes must
    recover the waveform/raster properties of the ORIGINAL arrays the
    encoder serialized — n_samples/sample_rate/duration from the RIFF
    header, width/height from the P6 header, and RMS/mean computed on
    np.frombuffer-reconstructed data matching the pre-encode signal."""
    import numpy as np

    out = {
        r["doc_id"]: r
        for r in operators.QUERIES["q_multimodal_codec_roundtrip"](
            spark, SF_DIR
        ).collect()
    }
    n_docs = len(out)
    assert n_docs > 0
    for doc_id in sorted(out)[:40]:
        r = out[doc_id]
        if doc_id % 2 == 0:  # WAV
            assert r["format"] == "wav"
            n = 64 + (doc_id % 192)
            t = np.arange(n, dtype=np.int64)
            samples = (((t * (7 + doc_id % 13)) % 2048) - 1024).astype(np.float64)
            assert r["n_samples"] == n
            assert r["sample_rate"] == 8000
            assert r["duration_ms"] == round(1000.0 * n / 8000, 6)
            assert r["rms"] == round(float(np.sqrt((samples**2).mean())), 6)
            assert r["mean_value"] == round(float(samples.mean()), 6)
            assert r["n_bytes"] == 44 + 2 * n  # RIFF header + int16 PCM
            assert r["width"] is None and r["height"] is None
        else:  # PPM
            assert r["format"] == "ppm"
            w, h = 8 + (doc_id % 24), 6 + ((doc_id * 3) % 18)
            assert (r["width"], r["height"]) == (w, h)
            yy, xx = np.mgrid[0:h, 0:w]
            rgb = np.stack(
                [
                    xx * 255 // max(w - 1, 1),
                    yy * 255 // max(h - 1, 1),
                    (xx + yy + doc_id) % 256,
                ],
                axis=-1,
            ).astype(np.float64)
            assert r["mean_value"] == round(float(rgb.mean()), 6)
            assert r["rms"] == round(float(np.sqrt((rgb**2).mean())), 6)
            assert r["n_samples"] is None and r["duration_ms"] is None


def test_media_decoder_rejects_malformed_bytes():
    """A decoder must fail loudly on garbage, not count bytes."""
    import pandas as pd
    import pytest

    from iceberg_data_gen_spark.operators.multimodal import (
        make_media_decode_batch,
    )

    kernel = make_media_decode_batch(False)
    bad = pd.DataFrame(
        {"doc_id": [1], "format": ["wav"], "payload": [b"not a riff file"]}
    )
    with pytest.raises(ValueError, match="RIFF"):
        list(kernel(iter([bad])))
    bad_ppm = pd.DataFrame(
        {"doc_id": [2], "format": ["ppm"], "payload": [b"P5\n2 2\n255\nxxxx"]}
    )
    with pytest.raises(ValueError, match="P6"):
        list(kernel(iter([bad_ppm])))


def test_media_decoder_property_roundtrip():
    """Property test of the decode kernel against INDEPENDENTLY
    constructed media bytes: for arbitrary PCM waveforms and RGB
    rasters, serializing with a from-scratch writer here and decoding
    with the kernel must recover the exact sample/pixel statistics —
    including chunk-padding (odd data sizes pad per RIFF) and
    multi-chunk layouts the fixture encoder never emits."""
    import struct

    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_data_gen_spark.operators.multimodal import (
        make_media_decode_batch,
    )

    kernel = make_media_decode_batch(False)

    def decode_one(fmt: str, payload: bytes) -> dict:
        out = list(
            kernel(
                iter(
                    [
                        pd.DataFrame(
                            {"doc_id": [0], "format": [fmt], "payload": [payload]}
                        )
                    ]
                )
            )
        )[0]
        return out.iloc[0].to_dict()

    @given(
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
        extra_chunk=st.booleans(),
    )
    @settings(max_examples=40, deadline=None)
    def wav_case(samples, rate, extra_chunk):
        arr = np.array(samples, dtype="<i2")
        data = arr.tobytes()
        chunks = b"fmt " + struct.pack("<I", 16) + struct.pack(
            "<HHIIHH", 1, 1, rate, rate * 2, 2, 16
        )
        if extra_chunk:  # a LIST chunk the decoder must skip, odd size -> pad
            chunks += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
        chunks += b"data" + struct.pack("<I", len(data)) + data
        payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        r = decode_one("wav", payload)
        f = arr.astype(np.float64)
        assert r["n_samples"] == len(arr)
        assert r["sample_rate"] == rate
        assert r["duration_ms"] == round(1000.0 * len(arr) / rate, 6)
        assert r["mean_value"] == round(float(f.mean()), 6)
        assert r["rms"] == round(float(np.sqrt((f**2).mean())), 6)

    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        comment_ws=st.sampled_from([b"\n", b" ", b"\t", b"\r\n"]),
        comment=st.sampled_from([b"", b"# made by gimp\n", b"#x\n# y z\n"]),
    )
    @settings(max_examples=40, deadline=None)
    def ppm_case(w, h, seed, comment_ws, comment):
        rng = np.random.default_rng(seed)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        # '#' comments are spec-valid anywhere whitespace is (netpbm);
        # a decoder rejecting them rejects files other tools produce
        payload = (
            b"P6" + comment_ws + comment + f"{w}".encode() + comment_ws
            + f"{h}".encode() + comment_ws + b"255\n" + rgb.tobytes()
        )
        r = decode_one("ppm", payload)
        f = rgb.astype(np.float64)
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_value"] == round(float(f.mean()), 6)
        assert r["rms"] == round(float(np.sqrt((f**2).mean())), 6)

    wav_case()
    ppm_case()


def test_semdedup_invariants(spark):
    """SemDeDup correctness properties, checked against the raw vectors:
    (1) every pruned vector is within TAU of a KEPT vector in its own
    cluster (the evidence row is accurate), (2) no two kept vectors in a
    cluster are within TAU of each other (greedy guarantee — the
    survivor set is an independent set at the threshold), and (3) the
    verdict is byte-deterministic across runs."""
    import numpy as np

    from iceberg_data_gen_spark.operators.similarity import SEMDEDUP_TAU
    from iceberg_data_gen_spark.session import load_tables

    q = operators.QUERIES["q_semdedup"]
    out = q(spark, SF_DIR).toPandas().sort_values("vec_id").reset_index(drop=True)
    again = q(spark, SF_DIR).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert out.equals(again)  # (3)
    assert out["kept"].any() and (~out["kept"]).any()  # both verdicts occur

    emb = load_tables(spark, SF_DIR, ("embeddings",))["embeddings"].toPandas()
    V = np.array(emb.sort_values("vec_id")["embedding"].tolist(), dtype=np.float64)
    V = V / np.sqrt((V * V).sum(axis=1))[:, None]
    idx = {int(v): i for i, v in enumerate(sorted(emb["vec_id"]))}

    kept_by_cell: dict[int, list[int]] = {}
    for r in out.itertuples():
        if r.kept:
            kept_by_cell.setdefault(r.cell, []).append(int(r.vec_id))
    for r in out.itertuples():
        if not r.kept:  # (1)
            assert r.evidence_cos >= SEMDEDUP_TAU
            assert int(r.evidence_id) in kept_by_cell[r.cell]
            cos = float(V[idx[int(r.vec_id)]] @ V[idx[int(r.evidence_id)]])
            assert abs(cos - r.evidence_cos) < 1e-5
    for cell, ids in kept_by_cell.items():  # (2)
        K = V[[idx[i] for i in ids]]
        G = K @ K.T
        np.fill_diagonal(G, 0.0)
        assert G.max() < SEMDEDUP_TAU + 1e-5  # float-path tolerance


def test_ivf_k_and_nprobe_scale_with_corpus():
    """The cluster count is DERIVED from corpus size (constant rows per
    cell) rather than a fixed knob: at a fixed k the per-cell work —
    IVF probe lists, SemDeDup's within-cell greedy sweep — is O((N/k)²),
    a latent quadratic at 100 TB.  nprobe sqrt-scales so the probed
    FRACTION of cells shrinks as k grows."""
    import math

    from iceberg_data_gen_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_MAX_CENTROIDS,
        IVF_NPROBE,
        IVF_TARGET_ROWS_PER_CELL,
        _ivf_k,
        _ivf_nprobe,
    )

    # floor: tiny corpora keep the recall-asserted 16-cell geometry
    assert _ivf_k(0) == _ivf_k(500) == _ivf_k(2000) == IVF_CENTROIDS
    assert _ivf_nprobe(IVF_CENTROIDS) == IVF_NPROBE
    # beyond the floor: expected occupancy stays at the target
    for n in (100_000, 5_000_000, 200_000_000):
        k = _ivf_k(n)
        assert k == math.ceil(n / IVF_TARGET_ROWS_PER_CELL)
        assert n / k <= IVF_TARGET_ROWS_PER_CELL
        # probed fraction shrinks: sqrt(k)/k -> 0
        assert _ivf_nprobe(k) / k < _ivf_nprobe(IVF_CENTROIDS) / IVF_CENTROIDS
    # ceiling: k stops growing where the broadcast matrix / assign matmul
    # would become the cost driver (two-level quantization is the
    # documented path past this point)
    assert _ivf_k(10**12) == IVF_MAX_CENTROIDS
    # monotone in n (no oscillation as corpora grow)
    ks = [_ivf_k(n) for n in (10, 10_000, 100_000, 10_000_000, 10**12)]
    assert ks == sorted(ks)


def test_zero_norm_embedding_does_not_poison_semdedup(spark, tmp_path):
    """An all-zero embedding must not propagate NaN through cell
    assignment / the cosine sweep (ADVICE r4): the norm is clamped, so
    the zero vector scores cos=0 against everything — deterministically
    KEPT, never a platform-dependent verdict — and every other verdict
    matches a corpus without it."""
    import numpy as np

    from iceberg_data_gen_spark.operators.similarity import DIM, q_semdedup

    rng = np.random.default_rng(7)
    rows = [
        (g, [float(x) for x in rng.normal(size=DIM)], g % 3) for g in range(60)
    ]
    rows.append((60, [0.0] * DIM, 0))  # the poison row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf_dir = str(tmp_path / "sf-zero")
    df.write.parquet(f"{sf_dir}/embeddings.parquet")

    out = q_semdedup(spark, sf_dir).collect()
    assert len(out) == 61
    by_id = {r.vec_id: r for r in out}
    z = by_id[60]
    assert z.kept is True
    # evidence cosine vs the zero vector is exactly 0 (clamped norm),
    # and nothing anywhere is NaN
    for r in out:
        assert not np.isnan(r.evidence_cos), r
    # determinism with the poison row present
    out2 = q_semdedup(spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pandas_udf_scalar_empty_text_matches_oracle(spark, tmp_path):
    """Review r8: DuckDB's list_sum over an EMPTY list is NULL, so a
    document with text='' scored NULL in the oracle while the UDF's
    numpy checksum of an empty array is 0 — a latent hash mismatch the
    moment testdata contains an empty document.  And the first fix's
    bare coalesce over-corrected: it folded NULL text to 0 while the
    UDF's None branch keeps NULL (caught by the diff review the same
    round).  Pin parity on empty, NULL, ASCII, and multi-byte text."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-empty")
    spark.createDataFrame(
        [(0, "", "web", "en"), (1, "ab c", "web", "en"), (2, "é a", "web", "en"),
         (3, None, "web", "en")],
        "doc_id long, text string, source string, lang string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(ORACLES["q_pandas_udf_scalar"]).fetchall()))
    got = sorted(
        (r.doc_id, r.weighted_alpha_sum)
        for r in operators.QUERIES["q_pandas_udf_scalar"](spark, sf_dir).collect()
    )
    assert got == oracle, (got, oracle)
    assert got[0] == (0, 0)  # empty text scores 0, not NULL
    assert got[3] == (3, None)  # NULL text stays NULL, not 0


def test_embedding_neardup_rounds_dyadic_midpoints_like_duckdb(spark, tmp_path):
    """Review r8: the kernel rounded with np.round (half-to-EVEN) while
    DuckDB's round() is half-away, so a cosine landing exactly on a
    6-decimal midpoint diverged by 1e-6 — and einsum's SIMD partial
    sums drift from DuckDB's strictly sequential list_dot_product in
    the last ulp.  This corpus engineers cos = 53/128 = 0.4140625
    EXACTLY (np.round: 0.414062; DuckDB: 0.414063): every component is
    a small dyadic (exact in float32) and both vectors have norm
    exactly 2, so normalization divides by a power of two and the
    rounded cosine is fully determined.  The full query must hash-match
    the oracle AND emit DuckDB's half-away value."""
    a = [2.0] + [0.0] * 7
    # norm² = (53² + 116² + 10² + 4² + 1+1+1)/64² = 16384/4096 = 4
    b = [x / 64.0 for x in (53.0, 116.0, 10.0, 4.0, 1.0, 1.0, 1.0, 0.0)]
    c = [0.0] * 7 + [2.0]  # orthogonal to both: below threshold
    sf_dir = str(tmp_path / "sf-mid")
    spark.createDataFrame(
        [(0, a, 7), (1, b, 7), (2, c, 7)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    import duckdb

    from iceberg_data_gen_spark.operators.dedup import _COS_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(_COS_SQL).fetchall()))
    rows = operators.QUERIES["q_embedding_neardup"](spark, sf_dir).collect()
    got = sorted((r.id_a, r.id_b, r.cos_sim) for r in rows)
    assert got == oracle, (got, oracle)  # bit-exact, no tolerance
    assert got == [(0, 1, 0.414063)]  # DuckDB's half-away value


def test_semdedup_audit_tolerates_rounding_band_at_tau(spark, tmp_path, monkeypatch):
    """Review r8: ``prune_cluster`` rounds ``evidence_cos`` to 6
    decimals AFTER deciding keep/prune on the unrounded value, so a
    correctly-KEPT vector whose true best-prior cosine is in
    [tau−5e-7, tau) surfaces as evidence_cos == tau exactly — and the
    audit's strict ``evidence_cos < tau`` flagged it bad_kept, flipping
    the oracle-pinned TRUE to FALSE.  Both audit checks must carry a
    half-quantum slack.  Injects verdicts at both boundary sides via the
    registry (the audit's input contract), with a matching corpus."""
    import numpy as np

    from iceberg_data_gen_spark import operators
    from iceberg_data_gen_spark.operators.similarity import DIM

    rng = np.random.default_rng(11)
    rows = [(g, [float(x) for x in rng.normal(size=DIM)], 0) for g in range(3)]
    sf_dir = str(tmp_path / "sf-band")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    verdicts = spark.createDataFrame(
        [
            (0, 5, True, -1, -2.0),
            # true cos 0.3999996 < tau: correct KEEP, rounds up to 0.4
            (1, 5, True, 0, round(0.3999996, 6)),
            # true cos 0.4000004 >= tau: correct PRUNE, rounds to 0.4
            (2, 5, False, 0, round(0.4000004, 6)),
        ],
        "vec_id long, cell long, kept boolean, "
        "evidence_id long, evidence_cos double",
    )
    monkeypatch.setitem(operators.QUERIES, "q_semdedup", lambda s, d: verdicts)
    row = operators.QUERIES["q_semdedup_audit"](spark, sf_dir).collect()[0]
    assert row.n_vectors == 3
    assert row.one_verdict_each is True
    assert row.pruned_witnessed is True
    assert row.kept_below_tau is True  # fails on pre-r8 strict inequality


def test_png_decode_via_pil_property():
    """The HAVE_PIL branch, exercised for real when the environment has
    PIL (auto-skipped otherwise): encode arbitrary RGB rasters to PNG
    with PIL, decode through the kernel's compressed-format path, and
    require the EXACT pixel statistics back (PNG is lossless, so the
    ndarray round-trips bit-identically).  Without PIL the same payload
    must raise the documented no-decoder error."""
    import io

    import numpy as np
    import pandas as pd
    import pytest

    PIL = pytest.importorskip("PIL.Image")

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_data_gen_spark.operators.multimodal import (
        make_media_decode_batch,
    )

    kernel = make_media_decode_batch(True)
    kernel_no_pil = make_media_decode_batch(False)

    def decode_one(k, fmt, payload):
        out = list(
            k(iter([pd.DataFrame({"doc_id": [0], "format": [fmt], "payload": [payload]})]))
        )[0]
        return out.iloc[0].to_dict()

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=30),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        rgb = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        buf = io.BytesIO()
        PIL.fromarray(rgb, mode="RGB").save(buf, format="PNG")
        png = buf.getvalue()
        row = decode_one(kernel, "png", png)
        assert (row["width"], row["height"]) == (w, h)
        f = rgb.astype(np.float64)
        assert row["mean_value"] == round(float(f.mean()), 6)
        assert row["rms"] == round(float(np.sqrt((f**2).mean())), 6)
        # the same bytes without PIL fail loudly, never silently
        with pytest.raises(ValueError, match="no decoder"):
            decode_one(kernel_no_pil, "png", png)

    check()


def test_bpe_train_stops_on_single_symbol_corpus(spark, tmp_path):
    """Regression: a corpus whose words are all single characters yields
    an empty pair table and q_bpe_train crashed with IndexError on the
    argmax collect; it must stop cleanly with the rules found so far
    (zero here), matching the oracle's empty argmax CTE."""
    docs = spark.createDataFrame(
        [(i, "a b c", "en", "web", 5) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from iceberg_data_gen_spark.operators import QUERIES

    out = QUERIES["q_bpe_train"](spark, str(tmp_path)).collect()
    assert out == []


def test_asof_join_matched_row_travels_whole(spark):
    """Regression: per-column last(ignorenulls) fills stitched fields
    from DIFFERENT right rows when a value column is legitimately NULL
    (an older non-null value resurrected past the match).  The matched
    right row must arrive as a whole tuple."""
    from iceberg_data_gen_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 1, 5, None), (1, 2, None, 7)], "k long, t long, a int, b int"
    )
    left = spark.createDataFrame([(1, 3)], "k long, t long")
    out = asof_join(
        left, right, left_key="k", right_key="k",
        left_ts="t", right_ts="t", value_cols=["a", "b"],
    ).collect()
    assert len(out) == 1
    # the ts=2 row IS the match: a must be NULL, not the stale 5
    assert (out[0].a, out[0].b) == (None, 7), out


def test_session_cache_evicts_stopped_sessions(monkeypatch):
    """Artifacts of a stopped session must leave the store when another
    session misses, whatever their kind (ADVICE r6: unbounded growth +
    retention of dead DataFrame object graphs in processes that cycle
    sessions)."""
    from types import SimpleNamespace

    from iceberg_data_gen_spark import artifacts

    def fake(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    monkeypatch.setattr(artifacts, "_STORE", {})
    s1, s2, s3 = fake("app-1"), fake("app-2"), fake("app-2")
    assert artifacts.get(s1, ("kind_x", "p"), lambda: "one") == "one"
    # same session + key -> cached, no rebuild
    assert artifacts.get(s1, ("kind_x", "p"), lambda: "BAD") == "one"
    artifacts.get(s1, ("kind_y", "p"), lambda: "other kind")
    # a new session's miss drops the dead session's entries of EVERY kind
    assert artifacts.get(s2, ("kind_x", "p"), lambda: "two") == "two"
    assert len(artifacts._STORE) == 1
    assert artifacts.get(s2, ("kind_x", "p"), lambda: "BAD") == "two"
    # a second session on the same context is a different session too
    assert artifacts.get(s3, ("kind_x", "p"), lambda: "three") == "three"
    assert len(artifacts._STORE) == 1


def test_zero_norm_embedding_does_not_poison_neardup(spark, tmp_path):
    """q_embedding_neardup's numpy kernel must clamp the norm like every
    other ANN kernel (review r7): without the 1e-12 clamp a zero vector
    made its rows NaN (0/0 RuntimeWarnings in executors).  At the fixed
    tau=0.4 the OLD code coincided with the oracle only by accident
    (NaN >= 0.4 is False, and so is 0.0 >= 0.4) — this test locks the
    shared zero-norm convention (zero vector scores cos 0.0, no NaN ever
    reaches the output) so any future threshold/emission change cannot
    resurrect the divergence."""
    import math

    import numpy as np

    from iceberg_data_gen_spark.operators.dedup import q_embedding_neardup

    rng = np.random.default_rng(11)
    dim = 16
    base = [float(x) for x in rng.normal(size=dim)]
    rows = [
        (0, base, 0),
        (1, [x * 2.0 for x in base], 0),  # same direction: cos = 1.0
        (2, [0.0] * dim, 0),  # the poison row, same label block
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sf_dir = str(tmp_path / "sf-zn")
    df.write.parquet(f"{sf_dir}/embeddings.parquet")

    out = q_embedding_neardup(spark, sf_dir).collect()
    assert all(not math.isnan(r.cos_sim) for r in out), out
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in out}
    # the colinear pair survives at cos 1.0; zero-vector pairs score 0.0
    # (below the 0.4 threshold -> absent, NOT NaN-dropped): assert the
    # kernel agrees with a hand-computed numpy check on the same data
    assert pairs == {(0, 1): 1.0}, pairs


def test_asof_join_null_keys_and_timestamps_never_match(spark):
    """SQL ASOF semantics for NULLs (review r7): a right row with a NULL
    timestamp sorted nulls-first at the head of its key partition and
    last(ignorenulls) matched it to every left row lacking a real
    predecessor; NULL-key left rows "matched" NULL-key right rows.
    SQL never matches either (right_ts <= left_ts is never true for
    NULL; equality never matches NULL keys) -- verified against DuckDB's
    native ASOF JOIN on the same rows."""
    import duckdb

    from iceberg_data_gen_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, None, 99), (1, 5, 1), (None, 3, 2)], "k long, t long, v int"
    )
    left = spark.createDataFrame(
        [(1, 2), (1, 6), (None, 4)], "k long, t long"
    )
    out = asof_join(
        left, right, left_key="k", right_key="k",
        left_ts="t", right_ts="t", value_cols=["v"],
    )
    got = {(r.k, r.t): r.v for r in out.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE r AS SELECT * FROM (VALUES (1, NULL, 99), (1, 5, 1),"
        " (NULL, 3, 2)) t(k, t, v)"
    )
    con.execute(
        "CREATE TABLE l AS SELECT * FROM (VALUES (1, 2), (1, 6), (NULL, 4)) t(k, t)"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "SELECT l.k, l.t, r.v FROM l ASOF LEFT JOIN r ON r.k = l.k AND r.t <= l.t"
        ).fetchall()
    }
    assert got == want == {(1, 2): None, (1, 6): 1, (None, 4): None}


def test_media_decoder_edge_payloads_fail_loudly_or_decode():
    """Review r7 kernel-contract fixes: a WAV fmt chunk declaring
    sample_rate=0 must raise the documented ValueError (it previously
    surfaced as ZeroDivisionError); a PPM with zero raster dimensions
    must raise (it previously emitted NaN stats from an empty reshape);
    and a spec-valid 8-bit PPM with maxval != 255 must DECODE (one byte
    per sample for any maxval in [1, 255] per the netpbm spec — it was
    previously rejected with a wrong '8-bit' message)."""
    import struct

    import pandas as pd
    import pytest

    from iceberg_data_gen_spark.operators.multimodal import (
        make_media_decode_batch,
    )

    kernel = make_media_decode_batch(False)

    fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)  # rate = 0
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 2) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 2) + b"\x00\x01"
    )
    with pytest.raises(ValueError, match="sample_rate"):
        list(kernel(iter([pd.DataFrame(
            {"doc_id": [1], "format": ["wav"], "payload": [wav]})])))

    with pytest.raises(ValueError, match="raster dimensions"):
        list(kernel(iter([pd.DataFrame(
            {"doc_id": [2], "format": ["ppm"], "payload": [b"P6\n0 3\n255\n"]})])))

    ok = pd.DataFrame(
        {
            "doc_id": [3],
            "format": ["ppm"],
            "payload": [b"P6\n2 1\n200\n" + bytes([10, 20, 30, 40, 50, 60])],
        }
    )
    (out,) = list(kernel(iter([ok])))
    assert out.iloc[0]["width"] == 2 and out.iloc[0]["height"] == 1
    assert out.iloc[0]["mean_value"] == 35.0  # raw-byte stats, unnormalized


def test_minhash_lsh_audit_flips_on_tampered_pairs(spark, monkeypatch):
    """Negative control for the r9 LSH ε-witness (VERDICT r8 #1): the
    audit must not just pin TRUE on the honest pipeline — each boolean
    has to FLIP when the candidate stream it audits is tampered with in
    exactly the way that boolean guards against.  Tampering goes through
    the registry entry, the audit's input contract."""
    real = operators.QUERIES["q_minhash_lsh"]

    honest = operators.QUERIES["q_minhash_lsh_audit"](spark, SF_DIR).collect()[0]
    assert (
        honest.pairs_banded
        and honest.star_connected
        and honest.ordered_distinct
        and honest.est_floor
    ), honest

    # 1. inject a pair that shares NO band (partner id doesn't exist in
    #    the corpus, so its band-set join comes back null) → pairs_banded
    def bogus_pair(s, d):
        df = real(s, d)
        extra = s.createDataFrame(
            [(0, 10**12, 0.5)], "doc_a long, doc_b long, est_jaccard double"
        )
        return df.unionByName(extra)

    monkeypatch.setitem(operators.QUERIES, "q_minhash_lsh", bogus_pair)
    row = operators.QUERIES["q_minhash_lsh_audit"](spark, SF_DIR).collect()[0]
    assert row.pairs_banded is False
    assert row.star_connected is True  # extra pairs can't break coverage

    # 2. drop every pair → star edges go missing → star_connected
    monkeypatch.setitem(
        operators.QUERIES, "q_minhash_lsh", lambda s, d: real(s, d).limit(0)
    )
    row = operators.QUERIES["q_minhash_lsh_audit"](spark, SF_DIR).collect()[0]
    assert row.star_connected is False

    # 3. swap one pair's endpoints → canonical-order violation
    def swapped(s, d):
        df = real(s, d)
        from pyspark.sql import functions as SF

        first = df.orderBy("doc_a", "doc_b").limit(1)
        rest = df.join(
            first.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
        )
        return rest.unionByName(
            first.select(
                SF.col("doc_b").alias("doc_a"),
                SF.col("doc_a").alias("doc_b"),
                "est_jaccard",
            )
        )

    monkeypatch.setitem(operators.QUERIES, "q_minhash_lsh", swapped)
    row = operators.QUERIES["q_minhash_lsh_audit"](spark, SF_DIR).collect()[0]
    assert row.ordered_distinct is False

    # 4. crush every estimate below the one-shared-band floor → est_floor
    def lowball(s, d):
        return real(s, d).withColumn("est_jaccard", F.lit(0.01))

    monkeypatch.setitem(operators.QUERIES, "q_minhash_lsh", lowball)
    row = operators.QUERIES["q_minhash_lsh_audit"](spark, SF_DIR).collect()[0]
    assert row.est_floor is False


def test_ann_recall_floor_witnesses_flip_on_broken_index(spark, monkeypatch):
    """Negative control for the PQ / IVF+PQ recall-floor witnesses: an
    index regression that returns WRONG neighbors (here: the worst case,
    an empty result set) must flip recall_ok to FALSE, not stay green."""
    for approx, witness in (
        ("q_ann_pq", "q_ann_pq_recall_floor"),
        ("q_ann_ivfpq", "q_ann_ivfpq_recall_floor"),
    ):
        honest = operators.QUERIES[witness](spark, SF_DIR).collect()[0]
        assert honest.recall_ok is True, (witness, honest)
        real = operators.QUERIES[approx]
        monkeypatch.setitem(
            operators.QUERIES, approx, lambda s, d, _r=real: _r(s, d).limit(0)
        )
        row = operators.QUERIES[witness](spark, SF_DIR).collect()[0]
        assert row.recall_ok is False, witness

        # review r9: a broken top-k that emits each neighbor REPEATEDLY
        # must not inflate pooled recall past the floor (the join used
        # to multiply matched truth rows in numerator and denominator);
        # 25 copies of 2 correct neighbors per query = true recall 0.2
        def duped(s, d, _r=real):
            from pyspark.sql import functions as SF
            from pyspark.sql.window import Window as W

            df = _r(s, d)
            two = df.withColumn(
                "rr", SF.row_number().over(
                    W.partitionBy("query_id").orderBy("neighbor_id")
                )
            ).where(SF.col("rr") <= 2).drop("rr")
            return two.crossJoin(s.range(25)).drop("id")

        monkeypatch.setitem(operators.QUERIES, approx, duped)
        row = operators.QUERIES[witness](spark, SF_DIR).collect()[0]
        assert row.recall_ok is False, (witness, "duplicate inflation")
        assert row.topk_bounded is True, (witness, "2 <= TOP_K per query")

        # review r10: a top-k that loses its rnk <= TOP_K filter emits
        # every probed candidate as DISTINCT pairs — distinct() can't
        # catch that and pooled recall INFLATES toward 1.0, so the
        # witness pins max per-query emission <= TOP_K instead
        def over_emitting(s, d, _r=real):
            from pyspark.sql import functions as SF

            df = _r(s, d)
            extra = df.select(
                "query_id",
                (SF.col("neighbor_id") + 1_000_000).alias("neighbor_id"),
                *[c for c in df.columns if c not in ("query_id", "neighbor_id")],
            )
            return df.unionByName(extra.select(df.columns))

        monkeypatch.setitem(operators.QUERIES, approx, over_emitting)
        row = operators.QUERIES[witness](spark, SF_DIR).collect()[0]
        assert row.topk_bounded is False, (witness, "over-emission")
        monkeypatch.setitem(operators.QUERIES, approx, real)


def test_norm_corpus_cached_and_reused_across_ann_invocations(spark):
    """VERDICT r8 #3: the unit-normalization pass (itself sequential-fold
    work) must run once per (session, corpus) — the second invocation of
    q_ann_bruteforce / q_knn_classify has to reuse the SAME cached
    normalized frame through the artifact cache, and its executed plan
    must scan the in-memory relation, not re-derive nv."""
    from iceberg_data_gen_spark.operators.common import table_artifact

    def cached():
        key = ("ann_norm_corpus",)
        return table_artifact(spark, SF_DIR, "embeddings", key, _not_cached)

    operators.QUERIES["q_ann_bruteforce"](spark, SF_DIR).collect()
    first = cached()

    df2 = operators.QUERIES["q_ann_bruteforce"](spark, SF_DIR)
    df2.collect()
    assert cached() is first  # no retrain, no re-cache
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan[:2000]

    # kNN shares the same entry (and adds none of its own)
    operators.QUERIES["q_knn_classify"](spark, SF_DIR).collect()
    assert cached() is first


def _not_cached():
    raise AssertionError("artifact was not cached")


def test_contamination_detects_planted_overlap(spark, tmp_path):
    """Review r9: no shipped corpus contains source='web', so
    q_contamination's gram join, distinct-gram dedup, and >=3 threshold
    were only ever exercised empty-vs-empty.  Plant a benchmark doc and
    training docs sharing 0 / 1 / exactly-2 / exactly-3 distinct grams
    and prove BOTH engines flag exactly the >=3 doc with the same count
    (same planted-fixture pattern as test_pii_detection_on_injected_
    fixtures)."""
    import duckdb

    rows = [
        (1, "web", "a b c d e f"),          # benchmark: 4 distinct grams
        (2, "src0", "a b c d e"),            # shares 3 -> flagged
        (3, "src0", "a b c z z z"),          # shares 1 -> clean
        (4, "src1", "q r s t u"),            # shares 0 -> clean
        (5, "src1", "a b c d q q"),          # shares exactly 2 -> clean
        (6, "src2", "a b c a b c d e"),      # 3 DISTINCT shared (dedup) -> flagged
    ]
    sf_dir = str(tmp_path / "sf-contam")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.doc_id: r.n_shared
        for r in operators.QUERIES["q_contamination"](spark, sf_dir).collect()
    }
    assert got == {2: 3, 6: 3}, got

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = {
        int(d): int(n)
        for d, n in con.execute(operators.ORACLES["q_contamination"]).fetchall()
    }
    assert got == want


def test_codec_audit_flips_on_tampered_decode(spark, monkeypatch):
    """Negative control for the codec ε-witness (r9, extending VERDICT
    r8 #1 to the last witness-less rows-only pair): each audit boolean
    must FLIP when the decoded frame it audits is tampered with in
    exactly the way that boolean guards against — and ONLY that boolean
    (precise attribution), so a driver failure names the broken layer.
    Tampering goes through the registry entry, the audit's input
    contract (the q_minhash_lsh_audit convention)."""
    real = operators.QUERIES["q_multimodal_codec_roundtrip"]

    honest = operators.QUERIES["q_multimodal_codec_audit"](spark, SF_DIR).collect()[0]
    assert (
        honest.roundtrip_complete
        and honest.format_match
        and honest.wav_exact
        and honest.ppm_exact
        and honest.stats_match
    ), honest
    assert honest.n_wav + honest.n_ppm == honest.n_docs > 0

    def tampered(fn):
        monkeypatch.setitem(operators.QUERIES, "q_multimodal_codec_roundtrip", fn)
        return operators.QUERIES["q_multimodal_codec_audit"](spark, SF_DIR).collect()[0]

    min_id = real(spark, SF_DIR).agg(F.min("doc_id")).collect()[0][0]

    # 1. a decoded row vanishes -> roundtrip_complete (missing side)
    row = tampered(lambda s, d: real(s, d).where(F.col("doc_id") != min_id))
    assert row.roundtrip_complete is False

    # 2. a decoded row duplicates -> roundtrip_complete (dup side: the
    #    distinct parity counts stay oracle-equal, the boolean catches it)
    row = tampered(lambda s, d: real(s, d).unionByName(real(s, d).limit(1)))
    assert row.roundtrip_complete is False
    assert row.n_docs == honest.n_docs

    # 2b. a decoded row carrying a doc_id absent from documents (ADVICE
    #     r9: invisible under the old left join) -> roundtrip_complete
    #     alone; the per-boolean counters stay clean because the foreign
    #     row has no expected twin to compare against
    row = tampered(
        lambda s, d: real(s, d).unionByName(
            real(s, d).limit(1).withColumn("doc_id", F.lit(-987654321).cast("bigint"))
        )
    )
    assert row.roundtrip_complete is False
    assert row.n_docs == honest.n_docs
    assert row.format_match is True
    assert row.wav_exact is True and row.ppm_exact is True and row.stats_match is True

    # 3. parity misrouting on one row -> format_match alone (the decoded
    #    feature columns are untouched, so wav/ppm exactness must HOLD)
    row = tampered(
        lambda s, d: real(s, d).withColumn(
            "format",
            F.when(F.col("doc_id") == min_id, F.lit("ppm")).otherwise(F.col("format")),
        )
    )
    assert row.format_match is False
    assert row.wav_exact is True and row.ppm_exact is True

    # 4. header-level corruption: off-by-one byte length on wav rows
    row = tampered(
        lambda s, d: real(s, d).withColumn(
            "n_bytes",
            F.when(F.col("format") == "wav", F.col("n_bytes") + 1).otherwise(
                F.col("n_bytes")
            ),
        )
    )
    assert row.wav_exact is False and row.ppm_exact is True

    # 5. wrong raster dimensions on ppm rows
    row = tampered(
        lambda s, d: real(s, d).withColumn(
            "width",
            F.when(F.col("format") == "ppm", F.col("width") + 1).otherwise(
                F.col("width")
            ),
        )
    )
    assert row.ppm_exact is False and row.wav_exact is True

    # 6. a NULL where a feature belongs must count as BAD, not
    #    NULL-propagate to a silent pass
    row = tampered(
        lambda s, d: real(s, d).withColumn(
            "n_samples", F.lit(None).cast("bigint")
        )
    )
    assert row.wav_exact is False and row.ppm_exact is True

    # 7. stat drift past the decoder's round(x, 6) half-quantum ->
    #    stats_match alone (container features untouched)
    row = tampered(
        lambda s, d: real(s, d).withColumn("mean_value", F.col("mean_value") + 2e-6)
    )
    assert row.stats_match is False
    assert row.wav_exact is True and row.ppm_exact is True


def test_codec_audit_holds_on_large_doc_ids(spark, tmp_path):
    """The audit's value is that TWO independent implementations (numpy
    byte-parse vs SQL integer HOF folds) agree on every row; testdata
    doc_ids stay small, so pin the agreement where the id arithmetic
    (modulo routing, waveform/gradient parameters, header lengths) is
    actually stressed: ids at the key-shift scale the 100x probe corpus
    uses (1e8..1e10) and at int32/int40 boundaries.  All sums stay well
    inside int64, so both paths must agree exactly."""
    ids = [
        0, 1, 2, 3, 191, 192, 2047, 2048,
        2**31 - 2, 2**31 - 1, 2**31, 2**31 + 1,
        10**8, 10**8 + 1, 10**10 + 6, 10**10 + 7,
        2**40 + 4, 2**40 + 5,
    ]
    sf_dir = str(tmp_path / "sf-bigid")
    spark.createDataFrame(
        [(i, "synthetic", "x") for i in ids],
        "doc_id long, source string, text string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    row = operators.QUERIES["q_multimodal_codec_audit"](spark, sf_dir).collect()[0]
    assert row.n_docs == len(ids)
    assert row.n_wav == sum(1 for i in ids if i % 2 == 0)
    assert row.n_ppm == sum(1 for i in ids if i % 2 == 1)
    assert (
        row.roundtrip_complete
        and row.format_match
        and row.wav_exact
        and row.ppm_exact
        and row.stats_match
    ), row


def test_pii_scan_all_null_text_source_matches_oracle(spark, tmp_path):
    """Review r10: a source whose every text is NULL summed to NULL in
    Spark (F.sum over all-NULL per-row regexp counts) while the oracle's
    CASE...ELSE 0 / coalesce(len(...), 0) sums to 0 — the same
    NULL-text parity class the r9 q_simpson_diversity fix closed.
    FIXTURES.md permits NULL documents.text and the driver regenerates
    testdata every round, so pin parity on a planted corpus with one
    all-NULL source and one mixed source."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-pii-null")
    spark.createDataFrame(
        [
            (1, "write to a@b.com today", "s1", "en", 22),
            (2, None, "s1", "en", 0),
            (3, None, "s2", "en", 0),
            (4, None, "s2", "en", 0),
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = sorted(
        map(tuple, operators.QUERIES["q_pii_scan"](spark, sf_dir).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(ORACLES["q_pii_scan"]).fetchall()))
    assert got == oracle, (got, oracle)
    by_source = {r[0]: r for r in got}
    assert by_source["s2"][2:] == (0, 0, 0, 0, 0, 0)  # zeros, never NULL
    assert by_source["s1"][2] == 1 and by_source["s1"][5] == 1  # email found


def test_dedup_incremental_null_text_stays_new_on_both_engines(spark, tmp_path):
    """Review r10: two NULL-text batch docs hash to NULL; Spark's window
    grouped the NULLs and marked the second 'dup_in_batch' while the
    oracle's NULL-hostile `b.h IN (...)` fell through to 'new'.  Two
    unhashable documents are not duplicates of each other — pin 'new'
    on both engines with a planted corpus."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-incr-null")
    spark.createDataFrame(
        [
            (10, None, "s1", "en", 0),     # batch (doc_id % 10 == 0), NULL
            (20, None, "s1", "en", 0),     # batch, NULL -> must stay 'new'
            (30, "same text", "s1", "en", 9),   # batch dup pair ->
            (40, "same text", "s1", "en", 9),   # min-id survives
            (7, "corpus doc", "s1", "en", 10),  # corpus
            (50, "corpus doc", "s1", "en", 10), # batch dup_of_corpus
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = sorted(
        (r.doc_id, r.verdict)
        for r in operators.QUERIES["q_dedup_incremental"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = sorted(
        (int(r[0]), r[3])
        for r in con.execute(ORACLES["q_dedup_incremental"]).fetchall()
    )
    assert got == oracle, (got, oracle)
    assert dict(got) == {
        10: "new", 20: "new", 30: "new", 40: "dup_in_batch",
        50: "dup_of_corpus",
    }


def test_embedding_neardup_null_label_and_null_vector(spark, tmp_path):
    """Review r10: a NULL label formed its own Spark grouping key and
    paired its vectors (the oracle's equality join never matches NULLs),
    and a NULL embedding crashed np.array on the mixed None/list column.
    Both now filter out on the Spark side, matching the oracle's silent
    drop — pin on a planted corpus where the NULL rows would otherwise
    pair with cosine 1.0."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-emb-null")
    v = [1.0, 0.0, 0.0, 0.0]
    spark.createDataFrame(
        [
            (1, v, "a"), (2, v, "a"),          # real pair, cos = 1.0
            (3, v, None), (4, v, None),        # NULL label: no pair
            (5, None, "a"),                    # NULL vector: dropped
        ],
        "vec_id long, embedding array<double>, label string",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    got = sorted(
        (r.id_a, r.id_b, r.cos_sim)
        for r in operators.QUERIES["q_embedding_neardup"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    oracle = sorted(
        (int(a), int(b), float(c))
        for a, b, c in con.execute(ORACLES["q_embedding_neardup"]).fetchall()
    )
    assert got == oracle, (got, oracle)
    assert got == [(1, 2, 1.0)]


def test_multimodal_decode_null_text_matches_oracle(spark, tmp_path):
    """ADVICE r10 (medium): a NULL documents.text made payload =
    encode(text) NULL and the decode kernel's len()/sum() lambdas raised
    TypeError, while the DuckDB oracle returned a NULL-feature row.  The
    kernel now emits true SQL NULLs (pandas nullable dtypes, not NaN)
    for all three features, and the oracle gained an explicit NULL guard
    on frames_sampled (DuckDB's greatest() SKIPS NULL operands, so it
    would otherwise emit 1 where Spark emits NULL).  Pin parity on a
    planted corpus with NULL, empty, and normal text."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-decode-null")
    spark.createDataFrame(
        [
            (1, None, "s", "en", None),   # NULL text -> NULL features
            (2, "", "s", "en", 0),        # empty text -> 0-byte payload
            (3, "abc", "s", "en", 3),
        ],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = sorted(
        map(tuple, operators.QUERIES["q_multimodal_decode"](spark, sf_dir).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(ORACLES["q_multimodal_decode"]).fetchall()))
    assert got == oracle, (got, oracle)
    by_id = {r[0]: r for r in got}
    assert by_id[1][2:] == (None, None, None)  # NULLs, never a crash or 1
    assert by_id[2][2:] == (0, 0.0, 1)
    assert by_id[3][2] == 3


def test_array_agg_all_null_name_group_matches_oracle(spark, tmp_path):
    """R11 review (one notch past the sweep's FILTER fix): a nation whose
    EVERY customer name is NULL makes DuckDB's filtered list() NULL
    ('customers' NULL, len NULL) while Spark's collect_list is an empty
    array ('' / 0).  The oracle now coalesces to ''/0; pin on a planted
    two-nation corpus."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-arragg-null")
    spark.createDataFrame(
        [(1, "NATION_A", 1), (2, "NATION_B", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(f"{sf_dir}/nation.parquet")
    spark.createDataFrame(
        [
            (10, None, 1, 0.0, "SEG"),     # nation A: ALL names NULL
            (11, None, 1, 0.0, "SEG"),
            (12, "Customer#12", 2, 0.0, "SEG"),
            (13, None, 2, 0.0, "SEG"),     # nation B: mixed
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{sf_dir}/customer.parquet")

    got = sorted(
        map(tuple, operators.QUERIES["q_array_agg"](spark, sf_dir).collect())
    )
    con = duckdb.connect()
    for t in ("nation", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    oracle = sorted(map(tuple, con.execute(ORACLES["q_array_agg"]).fetchall()))
    assert got == oracle, (got, oracle)
    assert dict((r[0], r[1:]) for r in got) == {
        "NATION_A": ("", 0),
        "NATION_B": ("Customer#12", 1),
    }


def test_quality_score_empty_doc_matches_oracle(spark, tmp_path):
    """Review r10: an empty document made length(text)=0 and Spark's
    ANSI division raised DIVIDE_BY_ZERO, killing the whole query, while
    the DuckDB oracle returned a NULL-ratio row.  try_divide on both
    ratios restores parity: NULL ratios, NULL quality, 'drop' verdict
    on both engines."""
    import duckdb

    from iceberg_data_gen_spark.operators import ORACLES

    sf_dir = str(tmp_path / "sf-qs-empty")
    spark.createDataFrame(
        [
            (1, "", "s", "en", 0),
            (2, "the cat of the hat is here to win", "s", "en", 33),
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = sorted(
        map(tuple, operators.QUERIES["q_quality_score"](spark, sf_dir).collect())
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = sorted(map(tuple, con.execute(ORACLES["q_quality_score"]).fetchall()))
    assert got == oracle, (got, oracle)
    empty = got[0]
    assert empty[1] is None and empty[4] is None and empty[5] == "drop"


def test_observed_ingest_check_survives_null_predicate_rows(spark, tmp_path):
    """A row with NULL lang/n_chars is dropped by the keep filter but
    (~keep) is NULL too, so without the coalesce it counts in n_seen
    and in NEITHER bucket, and the cross-check fails on correct output.
    The coalesced rejected-counter must hold the n_seen = n_rejected +
    n_kept identity with NULL-predicate rows planted."""
    sf_dir = str(tmp_path / "sf-obs-null")
    spark.createDataFrame(
        [
            (1, "x" * 120, "s", "en", 120),
            (2, "y" * 120, "s", None, 120),   # NULL lang -> keep is NULL
            (3, "short", "s", "en", 5),       # rejected by n_chars
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    rows = _check_observed_ingest(spark, sf_dir)
    assert sorted(r.doc_id for r in rows) == [1]
