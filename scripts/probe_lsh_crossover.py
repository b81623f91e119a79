"""Empirical probe of the dedup-chain pair-source crossover (VERDICT r6 #2).

``_dup_edges`` (operators/dedup.py) switches its near-duplicate pair
source from exact blocked-Jaccard (quadratic within language blocks) to
MinHash-LSH candidates + exact-Jaccard confirm (linear in candidates)
past ``DEDUP_LSH_MIN_DOCS``.  The constant was asserted-correct but
unmeasured.  This probe times BOTH branches on synthetic corpora of
increasing size (testdata-shaped: 5 langs at the sf0.1 mix, 40-120
distinct words/doc from a 50k-word vocabulary, ~5% near-duplicate rate
with J >= 0.9 perturbations), fits the scaling laws

    t_exact(N) ~= a + b * N^2      (same-lang pair enumeration)
    t_lsh(N)   ~= c + d * N        (signatures + bucketed candidates)

and solves for the crossover where LSH+confirm starts winning.

Run: python scripts/probe_lsh_crossover.py [sizes...]
Default sizes: 5000 20000 60000 120000 (exact at 120k is ~minutes;
the quadratic term dominates long before 1M).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

LANG_MIX = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
VOCAB = 50_000
DUP_RATE = 0.05
SEED = 42


def make_corpus(out_dir: Path, n_docs: int) -> None:
    """Deterministic synthetic documents.parquet shaped like testdata."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    langs = rng.choice(
        [l for l, _ in LANG_MIX], size=n_docs, p=[p for _, p in LANG_MIX]
    )
    texts: list[str] = []
    n_base = int(n_docs * (1 - DUP_RATE))
    for i in range(n_base):
        k = int(rng.integers(40, 120))
        words = rng.choice(VOCAB, size=k, replace=False)
        texts.append(" ".join(f"w{w}" for w in words))
    # near-dups: copy an earlier base doc, drop ~4% of its words -> the
    # word-set Jaccard stays >= 0.9 and the pair lands in the size band
    for i in range(n_docs - n_base):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        drop = max(1, len(words) // 25)
        keep = [w for j, w in enumerate(words) if j >= drop]
        texts.append(" ".join(keep))
        langs[n_base + i] = langs[src]  # same lang so the pair is in-block
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(langs), pa.string()),
            "source": pa.array(["synthetic"] * n_docs, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, out_dir / "documents.parquet")


def main() -> int:
    import tempfile

    sizes = [int(a) for a in sys.argv[1:]] or [5_000, 20_000, 60_000, 120_000]

    from pyspark.sql import SparkSession

    from iceberg_data_gen_spark.operators import dedup
    from iceberg_data_gen_spark.operators.common import table_artifact

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .appName("lsh-crossover-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def seed_doc_count(sf_dir: str, n: int) -> None:
        """Pre-seed dedup's doc-count artifact so the count scan stays
        out of the exact-branch timing."""
        table_artifact(spark, sf_dir, "documents", ("doc_count",), lambda: n)

    rows = []
    with tempfile.TemporaryDirectory() as td:
        # warmup: run both branches once on a tiny corpus so JVM/codegen
        # startup cost doesn't land on the first timed size
        warm = Path(td) / "warmup"
        make_corpus(warm, 300)
        seed_doc_count(str(warm), 300)
        saved = dedup.DEDUP_LSH_MIN_DOCS
        for threshold in (10**12, 0):  # exact branch, then LSH
            dedup.DEDUP_LSH_MIN_DOCS = threshold
            dedup._dup_edges(spark, str(warm)).count()
        dedup.DEDUP_LSH_MIN_DOCS = saved

        for n in sizes:
            d = Path(td) / f"n{n}"
            make_corpus(d, n)
            sf_dir = str(d)

            seed_doc_count(sf_dir, n)
            # force each branch by moving the threshold for one invocation
            saved = dedup.DEDUP_LSH_MIN_DOCS
            dedup.DEDUP_LSH_MIN_DOCS = 10**12
            t0 = time.monotonic()
            n_exact = dedup._dup_edges(spark, sf_dir).count()
            t_exact = time.monotonic() - t0

            dedup.DEDUP_LSH_MIN_DOCS = 0
            t0 = time.monotonic()
            n_lsh = dedup._dup_edges(spark, sf_dir).count()
            t_lsh = time.monotonic() - t0
            dedup.DEDUP_LSH_MIN_DOCS = saved

            recall = n_lsh / n_exact if n_exact else float("nan")
            rows.append((n, t_exact, t_lsh, n_exact, n_lsh, recall))
            print(
                f"N={n:>8}  exact={t_exact:7.1f}s ({n_exact} edges)  "
                f"lsh+confirm={t_lsh:7.1f}s ({n_lsh} edges, "
                f"recall={recall:.4f})",
                flush=True,
            )

    # least-squares fits: t_exact = a + b*N^2 ; t_lsh = c + d*N
    import numpy as np

    N = np.array([r[0] for r in rows], dtype=float)
    te = np.array([r[1] for r in rows])
    tl = np.array([r[2] for r in rows])
    A2 = np.vstack([np.ones_like(N), N**2]).T
    A1 = np.vstack([np.ones_like(N), N]).T
    (a, b), _, _, _ = np.linalg.lstsq(A2, te, rcond=None)
    (c, d), _, _, _ = np.linalg.lstsq(A1, tl, rcond=None)
    # solve a + b x^2 = c + d x
    disc = d * d - 4 * b * (a - c)
    x = (d + disc**0.5) / (2 * b) if disc >= 0 and b > 0 else float("nan")
    print(f"\nfit: t_exact ~= {a:.2f} + {b:.3e}*N^2 ; t_lsh ~= {c:.2f} + {d:.3e}*N")
    print(f"measured crossover: N ~= {x:,.0f} docs")
    print(f"current DEDUP_LSH_MIN_DOCS = {dedup.DEDUP_LSH_MIN_DOCS:,}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
