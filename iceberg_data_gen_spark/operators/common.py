"""Helpers shared across operator modules.

Registration-free on purpose: operator modules import from here without
executing any other module's ``@register`` calls, so the registry order
(which the driver's unverified-first listing keys off) is untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_data_gen_spark import artifacts
from iceberg_data_gen_spark.session import load_tables, table_path


def docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus — the one loader every text/curation/pipeline
    operator shares, so a change to how documents load (normalization,
    column coercion) lands everywhere at once."""
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def table_artifact(spark: SparkSession, sf_dir: str, table: str, key: tuple, build):
    """``artifacts.get`` for a value built from testdata table *table* alone."""
    path = table_path(sf_dir, table)
    return artifacts.get(spark, (*key, path), build, (path,))


# the session confs that decide how a file scan is split into tasks
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")


def scan_parallelism(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of tasks a plain scan of testdata table *name* runs on
    under the session's current split confs."""
    def build():
        # a fresh projection: the cached table handle keeps the splits
        # of its first physical plan, whatever the confs say now
        df = load_tables(spark, sf_dir, (name,))[name]
        return df.select("*").rdd.getNumPartitions()

    split = tuple(spark.conf.get(k) for k in _SPLIT_CONFS)
    return table_artifact(spark, sf_dir, name, ("scan_parts", *split), build)


def spread_scan(df: DataFrame, sf_dir: str, name: str, key: str) -> DataFrame:
    """Hash-repartition a freshly scanned table to the session's default
    parallelism IFF the scan itself is under-parallel — the optimization
    guide's §2.5 input-skew rule ("one huge unsplittable file ...
    repartition immediately after the read") made SCALE-ADAPTIVE: the
    driver testdata ships each table as ONE parquet row group, so every
    scan (and all pre-shuffle work: tokenizing, hashing, partial
    aggregation, Expand) otherwise runs on ONE task while 31 cores
    idle.  At production scale the scan yields >= one split per core
    and this is a NO-OP by construction — no extra exchange survives to
    100 TB, which keeps the plan-lock story honest: the added Exchange
    only exists where the input layout is degenerate.

    ``key`` must be a high-cardinality column (the table's id) — hash
    repartitioning spreads without the per-task pre-sort a keyless
    ``repartition(n)`` pays (guide §2.5: sortBeforeRepartition), and
    row-to-partition assignment is deterministic under task retries.

    Only exactness-safe consumers may call this: repartitioning reorders
    rows, so downstream aggregation must be order-insensitive at the bit
    level (integer/decimal/min/max/count, or the repo's dsum /
    sorted-fold forms).  Each caller's aggregation is one of these.

    The trigger is BADLY under-parallel, not marginally (ADVICE r13):
    a production table whose scan yields slightly fewer splits than
    cores (800 splits on 1000 cores) must not pay a full extra exchange
    for a ≤2× tail improvement — only scans below HALF the session
    parallelism spread, so marginal layouts stay exchange-free and the
    degenerate one-split testdata layout still triggers at any core
    count ≥ 2.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if scan_parallelism(spark, sf_dir, name) >= max(par // 2, 1):
        return df
    return df.repartition(par, F.col(key))


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load + view-register the named testdata tables, positionally —
    the ``lineitem, part = _t(spark, sf_dir, "lineitem", "part")``
    idiom every relational operator module shares (was four copies)."""
    dfs = load_tables(spark, sf_dir, names)
    return [dfs[n] for n in names]


def doc_order_key() -> F.Column:
    """The md5-of-doc_id ordering/sampling key (``md5(CAST(doc_id AS
    VARCHAR))`` on the DuckDB side): engine-portable, uniform,
    deterministic.  ONE definition — shuffling, sharding, stratified and
    temperature sampling all order by this key, and the per-query
    oracles assume the identical bytes."""
    return F.md5(F.col("doc_id").cast("string").cast("binary"))


def dsum(c: F.Column, scale: int = 4) -> F.Column:
    """Order-independent money sum: accumulate in DECIMAL (exact for
    fixed-point inputs like prices/discounts), emit DOUBLE.

    Plain double sums are order-dependent (Spark's partial-aggregate merge
    order varies run to run), and rounding such a sum at a .005 boundary
    flips between engines (HALF_UP vs half-even).  Exact accumulation
    removes both failure modes — also how a production engine should sum
    money at 100 TB.
    """
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 4) -> str:
    """The oracle-side twin of :func:`dsum` (identical semantics)."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def round_half_up(col: F.Column, n: int) -> F.Column:
    """``floor(x·10^n + 0.5) / 10^n`` — fixed-decimal rounding spelled as
    the SAME IEEE primitive expression on both engines (twin:
    :func:`round_half_up_sql`).  Native ``round()`` is representation-
    dependent across engines: Spark rounds the exact binary expansion
    via BigDecimal HALF_UP while DuckDB multiplies then rounds, so a
    representable tie like 0.52165 at 4dp yields 0.5217 vs 0.5216
    (review r10, reproduced — the q_quality_score incident class).  For
    negative inputs this form is round-half-toward-+inf; deterministic
    and engine-identical either way.  NULL propagates.

    The floor is DOUBLE-NATIVE (``xs - pmod(xs, 1)``; review r12):
    Spark's ``floor(double)`` returns LONG and silently CLAMPS beyond
    ±2^63 (measured: 1e15 at 4dp → 9.223e18 vs DuckDB's exact 1e19 —
    a wrong-results divergence), while pmod stays in double space and
    is bit-identical to long-floor for every smaller magnitude
    (verified over 200k random values incl. the representable-tie
    cases).  pmod's remainder is in [0, 1) for negatives too, so the
    subtraction IS floor, not trunc.

    Boundary note (ADVICE r12): pmod's one non-floor corner is
    xs ∈ [-2^-54, 0), where ``(xs % 1) + 1`` rounds to exactly 1.0 and
    the subtraction returns xs (truncation) while a true floor returns
    -1.  That region is UNREACHABLE here: xs = y + 0.5 for a double y,
    doubles below -0.5 are spaced 2^-53, and Sterbenz makes the
    addition exact — so the smallest producible negative xs is -2^-53,
    one full binade outside the corner.  The closest representable
    inputs (col = nextafter(-0.5/10^n)) are pinned engine-equal by
    tests/test_differential.py::test_round_half_up_dyadic_boundary_
    matches_duckdb, which also asserts the unreachability argument."""
    p = F.lit(float(10**n))
    xs = col * p + F.lit(0.5)
    return (xs - F.pmod(xs, F.lit(1.0))) / p


def md5_hash32_sql(expr: str) -> str:
    """First 8 md5 hex digits of ``expr`` as a 32-bit uint, folded
    digit-by-digit (portable to engines without a hex-string cast).
    ONE definition (r11 review): text.py's temperature-sampling key and
    dedup.py's simhash word hash were byte-identical hand copies that
    must stay bit-identical — a portability tweak to one would silently
    diverge the other from its Spark twin."""
    return (
        "CAST(list_sum(list_transform(range(8), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), "
        "CAST(i+1 AS INT), 1)) - 1)::BIGINT"
        " << (4*(7-i)))) AS BIGINT)"
    )


def round_half_up_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`round_half_up` (identical primitives)."""
    p = float(10**n)
    return f"(floor(({expr}) * {p} + 0.5) / {p})"


def ttr_expr(words: F.Column) -> F.Column:
    """Type-token ratio over a word array — ``distinct words / words``
    as one double division (``len(list_distinct(...)) / len(...)`` on
    the DuckDB side).  ONE definition (review r10: the expression was
    hand-copied into q_text_stats, q_quality_filter_funnel, and
    q_curriculum_order — a tokenization tweak to one copy would silently
    diverge the others from their oracle twins)."""
    return F.size(F.array_distinct(words)).cast("double") / F.size(words)


def scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit cleanup: operators that build throwaway table /
    parquet fixtures return LAZY scans over them, so the dirs cannot be
    removed inside the query — registering them for process-exit removal
    bounds the leak across repeated bench/driver invocations."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def run_length_fold(arr: F.Column, extras, update, finish) -> F.Column:
    """One ``aggregate`` HOF pass over ``array_sort(arr)`` tracking equal-
    adjacent run lengths — the shared scaffold behind the repetition
    score (longest run) and Simpson diversity (sum of squared runs),
    which previously duplicated the prev/run bootstrap (review r7).

    ``extras`` is ``[(name, init_column)]`` for the caller's accumulator
    fields; ``update(acc, is_run, new_run)`` returns ``{name: column}``
    for them each step (``acc`` exposes the PRE-step ``prev``/``run``/
    extras, ``new_run`` the post-step run length); ``finish(acc)`` maps
    the final accumulator to the result.  ``run`` is LONG so both
    callers share one type.
    """

    def merge(acc, x):
        is_run = x == acc["prev"]
        new_run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        fields = [x.alias("prev"), new_run.alias("run")] + [
            col.alias(name) for name, col in update(acc, is_run, new_run).items()
        ]
        return F.struct(*fields)

    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        *[col.alias(name) for name, col in extras],
    )
    return F.aggregate(F.array_sort(arr), acc0, merge, finish)


def ngram_expr(arr: str, k: int) -> str:
    """Positional word k-gram SQL expression over an ALIASED array column
    named ``arr`` — ONE transform over an index sequence, no explode
    self-join.  The single definition shared by dedup's shingle
    consumers (shingles/minhash_signatures/q_ngram_jaccard_pairs, whose
    LSH-estimate vs exact-Jaccard correspondence and DuckDB oracle
    parity assume bit-identical gram strings) and text's n-gram
    consumers (review r7: four hand-rolled copies could drift).
    Callers must alias ``split(text, ' ')`` into a column first so the
    split is not re-evaluated per element, and guard ``size(arr) >= k``
    — ``sequence(0, -1)`` counts DOWN, it is not empty."""
    terms = ", ".join(f"{arr}[i + {j}]" if j else f"{arr}[i]" for j in range(k))
    return (
        f"transform(sequence(0, size({arr}) - {k}), i -> concat_ws(' ', {terms}))"
    )


def iso_weekday(col) -> F.Column:
    """ISO weekday (1=Monday..7=Sunday) from Spark's Sunday-based
    ``dayofweek`` — the ONE definition of the engine-portability
    normalization (DuckDB's ``isodow`` is Monday-based natively; review
    r8: two hand-rolled copies could drift and silently renumber one
    operator's weekdays away from its oracle)."""
    return ((F.dayofweek(col) + 5) % 7 + 1).cast("int")


def vec_dot(u: F.Column, v: F.Column) -> F.Column:
    """Engine-portable LEFT-TO-RIGHT vector dot product: the fold order
    matches DuckDB's list_dot_product and the numpy kernels' sequential
    sums, keeping cosine scores bit-identical across engines.  One
    definition shared by dedup and similarity (review r7 — it previously
    lived in dedup, making similarity→dedup a top-level import and
    forcing dedup's similarity imports to hide inside function bodies)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vec_complete(col: str = "embedding") -> F.Column:
    """TRUE iff the vector is present AND contains no NULL element —
    the r12 element-NULL rule, extending r11's entity rule one level
    down: a vector with a missing dimension is not a vector.  It cannot
    be dotted (DuckDB's list_inner_product raises outright; Spark's
    fold propagates NULL into every score), normalized, or quantized,
    so it drops from the vector universe on BOTH engines.  SQL twin:
    :func:`vec_complete_sql` — the two spellings must stay paired."""
    c = F.col(col)
    return c.isNotNull() & ~F.exists(c, lambda x: x.isNull())


def vec_complete_sql(col: str = "embedding") -> str:
    """DuckDB twin of :func:`vec_complete` (identical semantics)."""
    return f"({col} IS NOT NULL AND len(list_filter({col}, x -> x IS NULL)) = 0)"


def normalized_vectors(df: DataFrame) -> DataFrame:
    """(vec_id, label, nv): unit-normalized double vectors — the norm is
    computed ONCE per row in its own projection, then the per-element
    transform divides by that column.  Putting ``sqrt(vec_dot(v, v))``
    inside the transform lambda made normalization O(d²) per row (Spark
    hoists nothing out of HOF lambdas; review r8 — the two-step plan
    keeps the aggregate as a separate project column, measured ~25%
    faster at dim 64 and asymptotically O(d))."""
    v = F.col("embedding").cast("array<double>")
    # NULL vectors and NULL ids are dropped HERE, at the one choke
    # point the whole ANN family shares (NULL sweep r11): FIXTURES.md
    # permits NULLs in every column, a NULL nv crashes every numpy grid
    # kernel downstream (np.array over a mixed None/list column is
    # inhomogeneous), a NULL vec_id turns the kernels' int64 id arrays
    # into NaN floats (the `q.vec_id != c.vec_id` self-exclusion then
    # DISAGREES with SQL's NULL-hostile predicate — keys-pass sweep),
    # and a row with no id or no vector cannot participate in any
    # similarity operation.  Every consumer's oracle carries the
    # matching `WHERE vec_complete_sql() AND vec_id IS NOT NULL`.
    # r12 element-NULL pass: vec_complete also drops vectors CONTAINING
    # a NULL element — they crashed DuckDB's list_inner_product and
    # turned the numpy grid kernels' input inhomogeneous.
    df = df.where(vec_complete() & F.col("vec_id").isNotNull())
    # norm clamped at 1e-12 — the ONE zero-norm convention the whole ANN
    # family shares (numpy kernels use np.maximum(norm, 1e-12), oracles
    # use greatest(..., 1e-12)): a zero vector normalizes to zeros and
    # scores cos=0.0 everywhere, instead of NaN in Spark vs NULL in
    # DuckDB (which SORT differently and break top-k parity)
    withn = df.select(
        "vec_id",
        "label",
        v.alias("__v"),
        F.greatest(F.sqrt(vec_dot(v, v)), F.lit(1e-12)).alias("__norm"),
    )
    return withn.select(
        "vec_id",
        "label",
        F.transform("__v", lambda x: x / F.col("__norm")).alias("nv"),
    )
