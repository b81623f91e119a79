"""The three benchmark workloads.

Each workload has a ``setup`` (fixtures; timed into ``setup_s`` together
with ``WARMUP_CYCLES`` untimed warm-up cycles, see ``run.warm_up``), a ``cycle`` of op
kinds that the timed loop repeats whole, ``run_op`` (one closed-loop op:
its latency, whether every check passed, and the rows it moved) and
``finish`` (checks that run once, after the timed region, and name the op
kinds they fail).  Workloads call only the program's public entry points.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import functions as F

from tracing import join_counts

# one op per scaled ``prepare()`` + ``cleanup()``: (file_count, rows_per_file)
DATAGEN_SHAPE = {"data": (4, 500_000), "pos": (2, 125_000), "eq": (2, 125_000)}
# the table the mor-scan reads are served from
MORSCAN_SHAPE = {"data": (4, 250_000), "pos": (2, 50_000), "eq": (2, 50_000)}
# the query-mix corpus: the fixture tables at scale factor 0.01
# (lineitem 60k rows), kept in the benchmark's own directory
QUERYMIX_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# bench.py's HEADLINE operators, copied here so edits to bench.py cannot
# change this workload; value = the corpus tables each one reads
HEADLINE = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "lineitem", "orders"),
    "q5_local_supplier_volume": ("customer", "lineitem", "nation", "orders", "region", "supplier"),
    "q6_forecast_revenue": ("lineitem",),
    "q10_returned_items": ("customer", "lineitem", "nation", "orders"),
    "q_window_topk_per_group": ("orders",),
    "q_rollup": ("lineitem",),
    "q_asof_join": ("events", "orders"),
    "q_word_freq": ("documents",),
    "q_dedup_exact": ("documents",),
    "q_jaccard_pairs": ("documents",),
    "q_minhash_lsh": ("documents",),
    "q_simhash": ("documents",),
    "q_ann_bruteforce": ("embeddings",),
    "q_ann_ivf": ("embeddings",),
    "q_embedding_neardup": ("embeddings",),
    "q_tfidf_top_terms": ("documents",),
    "q_stream_tumbling": ("events",),
}


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    rows: int


class Workload:
    """Defaults: no warm-up cycles, no REST server, no after-run checks."""

    WARMUP_CYCLES = 0  # see run.warm_up
    server = None

    def close(self) -> None:
        if self.server is not None:
            self.server.__exit__(None, None, None)

    def finish(self) -> set[str]:
        return set()


class Ctx:
    """What a workload sees of the run: the session, its scratch
    directory, the seed, and (traced runs only) the tracer."""

    def __init__(self, spark, work: str, seed: int, tracer=None, counters=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters = counters

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def phase(self, kind: str, name: str):
        """A benchmark-side span whose Spark jobs and stages are charged
        to op kind ``kind`` (traced runs only)."""
        if not self.tracer:
            return nullcontext({})
        return _Phase(self, kind, name)


class _Phase:
    def __init__(self, ctx: Ctx, kind: str, name: str) -> None:
        self.ctx, self.kind, self.name = ctx, kind, name

    def __enter__(self):
        self._take()  # Spark work before this phase is not charged to it
        self._span = self.ctx.tracer.span(self.name, kind=self.kind)
        self._rec = self._span.__enter__()
        return self._rec

    def __exit__(self, *exc):
        out = self._span.__exit__(*exc)
        self._rec["attrs"]["spark"] = self._take()
        return out

    def _take(self) -> dict:
        # the bookkeeping runs outside the span and is priced as overhead
        t = time.perf_counter()
        counts = self.ctx.counters.take()  # drains the listener bus first
        self.ctx.tracer.overhead_s += time.perf_counter() - t
        return counts


# ---------------------------------------------------------------- datagen


def _datagen_config(uri: str, warehouse: str, ns: str, name: str, shape: dict):
    from iceberg_data_gen_spark.datagen.config import (
        CatalogConfig,
        Config,
        FileConfig,
        TableConfig,
    )

    return Config(
        catalog=CatalogConfig(catalog_type="rest", uri=uri, warehouse=warehouse),
        table=TableConfig(namespace=ns, table_name=name),
        data_files=FileConfig(file_count=shape["data"][0], rows_per_file=shape["data"][1]),
        pos_delete_files=FileConfig(file_count=shape["pos"][0], rows_per_file=shape["pos"][1]),
        equality_delete_files=FileConfig(file_count=shape["eq"][0], rows_per_file=shape["eq"][1]),
    )


def expected_summary(shape: dict) -> dict:
    """The metadata summary ``prepare()`` must report for ``shape``."""
    data = shape["data"][0] * shape["data"][1]
    pos = min(shape["pos"][0] * shape["pos"][1], data)
    eq = min(shape["eq"][0] * shape["eq"][1], data - pos)
    return {
        "data_rows": data,
        "pos_delete_rows": pos,
        "eq_delete_rows": eq,
        "derived_total": data - pos - eq,
        "snapshots": 3,
    }


def _tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


class Datagen(Workload):
    """One op = a full reference pipeline run: ``prepare()`` (create
    namespace and table through the REST catalog, write data files,
    position deletes and equality deletes, one snapshot each) then
    ``cleanup()``.  Nothing is read back."""

    WARMUP_CYCLES = 5

    def __init__(self, shape: dict | None = None) -> None:
        self.shape = shape or DATAGEN_SHAPE
        self.expected = expected_summary(self.shape)
        self.stored_bytes_per_row: list[float] = []

    def setup(self, ctx: Ctx) -> None:
        from iceberg_data_gen_spark.table.rest_server import RestCatalogServer

        self.ctx = ctx
        self.server = RestCatalogServer().__enter__()
        self.warehouse = os.path.join(ctx.work, "warehouse")
        self._rng = random.Random(ctx.seed)  # the seed picks table names

    def cycle(self) -> list[str]:
        return ["op"]

    def run_op(self, kind: str) -> Op:
        from iceberg_data_gen_spark.datagen.app import IcebergDataGeneratorApp

        tag = f"{self._rng.getrandbits(40):010x}"
        cfg = _datagen_config(
            self.server.uri, self.warehouse, f"ns_{tag}", f"t_{tag}", self.shape
        )
        with self.ctx.phase(kind, "datagen.op.prepare"):
            t0 = time.perf_counter()
            app = IcebergDataGeneratorApp(self.ctx.spark, cfg)
            summary = app.prepare()
            t1 = time.perf_counter()
        files, size = _tree_size(self.warehouse)
        with self.ctx.phase(kind, "datagen.op.cleanup"):
            t2 = time.perf_counter()
            app.cleanup()
            t3 = time.perf_counter()
        n_files = self.shape["data"][0] + self.shape["pos"][0] + self.shape["eq"][0]
        ok = (
            {k: summary.get(k) for k in self.expected} == self.expected
            and files == n_files
            and _tree_size(self.warehouse)[0] == 0
        )
        self.stored_bytes_per_row.append(size / self.expected["data_rows"])
        rows = sum(self.expected[k] for k in ("data_rows", "pos_delete_rows", "eq_delete_rows"))
        return Op(kind, (t1 - t0) + (t3 - t2), ok, rows)

# ---------------------------------------------------------------- mor-scan


def _digits_sum(lo: int, hi: int) -> int:
    """sum(len(str(g)) for g in range(lo, hi)), in closed form."""
    total, d = 0, 1
    while lo < hi:
        band_hi = 10**d  # numbers below this have at most d digits
        if lo < band_hi:
            top = min(hi, band_hi)
            total += (top - lo) * d
            lo = top
        d += 1
    return total


def expected_aggregate(lo: int, hi: int) -> tuple:
    """(count, sum(bar), sum(length(foo)), count_if(baz)) over the rows
    with global ids in [lo, hi): ``foo = str(g)``, ``bar = g``, ``baz``."""
    n = max(0, hi - lo)
    return (n, (lo + hi - 1) * n // 2 if n else None, _digits_sum(lo, hi) if n else None, n)


class MorScan(Workload):
    """Reads of one table built by the same pipeline.  The cycle is a
    full merge-on-read read, a ``where`` read that file skipping prunes
    to one data file, and a time-travel read of the data-only first
    snapshot (no delete anti-joins: the control)."""

    KINDS = ["full", "pruned", "snapshot0"]
    WARMUP_CYCLES = 4

    def __init__(self, shape: dict | None = None) -> None:
        self.shape = shape or MORSCAN_SHAPE
        exp = expected_summary(self.shape)
        self.n_files, self.per_file = self.shape["data"]
        self.n = exp["data_rows"]
        self.first_live = exp["pos_delete_rows"] + exp["eq_delete_rows"]
        self.stored_bytes_per_row: list[float] = []

    def setup(self, ctx: Ctx) -> None:
        from iceberg_data_gen_spark.datagen.app import IcebergDataGeneratorApp
        from iceberg_data_gen_spark.table.rest_server import RestCatalogServer

        self.ctx = ctx
        self.server = RestCatalogServer().__enter__()
        warehouse = os.path.join(ctx.work, "warehouse")
        cfg = _datagen_config(self.server.uri, warehouse, "bench", "mor", self.shape)
        with ctx.span("morscan.setup.prepare"):
            app = IcebergDataGeneratorApp(ctx.spark, cfg)
            if app.prepare() != expected_summary(self.shape):
                raise RuntimeError("mor-scan table summary does not match its shape")
        self.table = app.catalog.load_table("bench", "mor")
        self.snapshot0 = self.table.snapshots()[0]["id"]
        self.stored_bytes_per_row.append(_tree_size(warehouse)[1] / self.n)
        # the seed picks the pruned range: inside one data file
        rng = random.Random(ctx.seed)
        f = rng.randrange(self.n_files)
        self.lo = f * self.per_file + rng.randrange(self.per_file // 2)
        self.hi = self.lo + self.per_file // 4  # inclusive bound of the where
        self.where = {"bar": (self.lo, self.hi)}

    def cycle(self) -> list[str]:
        return list(self.KINDS)

    def _expected(self, kind: str) -> tuple:
        if kind == "full":
            return expected_aggregate(self.first_live, self.n)
        if kind == "pruned":
            return expected_aggregate(max(self.lo, self.first_live), self.hi + 1)
        return expected_aggregate(0, self.n)

    def run_op(self, kind: str) -> Op:
        table = self.table
        with self.ctx.phase(kind, "morscan.op.plan"):
            t0 = time.perf_counter()
            if kind == "full":
                df = table.scan()
            elif kind == "pruned":
                df = table.scan(where=self.where)
            else:
                df = table.scan(snapshot_id=self.snapshot0)
            agg = df.agg(
                F.count(F.lit(1)),
                F.sum("bar"),
                F.sum(F.length("foo")),
                F.count_if(F.col("baz")),
            )
        with self.ctx.phase(kind, "morscan.op.exec") as rec:
            row = tuple(agg.collect()[0])
            t1 = time.perf_counter()
        if self.ctx.tracer:
            t = time.perf_counter()
            rec["attrs"]["joins"] = join_counts(agg)
            self.ctx.tracer.overhead_s += time.perf_counter() - t
        ok = row == self._expected(kind)
        rows = self.n
        if kind == "pruned":
            report = table.plan_report(self.where)
            ok = ok and report["surviving_files"] == 1
            rows = self.per_file
        return Op(kind, t1 - t0, ok, rows)


# --------------------------------------------------------------- query-mix


def family(name: str) -> str:
    """Operator family = the module that registered the operator, e.g.
    ``relational`` or ``streaming.events``."""
    from iceberg_data_gen_spark import operators

    mod = operators.QUERIES[name].__module__.removeprefix("iceberg_data_gen_spark.")
    return mod.removeprefix("operators.")


class QueryMix(Workload):
    """One op = one headline operator call: build its DataFrame, then run
    it through the noop sink.  The seed rotates the operator order.
    Setup makes one cold pass over the operators, which builds their
    cached artifacts and warms the JIT.  After the timed region,
    ``finish`` checks the warm path that was timed: every oracle-bearing
    operator against its DuckDB oracle, every rows-only operator against
    the row count of its cold-pass result."""

    # no WARMUP_CYCLES: the cold pass in setup is the warm-up

    def __init__(self, data_dir: str = QUERYMIX_DATA, names: list[str] | None = None) -> None:
        self.dir = data_dir
        self.names = list(names or HEADLINE)
        self.row_counts: dict[str, int] = {}
        self.stored_bytes_per_row: list[float] = []

    def setup(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        from iceberg_data_gen_spark import operators

        self.ctx = ctx
        operators.load_all()
        tables = {t for n in self.names for t in HEADLINE[n]}
        paths = {t: os.path.join(self.dir, f"{t}.parquet") for t in tables}
        rows = {t: pq.read_metadata(p).num_rows for t, p in paths.items()}
        self.input_rows = {n: sum(rows[t] for t in HEADLINE[n]) for n in self.names}
        size = sum(os.path.getsize(p) for p in paths.values())
        self.stored_bytes_per_row.append(size / sum(rows.values()))
        k = ctx.seed % len(self.names)
        self.order = self.names[k:] + self.names[:k]
        ctx.spark.range(8).write.format("noop").mode("overwrite").save()
        for name in self.order:
            with ctx.span(f"operators.{family(name)}.cold", query=name):
                df = operators.QUERIES[name](ctx.spark, self.dir)
                if name in operators.ORACLES:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self.row_counts[name] = df.count()

    def cycle(self) -> list[str]:
        return list(self.order)

    def run_op(self, kind: str) -> Op:
        from iceberg_data_gen_spark import operators

        fam = family(kind)
        t0 = time.perf_counter()
        with self.ctx.phase(kind, f"operators.{fam}.plan"):
            df = operators.QUERIES[kind](self.ctx.spark, self.dir)
        with self.ctx.phase(kind, f"operators.{fam}.exec"):
            df.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        return Op(kind, t1 - t0, True, self.input_rows[kind])

    def finish(self) -> set[str]:
        """One more warm call of each operator, checked: against its
        DuckDB oracle through ``tests/oracle.compare`` (read-only use),
        or, for rows-only operators, against the cold pass's row count.
        Returns the operators that failed."""
        from iceberg_data_gen_spark import operators
        from tests.oracle import compare

        failed = set()
        for name in self.order:
            fn = operators.QUERIES[name]
            try:
                if name in operators.ORACLES:
                    errors = compare(self.ctx.spark, name, fn, operators.ORACLES[name], self.dir)
                    if errors:
                        raise AssertionError("; ".join(errors[:3]))
                elif fn(self.ctx.spark, self.dir).count() != self.row_counts[name]:
                    raise AssertionError(f"row count differs from the cold pass's {self.row_counts[name]}")
            except Exception:  # noqa: BLE001 — any failure counts against the op
                print(f"perfbench: {name} failed its check", file=sys.stderr)
                traceback.print_exc()
                failed.add(name)
        return failed


WORKLOADS = {"datagen": Datagen, "mor-scan": MorScan, "query-mix": QueryMix}
