"""Canaries for the two DuckDB 1.0 wrong-results bugs (VERDICT r11 #3).

Two reproduced DuckDB 1.0 bugs are worked around in this repo's oracles
by SPELLING (README "NULL-robustness rules", family 3):

  (a) a window sorting GROUP BY output whose input rows carry NULL
      group-key sources misplaces one peer group NONDETERMINISTICALLY
      (NULLS FIRST/LAST, threads=1, sentinel keys all affected) — so
      `q_revenue_mom_change` / `q_cumulative_order_volume` spell their
      running aggregates window-free (inequality self-join over the
      tiny monthly aggregate);
  (b) `coalesce(CAST(date_trunc(x) AS DATE), <const>)` wrongly
      NULL-propagates over table columns (constant inputs fold
      correctly; the columnar path returns NULL) — so the NULL-month
      sentinel uses `CASE WHEN`.

The workaround spellings stay correct on ANY DuckDB, so if the driver's
DuckDB version ever moves nothing would surface that the bugs are gone
(or that new ones arrived) and the README idiom rules would detach from
evidence.  Each canary asserts the CORRECT behavior and is marked
``xfail(strict=True)``: on DuckDB 1.0 it fails (bug present → expected
XFAIL), and on a DuckDB that fixes the bug it XPASSes, which strict
turns into a loud suite failure — the signal to re-evaluate the
workaround idioms against the new engine.

Repro odds, measured on DuckDB 1.0 / this corpus shape: the window bug
flips 14/20 fresh-connection runs against the window-free reference, so
20 runs miss it with p ≈ 0.3^20 ≈ 3.5e-11 — the presence assert cannot
realistically flake.  The coalesce bug is deterministic.
"""

from __future__ import annotations

import zlib
from datetime import date

import duckdb
import pytest

from tests.conftest import SF_DIR

XPASS_MSG = (
    "DuckDB 1.0 wrong-results bug (README 'NULL-robustness rules' "
    "family 3) — an XPASS means the installed DuckDB fixed it: "
    "re-evaluate the workaround spellings in q_revenue_mom_change / "
    "q_cumulative_order_volume and the CASE-WHEN sentinel idiom"
)


@pytest.fixture(scope="module")
def nulled_orders(tmp_path_factory) -> str:
    """sf0.01 orders with ~8% of o_orderdate nulled (crc32-keyed, the
    null_sweep recipe) — the corpus shape on which both bugs were found."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/orders.parquet", columns=["o_orderkey", "o_orderdate", "o_totalprice"])
    col = t.column("o_orderdate")
    mask = pa.array(
        [zlib.crc32(str(k).encode()) % 100 < 8 for k in t.column("o_orderkey").to_pylist()]
    )
    nulled = pc.if_else(mask, pa.nulls(len(t), col.type), col)
    t = t.set_column(t.schema.get_field_index("o_orderdate"), "o_orderdate", nulled)
    path = str(tmp_path_factory.mktemp("canary") / "orders_nulled.parquet")
    pq.write_table(t, path)
    return path


@pytest.mark.xfail(strict=True, reason=XPASS_MSG)
def test_duckdb_window_over_groupby_with_null_key_sources_is_deterministic(
    nulled_orders,
):
    """Correct behavior: lag() over the monthly GROUP BY output equals the
    window-free predecessor join, on every fresh connection."""
    window_sql = f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM read_parquet('{nulled_orders}')
        GROUP BY 1
    )
    SELECT month, revenue, lag(revenue) OVER (ORDER BY month NULLS FIRST) AS prev
    FROM monthly
    """
    ref_sql = f"""
    WITH monthly AS (
        SELECT CASE WHEN o_orderdate IS NULL THEN DATE '0001-01-01'
                    ELSE CAST(date_trunc('month', o_orderdate) AS DATE) END AS mkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM read_parquet('{nulled_orders}')
        GROUP BY 1
    ),
    prevs AS (
        SELECT a.mkey, max(b.mkey) AS pkey
        FROM monthly a LEFT JOIN monthly b ON b.mkey < a.mkey GROUP BY a.mkey
    )
    SELECT nullif(a.mkey, DATE '0001-01-01') AS month, a.revenue,
           p.revenue AS prev
    FROM monthly a JOIN prevs pr ON pr.mkey = a.mkey
    LEFT JOIN monthly p ON p.mkey = pr.pkey
    """
    ref = sorted(duckdb.connect().execute(ref_sql).fetchall(), key=repr)
    for _ in range(20):
        con = duckdb.connect()
        try:
            rows = sorted(con.execute(window_sql).fetchall(), key=repr)
        finally:
            con.close()
        assert rows == ref


@pytest.mark.xfail(strict=True, reason=XPASS_MSG)
def test_duckdb_coalesce_over_cast_date_trunc_keeps_the_fallback():
    """Correct behavior: coalesce's fallback constant survives a NULL in
    the CAST(date_trunc(...)) branch when the input is a TABLE COLUMN.
    DuckDB 1.0 returns NULL on the columnar path (constants fold fine)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (DATE '2024-03-15'), "
        "(CAST(NULL AS DATE)), (DATE '2024-07-02')) v(d)"
    )
    rows = con.execute(
        "SELECT coalesce(CAST(date_trunc('month', d) AS DATE), "
        "DATE '0001-01-01') FROM t WHERE d IS NULL"
    ).fetchall()
    assert rows == [(date(1, 1, 1),)]


def test_duckdb_coalesce_constant_input_folds_correctly():
    """The constant-input half of bug (b) — correct on 1.0 and expected to
    stay correct; pins the boundary the xfail canary sits on."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT coalesce(CAST(date_trunc('month', DATE '2024-03-15') AS DATE), "
        "DATE '0001-01-01')"
    ).fetchall()
    assert rows == [(date(2024, 3, 1),)]
