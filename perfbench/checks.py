"""Output checks. None of these run inside a timed region.

* :func:`digest` — an order-insensitive hash of result rows (the repr of
  each row, sorted), the comparison the oracle sweep uses.
* :func:`oracle_digests` — DuckDB's answers to ``ORACLE_SQL`` /
  ``EXTRA_ORACLE_SQL`` over a fixture dir, registered the way
  ``tools.duckdb_baseline.register`` does.
* :func:`expected_q13` / :func:`expected_q121op` — the near-dup answers
  implied by a corpus's planted pairs.
* :func:`incremental_mismatches` — the incremental workload's final orders
  and denorm tables against a from-scratch rebuild over every applied batch.
"""

from __future__ import annotations

import hashlib

import duckdb


def digest(rows) -> str:
    h = hashlib.sha1()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(sf_dir: str, names) -> dict[str, str]:
    from serverless_etl_bi_on_aws_spark.plans.oracles import EXTRA_ORACLE_SQL, ORACLE_SQL
    from tools.duckdb_baseline import register

    sql = {**ORACLE_SQL, **EXTRA_ORACLE_SQL}
    con = duckdb.connect()
    try:
        register(con, sf_dir)
        return {n: digest(con.execute(sql[n]).fetchall()) for n in names}
    finally:
        con.close()


def expected_q13(pairs) -> str:
    """q13 emits (id_1, id_2, est_jaccard); its pair ids must be exactly
    the planted pairs (est_jaccard is signature-dependent, not checked)."""
    return digest(sorted(pairs))


def q13_ids(rows) -> str:
    return digest(sorted((r[0], r[1]) for r in rows))


def expected_q121op(pairs, n_docs: int) -> tuple[int, int]:
    """q121op links even to odd doc ids: every planted pair across parity,
    plus the operator's own planted twin pair above the corpus ids."""
    cross = [(a, b) for a, b in pairs if (a + b) % 2 == 1]
    hi = 2 * ((n_docs - 1) // 2) + 2
    return len(cross) + 1, sum(a + b for a, b in cross) + hi + hi + 1


def _orders_rebuild(base: str, land: str) -> str:
    return f"""
        WITH allv AS (
            SELECT *, -1 AS _b FROM read_parquet('{base}/orders.parquet')
            UNION ALL
            SELECT * EXCLUDE (filename),
                   CAST(regexp_extract(filename, 'hour-([0-9]+)', 1) AS INTEGER) AS _b
            FROM read_parquet('{land}/orders/*.parquet', filename = true)
        )
        SELECT * EXCLUDE (_b) FROM allv
        QUALIFY _b = MAX(_b) OVER (PARTITION BY o_orderkey)
    """


def _denorm_rebuild(base: str, land: str) -> str:
    return f"""
        WITH staged AS (
            SELECT * EXCLUDE (filename),
                   CAST(regexp_extract(filename, 'hour-([0-9]+)', 1) AS INTEGER) AS _b
            FROM read_parquet('{land}/denorm/*.parquet', filename = true)
        ), latest AS (
            SELECT o_orderkey, MAX(_b) AS _b FROM staged GROUP BY o_orderkey
        ), rows AS (
            SELECT s.o_orderkey, s.o_orderdate, s.l_partkey, s.l_extendedprice, s.l_discount
            FROM staged s JOIN latest USING (o_orderkey, _b)
            WHERE s.l_partkey IS NOT NULL
            UNION ALL
            SELECT o.o_orderkey, o.o_orderdate, l.l_partkey, l.l_extendedprice, l.l_discount
            FROM read_parquet('{base}/lineitem.parquet') l
            JOIN read_parquet('{base}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        )
        SELECT r.o_orderkey, p.p_type AS category,
               CAST(year(r.o_orderdate) AS BIGINT) AS order_year,
               CAST(floor((r.l_extendedprice * (1 - r.l_discount)) * 10000 + 0.5) AS BIGINT) AS _rev
        FROM rows r JOIN read_parquet('{base}/part.parquet') p ON r.l_partkey = p.p_partkey
    """


def _sym_diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b}))) "
        f"+ (SELECT COUNT(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def incremental_mismatches(base: str, land: str, orders_dir: str, denorm_dir: str,
                           read_rows: dict[str, list]) -> dict[str, int]:
    """Rows that differ between the engine's final tables (and its last
    post-commit reads) and a from-scratch rebuild over every landed batch.
    All zero means correct."""
    con = duckdb.connect()
    try:
        orders_sql = _orders_rebuild(base, land)
        denorm_sql = _denorm_rebuild(base, land)
        got_orders = f"SELECT * FROM read_parquet('{orders_dir}/*.parquet')"
        got_denorm = (
            "SELECT o_orderkey, category, CAST(order_year AS BIGINT) AS order_year, _rev "
            f"FROM read_parquet('{denorm_dir}/*/*.parquet', hive_partitioning = true)"
        )
        out = {
            "orders": _sym_diff(con, orders_sql, got_orders),
            "denorm": _sym_diff(con, denorm_sql, got_denorm),
        }
        exp_sales = con.execute(f"""
            SELECT category, order_year, COUNT(*) AS n_sold,
                   CAST((SUM(_rev) + 50) // 100 AS DOUBLE) / 100 AS revenue
            FROM ({denorm_sql}) GROUP BY 1, 2""").fetchall()
        exp_orders = con.execute(orders_read_sql(f"({orders_sql})")).fetchall()
    finally:
        con.close()
    out["sales_read"] = int(digest(exp_sales) != digest(read_rows["sales"]))
    out["orders_read"] = int(digest(exp_orders) != digest(read_rows["orders"]))
    return out


def orders_read_sql(table: str) -> str:
    """The post-commit BI read over the orders table, in DuckDB."""
    return f"""
        SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
               COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
        FROM {table} WHERE o_orderstatus <> 'D' GROUP BY 1, 2
    """
