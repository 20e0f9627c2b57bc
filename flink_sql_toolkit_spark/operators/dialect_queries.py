"""Oracle-gated queries that run through the DIALECT layer.

These call ``rewrite()`` on Flink-SQL text and execute via
``spark.sql`` — so the statement rewriter itself sits inside the
driver's differential correctness gate, not just unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_sql_toolkit_spark.dialect import rewrite
from flink_sql_toolkit_spark.operators.registry import register
from flink_sql_toolkit_spark.tables import load_table


def _sql(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], flink_sql: str) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(rewrite(flink_sql))


@register(
    "dialect_tumble_tvf",
    # TUMBLE + SESSION (PARTITION BY, the grouped-session_window fold
    # — late r9: a projected session_window never merges, so the SQL
    # SESSION path needed its own oracle) + the two r10 row-preserving
    # variants (VERDICT r9 ask #2): 'session_rows' = merged sessions
    # with every input row preserved (the gaps-and-islands fallback,
    # rewriter.py), 'session_subsec' = a 500 MILLISECOND gap over a
    # 1000×-compressed timescale (merging only happens if the
    # sub-second gap survives unit conversion — the r9 truncation
    # regression turned it into 0 and split every row), tagged onto
    # one schema
    oracle="""
    WITH events_ms AS (
      SELECT make_timestamp(epoch_us(ts) // 1000) AS ts2, value FROM events
    )
    SELECT 'tumble' AS variant, CAST(NULL AS BIGINT) AS k,
           make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 3
    UNION ALL
    SELECT 'session', user_id, MIN(ts), COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM (
        SELECT user_id, ts, value,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 600
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    GROUP BY user_id, sess_id
    UNION ALL
    SELECT 'session_rows', user_id,
           MIN(ts) OVER (PARTITION BY user_id, sess_id), 1,
           CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE)
    FROM (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM (
        SELECT user_id, ts, value,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 600
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    UNION ALL
    SELECT 'session_subsec', CAST(NULL AS BIGINT), window_start, COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
    FROM (
      SELECT MIN(ts2) OVER (PARTITION BY sess_id) AS window_start, value
      FROM (
        SELECT ts2, value,
               SUM(is_new) OVER (ORDER BY ts2
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM (
          SELECT ts2, value,
                 CASE WHEN epoch_us(ts2) - epoch_us(LAG(ts2) OVER (ORDER BY ts2)) >= 500000
                      OR LAG(ts2) OVER (ORDER BY ts2) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events_ms
        )
      )
    )
    GROUP BY window_start
    UNION ALL
    SELECT 'hop', CAST(NULL AS BIGINT),
           make_timestamp(CAST((floor((epoch(ts) - i * 60) / 300) * 300) + i * 60 AS BIGINT) * 1000000),
           COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
    FROM events CROSS JOIN (SELECT UNNEST(range(0, 5)) AS i) hk
    -- full containment check (start <= ts < start + size); the lower
    -- half holds by the floor identity, stated for symmetry
    WHERE epoch(ts) >= (floor((epoch(ts) - i * 60) / 300) * 300) + i * 60
      AND epoch(ts) <  (floor((epoch(ts) - i * 60) / 300) * 300) + i * 60 + 300
    GROUP BY 3
    UNION ALL
    -- CUMULATE windows share a window_start across their growing
    -- ends; the entry schema has no window_end column, so the end's
    -- epoch seconds ride in k (BIGINT)
    SELECT 'cumulate',
           CAST(floor(epoch(ts) / 3600) * 3600 + i * 900 AS BIGINT),
           make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000),
           COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
    FROM events CROSS JOIN (SELECT UNNEST(range(1, 5)) AS i) ck
    WHERE floor(epoch(ts) / 3600) * 3600 + i * 900 > epoch(ts)
    GROUP BY 2, 3
    """,
)
def dialect_tumble_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus TUMBLE TVF shape (syntax-test.fsql:199-208) plus the
    SESSION TVF window-agg shape (PARTITION BY user_id → Spark's
    grouped session_window via the fold), both through the rewriter."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    t = _sql(
        spark,
        sf_dir,
        ("events",),
        """
        SELECT window_start, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        GROUP BY window_start ORDER BY window_start
        """,
    ).select(
        F.lit("tumble").alias("variant"),
        F.lit(None).cast("bigint").alias("k"),
        "window_start", "n", "total_value",
    )
    s = _sql(
        spark,
        sf_dir,
        ("events",),
        """
        SELECT user_id AS k, window_start, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM TABLE(SESSION(TABLE events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        GROUP BY user_id, window_start
        """,
    ).select(F.lit("session").alias("variant"), "k", "window_start", "n", "total_value")
    # row-preserving merged sessions (the gaps-and-islands fallback:
    # no GROUP BY after the TVF, so _fold_session_agg declines and the
    # rewriter assigns each row its merged session window)
    sr = _sql(
        spark,
        sf_dir,
        ("events",),
        """
        SELECT user_id AS k, window_start,
               CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS total_value
        FROM TABLE(SESSION(TABLE events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        """,
    ).select(
        F.lit("session_rows").alias("variant"), "k", "window_start",
        F.lit(1).cast("long").alias("n"), "total_value",
    )
    # sub-second gap: a 1000×-compressed timescale (exact integer µs
    # math in BOTH engines) makes real merging depend on the 500ms gap
    # surviving conversion — the r9 integer-seconds truncation would
    # split every row into its own session
    # ts is TIMESTAMP_NTZ — timestampdiff/add keep the µs math
    # timezone-free and integer-exact (unix_micros requires LTZ)
    load_table(spark, sf_dir, "events").select(
        F.expr(
            "timestampadd(MICROSECOND, timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV 1000, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("ts2"),
        "value",
    ).createOrReplaceTempView("events_ms")
    ss = spark.sql(
        rewrite(
            """
            SELECT window_start, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
            FROM (SELECT window_start, value FROM TABLE(
                  SESSION(TABLE events_ms, DESCRIPTOR(ts2), INTERVAL '500' MILLISECOND)))
            GROUP BY window_start
            """
        )
    ).select(
        F.lit("session_subsec").alias("variant"),
        F.lit(None).cast("bigint").alias("k"),
        "window_start", "n", "total_value",
    )
    # HOP and CUMULATE through the SQL-dialect TVF rewrite (the corpus
    # executes these shapes, syntax-test.fsql:210-239; this gates
    # their VALUES too — r11). CUMULATE's growing window_end rides in
    # k as epoch seconds (the entry schema has no end column).
    h = _sql(
        spark,
        sf_dir,
        ("events",),
        """
        SELECT window_start, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '5' MINUTE))
        GROUP BY window_start
        """,
    ).select(
        F.lit("hop").alias("variant"),
        F.lit(None).cast("bigint").alias("k"),
        "window_start", "n", "total_value",
    )
    c = _sql(
        spark,
        sf_dir,
        ("events",),
        """
        SELECT CAST(unix_timestamp(window_end) AS BIGINT) AS k, window_start,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '15' MINUTE, INTERVAL '1' HOUR))
        GROUP BY window_start, window_end
        """,
    ).select(
        F.lit("cumulate").alias("variant"), "k", "window_start", "n",
        "total_value",
    )
    return (
        t.unionByName(s).unionByName(sr).unionByName(ss)
        .unionByName(h).unionByName(c)
    )


@register(
    "dialect_lateral_unnest",
    oracle="""
    SELECT n_nationkey, t.w AS word
    FROM (SELECT n_nationkey, string_split(n_name, ' ') AS words FROM nation),
         UNNEST(words) AS t(w)
    ORDER BY n_nationkey, word
    """,
)
def dialect_lateral_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN LATERAL UNNEST (syntax-test.fsql:164-167) through
    the rewriter → LATERAL VIEW explode."""
    return _sql(
        spark,
        sf_dir,
        ("nation",),
        """
        SELECT n_nationkey, t.word
        FROM (SELECT n_nationkey, SPLIT(n_name, ' ') AS words FROM nation) s
        CROSS JOIN LATERAL UNNEST(s.words) AS t(word)
        ORDER BY n_nationkey, word
        """,
    )


def dialect_subscripts_ctors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-based subscripts + ARRAY/MAP constructors + SIMILAR TO
    (syntax-test.fsql:450-461, 566-620) through the rewriter."""
    return _sql(
        spark,
        sf_dir,
        ("nation",),
        """
        SELECT n_nationkey,
               ARRAY['x', n_name][2] AS second,
               MAP['k', n_regionkey]['k'] AS mapped,
               n_name SIMILAR TO 'A%' AS starts_a
        FROM nation ORDER BY n_nationkey
        """,
    )


def dialect_natural_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL JOIN (tmLanguage.json:247)."""
    return _sql(
        spark,
        sf_dir,
        ("nation", "region"),
        """
        SELECT n_name, r_name
        FROM (SELECT n_name, n_regionkey AS rk FROM nation) a
        NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region) b
        ORDER BY n_name
        """,
    )


@register(
    "dialect_constructs",
    # 1-based subscripts, ARRAY/MAP constructors, SIMILAR TO and
    # NATURAL JOIN in ONE statement through the Flink→Spark rewriter —
    # one driver entry proves all four dialect constructs
    oracle="""
    SELECT n_nationkey,
           ['x', n_name][2] AS second,
           map_extract(MAP(['k'], [n_regionkey]), 'k')[1] AS mapped,
           (n_name SIMILAR TO 'A%') AS starts_a,
           r_name
    FROM (SELECT n_nationkey, n_name, n_regionkey, n_regionkey AS rk FROM nation) a
    NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region) b
    ORDER BY n_nationkey
    """,
)
def dialect_constructs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dialect_subscripts_ctors` + `dialect_natural_join` in one
    rewritten statement: 1-based subscripts, ARRAY/MAP constructors,
    SIMILAR TO (syntax-test.fsql:450-461, 566-620) and NATURAL JOIN
    (tmLanguage.json:247)."""
    return _sql(
        spark,
        sf_dir,
        ("nation", "region"),
        """
        SELECT n_nationkey,
               ARRAY['x', n_name][2] AS second,
               MAP['k', n_regionkey]['k'] AS mapped,
               n_name SIMILAR TO 'A%' AS starts_a,
               r_name
        FROM (SELECT n_nationkey, n_name, n_regionkey, n_regionkey AS rk FROM nation) a
        NATURAL JOIN (SELECT r_regionkey AS rk, r_name FROM region) b
        ORDER BY n_nationkey
        """,
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share — broadcast part, exact
    decimal conditional aggregation."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from flink_sql_toolkit_spark.operators.relational import (  # noqa: PLC0415
        revenue_col,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    zero = F.lit(0).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").like("PROMO%"), revenue_col()).otherwise(zero)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(revenue_col()).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q6_q14_revenue",
    # TPC-H Q6-style and Q14-style global aggregates are each a single
    # row — cross-joined into one (revenue, n_rows, promo_revenue_pct,
    # n) row so one driver entry proves both
    oracle="""
    SELECT * FROM (
      SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24
    ) q6 CROSS JOIN (
      SELECT CAST(100.00 AS DOUBLE) *
             CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE)
             AS promo_revenue_pct,
             COUNT(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    ) q14
    """,
)
def q6_q14_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`q6_revenue_forecast` × `q14_promo_revenue` (both 1-row global
    aggregates) cross-joined — each branch keeps its pushed-filter
    scan + broadcast shape."""
    from flink_sql_toolkit_spark.operators.relational import (  # noqa: PLC0415
        q6_revenue_forecast,
    )

    return q6_revenue_forecast(spark, sf_dir).crossJoin(
        q14_promo_revenue(spark, sf_dir)
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers. The SQL's outer
    GROUP BY (c_name, o_orderkey, o_orderdate) re-sums the same
    lineitem rows the HAVING subquery already aggregated — o_orderkey
    functionally determines the other keys — so the plan aggregates
    lineitem ONCE, filters > 150, and joins the (tiny, post-HAVING)
    per-order totals to orders + customer: one lineitem scan instead
    of two and no re-join of raw lineitem. AQE broadcasts the
    filtered aggregate at runtime; orderBy+limit compiles to
    TakeOrderedAndProject (no global sort)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from flink_sql_toolkit_spark.operators.relational import QTY_DEC  # noqa: PLC0415

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        # (7,4) input instead of the shared (18,4): the per-order sum
        # buffer narrows to (17,4) and stays long-backed (r14, 2.16×
        # on the isolated 200M-row sum stage, bit-identical —
        # test_decimal_width_equivalence and the width notes above
        # relational.revenue_col). Domain: quantity < 10^3 per line
        # and ≤ a few hundred lines per order, so a per-ORDER sum
        # sits ~10 orders of magnitude under the (17,4) cap at ANY
        # corpus scale — per-key headroom is what matters, not corpus
        # row count.
        .agg(F.sum(F.col("l_quantity").cast(QTY_DEC)).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey", F.col("q").cast("double").alias("total_qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )
