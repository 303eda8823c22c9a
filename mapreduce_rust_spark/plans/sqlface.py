"""The SQL face of the engine: queries expressed as ``spark.sql``
strings over the registered table views.

The reference has no query language at all — a "query" is a pair of
Rust function pointers compiled into the worker binary
(``worker.rs:23-24``, SURVEY.md §3). Spark SQL gives the new engine a
full declarative surface over the *same* Catalyst plans the DataFrame
API builds: identical pushdown, pruning, broadcast and AQE behavior,
verified by the same oracle gate as every DataFrame query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_rust_spark.sources.tables import register_views

ORACLE: dict[str, str] = {}


def sql_top_months_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL query: for each order priority, the 3 busiest months
    by order count (integer ordering + month tie-break, so the window
    rank is engine-independent). CTE → aggregate → window → filter,
    all parsed by Spark SQL, all optimized by Catalyst."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH m AS (
          SELECT o_orderpriority,
                 date_format(o_orderdate, 'yyyy-MM') AS month,
                 count(*) AS n_orders,
                 floor(round(sum(o_totalprice), 6) * 100) / 100 AS total_value
          FROM orders
          GROUP BY 1, 2
        )
        SELECT o_orderpriority, month, n_orders, total_value, rnk
        FROM (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY n_orders DESC, month
                 ) AS rnk
          FROM m
        )
        WHERE rnk <= 3
        """
    )


ORACLE["sql_top_months_per_priority"] = """
WITH m AS (
  SELECT o_orderpriority,
         strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders,
         floor(round(sum(o_totalprice), 6) * 100) / 100 AS total_value
  FROM orders
  GROUP BY 1, 2
)
SELECT o_orderpriority, month, n_orders, total_value, rnk
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY n_orders DESC, month
         ) AS rnk
  FROM m
) t
WHERE rnk <= 3
"""

def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): a monthly calendar spine generated by
    iteration from the orders date bounds, LEFT-joined to monthly
    order counts — months with no orders appear with zeros (the
    classic reporting gap-fill a plain GROUP BY drops). The anchor
    reads the real table, so spine length adapts to the data.

    Scale note: recursion happens on the one-row bounds aggregate
    (driver-light, |months| rows total); the orders fact is scanned
    and aggregated exactly once, independently of the recursion."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH RECURSIVE spine AS (
          SELECT date_trunc('MONTH', min(o_orderdate)) AS m,
                 date_trunc('MONTH', max(o_orderdate)) AS hi
          FROM orders
          UNION ALL
          SELECT add_months(m, 1), hi FROM spine WHERE m < hi
        ),
        monthly AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 count(*) AS raw_n,
                 sum(o_totalprice) AS raw_v
          FROM orders GROUP BY 1
        )
        SELECT date_format(spine.m, 'yyyy-MM') AS month,
               coalesce(raw_n, 0) AS n_orders,
               floor(round(coalesce(raw_v, 0), 6) * 100) / 100 AS total_value
        FROM spine LEFT JOIN monthly ON spine.m = monthly.m
        """
    )


ORACLE["sql_recursive_cte"] = """
WITH RECURSIVE spine AS (
  SELECT date_trunc('month', min(o_orderdate)) AS m,
         date_trunc('month', max(o_orderdate)) AS hi
  FROM orders
  UNION ALL
  SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
),
monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         count(*) AS raw_n,
         sum(o_totalprice) AS raw_v
  FROM orders GROUP BY 1
)
SELECT strftime(spine.m, '%Y-%m') AS month,
       coalesce(raw_n, 0) AS n_orders,
       floor(round(coalesce(raw_v, 0), 6) * 100) / 100 AS total_value
FROM spine LEFT JOIN monthly ON spine.m = monthly.m
"""

def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (`|>` operators, SQL:2023-era pipe
    composition): the same revenue-by-return-flag aggregation a
    classic SELECT would write, expressed as a linear pipeline —
    FROM → WHERE → AGGREGATE → ORDER BY. Parses to the identical
    Catalyst plan as the nested form (same pushdown/broadcast/AQE),
    which the DuckDB oracle (classic syntax — DuckDB has no pipe
    operators) value-checks."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 10
        |> AGGREGATE count(*) AS n_lines,
                     floor(round(sum(l_extendedprice * (1 - l_discount)), 6) * 100) / 100
                       AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


ORACLE["sql_pipe_syntax"] = """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       floor(round(sum(l_extendedprice * (1 - l_discount)), 6) * 100) / 100
         AS revenue
FROM lineitem
WHERE l_quantity >= 10
GROUP BY 1, 2
ORDER BY 1, 2
"""


def sql_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: group customer market segments under the
    case-insensitive UTF8_LCASE collation after a case-mangling
    transform — string equality, grouping, and count-distinct all
    honor the collation inside the engine (no manual lower() in the
    grouping key). The oracle reproduces the semantics with explicit
    lower(); counts must match exactly."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH mangled AS (
          SELECT CASE WHEN c_custkey % 2 = 0
                      THEN lower(c_mktsegment) ELSE c_mktsegment END
                   COLLATE UTF8_LCASE AS seg,
                 c_custkey, c_acctbal
          FROM customer
        )
        SELECT upper(seg) AS segment, count(*) AS n_customers,
               count(DISTINCT seg) AS n_variants_seen_as_one,
               floor(round(sum(c_acctbal), 6) * 100) / 100 AS total_balance
        FROM mangled
        GROUP BY seg
        ORDER BY upper(seg)
        """
    )


ORACLE["sql_collation_group"] = """
SELECT upper(lower(c_mktsegment)) AS segment, count(*) AS n_customers,
       1 AS n_variants_seen_as_one,
       floor(round(sum(c_acctbal), 6) * 100) / 100 AS total_balance
FROM customer
GROUP BY lower(c_mktsegment)
ORDER BY 1
"""


def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each nation paired with its top-2
    customers by account balance — the classic per-group top-n as the
    SQL standard writes it. Catalyst decorrelates the lateral into a
    window/join plan (no per-row re-execution), which is exactly the
    rewrite a 100 TB per-key top-n needs; the oracle uses DuckDB's
    native LATERAL."""
    register_views(spark, sf_dir, "customer", "nation")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_name, t.c_acctbal
        FROM nation n,
             LATERAL (
               SELECT c_name, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name
               LIMIT 2
             ) t
        ORDER BY nation, t.c_acctbal DESC, t.c_name
        """
    )


ORACLE["sql_lateral_topn"] = """
SELECT n.n_name AS nation, t.c_name, t.c_acctbal
FROM nation n,
     LATERAL (
       SELECT c_name, c_acctbal FROM customer c
       WHERE c.c_nationkey = n.n_nationkey
       ORDER BY c_acctbal DESC, c_name
       LIMIT 2
     ) t
ORDER BY nation, t.c_acctbal DESC, t.c_name
"""


def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-body user functions (Spark 4 ``CREATE FUNCTION … RETURN
    expr``): a scalar discount-price function and a CASE price-band
    classifier, declared once and used inside an aggregate. Catalyst
    INLINES SQL UDFs into the logical plan — unlike a Python UDF
    there is no serialization boundary, so pushdown/codegen/AQE all
    see through the call: the 100 TB-safe way to share business
    logic across queries. The oracle inlines the bodies by hand."""
    register_views(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING RETURN CASE WHEN p < 10000 THEN 'low'
                                   WHEN p < 40000 THEN 'mid'
                                   ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_band(l_extendedprice) AS band,
               count(*) AS n_lines,
               floor(round(sum(disc_price(l_extendedprice, l_discount)), 6)
                     * 100) / 100 AS revenue
        FROM lineitem
        GROUP BY 1
        ORDER BY 1
        """
    )


ORACLE["sql_udf_scalar"] = """
SELECT CASE WHEN l_extendedprice < 10000 THEN 'low'
            WHEN l_extendedprice < 40000 THEN 'mid'
            ELSE 'high' END AS band,
       count(*) AS n_lines,
       floor(round(sum(l_extendedprice * (1 - l_discount)), 6) * 100) / 100
         AS revenue
FROM lineitem
GROUP BY 1
ORDER BY 1
"""


def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + dynamic SQL (Spark 4 ``DECLARE VARIABLE``
    / ``SET VAR`` / ``EXECUTE IMMEDIATE … USING``): a data-derived
    threshold is computed into a session variable, then a
    parameterized query string is executed with the variable bound to
    its ``?`` placeholder — the template-query pattern ETL schedulers
    use, with engine-side binding instead of string splicing. The
    threshold is ``round(max*0.5, 2)`` (exact arithmetic on one
    value, no float-sum ambiguity), so the oracle's scalar subquery
    reproduces it bit-for-bit."""
    register_views(spark, sf_dir, "customer")
    spark.sql("DECLARE OR REPLACE VARIABLE bal_floor DOUBLE")
    spark.sql(
        "SET VAR bal_floor = (SELECT round(max(c_acctbal) * 0.5, 2) FROM customer)"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT c_mktsegment AS segment, count(*) AS n_rich,
                  floor(round(sum(c_acctbal), 6) * 100) / 100 AS total_balance
           FROM customer WHERE c_acctbal > ?
           GROUP BY 1 ORDER BY 1'
          USING bal_floor
        """
    )


ORACLE["sql_execute_immediate"] = """
SELECT c_mktsegment AS segment, count(*) AS n_rich,
       floor(round(sum(c_acctbal), 6) * 100) / 100 AS total_balance
FROM customer
WHERE c_acctbal > (SELECT round(max(c_acctbal) * 0.5, 2) FROM customer)
GROUP BY 1 ORDER BY 1
"""


def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard PIVOT **clause** (`FROM t PIVOT (agg FOR col
    IN (...))`) — same Catalyst plan as the DataFrame ``pivot_agg``
    slug but parsed from SQL, completing the two-surface story for
    reshaping. Order status → columns, order counts + summed value
    per priority. Pivot columns are a FIXED IN-list (the 100 TB rule:
    a dynamic pivot needs a driver-side distinct first — never let
    the engine discover unbounded columns mid-plan). DuckDB's PIVOT
    syntax differs; the oracle writes the equivalent explicit
    conditional aggregation."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT * FROM (
          SELECT o_orderpriority, o_orderstatus,
                 round(o_totalprice, 2) AS price
          FROM orders
        )
        PIVOT (
          count(*) AS n, floor(round(sum(price), 6) * 100) / 100 AS total
          FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p)
        )
        ORDER BY o_orderpriority
        """
    )


ORACLE["sql_pivot_clause"] = """
SELECT o_orderpriority,
       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
       floor(round(sum(CASE WHEN o_orderstatus = 'F'
                            THEN round(o_totalprice, 2) END), 6) * 100) / 100
         AS f_total,
       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
       floor(round(sum(CASE WHEN o_orderstatus = 'O'
                            THEN round(o_totalprice, 2) END), 6) * 100) / 100
         AS o_total,
       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n,
       floor(round(sum(CASE WHEN o_orderstatus = 'P'
                            THEN round(o_totalprice, 2) END), 6) * 100) / 100
         AS p_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``IDENTIFIER()`` clause (Spark 4): table AND column names
    supplied as constant string expressions — the SQL-injection-safe
    way to template object names (multi-tenant table fan-out, config-
    driven metric columns) without ``EXECUTE IMMEDIATE``'s full
    dynamic-SQL surface. A session variable holds the table name and
    parameter markers feed the column names; the planner resolves
    them BEFORE analysis, so the query still gets a fully optimized
    static plan (pushdown/pruning intact — unlike string-spliced SQL
    run through a generic executor). Oracle is the resolved query
    verbatim."""
    register_views(spark, sf_dir, "supplier")
    spark.sql("DECLARE OR REPLACE VARIABLE tgt_table STRING")
    spark.sql("SET VAR tgt_table = 'supplier'")
    return spark.sql(
        """
        SELECT IDENTIFIER(:keycol) AS nationkey,
               count(*) AS n_suppliers,
               floor(round(sum(IDENTIFIER(:valcol)), 6) * 100) / 100
                 AS total_acctbal
        FROM IDENTIFIER(tgt_table)
        GROUP BY IDENTIFIER(:keycol)
        ORDER BY nationkey
        """,
        args={"keycol": "s_nationkey", "valcol": "s_acctbal"},
    )


ORACLE["sql_identifier_clause"] = """
SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
       floor(round(sum(s_acctbal), 6) * 100) / 100 AS total_acctbal
FROM supplier
GROUP BY s_nationkey
ORDER BY nationkey
"""


def sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 ``BEGIN … END`` control flow): an
    iterated below-the-mean trim — each WHILE round recomputes the
    kept-set sum/count and re-filters against the new mean — written
    entirely in procedural SQL (DECLARE / SET / WHILE), the surface
    migration from Teradata/Oracle stored procedures lands on. Every
    round's filter threshold is EXACT DECIMAL arithmetic
    (``p·count < sum`` instead of ``p < avg``), so no float-division
    ulp can flip a row's membership and the oracle (the loop unrolled
    as three chained CTEs) reproduces the trajectory bit-for-bit.
    Each round is two full-table aggregates — at cluster scale the
    loop is driver-coordinated like the components loop, with the
    scripting runtime handling the round-trips."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        BEGIN
          DECLARE s DECIMAL(28,2);
          DECLARE c BIGINT;
          DECLARE s_new DECIMAL(28,2);
          DECLARE c_new BIGINT;
          DECLARE r INT DEFAULT 0;
          SET s = (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   FROM orders);
          SET c = (SELECT count(*) FROM orders);
          WHILE r < 3 DO
            SET s_new = (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
                         FROM orders
                         WHERE CAST(o_totalprice AS DECIMAL(18,2)) * c < s);
            SET c_new = (SELECT count(*) FROM orders
                         WHERE CAST(o_totalprice AS DECIMAL(18,2)) * c < s);
            SET s = s_new;
            SET c = c_new;
            SET r = r + 1;
          END WHILE;
          SELECT r AS n_rounds, c AS n_kept, CAST(s AS DOUBLE) AS sum_kept;
        END
        """
    )


ORACLE["sql_scripting_loop"] = """
WITH o AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
r0 AS (SELECT sum(p) AS s, count(*) AS c FROM o),
r1 AS (SELECT sum(p) AS s, count(*) AS c FROM o, r0 WHERE o.p * r0.c < r0.s),
r2 AS (SELECT sum(p) AS s, count(*) AS c FROM o, r1 WHERE o.p * r1.c < r1.s),
r3 AS (SELECT sum(p) AS s, count(*) AS c FROM o, r2 WHERE o.p * r2.c < r2.s)
SELECT 3 AS n_rounds, c AS n_kept, CAST(s AS DOUBLE) AS sum_kept FROM r3
"""


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 4 ergonomics, shared
    with DuckDB): every non-aggregate select item becomes a grouping
    key implicitly — the analyst shorthand that removes the
    copy-the-select-list failure mode (adding a column to SELECT but
    not GROUP BY silently changes grain in classic SQL; ALL keeps
    them in lockstep). Same Catalyst plan as the explicit form; the
    oracle runs the identical ALL syntax on DuckDB, making this a
    cross-engine dialect-parity check too."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n,
               floor(round(sum(o_totalprice), 6) * 100) / 100 AS total
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


ORACLE["sql_group_by_all"] = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n,
       floor(round(sum(o_totalprice), 6) * 100) / 100 AS total
FROM orders
GROUP BY ALL
ORDER BY ALL
"""


def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIAS (Spark 3.4+/4, shared with DuckDB): a
    SELECT item referencing an alias defined EARLIER in the same
    SELECT list — the ergonomics fix that removes the
    copy-the-expression failure mode (classic SQL forces either a
    subquery or repeating ``net`` inside ``margin``, and the copies
    drift apart under maintenance). Catalyst inlines the alias chain,
    so the plan is identical to the hand-expanded form: one scan, one
    aggregation — the feature is free. The oracle runs the same
    chained-alias text on DuckDB, making this a dialect-parity check
    like ``sql_group_by_all``."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               floor(round(sum(l_extendedprice * (1 - l_discount)), 6) * 100) / 100 AS net,
               floor(round(net * 0.07, 6) * 100) / 100 AS est_tax,
               floor(round(net - est_tax, 6) * 100) / 100 AS margin
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


ORACLE["sql_lateral_column_alias"] = """
SELECT l_returnflag,
       floor(round(sum(l_extendedprice * (1 - l_discount)), 6) * 100) / 100 AS net,
       floor(round(net * 0.07, 6) * 100) / 100 AS est_tax,
       floor(round(net - est_tax, 6) * 100) / 100 AS margin
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sql_recursive_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE over a JOIN to a real table — the
    hierarchy/bill-of-materials recursion shape (vs
    ``sql_recursive_cte``'s linear calendar spine): suppliers form an
    implicit binary tree (parent of k is (k−1) DIV 2), and the
    recursion descends level by level from the root, joining the
    supplier table each round, to produce the per-depth census and
    account-balance rollup. Each recursion step is one keyed join —
    O(level width) work per round, depth = log2(n) rounds; the
    bounded-depth recursion Spark 4's WITH RECURSIVE executes as
    iterative plan expansion. Unbounded-diameter propagation stays
    with the DataFrame components loop (operators/graph.py)."""
    register_views(spark, sf_dir, "supplier")
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
          SELECT s_suppkey AS k, 0 AS depth, s_acctbal
          FROM supplier WHERE s_suppkey = 0
          UNION ALL
          SELECT s.s_suppkey, t.depth + 1, s.s_acctbal
          FROM supplier s JOIN tree t ON (s.s_suppkey - 1) DIV 2 = t.k
          WHERE s.s_suppkey > 0
        )
        SELECT depth, count(*) AS n_suppliers,
               floor(round(sum(s_acctbal), 6) * 100) / 100 AS total_acctbal
        FROM tree GROUP BY depth
        """
    )


ORACLE["sql_recursive_tree_depth"] = """
WITH RECURSIVE tree AS (
  SELECT s_suppkey AS k, 0 AS depth, s_acctbal
  FROM supplier WHERE s_suppkey = 0
  UNION ALL
  SELECT s.s_suppkey, t.depth + 1, s.s_acctbal
  FROM supplier s JOIN tree t ON (s.s_suppkey - 1) // 2 = t.k
  WHERE s.s_suppkey > 0
)
SELECT depth, count(*) AS n_suppliers,
       floor(round(sum(s_acctbal), 6) * 100) / 100 AS total_acctbal
FROM tree GROUP BY depth
"""


def sql_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4.1, DataSketches frequent-items) over
    the exploded token stream — the sketch-based heavy-hitters SQL
    surface next to the exact two-round ``sketch_heavy_hitters``
    operator. k=40 ≥ the corpus vocabulary, so the sketch's tracked
    map never evicts and its counts are EXACT — which is what makes a
    value-level oracle (plain GROUP BY) possible; at true scale the
    same call with k ≪ |vocab| returns the usual approximate
    heavy-hitter guarantees. One aggregation, map-side partials,
    constant-size state per partition."""
    register_views(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH toks AS (
          SELECT explode(filter(split(text, '\\\\s+'), x -> x != ''))
                   AS tok
          FROM documents
        ),
        sk AS (SELECT approx_top_k(tok, 40) AS top FROM toks)
        SELECT t.item AS token, t.count AS cnt
        FROM sk LATERAL VIEW explode(top) AS t
        """
    )


ORACLE["sql_approx_top_k"] = r"""
SELECT tok AS token, count(*) AS cnt
FROM (
  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS tok
  FROM documents
)
GROUP BY 1
"""


def sql_listagg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (Spark 4.1): per market segment, the
    top-3 customers by account balance concatenated in rank order —
    the ordered string-aggregation surface (DuckDB twin:
    ``string_agg(expr, sep ORDER BY ...)``). The window top-3 keeps
    every per-group list bounded, so the aggregated strings stay tiny
    no matter the customer count."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT c_mktsegment, c_name, c_acctbal,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_name) AS rk
          FROM customer
        )
        SELECT c_mktsegment,
               listagg(c_name, ',')
                 WITHIN GROUP (ORDER BY rk) AS top3_names,
               floor(round(sum(c_acctbal), 6) * 100) / 100 AS top3_balance
        FROM ranked WHERE rk <= 3
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


ORACLE["sql_listagg_topn"] = """
WITH ranked AS (
  SELECT c_mktsegment, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_name) AS rk
  FROM customer
)
SELECT c_mktsegment,
       string_agg(c_name, ',' ORDER BY rk) AS top3_names,
       floor(round(sum(c_acctbal), 6) * 100) / 100 AS top3_balance
FROM ranked WHERE rk <= 3
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ named-parameter binding) — the
    injection-safe templating surface client apps use instead of
    string interpolation: `spark.sql(query, args={...})` binds
    `:priority` / `:min_total` server-side as literals the optimizer
    still constant-folds and pushes down. The query itself is a plain
    filtered aggregate; the slug exists to pin the BINDING surface
    (typed string + numeric parameters) against the oracle."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               date_format(o_orderdate, 'yyyy-MM') AS month,
               count(*) AS n_orders
        FROM orders
        WHERE o_orderpriority <> :priority AND o_totalprice > :min_total
        GROUP BY 1, 2
        ORDER BY 1, 2
        """,
        args={"priority": "1-URGENT", "min_total": 50000.0},
    )


ORACLE["sql_named_parameters"] = """
SELECT o_orderpriority,
       strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders
FROM orders
WHERE o_orderpriority <> '1-URGENT' AND o_totalprice > 50000.0
GROUP BY 1, 2
ORDER BY 1, 2
"""


SQLVAR_MIN_QTY = 25  # session-variable demo: quantity floor
SQLVAR_TOP_N = 5  # session-variable demo: result cap


def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VARIABLE``) — mutable session-scoped state referenced by name
    inside later statements: the multi-statement scripting surface
    (thresholds computed once, reused across a report's queries)
    that named parameters (per-call binding, ``sql_named_parameters``)
    don't cover. The variables land in the plan as foldable literals,
    so pushdown/pruning are unaffected — the slug pins the DECLARE /
    SET / reference lifecycle, including one variable DERIVED from a
    query over the data (round-trip through the session state).
    DuckDB replays the folded equivalent with the same policy
    constants interpolated."""
    register_views(spark, sf_dir, "lineitem")
    # idempotent within a session: DECLARE OR REPLACE resets state
    spark.sql(
        f"DECLARE OR REPLACE VARIABLE mrs_min_qty INT DEFAULT {SQLVAR_MIN_QTY}"
    )
    spark.sql(f"DECLARE OR REPLACE VARIABLE mrs_top_n INT DEFAULT {SQLVAR_TOP_N}")
    spark.sql("DECLARE OR REPLACE VARIABLE mrs_avg_price DOUBLE")
    # derived variable: session state set FROM the data
    spark.sql(
        "SET VARIABLE mrs_avg_price = (SELECT avg(l_extendedprice) FROM lineitem)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN l_extendedprice > mrs_avg_price
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
        FROM lineitem
        WHERE l_quantity >= mrs_min_qty
        GROUP BY l_returnflag
        ORDER BY n_rows DESC, l_returnflag
        LIMIT mrs_top_n
        """
    )


ORACLE["sql_session_variables"] = f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_extendedprice >
                          (SELECT avg(l_extendedprice) FROM lineitem)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
FROM lineitem
WHERE l_quantity >= {SQLVAR_MIN_QTY}
GROUP BY l_returnflag
ORDER BY n_rows DESC, l_returnflag
LIMIT {SQLVAR_TOP_N}
"""


def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic surface (``try_divide`` /
    ``try_to_number`` / ``try_add`` — Spark 3.3+/4): the ANSI-mode
    answer to "one bad row kills the 100 TB job". Each try_* returns
    NULL where strict ANSI would THROW (divide-by-zero, unparseable
    numeric, bigint overflow), so the job completes and the bad-row
    census lands in the same aggregate as the good-row sums — the
    pattern ingest pipelines need when a trillion-row scan cannot
    afford a retry loop per malformed value. Whole-stage-codegen
    column arithmetic; one partial-combined groupBy on l_returnflag.
    DuckDB lacks try arithmetic, so the oracle mirrors the exact NULL
    semantics with CASE guards and TRY_CAST — which is also a
    cross-engine documentation of WHAT each try_* nulls out.
    Divide-by-zero rows: l_quantity = 25 makes the crafted
    denominator zero; parse failures: odd line numbers get a '#'
    suffix; overflow: the probe linenumber + 7·quantity is added to
    BIGINT_MAX − 356, overflowing exactly the (quantity=50,
    linenumber=7) rows. The overflow case is deliberately RARE
    (~0.3%): Spark's try_add implements the NULL via an internal
    caught exception, so an every-row-overflows probe costs ~20 µs of
    exception machinery PER ROW — measured 14 s over 6 M rows before
    this was tightened (the same lesson as any exception-driven
    control flow on the hot path: fine as a guard, fatal as the
    common case)."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_rows,
               count(CASE WHEN try_divide(l_extendedprice,
                                          l_quantity - 25.0) IS NULL
                          THEN 1 END) AS n_div_zero,
               floor(round(sum(try_divide(l_extendedprice,
                                          l_quantity - 25.0)), 6)
                     * 100) / 100 AS sum_safe_ratio,
               count(CASE WHEN try_to_number(
                     CASE WHEN l_linenumber % 2 = 0
                          THEN CAST(CAST(l_quantity AS INT) AS STRING)
                          ELSE CAST(CAST(l_quantity AS INT) AS STRING) || '#'
                     END, '99') IS NULL THEN 1 END) AS n_parse_fail,
               CAST(sum(try_to_number(
                     CASE WHEN l_linenumber % 2 = 0
                          THEN CAST(CAST(l_quantity AS INT) AS STRING)
                          ELSE CAST(CAST(l_quantity AS INT) AS STRING) || '#'
                     END, '99')) AS BIGINT) AS sum_parsed,
               count(CASE WHEN try_add(9223372036854775451,
                                       l_linenumber
                                       + 7 * CAST(l_quantity AS BIGINT))
                          IS NULL THEN 1 END) AS n_overflow
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


ORACLE["sql_try_arithmetic"] = """
SELECT l_returnflag,
       count(*) AS n_rows,
       count(CASE WHEN l_quantity = 25.0 THEN 1 END) AS n_div_zero,
       floor(round(sum(CASE WHEN l_quantity = 25.0 THEN NULL
                            ELSE l_extendedprice / (l_quantity - 25.0)
                       END), 6) * 100) / 100 AS sum_safe_ratio,
       count(CASE WHEN TRY_CAST(
             CASE WHEN l_linenumber % 2 = 0
                  THEN CAST(CAST(l_quantity AS INT) AS VARCHAR)
                  ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) || '#'
             END AS INTEGER) IS NULL THEN 1 END) AS n_parse_fail,
       CAST(sum(TRY_CAST(
             CASE WHEN l_linenumber % 2 = 0
                  THEN CAST(CAST(l_quantity AS INT) AS VARCHAR)
                  ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) || '#'
             END AS INTEGER)) AS BIGINT) AS sum_parsed,
       count(CASE WHEN l_linenumber + 7 * CAST(l_quantity AS BIGINT) > 356
                  THEN 1 END) AS n_overflow
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sql_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUPING()`` / ``GROUPING_ID()`` over GROUPING SETS — the
    disambiguator every rollup report needs at scale: in a grouping-
    sets result a NULL key can mean "the rollup row" OR "the data
    really had NULL"; GROUPING() is the engine-provided bit that
    tells them apart (relabeling NULLs with coalesce would silently
    merge the two). One grouping-sets aggregation (Catalyst expands
    to a single Expand+Aggregate — one shuffle for all three grains);
    GROUPING_ID orders the grains for consumers. Identical syntax
    runs on DuckDB — a dialect-parity check like ``sql_group_by_all``."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               GROUPING(o_orderpriority) AS is_priority_rollup,
               GROUPING(o_orderstatus) AS is_status_rollup,
               GROUPING_ID(o_orderpriority, o_orderstatus) AS grain_id,
               count(*) AS n,
               floor(round(sum(o_totalprice), 6) * 100) / 100 AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY grain_id, o_orderpriority, o_orderstatus
        """
    )


ORACLE["sql_grouping_id"] = """
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS INT) AS is_priority_rollup,
       CAST(GROUPING(o_orderstatus) AS INT) AS is_status_rollup,
       CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS INT) AS grain_id,
       count(*) AS n,
       floor(round(sum(o_totalprice), 6) * 100) / 100 AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), ())
ORDER BY grain_id, o_orderpriority, o_orderstatus
"""


def sql_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI INTERVAL surface (Spark 3.2+ year-month and day-time
    interval types): timestamp subtraction producing a DAY-TO-SECOND
    interval compared against an INTERVAL literal, and — the case
    that separates the two type families — `+ INTERVAL '30' DAY`
    (fixed length) vs `+ INTERVAL '1' MONTH` (calendar-aware, clamps
    Jan 31 + 1 mon to Feb 28): the within-30-days and within-1-month
    counts genuinely differ. Fulfillment-lead report per order
    priority over the orders⋈lineitem join (one broadcast-or-SMJ
    equi-join, one partial-combined aggregate — whole-stage-codegen
    throughout; interval comparisons are exact integer µs, so only
    the avg needs the fround grid). Identical INTERVAL syntax runs on
    DuckDB — a dialect-parity check like ``sql_grouping_id``; the avg
    lead is projected as exact DATE-difference days, keeping interval
    types internal to predicates where both engines agree bit-for-bit."""
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(count(CASE WHEN l_shipdate <= o_orderdate
                                    + INTERVAL '30' DAY
                          THEN 1 END) AS BIGINT) AS n_within_30d,
               CAST(count(CASE WHEN l_shipdate < o_orderdate
                                    + INTERVAL '1' MONTH
                          THEN 1 END) AS BIGINT) AS n_within_1mon,
               floor(round(avg(CAST(datediff(CAST(l_shipdate AS DATE),
                                             CAST(o_orderdate AS DATE))
                                    AS DOUBLE)), 8) * 10000) / 10000
                 AS avg_lead_days,
               CAST(count(CASE WHEN l_shipdate - o_orderdate
                                    > INTERVAL '45' DAY
                          THEN 1 END) AS BIGINT) AS n_slow
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


ORACLE["sql_interval_arithmetic"] = """
SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(count(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
                  THEN 1 END) AS BIGINT) AS n_within_30d,
       CAST(count(CASE WHEN l_shipdate < o_orderdate + INTERVAL 1 MONTH
                  THEN 1 END) AS BIGINT) AS n_within_1mon,
       floor(round(avg(CAST(l_shipdate::DATE - o_orderdate::DATE
                            AS DOUBLE)), 8) * 10000) / 10000
         AS avg_lead_days,
       CAST(count(CASE WHEN l_shipdate - o_orderdate > INTERVAL 45 DAY
                  THEN 1 END) AS BIGINT) AS n_slow
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = {
    "sql_interval_arithmetic": sql_interval_arithmetic,
    "sql_session_variables": sql_session_variables,
    "sql_named_parameters": sql_named_parameters,
    "sql_try_arithmetic": sql_try_arithmetic,
    "sql_grouping_id": sql_grouping_id,
    "sql_recursive_tree_depth": sql_recursive_tree_depth,
    "sql_approx_top_k": sql_approx_top_k,
    "sql_listagg_topn": sql_listagg_topn,
    "sql_identifier_clause": sql_identifier_clause,
    "sql_scripting_loop": sql_scripting_loop,
    "sql_group_by_all": sql_group_by_all,
    "sql_lateral_column_alias": sql_lateral_column_alias,
    "sql_top_months_per_priority": sql_top_months_per_priority,
    "sql_pivot_clause": sql_pivot_clause,
    "sql_recursive_cte": sql_recursive_cte,
    "sql_pipe_syntax": sql_pipe_syntax,
    "sql_collation_group": sql_collation_group,
    "sql_lateral_topn": sql_lateral_topn,
    "sql_udf_scalar": sql_udf_scalar,
    "sql_execute_immediate": sql_execute_immediate,
}
