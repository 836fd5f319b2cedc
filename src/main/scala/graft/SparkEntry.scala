package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry dogfoods the PRQL→Spark compiler: the Spark side of each
  * query is `Graft.compileDir(prql, spark, sfDir)`, and the oracle is
  * equivalent ANSI SQL executed by DuckDB over the same parquet files.
  *
  * Determinism rules (the driver hash-compares values after sorting columns
  * by name):
  *  - every multi-row result ends in a total-order `sort` (unique tiebreak);
  *  - double SUMs go through CAST(… AS DECIMAL(18,2)) — decimal addition is
  *    exact/associative, so Spark and DuckDB agree bit-for-bit — then back
  *    to DOUBLE so output schemas match;
  *  - AVG/STDDEV are rounded (association error ~1e-12 rel., far from the
  *    rounding step);
  *  - RANK()-family outputs are cast to BIGINT on both sides (Spark emits
  *    int32, DuckDB int64);
  *  - float literals mixed into double math are CAST(… AS DOUBLE) in the
  *    oracle so DuckDB's decimal literals don't change rounding.
  */
object SparkEntry {

  /** name → (PRQL text, oracle SQL). */
  private val prqlQueries: Seq[(String, String, String)] = Seq(

    ("q01_select_take",
      """from lineitem
        |select [l_orderkey, l_linenumber, l_quantity, l_extendedprice]
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]
        |take 100""".stripMargin,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 100""".stripMargin),

    ("q02_filter",
      """from lineitem
        |filter l_quantity > 45
        |filter l_discount < 0.05
        |select [l_orderkey, l_linenumber, l_quantity, l_discount]
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]""".stripMargin,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    ("q03_derive",
      """from lineitem
        |derive [
        |  disc_price = l_extendedprice * (1 - l_discount),
        |  charge = ((l_extendedprice * (1 - l_discount)) * (1 + l_tax)),
        |]
        |select [l_orderkey, l_linenumber, disc_price, charge]
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]
        |take 500""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 500""".stripMargin),

    ("q04_agg_global",
      """from lineitem
        |aggregate [
        |  n_rows = count,
        |  n_parts = count_distinct l_partkey,
        |  min_qty = min l_quantity,
        |  max_qty = max l_quantity,
        |  sum_qty = ((sum (l_quantity | as `decimal(18,2)`)) | as double),
        |  avg_price = (round (average l_extendedprice) 4),
        |]""".stripMargin,
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  ROUND(AVG(l_extendedprice), 4) AS avg_price
        |FROM lineitem""".stripMargin),

    ("q05_group_agg",
      """from lineitem
        |group [l_returnflag, l_linestatus] (
        |  aggregate [
        |    sum_qty = ((sum (l_quantity | as `decimal(18,2)`)) | as double),
        |    sum_base = ((sum (l_extendedprice | as `decimal(18,2)`)) | as double),
        |    avg_qty = (round (average l_quantity) 4),
        |    avg_price = (round (average l_extendedprice) 4),
        |    ct = count,
        |  ]
        |)
        |sort [l_returnflag, l_linestatus]""".stripMargin,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  ROUND(AVG(l_extendedprice), 4) AS avg_price,
        |  count(*) AS ct
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    ("q06_having",
      """from orders
        |group o_custkey (
        |  aggregate [
        |    n = count,
        |    spend = ((sum (o_totalprice | as `decimal(18,2)`)) | as double),
        |  ]
        |)
        |filter n > 5
        |sort [-n, o_custkey]""".stripMargin,
      """SELECT o_custkey, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) > 5
        |ORDER BY n DESC, o_custkey""".stripMargin),

    ("q07_sort_take",
      """from orders
        |sort [-o_totalprice, o_orderkey]
        |take 25
        |select [o_orderkey, o_custkey, o_totalprice]""".stripMargin,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),

    ("q08_take_range",
      """from orders
        |sort [-o_totalprice, o_orderkey]
        |take 101..150
        |select [o_orderkey, o_totalprice]""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50 OFFSET 100""".stripMargin),

    ("q09_join_using",
      """table okeys = (
        |  from orders
        |  derive custkey = o_custkey
        |)
        |
        |table ckeys = (
        |  from customer
        |  derive custkey = c_custkey
        |)
        |
        |from okeys
        |join ckeys [custkey]
        |group [c_mktsegment] (aggregate [n = count])
        |sort c_mktsegment""".stripMargin,
      """SELECT c_mktsegment, count(*) AS n
        |FROM (SELECT *, o_custkey AS custkey FROM orders) o
        |JOIN (SELECT *, c_custkey AS custkey FROM customer) c USING (custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    ("q10_join_inner",
      """from orders
        |join customer [o_custkey == c_custkey]
        |group [c_mktsegment] (
        |  aggregate [
        |    rev = ((sum (o_totalprice | as `decimal(18,2)`)) | as double),
        |    n = count,
        |  ]
        |)
        |sort c_mktsegment""".stripMargin,
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    ("q11_join_left",
      """from customer
        |join side:left orders [o_custkey == c_custkey]
        |group [c_custkey] (aggregate [n_orders = count o_orderkey])
        |sort c_custkey""".stripMargin,
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    ("q12_join_right",
      """from orders
        |join side:right customer [o_custkey == c_custkey]
        |group [c_nationkey] (aggregate [n = count o_orderkey])
        |sort c_nationkey""".stripMargin,
      """SELECT c_nationkey, count(o_orderkey) AS n
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    ("q13_join_full",
      """table big_cust = (
        |  from customer
        |  filter c_acctbal > 5000
        |)
        |
        |table big_ord = (
        |  from orders
        |  filter o_totalprice > 300000
        |)
        |
        |from big_ord
        |join side:full big_cust [o_custkey == c_custkey]
        |derive [okey = o_orderkey ?? -1, ckey = c_custkey ?? -1]
        |select [okey, ckey, status = o_orderstatus ?? "none", seg = c_mktsegment ?? "none"]
        |sort [okey, ckey]""".stripMargin,
      """WITH big_cust AS (SELECT * FROM customer WHERE c_acctbal > 5000),
        |     big_ord AS (SELECT * FROM orders WHERE o_totalprice > 300000)
        |SELECT COALESCE(o_orderkey, -1) AS okey,
        |       COALESCE(c_custkey, -1) AS ckey,
        |       COALESCE(o_orderstatus, 'none') AS status,
        |       COALESCE(c_mktsegment, 'none') AS seg
        |FROM big_ord FULL JOIN big_cust ON o_custkey = c_custkey
        |ORDER BY okey, ckey""".stripMargin),

    ("q14_distinct",
      """from customer
        |select [c_mktsegment, c_nationkey]
        |group [c_mktsegment, c_nationkey] (take 1)
        |sort [c_mktsegment, c_nationkey]""".stripMargin,
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),

    ("q15_topk_group",
      """from orders
        |group o_custkey (
        |  sort [-o_totalprice, o_orderkey]
        |  take 2
        |)
        |select [o_custkey, o_orderkey, o_totalprice]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t
        |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q16_window_expanding",
      """from orders
        |group o_custkey (
        |  sort [o_orderdate, o_orderkey]
        |  window expanding:true (
        |    derive [run_spend = ((sum (o_totalprice | as `decimal(18,2)`)) | as double)]
        |  )
        |)
        |select [o_custkey, o_orderkey, o_totalprice, run_spend]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q17_window_rolling",
      """from events
        |group user_id (
        |  sort [ts, event_id]
        |  window rolling:7 (
        |    derive [roll7 = ((sum (value | as `decimal(18,2)`)) | as double)]
        |  )
        |)
        |select [user_id, event_id, roll7]
        |sort [user_id, event_id]""".stripMargin,
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll7
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    ("q18_lag_lead",
      """from orders
        |group o_custkey (
        |  sort [o_orderdate, o_orderkey]
        |  derive [
        |    prev_price = lag 1 o_totalprice,
        |    next_price = lead 1 o_totalprice,
        |    first_price = first 1 o_totalprice,
        |  ]
        |)
        |select [o_custkey, o_orderkey, prev_price, next_price, first_price]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q19_rank",
      """from part
        |group p_brand (
        |  sort [-p_size]
        |  derive [rk = (rank | as bigint), dk = (rank_dense | as bigint)]
        |)
        |select [p_partkey, p_brand, p_size, rk, dk]
        |sort p_partkey""".stripMargin,
      """SELECT p_partkey, p_brand, p_size,
        |  CAST(RANK() OVER w AS BIGINT) AS rk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS dk
        |FROM part WINDOW w AS (PARTITION BY p_brand ORDER BY p_size DESC)
        |ORDER BY p_partkey""".stripMargin),

    ("q20_coalesce",
      """from orders
        |derive maybe = s"NULLIF(o_orderstatus, 'O')"
        |derive lbl = maybe ?? "open"
        |group [lbl] (aggregate [n = count])
        |sort lbl""".stripMargin,
      """SELECT lbl, count(*) AS n FROM (
        |  SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS lbl FROM orders)
        |GROUP BY lbl ORDER BY lbl""".stripMargin),

    ("q21_isnull",
      """from orders
        |derive maybe = s"NULLIF(o_orderstatus, 'F')"
        |filter maybe == null
        |aggregate [n = count]""".stripMargin,
      """SELECT count(*) AS n FROM orders
        |WHERE NULLIF(o_orderstatus, 'F') IS NULL""".stripMargin),

    ("q22_fstring",
      """from customer
        |select [c_custkey, label = f"{c_name}_{c_mktsegment}"]
        |sort c_custkey
        |take 200""".stripMargin,
      """SELECT c_custkey, c_name || '_' || c_mktsegment AS label
        |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin),

    ("q23_datefuncs",
      """from orders
        |derive [yr = s"CAST(year(o_orderdate) AS INT)", mon = s"CAST(month(o_orderdate) AS INT)"]
        |group [yr, mon] (
        |  aggregate [
        |    n = count,
        |    rev = ((sum (o_totalprice | as `decimal(18,2)`)) | as double),
        |  ]
        |)
        |sort [yr, mon]""".stripMargin,
      """SELECT yr, mon, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM (SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |             CAST(month(o_orderdate) AS INT) AS mon, o_totalprice
        |      FROM orders)
        |GROUP BY yr, mon ORDER BY yr, mon""".stripMargin),

    ("q24_in_range",
      """from orders
        |filter (o_totalprice | in 10000..200000)
        |filter (o_orderdate | in @1995-01-01..@1996-12-31)
        |select [o_orderkey, o_orderdate, o_totalprice]
        |sort o_orderkey""".stripMargin,
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 10000 AND 200000
        |  AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |ORDER BY o_orderkey""".stripMargin),

    ("q25_cast",
      """from supplier
        |select [skey = (s_suppkey | as string), bal_d = (s_acctbal | as double), nk = (s_nationkey | as bigint)]
        |sort skey""".stripMargin,
      """SELECT CAST(s_suppkey AS VARCHAR) AS skey,
        |  CAST(s_acctbal AS DOUBLE) AS bal_d,
        |  CAST(s_nationkey AS BIGINT) AS nk
        |FROM supplier ORDER BY skey""".stripMargin),

    ("q26_func",
      """func disc d x -> x * (1 - d)
        |func add_pct p x -> x * (1 + p)
        |
        |from lineitem
        |derive net = (l_extendedprice | disc l_discount | add_pct 0.05)
        |select [l_orderkey, l_linenumber, net]
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]
        |take 300""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  (l_extendedprice * (1 - l_discount)) * (1 + CAST(0.05 AS DOUBLE)) AS net
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 300""".stripMargin),

    ("q27_cte",
      """table seg_stats = (
        |  from customer
        |  group c_mktsegment (aggregate [avg_bal = (round (average c_acctbal) 4)])
        |)
        |
        |from customer
        |join seg_stats [c_mktsegment]
        |filter c_acctbal > avg_bal
        |group c_mktsegment (aggregate [n_above = count])
        |sort c_mktsegment""".stripMargin,
      """WITH seg_stats AS (
        |  SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) AS avg_bal
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT customer.c_mktsegment AS c_mktsegment, count(*) AS n_above
        |FROM customer JOIN seg_stats USING (c_mktsegment)
        |WHERE c_acctbal > avg_bal
        |GROUP BY customer.c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    ("q28_interval",
      """from lineitem
        |derive due = l_shipdate + 30days
        |filter due > @1998-06-01
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]
        |select [l_orderkey, l_linenumber, due]""".stripMargin,
      """SELECT l_orderkey, l_linenumber, due FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         l_shipdate + INTERVAL 30 DAY AS due FROM lineitem)
        |WHERE due > TIMESTAMP '1998-06-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    ("q29_window_toplevel",
      """from nation
        |sort n_nationkey
        |derive [prev_name = lag 1 n_name]
        |select [n_nationkey, n_name, prev_name]
        |sort n_nationkey""".stripMargin,
      """SELECT n_nationkey, n_name,
        |  LAG(n_name, 1) OVER (ORDER BY n_nationkey) AS prev_name
        |FROM nation ORDER BY n_nationkey""".stripMargin),

    ("q30_stddev",
      """from lineitem
        |group l_returnflag (
        |  aggregate [
        |    sd_qty = (round (stddev l_quantity) 4),
        |    sd_price = (round (stddev l_extendedprice) 2),
        |  ]
        |)
        |sort l_returnflag""".stripMargin,
      """SELECT l_returnflag, ROUND(STDDEV(l_quantity), 4) AS sd_qty,
        |  ROUND(STDDEV(l_extendedprice), 2) AS sd_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    ("q31_last",
      """from orders
        |group o_custkey (
        |  sort [o_orderdate, o_orderkey]
        |  window rows:.. (
        |    derive [last_price = last 1 o_totalprice]
        |  )
        |)
        |select [o_custkey, o_orderkey, last_price]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey,
        |  LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q32_window_rows",
      """from orders
        |group o_custkey (
        |  sort [o_orderdate, o_orderkey]
        |  window rows:-2..0 (
        |    derive [r3 = ((sum (o_totalprice | as `decimal(18,2)`)) | as double)]
        |  )
        |)
        |select [o_custkey, o_orderkey, r3]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS r3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q33_window_range",
      """from orders
        |group o_custkey (
        |  sort o_orderkey
        |  window range:-1000..0 (
        |    derive [n_near = count]
        |  )
        |)
        |select [o_custkey, o_orderkey, n_near]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_near
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q34_take_open",
      """from orders
        |sort [-o_totalprice, o_orderkey]
        |take 550..
        |select [o_orderkey, o_totalprice]""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey OFFSET 549""".stripMargin),

    ("q35_func_default",
      """func add_tax rate:0.08 x -> x * (1 + rate)
        |
        |from lineitem
        |derive [t_dflt = (l_extendedprice | add_tax),
        |        t_big = (l_extendedprice | add_tax rate:0.2)]
        |select [l_orderkey, l_linenumber, t_dflt, t_big]
        |sort [l_orderkey, l_linenumber, l_partkey, l_suppkey]
        |take 200""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 + CAST(0.08 AS DOUBLE)) AS t_dflt,
        |  l_extendedprice * (1 + CAST(0.2 AS DOUBLE)) AS t_big
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
        |LIMIT 200""".stripMargin),

    ("q36_not",
      """from orders
        |filter !(o_orderstatus == "O")
        |group o_orderstatus (aggregate [n = count])
        |sort o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE NOT (o_orderstatus = 'O')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    ("q37_literal_pipeline",
      """derive [x = 5, y = 10 - 4 + 1, z = 20 / 4 * 5]""".stripMargin,
      // y and z lock left-associativity: right-nesting would give 5 and 1.0
      """SELECT CAST(5 AS BIGINT) AS x, CAST(10 - 4 + 1 AS BIGINT) AS y,
        |  CAST(20 AS DOUBLE) / 4 * 5 AS z""".stripMargin),

    ("q38_distinct_subset",
      """from customer
        |select [c_nationkey, c_mktsegment, c_custkey]
        |group c_nationkey (take 1)
        |sort [c_nationkey, c_mktsegment, c_custkey]""".stripMargin,
      // group keys ⊂ frame columns: the reference still emits SELECT DISTINCT
      // over the WHOLE frame (distinct.rs:33-40), not one row per key
      """SELECT DISTINCT c_nationkey, c_mktsegment, c_custkey FROM customer
        |ORDER BY c_nationkey, c_mktsegment, c_custkey""".stripMargin),

    ("q39_header_time_sstr",
      """prql dialect:ansi version:1
        |
        |from orders
        |derive [t = @08:30,
        |        d_since = s"CAST(datediff(o_orderdate, {@1995-01-01}) AS INT)"]
        |select [o_orderkey, t, d_since]
        |sort o_orderkey
        |take 100""".stripMargin,
      """SELECT o_orderkey, '08:30' AS t,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS d_since
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),

    ("q40_join_alias_qualified",
      """from o = orders
        |join c = customer [o.o_custkey == c.c_custkey]
        |group [c.c_mktsegment] (
        |  aggregate [n = count, key_sum = ((sum o_custkey) | as bigint)]
        |)
        |sort c_mktsegment""".stripMargin,
      """SELECT c_mktsegment, count(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS key_sum
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    ("q41_select_wildcard",
      """from nation
        |join r = region [n_regionkey == r_regionkey]
        |select [nation.*, r_name]
        |sort n_nationkey""".stripMargin,
      """SELECT nation.*, r_name
        |FROM nation JOIN region r ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin),

    ("q42_derive_shadow",
      """from supplier
        |derive s_acctbal = s_acctbal * 2
        |select [s_suppkey, s_acctbal, nk2 = s_nationkey]
        |select [s_suppkey, s_acctbal, nk2 = nk2 + 1]
        |sort s_suppkey""".stripMargin,
      // derive/select assigns with an existing name REPLACE the frame column
      // (frame.rs:28-43)
      """SELECT s_suppkey, s_acctbal * 2 AS s_acctbal, s_nationkey + 1 AS nk2
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    ("q43_sstring_interp",
      """from orders
        |derive [tag = s"upper({f"x{o_orderkey}"})",
        |        nxt = s"CAST(datediff({o_orderdate + 1day}, o_orderdate) AS INT)"]
        |select [o_orderkey, tag, nxt]
        |sort o_orderkey
        |take 50""".stripMargin,
      // s-strings interpolating f-strings and interval arithmetic
      """SELECT o_orderkey, upper('x' || CAST(o_orderkey AS VARCHAR)) AS tag,
        |  CAST(date_diff('day', o_orderdate, o_orderdate + INTERVAL 1 DAY) AS INT) AS nxt
        |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin),

    ("q44_agg_exact_ints",
      """from orders
        |group o_orderstatus (
        |  aggregate [
        |    key_sum = ((sum o_custkey) | as bigint),
        |    d_min = min o_orderdate,
        |    d_max = max o_orderdate,
        |    n = count,
        |  ]
        |)
        |sort o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, CAST(SUM(o_custkey) AS BIGINT) AS key_sum,
        |  MIN(o_orderdate) AS d_min, MAX(o_orderdate) AS d_max, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    ("q45_bool_precedence",
      // flat or/and chain: AND must bind tighter than OR (the reference
      // renders unparenthesized SQL that every engine parses this way)
      """from orders
        |filter o_orderstatus == "P" or o_orderstatus == "F" and o_totalprice > 200000
        |group o_orderstatus (aggregate [n = count])
        |sort o_orderstatus""".stripMargin,
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'P' OR o_orderstatus = 'F' AND o_totalprice > 200000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    ("q46_sort_derive_agg",
      // an aggregate over an ambient sort with NO explicit `window` frame is
      // a FULL-partition total, not a running sum: the auto-wrap carries
      // (Rows, unbounded..unbounded), which survives frame elision when
      // sorted (name_resolver.rs wrap_into_windowed + translator.rs:600-617)
      """from supplier
        |sort s_suppkey
        |derive [tot = ((sum (s_acctbal | as `decimal(18,2)`)) | as double)]
        |select [s_suppkey, s_acctbal, tot]""".stripMargin,
      """SELECT s_suppkey, s_acctbal,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) OVER (ORDER BY s_suppkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE) AS tot
        |FROM supplier ORDER BY s_suppkey""".stripMargin),

    ("q47_group_sort_derive_agg",
      // the grouped variant of q46, plus `last` (frame-sensitive): per-group
      // totals and the group's LAST value — not running aggregates
      """from orders
        |group o_custkey (
        |  sort [o_orderdate, o_orderkey]
        |  derive [
        |    grp_spend = ((sum (o_totalprice | as `decimal(18,2)`)) | as double),
        |    last_price = last 1 o_totalprice,
        |  ]
        |)
        |select [o_custkey, o_orderkey, grp_spend, last_price]
        |sort [o_custkey, o_orderkey]""".stripMargin,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS grp_spend,
        |  LAST_VALUE(o_totalprice) OVER w AS last_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    ("q48_join_using_full",
      // USING on an outer join: the deduped key column is COALESCE(l, r)
      // (SQL-standard USING provenance — SURVEY §7.4 "needs care"); rows
      // unique to either side keep a non-null key
      """table big_cust = (
        |  from customer
        |  filter c_acctbal > 9000
        |  derive custkey = c_custkey
        |)
        |
        |table big_ord = (
        |  from orders
        |  filter o_totalprice > 350000
        |  derive custkey = o_custkey
        |)
        |
        |from big_ord
        |join side:full big_cust [custkey]
        |select [custkey, okey = o_orderkey ?? -1, bal = c_acctbal ?? -1.0]
        |sort [custkey, okey]""".stripMargin,
      """WITH big_cust AS (
        |  SELECT *, c_custkey AS custkey FROM customer WHERE c_acctbal > 9000),
        |     big_ord AS (
        |  SELECT *, o_custkey AS custkey FROM orders WHERE o_totalprice > 350000)
        |SELECT custkey,
        |       COALESCE(o_orderkey, -1) AS okey,
        |       COALESCE(c_acctbal, CAST(-1.0 AS DOUBLE)) AS bal
        |FROM big_ord FULL JOIN big_cust USING (custkey)
        |ORDER BY custkey, okey""".stripMargin),
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Graft.compileDir(prqlQueries.find(_._1 == "q05_group_agg").get._2,
      spark, "/root/testdata/sf0.001")

  /** name → PRQL source of every corpus query (SqlBackendSpec runs each
    * through BOTH backends — DataFrame fold and toSparkSql — and compares). */
  private[graft] def prqlTexts: Seq[(String, String)] =
    prqlQueries.map { case (name, prql, _) => (name, prql) }

  /** SURPLUS `join_asof` transform (SURVEY §2.10 surplus — the reference
    * has no as-of join; VERDICT r8 stretch #8): p34's tagged-union shape
    * behind the language surface. Listed OUTSIDE prqlQueries because the
    * SQL-text backend refuses it by design (schema-dependent union —
    * SqlGen's named error), so SqlBackendSpec must not run it. */
  private[graft] val asofPrql =
    """table clicks = (
      |  from events
      |  filter event_type == "click"
      |  select [event_id, user_id, ts]
      |)
      |
      |table views = (
      |  from events
      |  filter event_type == "view"
      |  select [event_id, user_id, ts]
      |)
      |
      |from clicks
      |join_asof views [user_id] on:ts tie:event_id
      |select [
      |  click_id = event_id,
      |  user_id,
      |  view_id = views_event_id,
      |  lag_us = s"CAST(unix_micros(ts) - unix_micros(views_ts) AS BIGINT)",
      |]
      |sort click_id""".stripMargin

  private val asofOracle =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL),
      |u AS (
      |  SELECT user_id, epoch_us(ts) AS ord, event_id AS tie, 1 AS il,
      |         event_id, epoch_us(ts) AS tus, NULL AS r_event_id, NULL AS r_tus
      |  FROM clicks
      |  UNION ALL
      |  SELECT user_id, epoch_us(ts), event_id, 0, NULL, NULL, event_id, epoch_us(ts)
      |  FROM views),
      |m AS (
      |  SELECT user_id, il, event_id, tus,
      |    last_value(r_event_id IGNORE NULLS) OVER w AS mv,
      |    last_value(r_tus IGNORE NULLS) OVER w AS mt
      |  FROM u WINDOW w AS (
      |    -- NULLS FIRST pins DuckDB to Spark's ASC default: a null-ord
      |    -- left row must sort before every view and match nothing
      |    PARTITION BY user_id ORDER BY ord NULLS FIRST, il, tie
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS click_id, user_id, CAST(mv AS BIGINT) AS view_id,
      |  CAST(tus - mt AS BIGINT) AS lag_us
      |FROM m WHERE il = 1 ORDER BY click_id""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    prqlQueries.map { case (name, prql, _) =>
      name -> ((s: SparkSession, dir: String) => Graft.compileDir(prql, s, dir))
    }.toMap ++ pipeline.PipelineOps.queries +
      ("q49_asof_transform" -> ((s: SparkSession, dir: String) =>
        Graft.compileDir(asofPrql, s, dir)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracleSqlFor(pipeline.PipelineOps.OracleEmbeddingsN)

  /** [[oracleSql]] for a corpus of `embeddingsN` embeddings
    * (`PipelineOps.oracleSqlFor`); `oracleSql` is the gate scale's. */
  def oracleSqlFor(embeddingsN: Long): Map[String, String] =
    prqlQueries.map { case (name, _, sql) => name -> sql }.toMap ++
      pipeline.PipelineOps.oracleSqlFor(embeddingsN) +
      ("q49_asof_transform" -> asofOracle)
}
