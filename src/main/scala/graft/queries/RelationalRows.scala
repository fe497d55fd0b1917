package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational analytics over the TPC-H star schema: the TPC-H queries,
  * join strategies, profiling and dimension history. */
private[queries] object RelationalRows {

  val specs: Seq[QuerySpec] = Seq(
    // TPC-H Q13: customer order-count distribution (left outer join
    // keeps zero-order customers in the c_count=0 bucket).
    QuerySpec("tpch_q13_custdist", (s, d) =>
      RelationalAnalytics.customerOrderDistribution(
        table(s, d, "customer"), table(s, d, "orders")),
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // Join-skew diagnostics: distinct keys, heaviest keys (bounded
    // top-k aggregate), and the max/avg frequency ratio that predicts
    // whether the next join on this key needs salting.
    QuerySpec("skew_diagnostics", (s, d) =>
      RelationalAnalytics.skewDiagnostics(table(s, d, "orders"),
        "o_custkey", k = 10),
      """WITH freq AS (
        |  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |top AS (SELECT key, cnt FROM freq ORDER BY cnt DESC, key LIMIT 10)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM freq) AS n_keys,
        |       (SELECT CAST(sum(cnt) AS BIGINT) FROM freq) AS n_rows,
        |       (SELECT CAST(max(cnt) AS BIGINT) FROM freq) AS max_freq,
        |       (SELECT CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE) /
        |               CAST(sum(cnt) AS DOUBLE) FROM freq) AS skew_ratio,
        |       (SELECT string_agg(CAST(key AS VARCHAR), ','
        |                          ORDER BY cnt DESC, key) FROM top) AS top_keys""".stripMargin),
    // Window ranking: top-3 longest docs per language.
    QuerySpec("top_docs_per_lang", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
      table(s, d, "documents")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("lang", "doc_id", "n_chars", "rnk")
        .orderBy("lang", "rnk")
    },
      """SELECT lang, doc_id, n_chars, rnk FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin),
    // Set operations: EXCEPT and INTERSECT over filtered id sets.
    QuerySpec("docs_setops", (s, d) => {
      val docs = table(s, d, "documents")
      val en = docs.filter(col("lang") === "en").select("doc_id")
      val longDocs = docs.filter(size(split(col("text"), " ")) >= 60).select("doc_id")
      en.except(longDocs).withColumn("op", lit("except"))
        .unionByName(en.intersect(longDocs).withColumn("op", lit("intersect")))
        .orderBy("op", "doc_id")
    },
      """SELECT doc_id, 'except' AS op FROM (
        |  SELECT doc_id FROM documents WHERE lang = 'en'
        |  EXCEPT
        |  SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) >= 60)
        |UNION ALL
        |SELECT doc_id, 'intersect' AS op FROM (
        |  SELECT doc_id FROM documents WHERE lang = 'en'
        |  INTERSECT
        |  SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) >= 60)
        |ORDER BY op, doc_id""".stripMargin),
    // Hierarchical aggregation: ROLLUP(lang, source).
    QuerySpec("lang_source_rollup", (s, d) =>
      table(s, d, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first),
      """SELECT lang, source, count(*) AS n_docs FROM documents
        |GROUP BY ROLLUP(lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin),
    QuerySpec("tpch_q1_pricing", (s, d) =>
      RelationalAnalytics.pricingSummary(table(s, d, "lineitem"), "2000-09-01"),
      // Shared revenue expression: per-row double product (bit-identical
      // across engines), exact DECIMAL(18,6) sum, one final double cast —
      // mirrors RelationalAnalytics.decSum.
      """SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
        |       sum_disc_price, sum_charge, count_order,
        |       round(sum_qty / count_order, 4) AS avg_qty,
        |       round(sum_base_price / count_order, 4) AS avg_price
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |         count(*) AS count_order
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2000-09-01'
        |  GROUP BY l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      // sweep drifted 1.3–1.5× in the r7→r8 suite growth; isolated held
      isolate = true),
    QuerySpec("tpch_q3_top_orders", (s, d) =>
      RelationalAnalytics.topRevenueOrders(
        table(s, d, "customer"), table(s, d, "orders"), table(s, d, "lineitem"),
        segment = "BUILDING", cutoff = "1996-03-15", k = 10),
      """SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderdate < TIMESTAMP '1996-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY rev DESC, o.o_orderkey
        |LIMIT 10""".stripMargin),
    // TPC-H Q18 shape: the IN-(HAVING) subquery computed ONCE and
    // reused as the probe side — one lineitem scan, AQE-broadcast
    // detail joins, exact decimal quantity sums.
    QuerySpec("tpch_q18_large_orders", (s, d) =>
      RelationalAnalytics.largeVolumeCustomers(
        table(s, d, "customer"), table(s, d, "orders"),
        table(s, d, "lineitem"), minTotalQty = 150.0, k = 100),
      // The classic Q18 formulation (IN + HAVING subquery) — the engine
      // side must be plan-better but answer-identical.
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |           AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150.0)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |       o.o_totalprice, b.total_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin),
    QuerySpec("tpch_q5_region_volume", (s, d) =>
      RelationalAnalytics.regionalSupplierVolume(
        table(s, d, "region"), table(s, d, "nation"), table(s, d, "customer"),
        table(s, d, "supplier"), table(s, d, "orders"), table(s, d, "lineitem"),
        regionName = "ASIA", yearStart = "1996-01-01", yearEnd = "1997-01-01"),
      """SELECT n.n_name,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM orders o
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name
        |ORDER BY rev DESC, n.n_name""".stripMargin),
    QuerySpec("cust_no_orders_anti", (s, d) =>
      RelationalAnalytics.customersWithoutOrders(
        table(s, d, "customer"), table(s, d, "orders"),
        from = "1995-01-01", until = "1995-03-01"),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1995-03-01')
        |ORDER BY c_custkey""".stripMargin),
    QuerySpec("order_priority_semi", (s, d) =>
      RelationalAnalytics.bulkOrderPriorities(
        table(s, d, "orders"), table(s, d, "lineitem"), minQty = 45),
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QuerySpec("segment_status_cube", (s, d) =>
      RelationalAnalytics.segmentStatusCube(
        table(s, d, "customer"), table(s, d, "orders")),
      """SELECT c.c_mktsegment, o.o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY CUBE(c.c_mktsegment, o.o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    QuerySpec("top_parts_per_brand", (s, d) =>
      RelationalAnalytics.topPartsPerBrand(
        table(s, d, "part"), table(s, d, "lineitem"), k = 3),
      """SELECT p_brand, rnk, p_partkey, p_name, rev FROM (
        |  SELECT p_brand, p_partkey, p_name, rev,
        |         row_number() OVER (PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS rnk
        |  FROM (
        |    SELECT p.p_brand, p.p_partkey, p.p_name,
        |           CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |    GROUP BY p.p_brand, p.p_partkey, p.p_name))
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin),
    // FD-discovery card (Papenbrock-style, cardinality algebra): does
    // each LHS value determine one RHS? One check that holds (unique
    // key) and two that fail with exact violation counts.
    QuerySpec("profile_fds", (s, d) => {
      val fd = graft.operators.Profiling.functionalDependency _
      fd(table(s, d, "orders"), "orders", "o_orderkey", "o_orderpriority")
        .unionByName(fd(table(s, d, "lineitem"), "lineitem",
          "l_orderkey", "l_returnflag"))
        .unionByName(fd(table(s, d, "part"), "part", "p_brand", "p_type"))
        .orderBy("relation", "dependency")
    },
      """WITH checks AS (
        |  SELECT 'orders' AS relation,
        |         'o_orderkey -> o_orderpriority' AS dependency,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_lhs,
        |         CAST(count(DISTINCT (o_orderkey, o_orderpriority)) AS BIGINT)
        |           AS n_pairs
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey -> l_returnflag',
        |         CAST(count(DISTINCT l_orderkey) AS BIGINT),
        |         CAST(count(DISTINCT (l_orderkey, l_returnflag)) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'part', 'p_brand -> p_type',
        |         CAST(count(DISTINCT p_brand) AS BIGINT),
        |         CAST(count(DISTINCT (p_brand, p_type)) AS BIGINT)
        |  FROM part)
        |SELECT relation, dependency, n_lhs, n_pairs,
        |       n_pairs = n_lhs AS holds,
        |       n_pairs - n_lhs AS n_violating_keys
        |FROM checks ORDER BY relation, dependency""".stripMargin),
    // Referential-integrity card: orphan fact rows vanish silently
    // from inner joins — count them per FK edge of the star schema.
    QuerySpec("profile_ri", (s, d) => {
      val ri = graft.operators.Profiling.referentialIntegrity _
      ri(table(s, d, "orders"), "o_custkey",
        table(s, d, "customer"), "c_custkey", "orders->customer")
        .unionByName(ri(table(s, d, "lineitem"), "l_orderkey",
          table(s, d, "orders"), "o_orderkey", "lineitem->orders"))
        .unionByName(ri(table(s, d, "lineitem"), "l_partkey",
          table(s, d, "part"), "p_partkey", "lineitem->part"))
        .orderBy("relation")
    },
      """WITH checks AS (
        |  SELECT 'orders->customer' AS relation,
        |         CAST((SELECT count(*) FROM orders
        |               WHERE o_custkey IS NOT NULL) AS BIGINT) AS n_child_rows,
        |         CAST((SELECT count(*) FROM orders
        |               WHERE o_custkey IS NOT NULL
        |                 AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |              AS BIGINT) AS n_orphan_rows,
        |         CAST((SELECT count(DISTINCT o_custkey) FROM orders
        |               WHERE o_custkey IS NOT NULL
        |                 AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |              AS BIGINT) AS n_orphan_keys
        |  UNION ALL
        |  SELECT 'lineitem->orders',
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_orderkey IS NOT NULL) AS BIGINT),
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_orderkey IS NOT NULL
        |                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |              AS BIGINT),
        |         CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem
        |               WHERE l_orderkey IS NOT NULL
        |                 AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |              AS BIGINT)
        |  UNION ALL
        |  SELECT 'lineitem->part',
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_partkey IS NOT NULL) AS BIGINT),
        |         CAST((SELECT count(*) FROM lineitem
        |               WHERE l_partkey IS NOT NULL
        |                 AND l_partkey NOT IN (SELECT p_partkey FROM part))
        |              AS BIGINT),
        |         CAST((SELECT count(DISTINCT l_partkey) FROM lineitem
        |               WHERE l_partkey IS NOT NULL
        |                 AND l_partkey NOT IN (SELECT p_partkey FROM part))
        |              AS BIGINT))
        |SELECT relation, n_child_rows, n_orphan_rows, n_orphan_keys,
        |       n_orphan_rows = 0 AS intact
        |FROM checks ORDER BY relation""".stripMargin),
    // TPC-H Q7: bilateral nation-pair trade volume by ship year —
    // both nation maps broadcast, facts join on keys only.
    QuerySpec("tpch_q7_volume_shipping", (s, d) =>
      RelationalAnalytics.volumeShipping(
        table(s, d, "nation"), table(s, d, "customer"),
        table(s, d, "supplier"), table(s, d, "orders"),
        table(s, d, "lineitem"), "NATION_3", "NATION_7",
        from = "1996-01-01", until = "1998-01-01"),
      """WITH cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7')),
        |sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7'))
        |SELECT sn.supp_nation, cn.cust_nation,
        |       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN cn ON o.o_custkey = cn.c_custkey
        |JOIN sn ON l.l_suppkey = sn.s_suppkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.supp_nation = 'NATION_3' AND cn.cust_nation = 'NATION_7')
        |    OR (sn.supp_nation = 'NATION_7' AND cn.cust_nation = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // TPC-H Q8: one nation's market share of a region's PROMO-part
    // spend by order year — exact DECIMAL sums, one rounded division.
    QuerySpec("tpch_q8_market_share", (s, d) =>
      RelationalAnalytics.marketShare(
        table(s, d, "region"), table(s, d, "nation"),
        table(s, d, "customer"), table(s, d, "supplier"),
        table(s, d, "orders"), table(s, d, "lineitem"),
        table(s, d, "part"), regionName = "ASIA", partType = "PROMO",
        targetNation = "NATION_5",
        from = "1996-01-01", until = "1998-01-01"),
      """WITH base AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |         CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |              AS DECIMAL(18,6)) AS rev,
        |         CAST(CASE WHEN sn.n_name = 'NATION_5'
        |                   THEN l.l_extendedprice * (1.0 - l.l_discount)
        |                   ELSE 0.0 END AS DECIMAL(18,6)) AS nrev
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cnn ON c.c_nationkey = cnn.n_nationkey
        |  JOIN region r ON cnn.n_regionkey = r.r_regionkey
        |                AND r.r_name = 'ASIA'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |       round(CAST(sum(nrev) AS DOUBLE) / CAST(sum(rev) AS DOUBLE), 6)
        |         AS mkt_share,
        |       round(CAST(sum(rev) AS DOUBLE), 6) AS total_rev
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q14: promotion share of one month's revenue.
    QuerySpec("tpch_q14_promo", (s, d) =>
      RelationalAnalytics.promoRevenue(
        table(s, d, "lineitem"), table(s, d, "part"),
        from = "1996-03-01", until = "1996-04-01"),
      """SELECT round(CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
        |                     THEN l.l_extendedprice * (1.0 - l.l_discount)
        |                     ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        |             * 100.0 /
        |             CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |                           AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS promo_pct,
        |       round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |                           AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS total_rev
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l.l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),
    // TPC-H Q15: supplier(s) at the quarter's max revenue (ties all
    // surface) — one aggregate + a 1-row max broadcast.
    QuerySpec("tpch_q15_top_supplier", (s, d) =>
      RelationalAnalytics.topSupplier(
        table(s, d, "supplier"), table(s, d, "lineitem"),
        from = "1996-01-01", until = "1996-04-01"),
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |                       AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS m FROM rev)
        |SELECT s.s_suppkey, s.s_name,
        |       round(r.total_revenue, 6) AS total_revenue
        |FROM rev r, mx, supplier s
        |WHERE r.total_revenue = mx.m AND s.s_suppkey = r.supplier_no
        |ORDER BY s.s_suppkey""".stripMargin),
    // TPC-H Q17: revenue lost to small-quantity orders of one brand's
    // small parts; the 20%-of-average filter is exact
    // cross-multiplication, no division in the comparison.
    QuerySpec("tpch_q17_small_qty", (s, d) =>
      RelationalAnalytics.smallQuantityRevenue(
        table(s, d, "lineitem"), table(s, d, "part"),
        brand = "Brand#3", sizeCap = 15),
      """WITH pp AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#3' AND p_size <= 15),
        |li AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey),
        |aq AS (
        |  SELECT l_partkey AS pk,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM li GROUP BY 1)
        |SELECT round(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,6)))
        |                  AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM li JOIN aq ON li.l_partkey = aq.pk
        |WHERE CAST(li.l_quantity AS DECIMAL(18,6)) * 5 * aq.n < aq.sq""".stripMargin),
    // TPC-H Q22 (adapted — nation stands in for the phone country
    // code this schema lacks): rich inactive customers per nation;
    // scalar-average broadcast + anti join + group count.
    QuerySpec("tpch_q22_global_sales", (s, d) =>
      RelationalAnalytics.globalSalesOpportunity(
        table(s, d, "customer"), table(s, d, "orders"),
        table(s, d, "nation"),
        from = "1996-01-01", until = "1998-01-01"),
      """WITH a AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS s,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE c_acctbal > 0.0),
        |el AS (
        |  SELECT c.c_custkey, c.c_acctbal, c.c_nationkey
        |  FROM customer c, a
        |  WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * a.n > a.s),
        |noord AS (
        |  SELECT el.* FROM el
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = el.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |      AND o.o_orderdate < TIMESTAMP '1998-01-01'))
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS totacctbal
        |FROM noord JOIN nation n ON noord.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),
    // Pre-flight join-size profile: exact per-key pair cardinality of
    // a planned orders ⋈ lineitem join on a deliberately skewed key
    // (residues 9..19 collapse onto 9, so one key is quadratically
    // hot) — the salt/plain planning card, from two key-count
    // aggregates; the fact tables never join.
    QuerySpec("join_size_profile", (s, d) =>
      RelationalAnalytics.joinSizeProfile(
        table(s, d, "orders")
          .select(expr("least(o_orderkey % 20, 9)").as("key")), "key",
        table(s, d, "lineitem")
          .select(expr("least(l_orderkey % 20, 9)").as("key")), "key",
        k = 10),
      """WITH lc AS (
        |  SELECT least(o_orderkey % 20, 9) AS key, count(*) AS cnt_left
        |  FROM orders GROUP BY 1),
        |rc AS (
        |  SELECT least(l_orderkey % 20, 9) AS key, count(*) AS cnt_right
        |  FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT key, cnt_left, cnt_right,
        |         CAST(cnt_left AS DECIMAL(38,0)) * cnt_right AS pd
        |  FROM lc JOIN rc USING (key)),
        |t AS (SELECT sum(pd) AS tot FROM p),
        |-- DECIMAL // degrades to DOUBLE in this engine; HUGEINT
        |-- division is the exact integral quotient Spark's div takes
        |s AS (
        |  SELECT key, cnt_left, cnt_right, pd,
        |         CAST(CAST(1000000 * pd AS HUGEINT) //
        |              CAST(tot AS HUGEINT) AS BIGINT) AS share_micro
        |  FROM p, t)
        |SELECT key, CAST(cnt_left AS BIGINT) AS cnt_left,
        |       CAST(cnt_right AS BIGINT) AS cnt_right,
        |       CAST(pd AS VARCHAR) AS pair_rows,
        |       share_micro,
        |       CASE WHEN share_micro > 200000
        |            THEN 'salt' ELSE 'plain' END AS verdict
        |FROM s ORDER BY share_micro DESC, key LIMIT 10""".stripMargin),
    // TPC-H Q2 (adapted — the part-supplier catalog is derived from
    // lineitem, supply cost = min observed extendedprice): for each
    // STANDARD part of size ≤ 20, the EUROPE supplier(s) at the
    // part's regional minimum cost. Correlated-min via aggregate +
    // broadcast join-back; total-order top-100.
    QuerySpec("tpch_q2_min_cost_supp", (s, d) =>
      RelationalAnalytics.minCostSupplier(
        table(s, d, "region"), table(s, d, "nation"),
        table(s, d, "supplier"), table(s, d, "part"),
        table(s, d, "lineitem"), regionName = "EUROPE",
        partType = "STANDARD", sizeCap = 20, k = 100),
      """WITH rn AS (
        |  SELECT n_nationkey, n_name FROM nation
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |sp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |  JOIN rn ON s_nationkey = n_nationkey),
        |pp AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_type = 'STANDARD' AND p_size <= 20),
        |cat AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
        |  FROM lineitem
        |  JOIN pp ON l_partkey = p_partkey
        |  JOIN sp ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS pk, min(supply_cost) AS m FROM cat GROUP BY 1)
        |SELECT s.s_acctbal, s.s_name, s.n_name,
        |       c.l_partkey AS p_partkey,
        |       round(c.supply_cost, 6) AS supply_cost
        |FROM cat c
        |JOIN mc ON c.l_partkey = mc.pk AND c.supply_cost = mc.m
        |JOIN sp s ON c.l_suppkey = s.s_suppkey
        |ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, p_partkey
        |LIMIT 100""".stripMargin),
    // TPC-H Q4 (adapted — late = shipped >60d after order date):
    // orders in a quarter with at least one late line, by priority.
    // The EXISTS predicate references both sides, so it stays a
    // conditioned semi join, never a key-only one.
    QuerySpec("tpch_q4_priority_check", (s, d) =>
      RelationalAnalytics.orderPriorityCheck(
        table(s, d, "orders"), table(s, d, "lineitem"),
        from = "1996-01-01", until = "1996-04-01", lateDays = 60),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q9 (adapted — unit supply cost proxied as 10% of
    // p_retailprice): profit on 'red' parts by supplier nation and
    // order year; the five-table join pyramid with a negative-capable
    // measure, exact decimal sums.
    QuerySpec("tpch_q9_product_profit", (s, d) =>
      RelationalAnalytics.productTypeProfit(
        table(s, d, "nation"), table(s, d, "supplier"),
        table(s, d, "part"), table(s, d, "orders"),
        table(s, d, "lineitem"), nameContains = "red"),
      """SELECT n.n_name AS nation,
        |       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |       round(CAST(sum(CAST(
        |         l.l_extendedprice * (1.0 - l.l_discount)
        |           - p.p_retailprice * l.l_quantity * 0.1
        |         AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |            AND p.p_name LIKE '%red%'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin),
    // TPC-H Q11 (adapted — part value = exact decimal sum of the
    // nation's lineitem extendedprice): parts above 1/800 of the
    // nation total; scalar-subquery threshold as an exact
    // cross-multiplied comparison against a 1-row broadcast.
    QuerySpec("tpch_q11_important_parts", (s, d) =>
      RelationalAnalytics.importantParts(
        table(s, d, "nation"), table(s, d, "supplier"),
        table(s, d, "lineitem"), nationName = "NATION_3",
        fracDen = 800),
      """WITH sp AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |              AND n_name = 'NATION_3'),
        |v AS (
        |  SELECT l_partkey AS ps_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
        |  FROM lineitem JOIN sp ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |t AS (SELECT sum(val) AS tot FROM v)
        |SELECT ps_partkey, round(CAST(val AS DOUBLE), 6) AS value
        |FROM v, t WHERE val * 800 > tot
        |ORDER BY value DESC, ps_partkey""".stripMargin),
    // TPC-H Q12 (adapted — shipmode derived from l_linenumber mod 3,
    // late = the shipdate-lag proxy): urgent vs other late lines per
    // mode over one ship year.
    QuerySpec("tpch_q12_shipmode", (s, d) =>
      RelationalAnalytics.shipmodePriority(
        table(s, d, "orders"), table(s, d, "lineitem"),
        from = "1996-01-01", until = "1997-01-01", lateDays = 60),
      """SELECT CASE WHEN l.l_linenumber % 3 = 0 THEN 'MAIL'
        |            WHEN l.l_linenumber % 3 = 1 THEN 'SHIP'
        |            ELSE 'RAIL' END AS shipmode,
        |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q16 (adapted — partsupp = distinct fact-table pairs,
    // complaints = negative balance): distinct-supplier counts per
    // (brand, type, size) over the qualifying part grid.
    QuerySpec("tpch_q16_supplier_counts", (s, d) =>
      RelationalAnalytics.partSupplierCounts(
        table(s, d, "part"), table(s, d, "supplier"),
        table(s, d, "lineitem"), excludeBrand = "Brand#5",
        excludeType = "PROMO", sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)),
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ok AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0.0)
        |SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        |       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps
        |JOIN part p ON ps.l_partkey = p.p_partkey
        |JOIN ok ON ps.l_suppkey = ok.s_suppkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, 1, 2, 3""".stripMargin),
    // TPC-H Q20 (adapted — availability = all-time shipped quantity):
    // suppliers of 'blue' parts whose 1996 shipments exceed half
    // their all-time quantity, in three nations; nested aggregate +
    // exact half-test + distinct semi join up the dimensions.
    QuerySpec("tpch_q20_promotable_supp", (s, d) =>
      RelationalAnalytics.promotablePartSuppliers(
        table(s, d, "nation"), table(s, d, "supplier"),
        table(s, d, "part"), table(s, d, "lineitem"),
        namePrefix = "blue",
        nationNames = Seq("NATION_3", "NATION_8", "NATION_12"),
        from = "1996-01-01", until = "1997-01-01"),
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'),
        |q AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS total_qty,
        |         sum(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |                        AND l_shipdate < TIMESTAMP '1997-01-01'
        |                       THEN l_quantity ELSE 0.0 END
        |             AS DECIMAL(18,6))) AS window_qty
        |  FROM lineitem JOIN pp ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |hot AS (SELECT DISTINCT l_suppkey FROM q
        |        WHERE window_qty * 2 > total_qty)
        |SELECT s.s_name
        |FROM hot
        |JOIN supplier s ON hot.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |              AND n.n_name IN ('NATION_3','NATION_8','NATION_12')
        |ORDER BY s.s_name""".stripMargin),
    // TPC-H Q21 (adapted — late = the shipdate-lag proxy): suppliers
    // in four nations who were the ONLY late supplier on finished
    // multi-supplier orders — the exists/not-exists double
    // correlation collapsed into one per-order aggregate join.
    QuerySpec("tpch_q21_waiting_supp", (s, d) =>
      RelationalAnalytics.waitingSuppliers(
        table(s, d, "nation"), table(s, d, "supplier"),
        table(s, d, "orders"), table(s, d, "lineitem"),
        nationNames = Seq("NATION_3", "NATION_8", "NATION_12", "NATION_13"),
        lateDays = 60, k = 100),
      """WITH li AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |              THEN 1 ELSE 0 END AS late
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |                AND o.o_orderstatus = 'F'),
        |po AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS supp_cnt,
        |         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
        |           AS late_cnt
        |  FROM li GROUP BY 1),
        |lr AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late = 1)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lr
        |JOIN po ON lr.l_orderkey = po.l_orderkey
        |        AND po.supp_cnt > 1 AND po.late_cnt = 1
        |JOIN supplier s ON lr.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |              AND n.n_name IN ('NATION_3','NATION_8',
        |                                'NATION_12','NATION_13')
        |GROUP BY 1 ORDER BY numwait DESC, s.s_name
        |LIMIT 100""".stripMargin),
    // TPC-H Q19: disjunctive brand × size × quantity bands in ONE
    // scan — the predicate-pushdown-of-ORs query.
    QuerySpec("tpch_q19_disjunct", (s, d) =>
      RelationalAnalytics.discountedRevenue(
        table(s, d, "lineitem"), table(s, d, "part"),
        Seq(("Brand#1", 5, 1L, 11L), ("Brand#2", 10, 10L, 20L),
          ("Brand#3", 15, 20L, 30L))),
      """SELECT CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Skew-salted fact⋈fact join (hot orderkeys split across 4 salt
    // buckets, cold remainder joined plainly) — result must equal the
    // plain join, which is exactly what the oracle checks. The TPC-H
    // data is deliberately unskewed, so hotKeyMinCount is set low
    // purely to push real volume through BOTH the salted and the cold
    // path; production thresholds target only keys hotter than an
    // executor (the bench delta vs the plain join is the price of the
    // detection pass + replication, paid only when skew warrants it).
    // Benford first-digit screen on order totals (exact cents grid):
    // the fabricated-numbers triage — string-first-char digit
    // extraction (no log10 boundary ulps), integral micro shares vs
    // the 6-dp public Benford constants.
    QuerySpec("orders_benford", (s, d) =>
      BenfordAudit.screenCard(
        table(s, d, "orders").select(
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents"),
      // The salted join must produce EXACTLY the plain inner join.
      // First digit replayed as the first character of the exact cents
      // integer; shares as integral micro divisions over the 9-digit
      // grid; the same 6-dp Benford constants.
      """WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND round(o_totalprice * 100) > 0),
        |dg AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM c),
        |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1),
        |ex AS (SELECT * FROM (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |  t(digit, benford_micro)),
        |tot AS (SELECT sum(n) AS t FROM cnt)
        |SELECT CAST(ex.digit AS BIGINT) AS digit,
        |       coalesce(cnt.n, 0) AS n,
        |       CAST(CASE WHEN tot.t > 0
        |            THEN (1000000 * coalesce(cnt.n, 0)) // tot.t
        |            ELSE 0 END AS BIGINT) AS share_micro,
        |       CAST(ex.benford_micro AS BIGINT) AS benford_micro,
        |       CAST(abs(CASE WHEN tot.t > 0
        |            THEN (1000000 * coalesce(cnt.n, 0)) // tot.t
        |            ELSE 0 END - ex.benford_micro) AS BIGINT) AS dev_micro
        |FROM ex LEFT JOIN cnt ON ex.digit = cnt.digit, tot
        |ORDER BY digit""".stripMargin),
    QuerySpec("orders_salted_join", (s, d) => {
      val li = table(s, d, "lineitem")
      val ord = table(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      SkewJoin.saltedInnerJoin(li, ord, "l_orderkey", buckets = 4, hotKeyMinCount = 5L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("rev"))
        .orderBy("o_orderpriority")
    },
      """SELECT o.o_orderpriority, count(*) AS n_lines,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
      // sweep drifted 1.3–1.5× in the r7→r8 suite growth; isolated held
      isolate = true),
    // Bloom-pruned fact⋈dim join: a Bloom filter over the selective dim
    // side's keys drops non-matching fact rows AT THE SCAN (codegen'd
    // probe before the exchange); the exact join removes the false
    // positives, so the result — and the oracle — is the plain join.
    QuerySpec("bloom_join_prune", (s, d) => {
      val urgent = table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      BloomJoin.prunedJoin(table(s, d, "lineitem"), "l_orderkey",
          urgent, "o_orderkey", expectedItems = 200000L, fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("rev"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // Shuffle-free co-located join: both fact tables written bucketed by
    // orderkey (one-time layout cost), then joined with ZERO exchanges —
    // the 100 TB recurring-join pattern. Plan assert in ScalaTest.
    QuerySpec("bucketed_colocated_join", (s, d) => {
      val (liTbl, ordTbl) = bucketedStore(s, d)
      s.table(liTbl)
        .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("rev"))
        .orderBy("o_orderstatus")
    },
      // The bucketed co-located join must produce EXACTLY the plain join.
      """SELECT o.o_orderstatus, count(*) AS n_lines,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),
    // Equi-width value histogram: min/max pass broadcasts, bucketing
    // pass counts — edges emitted as data, counts integer-exact.
    QuerySpec("orders_price_histogram", (s, d) =>
      RelationalAnalytics.equiWidthHistogram(
        table(s, d, "orders"), "o_totalprice", nBuckets = 16),
      """WITH v AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |mm AS (
        |  SELECT min(x) AS v_min, max(x) AS v_max,
        |         CAST(count(*) AS BIGINT) AS n_total FROM v),
        |b AS (
        |  SELECT CAST(CASE WHEN mm.v_max = mm.v_min THEN 0
        |         ELSE least(floor((x - mm.v_min) /
        |                ((mm.v_max - mm.v_min) / 16)), 15) END AS INT)
        |           AS bucket,
        |         mm.v_min, mm.v_max, mm.n_total
        |  FROM v CROSS JOIN mm)
        |SELECT bucket,
        |       round(v_min + bucket * ((v_max - v_min) / 16), 6) AS lo,
        |       round(v_min + (bucket + 1) * ((v_max - v_min) / 16), 6) AS hi,
        |       CAST(count(*) AS BIGINT) AS n, n_total
        |FROM b GROUP BY bucket, v_min, v_max, n_total
        |ORDER BY bucket""".stripMargin),
    // Market-basket frequent pairs: order-bounded self-join (equality
    // on the basket key, a<b on the item), exact support counts,
    // lift from one rounded division.
    QuerySpec("orders_basket_pairs", (s, d) =>
      RelationalAnalytics.basketPairs(table(s, d, "lineitem"),
        minSupport = 2L),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
        |ic AS (SELECT part, CAST(count(*) AS BIGINT) AS n_item
        |       FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.part AS part_a, b.part AS part_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.part_a, p.part_b, p.n_ab,
        |       ia.n_item AS n_a, ib.n_item AS n_b, n.n_orders,
        |       round(p.n_ab * n.n_orders /
        |         CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
        |FROM pairs p
        |JOIN ic ia ON ia.part = p.part_a
        |JOIN ic ib ON ib.part = p.part_b
        |CROSS JOIN n
        |ORDER BY part_a, part_b""".stripMargin),
    // Directional association rules: confidence(a→b) vs (b→a) on the
    // micro grid + an exact-integral lift ranking — the asymmetric
    // signal the symmetric lift card hides.
    QuerySpec("orders_assoc_rules", (s, d) =>
      RelationalAnalytics.assocRules(table(s, d, "lineitem"),
        minSupport = 2L, k = 25)
        .orderBy("rnk"),
      // The same pair relation with HUGEINT confidences/lift and the
      // lift-desc/pair-asc top-k.
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
        |ic AS (SELECT part, CAST(count(*) AS BIGINT) AS n_item
        |       FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.part AS part_a, b.part AS part_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |r AS (
        |  SELECT p.part_a, p.part_b, p.n_ab,
        |         ia.n_item AS n_a, ib.n_item AS n_b,
        |         CAST(CAST(p.n_ab AS HUGEINT) * 1000000 // ia.n_item AS BIGINT)
        |           AS conf_ab_micro,
        |         CAST(CAST(p.n_ab AS HUGEINT) * 1000000 // ib.n_item AS BIGINT)
        |           AS conf_ba_micro,
        |         CAST(CAST(p.n_ab AS HUGEINT) * n.n_orders * 1000000 //
        |              (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT)
        |           AS lift_micro
        |  FROM pairs p
        |  JOIN ic ia ON ia.part = p.part_a
        |  JOIN ic ib ON ib.part = p.part_b
        |  CROSS JOIN n)
        |SELECT part_a, part_b, n_ab, n_a, n_b, conf_ab_micro,
        |       conf_ba_micro, lift_micro,
        |       CAST(row_number() OVER
        |         (ORDER BY lift_micro DESC, part_a, part_b) AS BIGINT) AS rnk
        |FROM r ORDER BY lift_micro DESC, part_a, part_b LIMIT 25""".stripMargin),
    // Cohort retention grid: acquisition month x months-since —
    // integer-exact distinct-active counts over cohort sizes, one
    // 6-dp division.
    QuerySpec("orders_cohort_retention", (s, d) =>
      RelationalAnalytics.cohortRetention(table(s, d, "orders")),
      """WITH om AS (
        |  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS m
        |  FROM orders),
        |cohort AS (SELECT o_custkey, min(m) AS cohort_month FROM om GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_month,
        |         CAST(date_diff('month', c.cohort_month, om.m) AS INT) AS k,
        |         om.o_custkey
        |  FROM om JOIN cohort c USING (o_custkey)),
        |counts AS (
        |  SELECT cohort_month, k,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active
        |  FROM act GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort_month, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM cohort GROUP BY 1)
        |SELECT c.cohort_month, c.k, c.n_active, s.cohort_size,
        |       round(c.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
        |FROM counts c JOIN sizes s USING (cohort_month)
        |ORDER BY cohort_month, k""".stripMargin),
    // RFM segmentation WITHOUT the global-ntile anti-pattern:
    // quartile fences from one exact-percentile aggregate, broadcast
    // back, CASE per score — no unpartitioned window, no global sort.
    QuerySpec("customer_rfm", (s, d) =>
      RelationalAnalytics.rfmSegmentation(
        table(s, d, "orders"), refDate = "2001-09-01")
        .orderBy("o_custkey"),
      // RFM: same exact-percentile fences (quantile_cont == Spark
      // percentile interpolation), same CASE scores, same inversion.
      """WITH per AS (
        |  SELECT o_custkey,
        |         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
        |           DATE '2001-09-01') AS BIGINT) AS r_days,
        |         CAST(count(*) AS BIGINT) AS f_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |           AS m_value
        |  FROM orders GROUP BY 1),
        |q AS (
        |  SELECT quantile_cont(r_days, [0.25, 0.5, 0.75]) AS rq,
        |         quantile_cont(f_orders, [0.25, 0.5, 0.75]) AS fq,
        |         quantile_cont(m_value, [0.25, 0.5, 0.75]) AS mq
        |  FROM per),
        |scored AS (
        |  SELECT o_custkey, r_days, f_orders, m_value,
        |         5 - (CASE WHEN r_days <= rq[1] THEN 1
        |                   WHEN r_days <= rq[2] THEN 2
        |                   WHEN r_days <= rq[3] THEN 3 ELSE 4 END) AS r_score,
        |         CASE WHEN f_orders <= fq[1] THEN 1
        |              WHEN f_orders <= fq[2] THEN 2
        |              WHEN f_orders <= fq[3] THEN 3 ELSE 4 END AS f_score,
        |         CASE WHEN m_value <= mq[1] THEN 1
        |              WHEN m_value <= mq[2] THEN 2
        |              WHEN m_value <= mq[3] THEN 3 ELSE 4 END AS m_score
        |  FROM per CROSS JOIN q)
        |SELECT o_custkey, r_days, f_orders, round(m_value, 2) AS m_value,
        |       r_score, f_score, m_score,
        |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |         CAST(m_score AS VARCHAR) AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin),
    // Unpivot/melt: the three lineitem money columns as (metric,
    // amount) rows — the inverse reshape, one scan, no shuffle
    // (ids stay on their partitions; output is 3x rows, narrower).
    QuerySpec("lineitem_unpivot", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "amount")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """SELECT l_orderkey, l_linenumber, m.metric,
        |       CASE m.metric
        |         WHEN 'l_extendedprice' THEN l_extendedprice
        |         WHEN 'l_discount' THEN l_discount
        |         ELSE l_tax END AS amount
        |FROM lineitem,
        |     (VALUES ('l_extendedprice'), ('l_discount'), ('l_tax')) m(metric)
        |WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),
    // Benford first-digit audit over order totals: magnitude-band
    // CASE digits (no log10, no cast-to-string at query time),
    // micro-integer chi-square, expected probabilities interpolated
    // from the SAME precomputed literal table as the oracle.
    QuerySpec("audit_benford", (s, d) =>
      BenfordAudit.benfordCard(table(s, d, "orders"), "o_totalprice"),
      // Benford card: same band CASE, same probability literals, same
      // micro-integer chi-square — all generated from one source of
      // truth in BenfordAudit.
    {
      val pList = BenfordAudit.P.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      val fd = BenfordAudit.firstDigitSql("v", 9)
      s"""WITH vals AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
         |digits AS (SELECT CASE WHEN v >= 1 THEN $fd ELSE NULL END AS digit
         |           FROM vals),
         |obs AS (
         |  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM digits WHERE digit IS NOT NULL GROUP BY 1),
         |exc AS (
         |  SELECT CAST(sum(CASE WHEN digit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_excluded,
         |         CAST(sum(CASE WHEN digit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_total
         |  FROM digits),
         |expect AS (
         |  SELECT digit, CAST(p AS DOUBLE) AS p
         |  FROM (VALUES $pList) t(digit, p)),
         |pd AS (
         |  SELECT e.digit, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
         |         e.p, x.n_total, x.n_excluded,
         |         CAST(round((COALESCE(o.n_obs, 0) - e.p * x.n_total) *
         |                    (COALESCE(o.n_obs, 0) - e.p * x.n_total) /
         |                    (e.p * x.n_total) * 1000000.0) AS BIGINT) AS cm
         |  FROM expect e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN exc x),
         |c AS (SELECT round(sum(cm) / 1000000.0, 6) AS chi2 FROM pd)
         |SELECT pd.digit, pd.n_obs, round(pd.p, 6) AS p_expected,
         |       round(pd.p * pd.n_total, 6) AS n_expected,
         |       pd.n_total, pd.n_excluded, c.chi2
         |FROM pd CROSS JOIN c ORDER BY digit""".stripMargin
    }),
    // TPC-H Q10 shape: returned-item revenue by customer for one
    // quarter — fact⋈fact on orderkey (the one shuffle), dimensions
    // broadcast, top-20 via TakeOrderedAndProject.
    QuerySpec("tpch_q10_returns", (s, d) =>
      RelationalAnalytics.returnedItemReport(
        table(s, d, "customer"), table(s, d, "orders"),
        table(s, d, "lineitem"), table(s, d, "nation"),
        quarterStart = "1996-10-01", quarterEnd = "1997-01-01", k = 20),
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |       CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    // TPC-H Q6 shape: ONE filtered scan, ONE scalar aggregate, zero
    // joins — all three predicates land in PushedFilters, row-group
    // stats on l_shipdate skip most files, decimal-exact revenue sum.
    QuerySpec("tpch_q6_forecast", (s, d) =>
      RelationalAnalytics.forecastRevenue(table(s, d, "lineitem"),
        "1996-01-01", "1997-01-01", discLo = 0.02, discHi = 0.04,
        qtyCap = 24.0),
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |         AS DOUBLE) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin),
    // SCD2 dimension history: per-customer order-count tier at three
    // cut dates (cumulative snapshots derived in-plan from orders)
    // collapses into validity intervals via one keyed window — lag
    // marks change points, lead closes intervals.
    QuerySpec("snapshot_scd2", (s, d) =>
      scd2TierHistory(s, d).orderBy("o_custkey", "valid_from"),
      // SCD2 rebuilt from the same three cumulative snapshots: zipped
      // unnest fans versions out, lag marks change points, lead closes
      // intervals — tier strings compare directly (no fp needed).
      """WITH counts AS (
        |  SELECT o_custkey,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END) AS n2
        |  FROM orders GROUP BY 1),
        |versioned AS (
        |  SELECT o_custkey, CAST(ver AS BIGINT) AS version,
        |         CASE WHEN n >= 8 THEN 'high' WHEN n >= 4 THEN 'mid'
        |              ELSE 'low' END AS tier
        |  FROM (SELECT o_custkey, unnest([1, 2, 3]) AS ver,
        |               unnest([n0, n1, n2]) AS n FROM counts)
        |  WHERE n > 0),
        |marked AS (
        |  SELECT o_custkey, version, tier,
        |         CASE WHEN lag(tier) OVER w IS NULL
        |                OR lag(tier) OVER w != tier THEN 1 ELSE 0 END AS chg
        |  FROM versioned WINDOW w AS (PARTITION BY o_custkey ORDER BY version))
        |SELECT o_custkey, tier, version AS valid_from,
        |       lead(version) OVER w2 AS valid_to_excl,
        |       lead(version) OVER w2 IS NULL AS is_current
        |FROM marked WHERE chg = 1
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY o_custkey, valid_from""".stripMargin),
    // Point-in-time lookup against that history — the consumer side
    // of SCD2: each order joins the tier interval valid at its own
    // version (equality on custkey + interval residual; no
    // nested-loop). Facts past the last cut hit the open current
    // interval.
    QuerySpec("snapshot_scd2_pit", (s, d) => {
      val facts = table(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        when(col("o_orderdate") < lit("1997-01-01").cast("timestamp"), 1L)
          .when(col("o_orderdate") < lit("1999-01-01").cast("timestamp"), 2L)
          .when(col("o_orderdate") < lit("2001-01-01").cast("timestamp"), 3L)
          .otherwise(4L).as("version"))
      Snapshot.scd2Lookup(facts, scd2TierHistory(s, d),
        "o_custkey", "version")
        .select("o_orderkey", "o_custkey", "version", "tier",
          "valid_from", "valid_to_excl")
        .orderBy("o_orderkey")
    },
      // The PIT lookup replayed: the same SCD2 CTEs as a `hist`
      // relation, facts versioned by the same cut CASE, one left join
      // with the interval residual.
      """WITH counts AS (
        |  SELECT o_custkey,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END) AS n2
        |  FROM orders GROUP BY 1),
        |versioned AS (
        |  SELECT o_custkey, CAST(ver AS BIGINT) AS version,
        |         CASE WHEN n >= 8 THEN 'high' WHEN n >= 4 THEN 'mid'
        |              ELSE 'low' END AS tier
        |  FROM (SELECT o_custkey, unnest([1, 2, 3]) AS ver,
        |               unnest([n0, n1, n2]) AS n FROM counts)
        |  WHERE n > 0),
        |marked AS (
        |  SELECT o_custkey, version, tier,
        |         CASE WHEN lag(tier) OVER w IS NULL
        |                OR lag(tier) OVER w != tier THEN 1 ELSE 0 END AS chg
        |  FROM versioned WINDOW w AS (PARTITION BY o_custkey ORDER BY version)),
        |hist AS (
        |  SELECT o_custkey, tier, version AS valid_from,
        |         lead(version) OVER w2 AS valid_to_excl
        |  FROM marked WHERE chg = 1
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)),
        |facts AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1
        |              WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN 2
        |              WHEN o_orderdate < TIMESTAMP '2001-01-01' THEN 3
        |              ELSE 4 END AS BIGINT) AS version
        |  FROM orders)
        |SELECT f.o_orderkey, f.o_custkey, f.version,
        |       h.tier, h.valid_from, h.valid_to_excl
        |FROM facts f LEFT JOIN hist h ON h.o_custkey = f.o_custkey
        |  AND f.version >= h.valid_from
        |  AND (h.valid_to_excl IS NULL OR f.version < h.valid_to_excl)
        |ORDER BY f.o_orderkey""".stripMargin)
  )
}
