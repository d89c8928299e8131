package graft.operators

import graft.{GQuery, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator library over the star schema (SURVEY.md §7
  * Phase 3): filters, every join shape, hash aggregation, grouping sets,
  * window functions, top-k, set ops, scalar functions.
  *
  * Scale notes (100 TB): every query here is a declarative DataFrame plan —
  * Catalyst pushes filters/projections into the parquet scan, picks
  * broadcast-hash joins for the dimension tables we explicitly hint with
  * `broadcast()`, and sort-merge for fact⋈fact; aggregations are partial
  * (map-side combine) before the shuffle. Nothing below collects to the
  * driver or iterates rows.
  */
object RelationalQueries {

  /** Bloom runtime-filter geometry (q_join_bloom): k=3 positions per key in
    * an m=8192-slot table. TEST-SCALE m; sizing rule: fp ≈ (k·n_keys/m)^k,
    * so hold m ≳ 10·k·n_keys for fp ≤ ~0.2%. The position derivation is the
    * repo's cross-engine hash primitive ([[graft.functions.Exact.md5Int]])
    * so the DuckDB oracle can replay the filter bit-for-bit.
    */
  private val BLOOM_SEEDS = Seq(1, 2, 3)
  private val BLOOM_M = 8192L

  /** Bloom position of `key` under `seed`, identical on both engines. */
  private def bloomPos(key: org.apache.spark.sql.Column, seed: Int) =
    md5Int(concat(lit("bloom:"), lit(seed.toString), lit(":"), key.cast("string"))) % BLOOM_M
  private def bloomPosSql(key: String, seed: String) =
    s"${md5IntSql(s"concat('bloom:', CAST($seed AS VARCHAR), ':', CAST($key AS VARCHAR))")} % $BLOOM_M"

  /** The distinct Bloom position set (≤ m rows) of a key column `k` — the
    * broadcastable artifact standing in for a packed bit array.
    */
  private def bloomPositions(keys: org.apache.spark.sql.DataFrame) =
    keys.select(explode(array(BLOOM_SEEDS.map(i => bloomPos(col("k"), i)): _*)).as("pos"))
      .distinct()

  val defs: Seq[GQuery] = Seq(

    // ---- scan + filter + projection (predicate pushdown) ----------------
    GQuery(
      "q_filter_pushdown",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
            col("l_quantity") > 45)
          .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
          .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")
      },
      Some("""SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity > 45
             |ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate""".stripMargin)
    ),

    // ---- hash aggregation, TPC-H Q1 flavor (cents-exact) -----------------
    GQuery(
      "q1_pricing_summary",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sumGrid(col("l_quantity"), 100L).as("sum_qty"),
            sumGrid(col("l_extendedprice"), 100L).as("sum_base_price"),
            sumGrid(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000L).as("sum_disc_price"),
            sumGrid(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 1000000L).as("sum_charge"),
            avgGrid(col("l_quantity"), 100L).as("avg_qty"),
            avgGrid(col("l_extendedprice"), 100L).as("avg_price"),
            avgGrid(col("l_discount"), 100L).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |${sumGridSql("l_quantity", 100L)} AS sum_qty,
              |${sumGridSql("l_extendedprice", 100L)} AS sum_base_price,
              |${sumGridSql("l_extendedprice*(1.0-l_discount)", 10000L)} AS sum_disc_price,
              |${sumGridSql("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)", 1000000L)} AS sum_charge,
              |${avgGridSql("l_quantity", 100L)} AS avg_qty,
              |${avgGridSql("l_extendedprice", 100L)} AS avg_price,
              |${avgGridSql("l_discount", 100L)} AS avg_disc,
              |$countStarSql AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    // ---- broadcast equi-join chain over dimensions ------------------------
    GQuery(
      "q_join_broadcast",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val n = broadcast(Tables.nation(s, dir))
        val r = broadcast(Tables.region(s, dir))
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_customers"), sumMoney(col("c_acctbal")).as("sum_acctbal"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name, $countStarSql AS n_customers,
              |${sumMoneySql("c_acctbal")} AS sum_acctbal
              |FROM customer JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)
    ),

    // ---- large shuffle (sort-merge) join: orders ⋈ lineitem ---------------
    GQuery(
      "q_join_shuffle",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            sumGrid(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 10000L).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, $countStarSql AS n_items,
              |CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
              |${sumGridSql("l_extendedprice*(1.0-l_discount)", 10000L)} AS revenue
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // ---- outer join keeping unmatched build rows --------------------------
    GQuery(
      "q_join_left",
      (s, dir) => {
        val p = Tables.part(s, dir)
        val l = Tables.lineitem(s, dir)
        p.join(l, p("p_partkey") === l("l_partkey"), "left")
          .groupBy("p_partkey", "p_brand")
          .agg(
            count(col("l_orderkey")).as("n_lineitems"),
            (coalesce(sum(grid(col("l_quantity"), 100L)), lit(0L)).cast("double") / 100.0).as("sum_qty"))
          .orderBy("p_partkey")
      },
      Some(s"""SELECT p_partkey, p_brand, CAST(COUNT(l_orderkey) AS BIGINT) AS n_lineitems,
              |CAST(COALESCE(SUM(${gridSql("l_quantity", 100L)}), 0) AS DOUBLE)/CAST(100 AS DOUBLE) AS sum_qty
              |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
              |GROUP BY p_partkey, p_brand ORDER BY p_partkey""".stripMargin)
    ),

    // ---- semi / anti joins -------------------------------------------------
    GQuery(
      "q_join_semi",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)
    ),
    GQuery(
      // Customers who never placed an urgent order (anti join with a
      // pushed-down filter on the probe side).
      "q_join_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)
    ),

    // ---- Bloom runtime-filter join (integer-exact, oracle-invisible) -------
    // The runtime-filter discipline Spark's optimizer injects for selective
    // joins, built explicitly so it is deterministic and auditable: hash the
    // build side's keys (a selective dim: one nation's customers) into an
    // m-bit Bloom position set (k=3 md5-derived positions per key, the
    // cross-engine hash primitive), then pre-filter the FACT side with three
    // broadcast left-semi joins against that position set BEFORE the real
    // join. Blooms have no false negatives, so the final result is EXACTLY
    // the plain join — the oracle below never mentions the Bloom, which is
    // the point (q_join_bloom_stats audits the pruning it bought). Scale
    // (100 TB): the position set is ≤ m rows (m = 8192 here; size m ∝ build
    // keys to hold fp ≈ (k·n/m)^k) and broadcasts even when the dim's ROWS
    // don't; the fact table is pruned to ~match-selectivity + fp before it
    // ever reaches the join shuffle — the same trade
    // spark.sql.optimizer.runtimeFilter.bloomFilter makes, minus its
    // engine-private hash (xxhash64) that no oracle could replay.
    GQuery(
      "q_join_bloom",
      (s, dir) => {
        val dim = Tables.customer(s, dir).filter(col("c_nationkey") === 7)
        val bloom = Materialize(bloomPositions(dim.select(col("c_custkey").as("k"))))
        val probed = BLOOM_SEEDS.foldLeft(Tables.orders(s, dir)) { (df, seed) =>
          df.join(broadcast(bloom.select(col("pos").as(s"pos_$seed"))),
            bloomPos(col("o_custkey"), seed) === col(s"pos_$seed"), "left_semi")
        }
        probed.join(dim, probed("o_custkey") === dim("c_custkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sumMoney(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, $countStarSql AS n_orders,
              |${sumMoneySql("o_totalprice")} AS sum_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |WHERE c_nationkey = 7
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),
    GQuery(
      // The pruning audit for q_join_bloom: how many fact rows pass the
      // Bloom vs truly match. Both engines compute the IDENTICAL Bloom (same
      // md5 positions), so pass/match/false-positive counts are oracle-paired
      // integers, not prose — the "did the runtime filter actually prune"
      // number a 100 TB plan review asks for.
      "q_join_bloom_stats",
      (s, dir) => {
        val dim = Tables.customer(s, dir).filter(col("c_nationkey") === 7)
        val bloom = Materialize(bloomPositions(dim.select(col("c_custkey").as("k"))))
        val o = Tables.orders(s, dir)
        val probed = BLOOM_SEEDS.foldLeft(o) { (df, seed) =>
          df.join(broadcast(bloom.select(col("pos").as(s"pos_$seed"))),
            bloomPos(col("o_custkey"), seed) === col(s"pos_$seed"), "left_semi")
        }
        val matched = o.join(broadcast(dim.select(col("c_custkey"))),
          o("o_custkey") === col("c_custkey"), "left_semi")
        val nP = o.agg(count(lit(1)).as("n_probe"))
        val nB = probed.agg(count(lit(1)).as("n_bloom_pass"))
        val nM = matched.agg(count(lit(1)).as("n_match"))
        nP.crossJoin(nB).crossJoin(nM)
          .select(col("n_probe"), col("n_bloom_pass"), col("n_match"),
            expr("n_bloom_pass * 1000000 div n_probe").as("pass_per_million"),
            expr("(n_bloom_pass - n_match) * 1000000 div n_probe")
              .as("fp_per_million"))
      },
      Some(s"""WITH dim AS (SELECT c_custkey FROM customer WHERE c_nationkey = 7),
              |bloom AS (SELECT DISTINCT
              |    ${bloomPosSql("c_custkey", "s.s")} AS pos
              |  FROM dim CROSS JOIN (SELECT unnest([1, 2, 3]) AS s) s),
              |pass AS (SELECT o_orderkey FROM orders
              |  WHERE ${BLOOM_SEEDS.map(i =>
                   s"${bloomPosSql("o_custkey", i.toString)} IN (SELECT pos FROM bloom)")
                   .mkString("\n    AND ")}),
              |mtch AS (SELECT o_orderkey FROM orders
              |  WHERE o_custkey IN (SELECT c_custkey FROM dim)),
              |ns AS (SELECT
              |  (SELECT $countStarSql FROM orders) AS n_probe,
              |  (SELECT $countStarSql FROM pass) AS n_bloom_pass,
              |  (SELECT $countStarSql FROM mtch) AS n_match)
              |SELECT n_probe, n_bloom_pass, n_match,
              |  n_bloom_pass * 1000000 // n_probe AS pass_per_million,
              |  (n_bloom_pass - n_match) * 1000000 // n_probe AS fp_per_million
              |FROM ns""".stripMargin)
    ),

    // ---- equi + range (residual band predicate) join ----------------------
    GQuery(
      "q_join_range",
      (s, dir) => {
        val p = Tables.part(s, dir)
        val l = Tables.lineitem(s, dir)
        p.join(
            l,
            p("p_partkey") === l("l_partkey") &&
              l("l_quantity") >= p("p_size") - 5 && l("l_quantity") <= p("p_size") + 5)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), avgGrid(col("l_quantity"), 100L).as("avg_qty"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, $countStarSql AS n, ${avgGridSql("l_quantity", 100L)} AS avg_qty
              |FROM part JOIN lineitem ON p_partkey = l_partkey
              |AND l_quantity >= p_size - 5 AND l_quantity <= p_size + 5
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    ),

    // ---- distinct / count distinct / approx ---------------------------------
    GQuery(
      "q_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),
    GQuery(
      "q_count_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
              |CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps, $countStarSql AS n
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),
    GQuery(
      // HLL++ sketch — algorithm-specific estimates can't match DuckDB's
      // approx_count_distinct, so no oracle (driver records rows-only).
      "q_approx_distinct",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
          .orderBy("l_returnflag"),
      None
    ),

    // ---- KMV distinct sketch: a DETERMINISTIC cardinality estimator ----------
    // HLL (q_approx_distinct above) is rows-only because its registers are
    // engine-specific; the K-minimum-values sketch is fully oracle-able:
    // both engines agree bit-for-bit on md5, so the k smallest distinct
    // hash values — and the estimate (k-1) · 2^52 / kth_prefix, computed in
    // exact integer arithmetic on the hash's first 13 hex digits — are
    // identical. Scale path: distinct-shuffle of 32-char digests, then
    // TakeOrderedAndProject (per-partition top-k, O(k) merge at the
    // driver); a production variant replaces the distinct+sort with a
    // bounded min-k TreeSet Aggregator (map-side combinable, one pass, no
    // distinct shuffle) — the TopKAgg pattern in functions/.
    GQuery(
      "q_kmv_distinct",
      (s, dir) => {
        val k = 64
        // distinct BEFORE hashing: the shuffle carries 8-byte keys instead
        // of 32-char digests and md5 runs once per distinct value, not per
        // row (identical result — equal keys hash equally)
        val kth = Tables.lineitem(s, dir)
          .select(col("l_orderkey")).distinct()
          .select(md5(col("l_orderkey").cast("string")).as("h"))
          .orderBy("h").limit(k)
          .agg(count(lit(1)).cast("long").as("k"), max(col("h")).as("kth"))
          .select(col("k"),
            expr("CAST(conv(substring(kth, 1, 13), 16, 10) AS BIGINT)").as("kth_prefix"))
          // fewer than k distinct values ⇒ the sketch saw everything: the
          // exact count IS the estimate (the (k-1)/kth formula is only
          // defined when the k-th minimum is a real order statistic)
          .select(col("k"), col("kth_prefix"),
            expr(s"CASE WHEN k < $k THEN k ELSE " +
              s"(CAST(${k - 1} AS BIGINT) * CAST(${1L << 52} AS BIGINT)) div kth_prefix END")
              .as("est_distinct"))
        val exact = Tables.lineitem(s, dir)
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        kth.crossJoin(exact) // 1 row × 1 row
      },
      Some(s"""WITH h AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h
              |  FROM (SELECT DISTINCT l_orderkey FROM lineitem)),
              |topk AS (SELECT h FROM h ORDER BY h LIMIT 64),
              |kth AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
              |  CAST(('0x' || substring(MAX(h), 1, 13)) AS BIGINT) AS kth_prefix FROM topk),
              |ex AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact FROM lineitem)
              |SELECT k, kth_prefix,
              |  CASE WHEN k < 64 THEN k
              |       ELSE (CAST(63 AS BIGINT) * ${1L << 52}) // kth_prefix END AS est_distinct,
              |  n_exact
              |FROM kth, ex""".stripMargin)
    ),

    // ---- grouping sets -------------------------------------------------------
    GQuery(
      "q_rollup",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sumMoney(col("l_extendedprice")).as("sum_price"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"), col("sum_price"))
          .orderBy("rf", "ls"),
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
              |$countStarSql AS n, ${sumMoneySql("l_extendedprice")} AS sum_price
              |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
              |ORDER BY rf, ls""".stripMargin)
    ),
    GQuery(
      "q_cube",
      (s, dir) =>
        Tables.orders(s, dir)
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("sum_price"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
            col("n"), col("sum_price"))
          .orderBy("st", "pri"),
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
              |$countStarSql AS n, ${sumMoneySql("o_totalprice")} AS sum_price
              |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
              |ORDER BY st, pri""".stripMargin)
    ),

    // ---- window functions ------------------------------------------------------
    GQuery(
      "q_window_rank",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("o_orderpriority", "rnk")
      },
      Some("""SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    CAST(row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin)
    ),
    GQuery(
      "q_window_running",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, dir)
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            (sum(grid(col("o_totalprice"), 100L)).over(w).cast("double") / 100.0)
              .as("running_spend"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey, o_orderdate,
              |CAST(SUM(${gridSql("o_totalprice", 100L)}) OVER (PARTITION BY o_custkey
              |  ORDER BY o_orderdate, o_orderkey
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/CAST(100 AS DOUBLE)
              |  AS running_spend
              |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
    ),
    GQuery(
      "q_window_lag",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(
            col("user_id"), col("event_id"), col("value"),
            lag(col("value"), 1).over(w).as("prev_value"),
            (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT user_id, event_id, value,
              |lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
              |epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
              |FROM ${Tables.eventsOracleFrom} e ORDER BY user_id, event_id""".stripMargin)
    ),

    // ---- top-k (TakeOrderedAndProject) --------------------------------------
    GQuery(
      "q_topk",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
          .limit(15),
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_partkey, l_linenumber
             |LIMIT 15""".stripMargin)
    ),

    // ---- set operations -------------------------------------------------------
    GQuery(
      "q_union",
      (s, dir) =>
        Tables.nation(s, dir).select(col("n_name").as("name"))
          .union(Tables.region(s, dir).select(col("r_name").as("name")))
          .distinct()
          .orderBy("name"),
      Some("""SELECT n_name AS name FROM nation UNION SELECT r_name AS name FROM region
             |ORDER BY name""".stripMargin)
    ),
    GQuery(
      // Customers with an open (P) order but no finished (F) order.
      "q_except",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("custkey"))
          .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
             |EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY custkey""".stripMargin)
    ),
    GQuery(
      "q_intersect",
      (s, dir) =>
        Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
          .intersect(Tables.orders(s, dir).select(col("o_custkey").as("custkey")))
          .orderBy("custkey"),
      Some("""SELECT c_custkey AS custkey FROM customer
             |INTERSECT SELECT o_custkey AS custkey FROM orders ORDER BY custkey""".stripMargin)
    ),

    // ---- MULTISET set ops: EXCEPT ALL / INTERSECT ALL ------------------------
    // Distinct physical operators from the DISTINCT variants above: Spark
    // plans these as a count-and-replicate aggregate (each value kept
    // min/difference-of-multiplicities times), not a hash anti/semi join —
    // the semantics a bag-oriented reconciliation (e.g. "orders in the
    // ledger minus orders already posted, WITH repetition") needs. The
    // aggregated output ends in a total-order sort with a per-row
    // sequence number so duplicate rows hash deterministically.
    GQuery(
      "q_except_all",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val left = o.filter(col("o_orderstatus").isin("P", "O"))
          .select((col("o_custkey") % 100).as("bucket"))
        val right = o.filter(col("o_orderstatus") === "F")
          .select((col("o_custkey") % 100).as("bucket"))
        left.exceptAll(right)
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
             |  SELECT o_custkey % 100 AS bucket FROM orders WHERE o_orderstatus IN ('P', 'O')
             |  EXCEPT ALL
             |  SELECT o_custkey % 100 AS bucket FROM orders WHERE o_orderstatus = 'F')
             |GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),
    GQuery(
      "q_intersect_all",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val left = o.filter(col("o_orderstatus").isin("P", "O"))
          .select((col("o_custkey") % 100).as("bucket"))
        val right = o.filter(col("o_orderstatus") === "F")
          .select((col("o_custkey") % 100).as("bucket"))
        left.intersectAll(right)
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
             |  SELECT o_custkey % 100 AS bucket FROM orders WHERE o_orderstatus IN ('P', 'O')
             |  INTERSECT ALL
             |  SELECT o_custkey % 100 AS bucket FROM orders WHERE o_orderstatus = 'F')
             |GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),

    // ---- scalar function suites -------------------------------------------------
    GQuery(
      "q_string_funcs",
      (s, dir) =>
        Tables.part(s, dir)
          .select(
            col("p_partkey"),
            lower(col("p_name")).as("name_lower"),
            length(col("p_name")).cast("long").as("name_len"),
            substring(col("p_type"), 1, 5).as("type_prefix"),
            concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
            levenshtein(col("p_brand"), lit("Brand#10")).cast("long").as("brand_dist"),
            regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, lower(p_name) AS name_lower,
             |CAST(length(p_name) AS BIGINT) AS name_len,
             |substr(p_type, 1, 5) AS type_prefix,
             |concat(p_brand, '-', p_type) AS brand_type,
             |CAST(levenshtein(p_brand, 'Brand#10') AS BIGINT) AS brand_dist,
             |regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),
    GQuery(
      "q_date_funcs",
      (s, dir) =>
        Tables.orders(s, dir)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("y"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofmonth(col("o_orderdate")).cast("long").as("d"),
            date_trunc("month", col("o_orderdate")).as("month_start"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(quarter(o_orderdate) AS BIGINT) AS q,
             |CAST(month(o_orderdate) AS BIGINT) AS m,
             |CAST(day(o_orderdate) AS BIGINT) AS d,
             |date_trunc('month', o_orderdate) AS month_start,
             |CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    GQuery(
      "q_math_funcs",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") < 100)
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            abs(col("l_quantity") - 25.0).as("qty_dev"),
            sqrt(col("l_quantity")).as("qty_sqrt"),
            floor(col("l_extendedprice") / 1000.0).cast("long").as("price_k_floor"),
            ceil(col("l_extendedprice") / 1000.0).cast("long").as("price_k_ceil"),
            pmod(col("l_orderkey"), lit(7)).cast("long").as("key_mod"),
            (col("l_quantity") * col("l_quantity")).as("qty_sq"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "qty_sq"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |abs(l_quantity - 25.0) AS qty_dev, sqrt(l_quantity) AS qty_sqrt,
             |CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
             |CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil,
             |CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
             |l_quantity * l_quantity AS qty_sq
             |FROM lineitem WHERE l_orderkey < 100
             |ORDER BY l_orderkey, l_linenumber, l_quantity, qty_sq""".stripMargin)
    ),

    // ---- JSON extraction over events.props ---------------------------------------
    GQuery(
      "q_json_extract",
      (s, dir) =>
        Tables.events(s, dir)
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id,
              |CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
              |FROM events ORDER BY event_id""".stripMargin)
    ),

    // ---- semi-structured round trip: nest → to_json → from_json → flatten ----
    // The schema-on-read ETL shape q_json_extract's scalar path doesn't
    // cover: per-order line items are packed into a NESTED json document
    // (array of structs, sorted so the document is deterministic), parsed
    // back with an explicit schema (from_json — never schema inference on
    // the hot path at 100 TB), exploded, and re-aggregated. The oracle
    // computes the same aggregate directly from lineitem: hash-equality
    // PROVES the serialize→parse→flatten trip is lossless. One shuffle for
    // the pack, explode is pipeline-local, one partial-agg shuffle back.
    GQuery(
      "q_json_explode",
      (s, dir) => {
        val packed = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(to_json(struct(
            col("l_orderkey").as("okey"),
            sort_array(collect_list(struct(
              col("l_linenumber").cast("long").as("ln"),
              col("l_quantity").cast("long").as("qty")))).as("items"))).as("payload"))
        val itemSchema = "STRUCT<okey: BIGINT, items: ARRAY<STRUCT<ln: BIGINT, qty: BIGINT>>>"
        packed
          .select(from_json(col("payload"), itemSchema, Map.empty[String, String]).as("j"))
          .select(col("j.okey").as("o_key"), explode(col("j.items")).as("item"))
          .groupBy("o_key")
          .agg(count(lit(1)).as("n_items"), sum(col("item.qty")).as("sum_qty"))
          .orderBy("o_key")
      },
      Some(s"""SELECT l_orderkey AS o_key, $countStarSql AS n_items,
              |CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
              |FROM lineitem GROUP BY l_orderkey ORDER BY o_key""".stripMargin)
    ),

    // ---- as-of join (most recent error at-or-before each event, per user) -------
    GQuery(
      "q_asof_join",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn(
            "last_error_us",
            last(when(col("event_type") === "error", unix_micros(col("ts"))), ignoreNulls = true).over(w))
          .select("user_id", "event_id", "event_type", "last_error_us")
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT user_id, event_id, event_type,
              |last_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END IGNORE NULLS)
              |  OVER (PARTITION BY user_id ORDER BY ts, event_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_us
              |FROM ${Tables.eventsOracleFrom} e ORDER BY user_id, event_id""".stripMargin)
    ),

    // ---- FORWARD as-of: next error at-or-after each event, per user -------------
    // The other as-of direction ("what broke next"), completing the family:
    // identical union-window discipline to the backward form but with a
    // CURRENT ROW .. UNBOUNDED FOLLOWING frame and first_value — still ONE
    // shuffle by key + a linear per-key scan, no blowup on keys with many
    // candidates, so the same fleet-scale properties hold.
    GQuery(
      "q_asof_join_forward",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        Tables.events(s, dir)
          .withColumn(
            "next_error_us",
            first(when(col("event_type") === "error", unix_micros(col("ts"))), ignoreNulls = true).over(w))
          .select("user_id", "event_id", "event_type", "next_error_us")
          .orderBy("user_id", "event_id")
      },
      Some(s"""SELECT user_id, event_id, event_type,
              |first_value(CASE WHEN event_type = 'error' THEN epoch_us(ts) END IGNORE NULLS)
              |  OVER (PARTITION BY user_id ORDER BY ts, event_id
              |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_error_us
              |FROM ${Tables.eventsOracleFrom} e ORDER BY user_id, event_id""".stripMargin)
    ),

    // ---- TRUE two-table as-of join: fact ⋈ latest snapshot at-or-before ---------
    // The canonical shape (each purchase matched to the user's most recent
    // error state), oracled against DuckDB's NATIVE `ASOF LEFT JOIN`.
    // Implementation is union-window: tag snapshot rows 0 and fact rows 1,
    // sort (ts, tag) within each key so a same-instant snapshot precedes
    // the fact ("at or before"), carry the last non-null snapshot id
    // forward. Scale trade: ONE shuffle by key + a linear per-key scan,
    // independent of how many snapshots each fact skips over — a range
    // join (fact.ts BETWEEN snap.ts AND next_snap.ts) can prune better
    // when snapshots are sparse and indexed, but explodes on hot keys with
    // many snapshot updates; the union-window form has no such blowup, so
    // it is the fleet-scale default.
    GQuery(
      "q_asof_join_snapshot",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        // unique snapshot per (user, instant): ties collapse deterministically
        val errs = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max("event_id").as("err_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val tagged = errs
          .select(col("user_id"), col("ts"), lit(0).as("tag"),
            col("err_id"), lit(null).cast("long").as("event_id"))
          .unionByName(purch.select(col("user_id"), col("ts"), lit(1).as("tag"),
            lit(null).cast("long").as("err_id"), col("event_id")))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("tag"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("asof_err_id", last(col("err_id"), ignoreNulls = true).over(w))
          .filter(col("tag") === 1)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("asof_err_id"))
          .orderBy("event_id")
      },
      Some(s"""WITH ev AS (SELECT * FROM ${Tables.eventsOracleFrom} e),
              |errs AS (SELECT user_id, ts, MAX(event_id) AS err_id
              |  FROM ev WHERE event_type = 'error' GROUP BY user_id, ts),
              |purch AS (SELECT user_id, ts, event_id
              |  FROM ev WHERE event_type = 'purchase')
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  e.err_id AS asof_err_id
              |FROM purch p ASOF LEFT JOIN errs e
              |  ON p.user_id = e.user_id AND p.ts >= e.ts
              |ORDER BY event_id""".stripMargin)
    ),

    // ---- the SAME as-of join through the native operator --------------------
    // graft.plans.AsofJoin: custom LogicalPlan + SparkStrategy + SparkPlan
    // (installed in every session by GraftExtensions). Children are
    // hash-clustered by key and sorted (key, time) — EnsureRequirements
    // plans one exchange + sort per side — then each partition merges in a
    // single forward pass holding ONE buffered snapshot row: no null-padded
    // union, no window buffer, no candidate explosion. Same oracle as
    // q_asof_join_snapshot (DuckDB native ASOF LEFT JOIN); the differential
    // spec asserts row-identical output to the union-window form.
    GQuery(
      "q_asof_join_native",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errs = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max("event_id").as("err_id"))
          .select(col("user_id").as("e_user_id"), col("ts").as("e_ts"), col("err_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.plans.Asof.join(purch, errs,
            Seq("user_id"), Seq("e_user_id"), "ts", "e_ts")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("err_id").as("asof_err_id"))
          .orderBy("event_id")
      },
      Some(s"""WITH ev AS (SELECT * FROM ${Tables.eventsOracleFrom} e),
              |errs AS (SELECT user_id, ts, MAX(event_id) AS err_id
              |  FROM ev WHERE event_type = 'error' GROUP BY user_id, ts),
              |purch AS (SELECT user_id, ts, event_id
              |  FROM ev WHERE event_type = 'purchase')
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  e.err_id AS asof_err_id
              |FROM purch p ASOF LEFT JOIN errs e
              |  ON p.user_id = e.user_id AND p.ts >= e.ts
              |ORDER BY event_id""".stripMargin)
    ),

    // ---- INNER variant: only purchases that HAVE a preceding error state ----
    // Same operator with inner semantics (unmatched facts drop instead of
    // null-padding) — DuckDB's plain ASOF JOIN is the oracle.
    GQuery(
      "q_asof_join_inner",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errs = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max("event_id").as("err_id"))
          .select(col("user_id").as("e_user_id"), col("ts").as("e_ts"), col("err_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.plans.Asof.join(purch, errs,
            Seq("user_id"), Seq("e_user_id"), "ts", "e_ts", inner = true)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("err_id").as("asof_err_id"))
          .orderBy("event_id")
      },
      Some(s"""WITH ev AS (SELECT * FROM ${Tables.eventsOracleFrom} e),
              |errs AS (SELECT user_id, ts, MAX(event_id) AS err_id
              |  FROM ev WHERE event_type = 'error' GROUP BY user_id, ts),
              |purch AS (SELECT user_id, ts, event_id
              |  FROM ev WHERE event_type = 'purchase')
              |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              |  e.err_id AS asof_err_id
              |FROM purch p ASOF JOIN errs e
              |  ON p.user_id = e.user_id AND p.ts >= e.ts
              |ORDER BY event_id""".stripMargin)
    )
  )
}
