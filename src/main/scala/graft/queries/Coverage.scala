package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.{t, cents, revenueC4}

/** Depth coverage for the generic surface (SURVEY §2.3) beyond the
  * round-1 inventory: distribution window functions, arg-extremes,
  * boolean/conditional aggregates, higher-order array functions, more
  * string/date scalars, every subquery form (EXISTS / IN / correlated
  * scalar), lateral explode, a salted as-of join, and format-roundtrip
  * sources (CSV / JSON / ORC write→read, checked against the parquet
  * truth) — each with an exact DuckDB oracle.
  *
  * Cross-engine discipline (same as [[Relational]]): integer cents,
  * derived ints cast to LONG, total orders under every window (ties
  * broken by a unique key), dates compared as formatted strings.
  */
object Coverage {

  type QFn = (SparkSession, String) => DataFrame

  /** Scratch dir for the roundtrip sources — keyed by sf dir and
    * format so concurrent runs at different scale factors never read
    * each other's output; overwritten on every run. The oracle never
    * reads this path (it reads the PARQUET truth), so the location is
    * free to vary per machine. */
  private def rtDir(d: String, fmt: String) =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_roundtrip/" +
      s"${d.replaceAll("[^A-Za-z0-9._-]", "_")}/$fmt"

  /** Bloom prefilter geometry: 2^18 bits (32 KB) / 4 probes. At the
    * bench scale (~30 k urgent orderkeys) that is n/m ≈ 0.11 → fpp ≈
    * 2 % — the prefilter passes ~22 % of fact rows instead of 100 %. */
  private[graft] val BloomBits = 1L << 18
  private[graft] val BloomJ = 4

  /** The bloom build aggregate: one [[BloomBits]]-bit filter over the
    * (h1, h2) double-hash rows it reads, [[BloomJ]] probes per key. */
  private[graft] val bloomOr =
    udaf(new graft.functions.BloomAgg(BloomBits, BloomJ)).withName("bloom_or")

  /** Shared build/probe-side key hash (the two sides MUST agree).
    * xxhash64, not md5: the hash runs once per FACT row, and the md5
    * rendering (string concat + hex digest) measured ~2 s of the
    * query's 2.8 s at sf0.1. No cross-engine portability is needed —
    * the oracle recomputes the plain join. The raw hash is reduced mod
    * `bits` HERE (double-hash positions survive modular reduction:
    * (h1 + i·h2) mod m ≡ (h1 mod m + i·(h2 mod m)) mod m), so the
    * downstream combine can never overflow a Long — ANSI mode throws
    * on wrap-around. */
  private[graft] def bloomH(salt: String, key: org.apache.spark.sql.Column) =
    pmod(xxhash64(lit(salt), key), lit(BloomBits))

  /** Unrolled might-contain over columns `bf` (array<bigint>), `h1`,
    * `h2` — plain SQL bit arithmetic, stays inside whole-stage codegen. */
  private[graft] val bloomMightContain: String = (0 until BloomJ).map { i =>
    val pos = s"pmod(h1 + $i * h2, ${BloomBits}L)"
    s"((shiftright(element_at(bf, CAST($pos div 64 AS INT) + 1), " +
      s"CAST($pos % 64 AS INT)) & 1) = 1)"
  }.mkString(" AND ")

  /** Write nation out in `fmt`, read it back, and aggregate — if the
    * sink or source mangles anything (types, quoting, encoding), the
    * aggregate diverges from the parquet-based oracle. */
  private def roundtrip(s: SparkSession, d: String, fmt: String): DataFrame = {
    val nation = t(s, d, "nation")
    val path = rtDir(d, fmt)
    val w = nation.write.format(fmt).mode("overwrite")
    (if (fmt == "csv") w.option("header", "true") else w).save(path)
    val back = fmt match {
      // CSV/JSON carry no schema — reading with the original schema is
      // the roundtrip contract (values must parse back exactly)
      case "csv" => s.read.schema(nation.schema).option("header", "true").format(fmt).load(path)
      case "json" => s.read.schema(nation.schema).format(fmt).load(path)
      case _ => s.read.format(fmt).load(path)
    }
    back.groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        min(col("n_name")).as("first_name"))
  }

  /** Corrupt-tolerant ingest: write nation as JSONL with every 3rd
    * record deliberately truncated mid-object, read back PERMISSIVE
    * with `_corrupt_record` capture. On a 100 TB ingest a handful of
    * bad records must be quarantined into a column, not kill the job
    * (FAILFAST) or vanish silently (DROPMALFORMED) — the aggregate
    * proves every record landed in exactly one of good/corrupt. */
  private def corruptIngest(s: SparkSession, d: String): DataFrame = {
    val nation = t(s, d, "nation")
    val path = rtDir(d, "corrupt_json")
    nation.select(
        when(col("n_nationkey") % 3 === 0,
          concat(lit("{\"n_nationkey\": "), col("n_nationkey").cast("string"),
            lit(", BROKEN")))
          .otherwise(to_json(struct(col("n_nationkey"), col("n_name"),
            col("n_regionkey")))).as("value"))
      .write.mode("overwrite").text(path)
    val withCorrupt = org.apache.spark.sql.types.StructType(
      nation.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType))
    s.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(when(col("_corrupt_record").isNotNull, 1)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_nationkey")))
          .cast("long").as("sum_good_key"))
  }

  val queries: Map[String, QFn] = Map(
    "source_corrupt_tolerance" -> corruptIngest _,

    // ---- window: distribution functions over a total order ----
    "win_ntile_dist" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("px_c").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("px_c", cents(col("o_totalprice")))
        .select(col("o_orderkey"), col("o_orderstatus"), col("px_c"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
    }),

    // ---- window: lead / first_value / last_value / nth_value ----
    "win_lead_nth" -> ((s, d) => {
      val ord = Window.partitionBy("user_id")
        .orderBy(col("us").asc, col("event_id").asc)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("us"),
          lead(col("us"), 1).over(ord).as("next_us"),
          first(col("event_id")).over(full).as("first_event"),
          last(col("event_id")).over(full).as("last_event"),
          nth_value(col("event_id"), 2).over(full).as("second_event"))
    }),

    // ---- window: RANGE (value-based) frame ----
    // peers are grouped by ORDER BY VALUE, so the result is independent
    // of row order among equal timestamps — the frame kind ROWS cannot
    // express (win_frame_moving covers ROWS)
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-1800000000L, 0L) // trailing 30 min of event time
      t(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("vc", cents(col("value")))
        .select(col("event_id"), col("user_id"), col("us"),
          sum(col("vc")).over(w).as("sum_30m_c"),
          count(lit(1)).over(w).cast("long").as("n_30m"))
    }),

    // ---- agg: arg-extremes with a bit-exact unique ordering key ----
    "agg_minby_maxby" -> ((s, d) =>
      t(s, d, "lineitem")
        // unique per row: px_c (≤1e7) * 1e9 + orderkey*10 + linenumber
        .withColumn("by_key",
          cents(col("l_extendedprice")) * lit(1000000000L) +
            col("l_orderkey").cast("long") * 10L + col("l_linenumber").cast("long"))
        .groupBy("l_returnflag")
        .agg(
          max_by(col("l_orderkey"), col("by_key")).cast("long").as("priciest_order"),
          min_by(col("l_orderkey"), col("by_key")).cast("long").as("cheapest_order"),
          max(col("by_key")).as("max_key"))),

    // ---- agg: boolean / conditional aggregates ----
    "agg_bool_countif" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          expr("count_if(l_quantity > 25)").as("n_bulk"),
          expr("bool_and(l_quantity > 0)").as("all_positive"),
          expr("bool_or(l_discount > 0.09)").as("any_deep_discount"),
          count(when(col("l_returnflag") === "A", 1)).as("n_returned"))),

    // ---- higher-order array functions ----
    // Array-valued OUTPUT columns crash the round driver's row-sort
    // (pandas lexsort can't factorize ndarray cells — CORRECTNESS_r03
    // arr_hof err), so every array result is serialized via array_join
    // before leaving the query; the HOFs still run on real arrays.
    "arr_hof" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("arr", sequence(lit(1L), pmod(col("p_size"), lit(7)).cast("long") + 2L))
        .select(col("p_partkey"), array_join(col("arr"), ",").as("arr_s"),
          exists(col("arr"), _ > 5).as("has_gt5"),
          forall(col("arr"), _ > 0).as("all_pos"),
          aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("arr_sum"),
          element_at(reverse(sort_array(col("arr"))), 1).as("arr_max"),
          array_join(flatten(array(col("arr"), col("arr"))), ",").as("doubled_s"),
          array_join(slice(col("arr"), 2, 3), ",").as("mid_s"))),

    // Q14: promo revenue share in a shipping quarter — broadcast dim
    // join + conditional aggregate + exact-int ratio
    "q14_promo" -> ((s, d) => {
      val li = t(s, d, "lineitem").filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      val part = t(s, d, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
            revenueC4(col("l_extendedprice"), col("l_discount"))).otherwise(0L))
            .as("promo_c4"),
          sum(revenueC4(col("l_extendedprice"), col("l_discount"))).as("total_c4"),
          count(lit(1)).as("n_items"))
        .withColumn("promo_pct",
          lit(100.0) * col("promo_c4").cast("double") / col("total_c4").cast("double"))
    }),

    // Q12: shipping latency by order priority — timestamp arithmetic
    // predicate inside a conditional aggregate over a fact-fact join
    "q12_latency" -> ((s, d) => {
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      ord.join(li, ord("o_orderkey") === li("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_late"))
    }),

    // Q19: disjunction of (brand, size-range, qty-range) conjunctions
    // spanning BOTH join sides — Catalyst must split the OR into
    // per-side pushable residuals rather than filtering post-join only
    "q19_brandqty" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = t(s, d, "part")
      val cond =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .filter(cond)
        .agg(count(lit(1)).as("n_items"),
          sum(revenueC4(col("l_extendedprice"), col("l_discount"))).as("revenue_c4"))
    }),

    // Q21 shape (suppliers who kept orders waiting), adapted to this
    // schema's dates: "late" = shipped >90 days after order date. The
    // optimizer stressor is the double correlated quantifier — EXISTS
    // (another supplier contributed to the order) AND NOT EXISTS
    // (another supplier was ALSO late) — which Catalyst must turn into
    // semi/anti joins, never per-row subquery execution
    "q21_waiting" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("q21_supp")
      t(s, d, "orders").createOrReplaceTempView("q21_ord")
      t(s, d, "lineitem").createOrReplaceTempView("q21_li")
      s.sql("""
        SELECT s_name, COUNT(1) AS numwait
        FROM q21_supp JOIN q21_li l1 ON s_suppkey = l1.l_suppkey
        JOIN q21_ord ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAYS
          AND EXISTS (
            SELECT 1 FROM q21_li l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM q21_li l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAYS)
        GROUP BY s_name
      """)
    }),

    // Q22 shape (promising idle customers), phone country code adapted
    // to c_nationkey buckets: positive-balance customers above the
    // bucket-set average with NO orders — scalar subquery + anti join
    "q22_idle_balance" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("q22_cust")
      t(s, d, "orders").createOrReplaceTempView("q22_ord")
      s.sql("""
        SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
               COUNT(1) AS numcust,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
        FROM q22_cust
        WHERE c_nationkey % 5 IN (0, 1, 2)
          AND c_acctbal > (
            SELECT AVG(c_acctbal) FROM q22_cust
            WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2))
          AND NOT EXISTS (
            SELECT 1 FROM q22_ord
            WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        GROUP BY c_nationkey % 5
      """)
    }),

    // Q6 shape (forecast revenue): single pushed-down scan, integer
    // discount band (cents, not double literals — no ulp boundary)
    "q6_forecast" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("q6_li")
      s.sql("""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                 * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
               COUNT(1) AS n_lines
        FROM q6_li
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND CAST(ROUND(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24
      """)
    }),

    // Q7 shape (volume shipping): symmetric nation-pair predicate over
    // a double nation lookup, yearly exact-c4 volumes
    "q7_volume" -> ((s, d) => {
      Seq("lineitem", "orders", "customer", "supplier", "nation")
        .foreach(tb => t(s, d, tb).createOrReplaceTempView(s"q7_$tb"))
      s.sql("""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(vol_c4) AS BIGINT) AS revenue_c4
        FROM (
          SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
            CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
            CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_c4
          FROM q7_lineitem
          JOIN q7_orders ON l_orderkey = o_orderkey
          JOIN q7_customer ON o_custkey = c_custkey
          JOIN q7_supplier ON l_suppkey = s_suppkey
          JOIN q7_nation cn ON c_nationkey = cn.n_nationkey
          JOIN q7_nation sn ON s_nationkey = sn.n_nationkey
          WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
      """)
    }),

    // Q9 shape (product-type profit): profit = revenue − cost in one
    // c4 unit system (retail cents × quantity cents ≡ px cents ×
    // discount-complement percent), grouped by supplier nation × year
    "q9_profit" -> ((s, d) => {
      Seq("lineitem", "orders", "part", "supplier", "nation")
        .foreach(tb => t(s, d, tb).createOrReplaceTempView(s"q9_$tb"))
      s.sql("""
        SELECT nation, o_year, CAST(SUM(rev_c4 - cost_c4) AS BIGINT) AS profit_c4
        FROM (
          SELECT sn.n_name AS nation,
            CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
            CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS rev_c4,
            CAST(ROUND(p_retailprice*100) AS BIGINT)
              * CAST(ROUND(l_quantity*100) AS BIGINT) AS cost_c4
          FROM q9_lineitem
          JOIN q9_orders ON l_orderkey = o_orderkey
          JOIN q9_part ON l_partkey = p_partkey
          JOIN q9_supplier ON l_suppkey = s_suppkey
          JOIN q9_nation sn ON s_nationkey = sn.n_nationkey
          WHERE p_name LIKE '%red%')
        GROUP BY nation, o_year
      """)
    }),

    // Q11 shape (important stock): per-part value with a HAVING
    // against a scalar global-total subquery — exact integer
    // cross-multiplication instead of a float fraction
    "q11_important_parts" -> ((s, d) => {
      Seq("lineitem", "supplier", "nation")
        .foreach(tb => t(s, d, tb).createOrReplaceTempView(s"q11_$tb"))
      s.sql("""
        WITH v AS (
          SELECT l_partkey,
            CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS val_c4
          FROM q11_lineitem
          JOIN q11_supplier ON l_suppkey = s_suppkey
          JOIN q11_nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_1')
        SELECT l_partkey, CAST(SUM(val_c4) AS BIGINT) AS part_val_c4
        FROM v
        GROUP BY l_partkey
        HAVING SUM(val_c4) * 400 > (SELECT SUM(val_c4) FROM v)
      """)
    }),

    // Q4 shape (order priority checking): EXISTS with a correlated
    // date-arithmetic predicate → left-semi join, grouped counts.
    // "Late" adapted to shipped >30 days after order date
    "q4_priority" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("q4_ord")
      t(s, d, "lineitem").createOrReplaceTempView("q4_li")
      s.sql("""
        SELECT o_orderpriority, COUNT(1) AS n_orders
        FROM q4_ord
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-04-01'
          AND EXISTS (
            SELECT 1 FROM q4_li
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAYS)
        GROUP BY o_orderpriority
      """)
    }),

    // Q13 shape (customer order-count distribution): the signature is
    // the FILTER INSIDE THE LEFT JOIN CONDITION — zero-order customers
    // must survive with count 0, so the filter cannot move to WHERE
    "q13_custdist" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("q13_cust")
      t(s, d, "orders").createOrReplaceTempView("q13_ord")
      s.sql("""
        SELECT c_count, COUNT(1) AS n_cust FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM q13_cust LEFT JOIN q13_ord
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count
      """)
    }),

    // Q15 shape (top supplier): revenue view + scalar MAX subquery —
    // ties must ALL surface (the reason Q15 is not a LIMIT 1)
    "q15_top_supplier" -> ((s, d) => {
      t(s, d, "supplier").createOrReplaceTempView("q15_supp")
      t(s, d, "lineitem").createOrReplaceTempView("q15_li")
      s.sql("""
        WITH rev AS (
          SELECT l_suppkey,
            CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS total_rev_c4
          FROM q15_li
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_c4
        FROM q15_supp JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev_c4 = (SELECT MAX(total_rev_c4) FROM rev)
      """)
    }),

    // Q8 shape (market share): one nation's share of a region's yearly
    // order volume — two nation lookups (customer's and supplier's),
    // conditional share in exact integer volume units
    "q8_market_share" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("q8_cust")
      t(s, d, "orders").createOrReplaceTempView("q8_ord")
      t(s, d, "lineitem").createOrReplaceTempView("q8_li")
      t(s, d, "supplier").createOrReplaceTempView("q8_supp")
      t(s, d, "nation").createOrReplaceTempView("q8_nat")
      t(s, d, "region").createOrReplaceTempView("q8_reg")
      s.sql("""
        SELECT o_year,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol_c4 ELSE 0 END) AS BIGINT)
            AS nation_vol_c4,
          CAST(SUM(vol_c4) AS BIGINT) AS total_vol_c4,
          CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol_c4 ELSE 0 END) AS DOUBLE)
            / CAST(SUM(vol_c4) AS DOUBLE) AS share
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
            CAST(ROUND(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_c4,
            sn.n_name AS supp_nation
          FROM q8_li
          JOIN q8_ord ON l_orderkey = o_orderkey
          JOIN q8_cust ON o_custkey = c_custkey
          JOIN q8_nat cn ON c_nationkey = cn.n_nationkey
          JOIN q8_reg ON cn.n_regionkey = r_regionkey
          JOIN q8_supp ON l_suppkey = s_suppkey
          JOIN q8_nat sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'AMERICA')
        GROUP BY o_year
      """)
    }),

    // OLAP time-hierarchy rollup: year → quarter → month subtotal
    // levels in one pass (Expand), exact integer sums
    "agg_time_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          month(col("o_orderdate")).cast("long").as("mon"),
          cents(col("o_totalprice")).as("px_c"))
        .createOrReplaceTempView("ord_time")
      s.sql("""
        SELECT yr, qtr, mon, CAST(grouping_id() AS BIGINT) AS gid,
               COUNT(1) AS n_orders,
               CAST(SUM(px_c) AS BIGINT) AS sum_px_c
        FROM ord_time
        GROUP BY ROLLUP (yr, qtr, mon)
      """)
    }),

    // null-safe equality join (<=>): NULL keys MATCH each other,
    // unlike plain = where they vanish — the semantics CDC/dedup joins
    // need when the key itself is nullable
    "join_null_safe" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey"),
          when(col("c_nationkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey"))
            .as("nk"))
      val n = t(s, d, "nation")
        .select(when(col("n_nationkey") % 7 === 0, lit(null)).otherwise(col("n_nationkey"))
          .as("nk2"), col("n_name"))
      c.join(n, col("nk") <=> col("nk2"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_custkey")).as("sum_key"))
    }),

    // Q17 shape (small-quantity revenue): correlated per-part average
    // rewritten into EXACT integer form — qty < 0.2*avg(qty) becomes
    // 5*qty_c*count < sum_c, so the predicate cannot flip on a
    // floating ulp between engines. TWO correlated scalar aggregates
    // that Catalyst must decorrelate into aggregate+join, not per-row
    "q17_small_qty" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("q17_li")
      t(s, d, "part").createOrReplaceTempView("q17_part")
      s.sql("""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_c,
               COUNT(1) AS n_small
        FROM q17_li l JOIN q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND 5 * CAST(ROUND(l_quantity*100) AS BIGINT)
                * (SELECT COUNT(1) FROM q17_li l2
                   WHERE l2.l_partkey = l.l_partkey)
              < (SELECT CAST(SUM(CAST(ROUND(l3.l_quantity*100) AS BIGINT)) AS BIGINT)
                 FROM q17_li l3 WHERE l3.l_partkey = l.l_partkey)
      """)
    }),

    // Q2 shape (minimum-cost supplier): correlated MIN over a derived
    // part-supplier link (distinct lineitem pairs stand in for
    // partsupp) — the subquery must decorrelate onto the same derived
    // table the outer query joins
    // Q2-shaped min-cost supplier. The textbook correlated-scalar form
    // (the oracle keeps it) decorrelates into a SECOND distinct-pair
    // derivation over lineitem — two scans of the big table plus two
    // supplier joins. Single-pass form: derive DISTINCT (partkey,
    // suppkey) ONCE, push the p_size gate below the window (legal — it
    // prunes whole partkeys, and the per-partkey MIN never crosses
    // partkeys), then the correlated MIN is a window over the tiny
    // pair table. One lineitem scan; part/supplier stay dim-sized
    // joins the planner broadcasts at stats scale and shuffles at
    // 100 TB — either way the fact table is read once.
    "q2_min_supplier" -> ((s, d) => {
      val ps = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val smallParts = t(s, d, "part").filter(col("p_size") <= 5)
        .select(col("p_partkey"))
      val supp = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"),
        cents(col("s_acctbal")).as("bal_c"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
      ps.join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_bal", min(col("bal_c")).over(w))
        .filter(col("bal_c") === col("min_bal"))
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
          col("s_name"), col("bal_c"))
    }),

    // full-outer join with both unmatched sides live (customer side
    // filtered to one segment so order-only rows exist)
    "join_full_outer" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val o = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          c("c_custkey").isNotNull.as("has_cust"),
          o("o_custkey").isNotNull.as("has_orders"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // wide → long: pivot then stack() back (the UNPIVOT surface)
    "unpivot_returns" -> ((s, d) => {
      val wide = t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(cents(col("l_quantity"))))
      wide.select(col("l_linestatus"),
        expr("stack(3, 'A', A, 'N', N, 'R', R) as (flag, qty_c)"))
    }),

    // NOT IN with a non-nullable subquery key (the null-safe case —
    // NOT IN over a nullable key yields empty, which is a trap, not a
    // query; the key here is a PK)
    "subquery_not_in" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("sni_cust")
      t(s, d, "orders").createOrReplaceTempView("sni_ord")
      s.sql("""
        SELECT c_mktsegment, COUNT(1) AS n_never_big
        FROM sni_cust
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM sni_ord WHERE o_totalprice > 150000)
        GROUP BY c_mktsegment
      """)
    }),

    // time-series resample: per-user hourly grid (sequence over exact
    // micros longs), missing hours filled with 0 events and a
    // forward-filled running value — the gap-fill + ffill pattern.
    // `div` (IntegralDivide) keeps the bucketing in exact integer
    // arithmetic on both engines.
    "ts_resample_ffill" -> ((s, d) => {
      val hourUs = 3600000000L
      val ev = t(s, d, "events")
        .filter(col("user_id") % 50 === 0)
        .select(col("user_id"),
          (expr(s"unix_micros(ts) div $hourUs") * hourUs).as("hour_us"),
          cents(col("value")).as("vc"))
      val hourly = ev.groupBy("user_id", "hour_us")
        .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_c"))
      val grid = ev.groupBy("user_id")
        .agg(min(col("hour_us")).as("h0"), max(col("hour_us")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), lit(hourUs))).as("hour_us"))
      val w = Window.partitionBy("user_id").orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour_us"), "left")
        .select(col("user_id"), col("hour_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("sum_c").as("sum_c_raw"),
          last(col("sum_c"), ignoreNulls = true).over(w).as("sum_c_ffill"))
    }),

    // ---- string scalars round 2 ----
    "str_funcs2" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_brand")).cast("long").as("lev_name_brand"),
          translate(col("p_name"), "aeiou", "AEIOU").as("no_vowels"),
          lpad(col("p_size").cast("string"), 5, "0").as("size_padded"),
          concat(repeat(substring(col("p_name"), 1, 2), 2)).as("rep2"),
          reverse(col("p_name")).as("rev_name"),
          ascii(col("p_brand")).cast("long").as("brand_ascii"),
          instr(col("p_name"), "a").cast("long").as("first_a"),
          split_part(col("p_name"), lit(" "), lit(1)).as("first_word"))),

    // ---- date arithmetic ----
    "date_arith" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("od", col("o_orderdate").cast("date"))
        .groupBy(
          quarter(col("od")).cast("long").as("qtr"),
          (dayofweek(col("od")) - 1).cast("long").as("dow"), // 0 = Sunday, DuckDB convention
          weekofyear(col("od")).cast("long").as("iso_week"),
          date_format(last_day(col("od")), "yyyy-MM-dd").as("month_end"),
          date_format(date_add(col("od"), 30), "yyyy-MM-dd").as("plus_30d"),
          datediff(lit("1998-01-01").cast("date"), col("od")).cast("long").as("days_to_98"))
        .agg(count(lit(1)).as("n_orders"))),

    // ---- subqueries: EXISTS / IN / correlated scalar ----
    "subquery_exists" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderstatus, COUNT(1) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sum_px_c
        FROM orders_v o
        WHERE EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        GROUP BY o_orderstatus
      """)
    }),

    "subquery_in" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v2")
      t(s, d, "nation").createOrReplaceTempView("nation_v2")
      s.sql("""
        SELECT c_mktsegment, COUNT(1) AS n_cust,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sum_bal_c
        FROM customer_v2
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation_v2 WHERE n_name < 'G')
        GROUP BY c_mktsegment
      """)
    }),

    "subquery_corr_scalar" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v3")
      s.sql("""
        SELECT c_custkey, c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer_v3 o
        WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) =
              (SELECT MAX(CAST(ROUND(i.c_acctbal * 100) AS BIGINT))
               FROM customer_v3 i WHERE i.c_nationkey = o.c_nationkey)
      """)
    }),

    // ---- lateral explode (UDTF-shaped projection) ----
    "lateral_explode" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          posexplode(split(col("o_orderpriority"), "-")))
        .select(col("o_orderkey"), col("pos").cast("long").as("pos"), col("col").as("part"))),

    // ---- salted as-of (hot-key-safe variant; same oracle as asof) ----
    "asof_salted_purchase_click" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("us"))
      graft.operators.AsofJoin.asofSalted(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Map("event_id" -> "click_event_id", "us" -> "click_us"),
          tieBreak = Seq("event_id"), salts = 8)
        .select(col("user_id"), col("event_id"),
          col("us").as("purchase_us"),
          col("click_event_id"), col("click_us"),
          (col("us") - col("click_us")).as("gap_us"))
    }),

    // ---- regexp scalars ----
    "str_regex" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("starred"),
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          array_join(expr("regexp_extract_all(p_name, '[a-z]+', 0)"), "|").as("runs"),
          col("p_name").rlike("red|blue").as("is_primary_color"),
          regexp_count(col("p_name"), lit("[aeiou]")).cast("long").as("n_vowels"))),

    // ---- classic TPC-H shapes ----
    // Q10: returned-item revenue per customer, top 20
    "join_q10_returns" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val ord = t(s, d, "orders")
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(revenueC4(col("l_extendedprice"), col("l_discount"))).as("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Q18: large-volume customers (orders whose lineitems sum > 300 qty)
    "join_q18_bigorders" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("q18_cust")
      t(s, d, "orders").createOrReplaceTempView("q18_ord")
      t(s, d, "lineitem").createOrReplaceTempView("q18_li")
      s.sql("""
        SELECT c_custkey, c_name, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS px_c,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        FROM q18_cust JOIN q18_ord ON c_custkey = o_custkey
        JOIN q18_li ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM q18_li
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
      """)
    }),

    // ---- multiset set ops (ALL variants keep duplicates) ----
    "setop_except_all" -> ((s, d) => {
      val a = t(s, d, "lineitem").select(col("l_returnflag").as("flag"))
      val b = t(s, d, "lineitem").filter(col("l_quantity") > 25)
        .select(col("l_returnflag").as("flag"))
      a.exceptAll(b).groupBy("flag").agg(count(lit(1)).as("n"))
    }),
    "setop_intersect_all" -> ((s, d) => {
      val a = t(s, d, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_orderstatus").as("st"))
      val b = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderstatus").as("st"))
      a.intersectAll(b).groupBy("st").agg(count(lit(1)).as("n"))
    }),

    // ---- decimal arithmetic: exact fixed-point aggregation ----
    // DecimalType end to end: 2-decimal money summed as DECIMAL stays
    // exact at any row count (double sums drift); both engines cast
    // the result to one precision so the arrow types align
    // The sum runs in exact DECIMAL arithmetic; the OUTPUT is the
    // canonical string rendering because the round driver materializes
    // DuckDB decimals and parquet decimals through different pandas
    // dtypes (CORRECTNESS_r03 hash mismatch on identical values) —
    // DECIMAL(38,6)::VARCHAR is identical text on both engines.
    "agg_decimal" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("px", col("l_extendedprice").cast("decimal(12,2)"))
        .groupBy("l_returnflag")
        .agg(sum(col("px")).cast("decimal(38,6)").cast("string").as("sum_px"),
          count(lit(1)).as("n"))),

    // ---- join strategy hints: force a shuffle-hash join ----
    // same result as the hint-free plan (oracle is a plain join); the
    // physical strategy is pinned in PlanAuditSpec — hints are how a
    // user overrides Catalyst when they know the data better
    "join_shuffle_hash_hint" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val supp = t(s, d, "supplier").hint("shuffle_hash")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("sum_px_c"))
        .select(col("s_nationkey").cast("long").as("s_nationkey"),
          col("n_items"), col("sum_px_c"))
    }),

    // Runtime-filter join: a Bloom filter built over the SELECTIVE dim
    // side's keys (urgent orders, ~20 %) prefilters the fact scan
    // BEFORE the join shuffle — Spark's InjectRuntimeFilter shape,
    // hand-rolled so it is deterministic and works on any join the
    // optimizer won't rewrite itself. The bloom is one 32 KB
    // array<bigint> row broadcast to every executor; the probe is
    // unrolled codegen'd bit arithmetic (shiftright/element_at — no
    // UDF per row). False positives only add shuffle rows; the exact
    // join still decides membership, so the result — and the oracle —
    // is the plain join's. BloomPrefilterSpec pins zero false
    // negatives, the measured row reduction, and that the prefilter
    // adds no exchange.
    "join_bloom_prefilter" -> ((s, d) => {
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val bloom = urgent
        .select(bloomH("bf1:", col("o_orderkey")).as("h1"),
          bloomH("bf2:", col("o_orderkey")).as("h2"))
        .agg(bloomOr(col("h1"), col("h2")).as("bf"))
      val li = t(s, d, "lineitem")
        .withColumn("h1", bloomH("bf1:", col("l_orderkey")))
        .withColumn("h2", bloomH("bf2:", col("l_orderkey")))
      val pre = li.crossJoin(broadcast(bloom))
        .where(expr(bloomMightContain))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      pre.join(urgent.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n_items"),
          sum(revenueC4(col("l_extendedprice"), col("l_discount")))
            .as("sum_rev_c4"))
    }),

    // ---- format-roundtrip sources ----
    "source_csv_roundtrip" -> ((s, d) => roundtrip(s, d, "csv")),
    "source_json_roundtrip" -> ((s, d) => roundtrip(s, d, "json")),
    "source_orc_roundtrip" -> ((s, d) => roundtrip(s, d, "orc")),

    // ---- partitioned write + partition-pruned read ----
    // events written partitioned by event_type; the filtered read-back
    // must prune to one partition directory (PartitionFilters asserted
    // in PlanAuditSpec) and agree with the unpartitioned truth.
    "source_partitioned_pruning" -> ((s, d) => {
      val path = rtDir(d, "events_by_type")
      t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("value_c"), unix_micros(col("ts")).as("us"))
        .write.partitionBy("event_type").mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value_c")).as("sum_value_c"),
          max(col("us")).as("last_us"))
    }),

    // Q16 shape (parts/supplier relationship): countDistinct over the
    // derived part-supplier link, with a NOT IN exclusion subquery
    // (complaint suppliers adapted to negative-balance suppliers —
    // this schema carries no s_comment) and multi-predicate part
    // filters (<>, NOT LIKE, IN-list)
    "q16_parts_suppliers" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("q16_li")
      t(s, d, "part").createOrReplaceTempView("q16_part")
      t(s, d, "supplier").createOrReplaceTempView("q16_supp")
      s.sql("""
        SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM q16_li) ps
        JOIN q16_part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (2, 5, 11, 28, 37)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM q16_supp WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
      """)
    }),

    // Q20 shape (potential part promotion): the oracle keeps the
    // doubly-nested correlated form; the engine computes the same
    // answer in ONE lineitem pass. The two correlated scalar SUMs are
    // conditional aggregates over the same rows — group by
    // (l_partkey, l_suppkey) with CASE-summed pre-/post-1996 cents,
    // then derive the PART-level pre total (the l3 subquery correlates
    // on partkey only, not the pair) as a window sum over the tiny
    // pair table, and the 2× comparison becomes a plain filter. The
    // gear-part predicate pushes BELOW the aggregate as a broadcast
    // semi-join (it's on partkey, so it cannot change any surviving
    // partkey's pre total). lineitem scans: 3+ → 1; at 100 TB that is
    // the difference between one fact pass and three.
    "q20_excess_suppliers" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("q20_li")
      t(s, d, "part").createOrReplaceTempView("q20_part")
      t(s, d, "supplier").createOrReplaceTempView("q20_supp")
      t(s, d, "nation").createOrReplaceTempView("q20_nat")
      s.sql("""
        WITH pair AS (
          SELECT l_partkey, l_suppkey,
            SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                THEN CAST(ROUND(l_quantity*100) AS BIGINT) ELSE 0 END) AS post_c,
            SUM(CASE WHEN l_shipdate < TIMESTAMP '1996-01-01'
                THEN CAST(ROUND(l_quantity*100) AS BIGINT) ELSE 0 END) AS pre_c
          FROM q20_li
          WHERE l_partkey IN (
            SELECT p_partkey FROM q20_part WHERE p_name LIKE '%gear%')
          GROUP BY l_partkey, l_suppkey),
        excess AS (
          SELECT l_suppkey
          FROM (SELECT l_suppkey, post_c,
                  SUM(pre_c) OVER (PARTITION BY l_partkey) AS pre_part
                FROM pair)
          WHERE 2 * post_c > pre_part)
        SELECT s_suppkey, s_name
        FROM q20_supp JOIN q20_nat ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_2'
          AND s_suppkey IN (SELECT l_suppkey FROM excess)
      """)
    }),

    // listagg (SQL:2016 WITHIN GROUP ordered string aggregation — new
    // in Spark 4) + mode-with-explicit-tie-break: the ordered-concat
    // and most-frequent-value aggregates. mode() breaks count ties
    // engine-specifically and the data genuinely HAS a tie (status P at
    // sf0.001: two priorities at count 111 — pinned in
    // RankTableTextOpsSpec), so the query computes the mode via a
    // window (ORDER BY n DESC, pri ASC): deterministic at any scale.
    "agg_listagg_mode" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("la_orders")
      s.sql("""
        WITH md AS (
          SELECT o_orderstatus, o_orderpriority AS mode_pri
          FROM (
            SELECT o_orderstatus, o_orderpriority,
              ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                ORDER BY COUNT(1) DESC, o_orderpriority ASC) AS rk
            FROM la_orders GROUP BY o_orderstatus, o_orderpriority)
          WHERE rk = 1),
        la AS (
          SELECT o_orderstatus,
            listagg(DISTINCT o_orderpriority, ',')
              WITHIN GROUP (ORDER BY o_orderpriority) AS pris,
            COUNT(1) AS n
          FROM la_orders GROUP BY o_orderstatus)
        SELECT la.o_orderstatus, md.mode_pri, la.pris, la.n
        FROM la JOIN md USING (o_orderstatus)
      """)
    }),

    // Schema-evolution union: batches with drifting schemas merged by
    // COLUMN NAME with absent columns null-filled — the ingest shape
    // when a source adds fields mid-stream (positional UNION would
    // silently misalign). Spark: unionByName(allowMissingColumns);
    // DuckDB: UNION ALL BY NAME.
    "setop_union_by_name" -> ((s, d) => {
      val old = t(s, d, "supplier")
        .filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey"), col("s_name"))
      val neu = t(s, d, "supplier")
        .filter(col("s_suppkey") % 2 === 1)
        .select(col("s_suppkey"), col("s_name"),
          cents(col("s_acctbal")).as("bal_c"))
      old.unionByName(neu, allowMissingColumns = true)
        .groupBy(col("bal_c").isNull.as("legacy_batch"))
        .agg(count(lit(1)).as("n"), sum(col("bal_c")).as("sum_bal_c"),
          min(col("s_suppkey")).as("min_key"))
    }),

    // width_bucket: the SQL-standard equi-width binning scalar (incl.
    // its two overflow buckets 0 and n+1), run in the integer-cents
    // domain so no bucket boundary can misround; DuckDB lacks the
    // function, so the oracle is the standard's closed form.
    "agg_width_bucket" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("value_c", cents(col("value")))
        .groupBy(width_bucket(col("value_c"), lit(0L), lit(20000L), lit(8L))
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_c")).as("sum_value_c"))),

    // Statistical aggregates (corr / covariance / stddev / variance):
    // one pass, mergeable moment sketches under the hood — the profile
    // primitives behind feature analysis. samp/pop variants matched to
    // the oracle's; rounding chosen per magnitude so summation-order
    // noise (~1e-12 relative) can never flip a digit while the check
    // still pins ~7 significant figures.
    "agg_stats" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .withColumn("qty_c", cents(col("l_quantity")))
        .withColumn("px_c", cents(col("l_extendedprice")))
      li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        round(corr(col("qty_c"), col("px_c")), 6).as("corr_qp"),
        round(covar_samp(col("qty_c"), col("px_c")) / 1e6, 4).as("covar_m"),
        round(stddev_samp(col("qty_c")) / 1e3, 6).as("sd_qty_k"),
        round(var_pop(col("qty_c")) / 1e6, 6).as("var_qty_m"))
    }),

    // Correlated LATERAL subquery with LIMIT (top-N per outer row):
    // the decorrelation stressor the window-function route avoids —
    // Catalyst must rewrite the per-row ORDER BY ... LIMIT 2 into a
    // rank-over-partition, not execute the subquery per nation.
    "join_lateral_topn" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("lat_nation")
      t(s, d, "supplier").createOrReplaceTempView("lat_supplier")
      s.sql("""
        SELECT n.n_name, t.s_suppkey, t.s_name, t.bal_c
        FROM lat_nation n JOIN LATERAL (
          SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal*100) AS BIGINT) AS bal_c
          FROM lat_supplier WHERE s_nationkey = n.n_nationkey
          ORDER BY bal_c DESC, s_suppkey LIMIT 2) t
      """)
    }),

    // Spark 4 collations: case-insensitive grouping via the column's
    // collation (COLLATE UTF8_LCASE) instead of lower()-normalizing
    // every expression site — mixed-case keys synthesized so the
    // collation actually merges groups. Output keys re-normalized and
    // cast back to the default collation (parquet/oracle comparability).
    "str_collation" -> ((s, d) =>
      t(s, d, "customer")
        .withColumn("seg",
          when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
            .otherwise(col("c_mktsegment")))
        .groupBy(expr("seg COLLATE UTF8_LCASE").as("seg_ci"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"))
        .select(lower(col("seg_ci")).cast("string").as("segment"),
          col("n"), col("sum_key"))),

    // Explicit null placement under a LIMIT: Spark's ASC default is
    // NULLS FIRST, DuckDB's is NULLS LAST — a top-k over a nullable
    // key silently diverges between engines unless the placement is
    // pinned. 30 synthesized nulls + 20 real keys cross the k=50 cut.
    "topk_nulls_first" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("pri",
          when(col("o_orderkey") % 500 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
        .orderBy(col("pri").asc_nulls_first, col("o_orderkey").asc)
        .limit(50)
        .select(col("o_orderkey"), col("pri"))),

    // Recursive CTE (new in Spark 4): BFS over the implicit binary
    // heap on p_partkey (parent = (k-1) div 2) — 11 recursion rounds
    // for 2000 nodes, each a keyed join of the table against the
    // previous frontier. The linear-recursion + frontier-join shape is
    // how SQL-level transitive closure / org-hierarchy queries run;
    // GraphOps' pointer-jumping CC remains the scale path for graphs
    // with deep diameters.
    "rec_cte_tree" -> ((s, d) => {
      t(s, d, "part").createOrReplaceTempView("rec_part")
      s.sql("""
        WITH RECURSIVE tree(k, depth) AS (
          SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT p.p_partkey, t.depth + 1
          FROM rec_part p JOIN tree t ON (p.p_partkey - 1) div 2 = t.k
          WHERE p.p_partkey >= 1)
        SELECT depth, COUNT(1) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        FROM tree GROUP BY depth
      """)
    }),

    // Edit-distance-≤1 fuzzy join via the deletion-neighborhood key
    // (graft.operators.FuzzyJoin): canonical part names vs variants
    // with one deterministically-chosen character deleted. The naive
    // formulation is a levenshtein theta-join → BroadcastNestedLoop;
    // this plans as explode → shuffled equi-join → residual filter.
    "join_fuzzy_levenshtein" -> ((s, d) => {
      val canon = t(s, d, "part").select(col("p_name").as("canon")).distinct()
      val pos = (lit(1) +
        graft.ops.TextOps.strHash(col("canon")) % length(col("canon")).cast("long"))
        .cast("int")
      val corrupt = canon.select(
        concat(col("canon").substr(lit(1), pos - 1),
          col("canon").substr(pos + 1, length(col("canon")) - pos))
          .as("corrupt")).distinct()
      graft.operators.FuzzyJoin.editDistance1Join(corrupt, "corrupt", canon, "canon")
    })
  )

  // ------------------------------------------------------------ oracles

  private val rtOracle =
    """SELECT n_regionkey, COUNT(1) AS n_nations,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  MIN(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey""".stripMargin

  val oracle: Map[String, String] = Map(
    "win_ntile_dist" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS px_c,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) ASC, o_orderkey ASC)""".stripMargin,

    "win_lead_nth" ->
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  lead(epoch_us(ts), 1) OVER w AS next_us,
        |  first_value(event_id) OVER wf AS first_event,
        |  last_value(event_id) OVER wf AS last_event,
        |  nth_value(event_id, 2) OVER wf AS second_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC),
        |  wf AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "win_range_frame" ->
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_30m_c,
        |  CAST(COUNT(1) OVER w AS BIGINT) AS n_30m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "agg_minby_maxby" ->
      """WITH keyed AS (
        |  SELECT l_returnflag, l_orderkey,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1000000000
        |      + l_orderkey * 10 + l_linenumber AS by_key
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  CAST(arg_max(l_orderkey, by_key) AS BIGINT) AS priciest_order,
        |  CAST(arg_min(l_orderkey, by_key) AS BIGINT) AS cheapest_order,
        |  CAST(MAX(by_key) AS BIGINT) AS max_key
        |FROM keyed GROUP BY l_returnflag""".stripMargin,

    "agg_bool_countif" ->
      """SELECT l_linestatus,
        |  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount,
        |  COUNT(1) FILTER (WHERE l_returnflag = 'A') AS n_returned
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "arr_hof" ->
      """SELECT p_partkey,
        |  array_to_string(range(1, (p_size % 7) + 3), ',') AS arr_s,
        |  len(list_filter(range(1, (p_size % 7) + 3), x -> x > 5)) > 0 AS has_gt5,
        |  len(list_filter(range(1, (p_size % 7) + 3), x -> NOT (x > 0))) = 0 AS all_pos,
        |  CAST(list_reduce(list_prepend(0, range(1, (p_size % 7) + 3)), (a, x) -> a + x) AS BIGINT) AS arr_sum,
        |  list_sort(range(1, (p_size % 7) + 3), 'DESC')[1] AS arr_max,
        |  array_to_string(flatten([range(1, (p_size % 7) + 3), range(1, (p_size % 7) + 3)]), ',') AS doubled_s,
        |  array_to_string(range(1, (p_size % 7) + 3)[2:4], ',') AS mid_s
        |FROM part""".stripMargin,

    "str_funcs2" ->
      """SELECT p_partkey,
        |  CAST(levenshtein(p_name, p_brand) AS BIGINT) AS lev_name_brand,
        |  translate(p_name, 'aeiou', 'AEIOU') AS no_vowels,
        |  lpad(p_size::VARCHAR, 5, '0') AS size_padded,
        |  repeat(left(p_name, 2), 2) AS rep2,
        |  reverse(p_name) AS rev_name,
        |  CAST(ascii(p_brand) AS BIGINT) AS brand_ascii,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
        |  split_part(p_name, ' ', 1) AS first_word
        |FROM part""".stripMargin,

    "date_arith" ->
      """SELECT CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        |  strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
        |  strftime(o_orderdate::DATE + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
        |  CAST(date_diff('day', o_orderdate::DATE, DATE '1998-01-01') AS BIGINT) AS days_to_98,
        |  COUNT(1) AS n_orders
        |FROM orders GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    "subquery_exists" ->
      """SELECT o_orderstatus, COUNT(1) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_px_c
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |GROUP BY o_orderstatus""".stripMargin,

    "subquery_in" ->
      """SELECT c_mktsegment, COUNT(1) AS n_cust,
        |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_c
        |FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name < 'G')
        |GROUP BY c_mktsegment""".stripMargin,

    "subquery_corr_scalar" ->
      """SELECT c_custkey, c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
        |FROM customer o
        |WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) =
        |      (SELECT MAX(CAST(ROUND(i.c_acctbal * 100) AS BIGINT))
        |       FROM customer i WHERE i.c_nationkey = o.c_nationkey)""".stripMargin,

    "lateral_explode" ->
      """SELECT o_orderkey, CAST(i - 1 AS BIGINT) AS pos,
        |  string_split(o_orderpriority, '-')[i] AS part
        |FROM orders,
        |  unnest(range(1, len(string_split(o_orderpriority, '-')) + 1)) AS t(i)""".stripMargin,

    "asof_salted_purchase_click" ->
      """SELECT p.user_id, p.event_id, epoch_us(p.ts) AS purchase_us,
        |  c.event_id AS click_event_id, epoch_us(c.ts) AS click_us,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "str_regex" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  array_to_string(regexp_extract_all(p_name, '[a-z]+', 0), '|') AS runs,
        |  regexp_matches(p_name, 'red|blue') AS is_primary_color,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]', 0)) AS BIGINT) AS n_vowels
        |FROM part""".stripMargin,

    "join_q10_returns" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |          * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue_c4 DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "join_q18_bigorders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS px_c,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice""".stripMargin,

    "q14_promo" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS promo_c4,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_c4,
        |  COUNT(1) AS n_items,
        |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |    ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "q12_latency" ->
      """SELECT o_orderpriority, COUNT(1) AS n_lines,
        |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q19_brandqty" ->
      """SELECT COUNT(1) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c4
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_waiting" ->
      """SELECT s_name, COUNT(1) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name""".stripMargin,

    "q22_idle_balance" ->
      """SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
        |  COUNT(1) AS numcust,
        |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
        |FROM customer
        |WHERE c_nationkey % 5 IN (0, 1, 2)
        |  AND c_acctbal > (
        |    SELECT AVG(c_acctbal) FROM customer
        |    WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |GROUP BY c_nationkey % 5""".stripMargin,

    "q6_forecast" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |         * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
        |  COUNT(1) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND CAST(ROUND(l_discount*100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q7_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(vol_c4) AS BIGINT) AS revenue_c4
        |FROM (
        |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_c4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')) v
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,

    "q9_profit" ->
      """SELECT nation, o_year, CAST(SUM(rev_c4 - cost_c4) AS BIGINT) AS profit_c4
        |FROM (
        |  SELECT sn.n_name AS nation,
        |    CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS rev_c4,
        |    CAST(ROUND(p_retailprice*100) AS BIGINT)
        |      * CAST(ROUND(l_quantity*100) AS BIGINT) AS cost_c4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_name LIKE '%red%') v
        |GROUP BY nation, o_year""".stripMargin,

    "q11_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS val_c4
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1')
        |SELECT l_partkey, CAST(SUM(val_c4) AS BIGINT) AS part_val_c4
        |FROM v
        |GROUP BY l_partkey
        |HAVING SUM(val_c4) * 400 > (SELECT SUM(val_c4) FROM v)""".stripMargin,

    "q4_priority" ->
      """SELECT o_orderpriority, COUNT(1) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q13_custdist" ->
      """SELECT c_count, COUNT(1) AS n_cust FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |         * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS total_rev_c4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev_c4
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev_c4 = (SELECT MAX(total_rev_c4) FROM rev)""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol_c4 ELSE 0 END) AS BIGINT)
        |    AS nation_vol_c4,
        |  CAST(SUM(vol_c4) AS BIGINT) AS total_vol_c4,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol_c4 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(vol_c4) AS DOUBLE) AS share
        |FROM (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS vol_c4,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'AMERICA') v
        |GROUP BY o_year""".stripMargin,

    "agg_time_rollup" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
        |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
        |  CAST(GROUPING(EXTRACT(year FROM o_orderdate)) * 4
        |     + GROUPING(EXTRACT(quarter FROM o_orderdate)) * 2
        |     + GROUPING(EXTRACT(month FROM o_orderdate)) AS BIGINT) AS gid,
        |  COUNT(1) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_px_c
        |FROM orders
        |GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate),
        |  EXTRACT(quarter FROM o_orderdate), EXTRACT(month FROM o_orderdate))""".stripMargin,

    "join_null_safe" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_nationkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
        |  FROM customer),
        |n AS (
        |  SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_nationkey END AS nk2,
        |    n_name
        |  FROM nation)
        |SELECT n_name, COUNT(1) AS n_cust,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM c JOIN n ON nk IS NOT DISTINCT FROM nk2
        |GROUP BY n_name""".stripMargin,

    "q17_small_qty" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_c,
        |  COUNT(1) AS n_small
        |FROM lineitem l JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND 5 * CAST(ROUND(l_quantity*100) AS BIGINT)
        |        * (SELECT COUNT(1) FROM lineitem l2
        |           WHERE l2.l_partkey = l.l_partkey)
        |      < (SELECT CAST(SUM(CAST(ROUND(l3.l_quantity*100) AS BIGINT)) AS BIGINT)
        |         FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)""".stripMargin,

    "q2_min_supplier" ->
      """SELECT p_partkey, s_suppkey, s_name,
        |  CAST(ROUND(s_acctbal*100) AS BIGINT) AS bal_c
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size <= 5
        |  AND CAST(ROUND(s_acctbal*100) AS BIGINT) = (
        |    SELECT MIN(CAST(ROUND(s2.s_acctbal*100) AS BIGINT))
        |    FROM (SELECT DISTINCT l_partkey AS pk2, l_suppkey AS sk2
        |          FROM lineitem) ps2
        |    JOIN supplier s2 ON s2.s_suppkey = sk2
        |    WHERE pk2 = p_partkey)""".stripMargin,

    "join_full_outer" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
        |  c.c_custkey IS NOT NULL AS has_cust,
        |  o.o_custkey IS NOT NULL AS has_orders,
        |  COALESCE(o.n_orders, 0) AS n_orders
        |FROM (SELECT c_custkey, c_name FROM customer
        |      WHERE c_mktsegment = 'BUILDING') c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, COUNT(1) AS n_orders FROM orders GROUP BY 1) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "unpivot_returns" ->
      """WITH wide AS (
        |  SELECT l_linestatus,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N'
        |      THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, 'A' AS flag, a AS qty_c FROM wide
        |UNION ALL SELECT l_linestatus, 'N', n FROM wide
        |UNION ALL SELECT l_linestatus, 'R', r FROM wide""".stripMargin,

    "subquery_not_in" ->
      """SELECT c_mktsegment, COUNT(1) AS n_never_big
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |GROUP BY c_mktsegment""".stripMargin,

    "ts_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE user_id % 50 = 0),
        |hourly AS (
        |  SELECT user_id, hour_us, COUNT(1) AS n_events,
        |    CAST(SUM(vc) AS BIGINT) AS sum_c
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, MIN(hour_us) AS h0, MAX(hour_us) AS h1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, UNNEST(range(h0, h1 + 1, 3600000000)) AS hour_us
        |  FROM bounds)
        |SELECT g.user_id, g.hour_us,
        |  COALESCE(h.n_events, 0) AS n_events,
        |  h.sum_c AS sum_c_raw,
        |  last_value(h.sum_c IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hour_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_c_ffill
        |FROM grid g LEFT JOIN hourly h USING (user_id, hour_us)""".stripMargin,

    "setop_except_all" ->
      """SELECT flag, COUNT(1) AS n FROM (
        |  SELECT l_returnflag AS flag FROM lineitem
        |  EXCEPT ALL
        |  SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity > 25)
        |GROUP BY flag""".stripMargin,

    "setop_intersect_all" ->
      """SELECT st, COUNT(1) AS n FROM (
        |  SELECT o_orderstatus AS st FROM orders WHERE o_totalprice > 200000
        |  INTERSECT ALL
        |  SELECT o_orderstatus AS st FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY st""".stripMargin,

    "agg_decimal" ->
      """SELECT l_returnflag,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_px,
        |  COUNT(1) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "join_shuffle_hash_hint" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  COUNT(1) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_px_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,

    // join_bloom_prefilter: the bloom is pure shuffle-reduction
    // machinery — zero false negatives and an exact post-join mean the
    // result IS the plain join, which the oracle recomputes directly
    "join_bloom_prefilter" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |  COUNT(1) AS n_items,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_rev_c4
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "source_corrupt_tolerance" ->
      """SELECT
        |  CAST(SUM(CASE WHEN n_nationkey % 3 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN n_nationkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN n_nationkey % 3 != 0 THEN n_nationkey END) AS BIGINT) AS sum_good_key
        |FROM nation""".stripMargin,

    "source_csv_roundtrip" -> rtOracle,
    "source_json_roundtrip" -> rtOracle,
    "source_orc_roundtrip" -> rtOracle,

    "source_partitioned_pruning" ->
      """SELECT user_id, COUNT(1) AS n_purchases,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
        |  MAX(epoch_us(ts)) AS last_us
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin,

    "q16_parts_suppliers" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (2, 5, 11, 28, 37)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "q20_excess_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey
        |    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |    WHERE l_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
        |      AND 2 * (SELECT COALESCE(SUM(CAST(ROUND(l2.l_quantity*100) AS BIGINT)), 0)
        |               FROM lineitem l2
        |               WHERE l2.l_partkey = ps.l_partkey
        |                 AND l2.l_suppkey = ps.l_suppkey
        |                 AND l2.l_shipdate >= TIMESTAMP '1996-01-01')
        |          > (SELECT COALESCE(SUM(CAST(ROUND(l3.l_quantity*100) AS BIGINT)), 0)
        |             FROM lineitem l3
        |             WHERE l3.l_partkey = ps.l_partkey
        |               AND l3.l_shipdate < TIMESTAMP '1996-01-01'))""".stripMargin,

    "agg_listagg_mode" ->
      """WITH md AS (
        |  SELECT o_orderstatus, o_orderpriority AS mode_pri
        |  FROM (SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n
        |        FROM orders GROUP BY 1, 2)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY n DESC, o_orderpriority ASC) = 1),
        |la AS (
        |  SELECT o_orderstatus,
        |    string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS pris,
        |    COUNT(1) AS n
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT la.o_orderstatus, md.mode_pri, la.pris, la.n
        |FROM la JOIN md USING (o_orderstatus)""".stripMargin,

    "setop_union_by_name" ->
      """WITH u AS (
        |  SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal*100) AS BIGINT) AS bal_c
        |  FROM supplier WHERE s_suppkey % 2 = 1)
        |SELECT bal_c IS NULL AS legacy_batch, COUNT(1) AS n,
        |  CAST(SUM(bal_c) AS BIGINT) AS sum_bal_c,
        |  MIN(s_suppkey) AS min_key
        |FROM u GROUP BY 1""".stripMargin,

    "agg_width_bucket" ->
      """SELECT CASE WHEN value_c < 0 THEN 0
        |       WHEN value_c >= 20000 THEN 9
        |       ELSE 1 + value_c * 8 // 20000 END AS bucket,
        |  COUNT(1) AS n,
        |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c
        |FROM (SELECT CAST(ROUND(value*100) AS BIGINT) AS value_c FROM events)
        |GROUP BY 1""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag, COUNT(1) AS n,
        |  ROUND(corr(qty_c, px_c), 6) AS corr_qp,
        |  ROUND(covar_samp(qty_c, px_c) / 1e6, 4) AS covar_m,
        |  ROUND(stddev_samp(qty_c) / 1e3, 6) AS sd_qty_k,
        |  ROUND(var_pop(qty_c) / 1e6, 6) AS var_qty_m
        |FROM (SELECT l_returnflag,
        |        CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_c,
        |        CAST(ROUND(l_extendedprice*100) AS BIGINT) AS px_c
        |      FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "join_lateral_topn" ->
      """SELECT n.n_name, t.s_suppkey, t.s_name, t.bal_c
        |FROM nation n JOIN LATERAL (
        |  SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal*100) AS BIGINT) AS bal_c
        |  FROM supplier WHERE s_nationkey = n.n_nationkey
        |  ORDER BY bal_c DESC, s_suppkey LIMIT 2) t ON TRUE""".stripMargin,

    "str_collation" ->
      """SELECT lower(seg) AS segment, COUNT(1) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |             ELSE c_mktsegment END AS seg, c_custkey
        |      FROM customer)
        |GROUP BY lower(seg)""".stripMargin,

    "topk_nulls_first" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 500 = 0 THEN NULL
        |       ELSE o_orderpriority END AS pri
        |FROM orders
        |ORDER BY pri ASC NULLS FIRST, o_orderkey ASC
        |LIMIT 50""".stripMargin,

    "rec_cte_tree" ->
      """WITH RECURSIVE tree(k, depth) AS (
        |  SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
        |  UNION ALL
        |  SELECT p.p_partkey, t.depth + 1
        |  FROM part p JOIN tree t ON (p.p_partkey - 1) // 2 = t.k
        |  WHERE p.p_partkey >= 1)
        |SELECT depth, COUNT(1) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM tree GROUP BY depth""".stripMargin,

    // the oracle runs the honest cross join + levenshtein filter —
    // same pairs the deletion-key join must produce, no more, no less
    "join_fuzzy_levenshtein" ->
      """WITH canon AS (SELECT DISTINCT p_name AS canon FROM part),
        |corrupt AS (
        |  SELECT DISTINCT
        |    substr(canon, 1, pos - 1) || substr(canon, pos + 1) AS corrupt
        |  FROM (SELECT canon,
        |          CAST(1 + ('0x' || substr(md5(canon), 1, 15))::BIGINT
        |            % 1000000007 % len(canon) AS INT) AS pos
        |        FROM canon))
        |SELECT corrupt, canon,
        |  CAST(levenshtein(corrupt, canon) AS BIGINT) AS dist
        |FROM corrupt, canon
        |WHERE levenshtein(corrupt, canon) <= 1""".stripMargin
  )
}
