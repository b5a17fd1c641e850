package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F
import graft.sources.Tables

/** Relational operator catalog — one declared query per operator row of
  * SURVEY.md §2 (S/P/J/A/W groups), expressed Spark-first over the driver's
  * TPC-H-ish testdata, with a DuckDB oracle for each.
  *
  * Numeric policy for cross-engine hash parity: monetary sums are computed in
  * integer cents (`F.cents`/`F.fixed4` → exact long sums, reproducible under
  * any partitioning/ordering — this is also the 100 TB-safe choice); ratios
  * are single divisions of exact integers (bit-identical doubles in any
  * engine); the rare average-of-doubles is rounded.
  */
object RelationalOps {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- S: scans

  /** S1/P1/P3: scan + projection + range predicate (pushed to parquet). */
  private def s1ScanProject(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        F.cents(col("l_extendedprice")).as("price_cents")
      )
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** S2/P5: parameterized scan — date-range + IN-list params as literals
    * (reference: `@date_from/@date_to` + `@country_list`,
    * hardware_report.py:70-75, user_activity.py:36-42). */
  private def s2ParamFilter(s: SparkSession, d: String): DataFrame = {
    val dateFrom = lit("1997-01-01").cast("timestamp")
    val dateTo = lit("1998-01-01").cast("timestamp")
    val priorities = Seq("1-URGENT", "2-HIGH")
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= dateFrom && col("o_orderdate") < dateTo)
      .filter(col("o_orderpriority").isin(priorities: _*))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(F.cents(col("o_totalprice"))).as("total_cents")
      )
      .orderBy("o_orderpriority")
  }

  // -------------------------------------------------- P: filters, predicates

  /** P2/F1/F2: derived columns — week start + Sunday flag
    * (user_activity.sql:11-14). */
  private def p2DerivedWeek(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .withColumn("week_start", F.weekStart(col("o_orderdate")))
      .withColumn("on_sunday", F.isLastDayOfWeek(col("o_orderdate")))
      .groupBy("week_start")
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(col("on_sunday"), 1)).as("n_sunday_orders")
      )
      .orderBy("week_start")
  }

  /** P4: deterministic hash-bucket sampling (`sample_id = 1`,
    * user_activity.sql:45) — a modulus bucket, NOT TABLESAMPLE, so the
    * oracle reproduces it exactly. */
  private def p4SampleBucket(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(pmod(col("l_orderkey"), lit(100)) === 1)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty")
      )
      .orderBy("l_returnflag")
  }

  /** P6: NOT IN exclusion (armagaddon-week exclusion,
    * user_activity.sql:359-360). Keys are non-null, matching the
    * null-hostile NOT IN semantics of both engines. */
  private def p6NotIn(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d)
      .filter(!col("n_name").isin("NATION_0", "NATION_13", "NATION_24"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** P7/F10: multi-pattern NOT LIKE blocklist conjunction
    * (12-pattern addon blocklist, user_activity.sql:206-219). */
  private def p7NotLike(s: SparkSession, d: String): DataFrame = {
    val blocklist = Seq("%PROMO%", "%IVORY%", "%lavender%", "%STEEL%")
    val keep = blocklist
      .map(p => !col("p_name").like(p))
      .reduce(_ && _)
    Tables.part(s, d)
      .filter(keep)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")
  }

  /** P9: post-aggregation predicate (HAVING, user_activity.sql:99-100). */
  private def p9Having(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(F.cents(col("o_totalprice"))).as("total_cents"))
      .filter(col("total_cents") > 200000000L)
      .orderBy("o_custkey")
  }

  /** P8/P10/J1: NULL predicate + conditional expressions over a left join
    * (IF/COALESCE, user_activity.sql:76-77,14). */
  private def p10Conditional(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .withColumn("has_orders", when(col("o_custkey").isNotNull, 1L).otherwise(0L))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("has_orders")).as("with_orders"),
        sum(col("n_orders")).as("total_orders"),
        (sum(col("has_orders")) / count(lit(1))).as("with_orders_ratio")
      )
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------- J: joins

  /** J1: left equi-join against small dims — auto-broadcast
    * (sample LEFT JOIN countries, user_activity.sql:25-28). */
  private def j1LeftJoinDim(s: SparkSession, d: String): DataFrame = {
    Tables.supplier(s, d)
      .join(
        broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"),
        "left"
      )
      .join(
        broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"),
        "left"
      )
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(F.cents(col("s_acctbal"))).as("acctbal_cents")
      )
      .orderBy("r_name", "n_name")
  }

  /** J2: inner equi-join USING two keys (user_activity.sql:240-243). */
  private def j2UsingMultikey(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val counts = o
      .groupBy(
        F.weekStart(col("o_orderdate")).as("week_start"),
        col("o_orderpriority")
      )
      .agg(count(lit(1)).as("n_orders"))
    val money = o
      .groupBy(
        F.weekStart(col("o_orderdate")).as("week_start"),
        col("o_orderpriority")
      )
      .agg(sum(F.cents(col("o_totalprice"))).as("total_cents"))
    counts
      .join(money, Seq("week_start", "o_orderpriority"))
      .orderBy("week_start", "o_orderpriority")
  }

  /** J4/J5: non-equi as-of range join — latest release whose day <= the fact
    * date, then MAX per key (user_activity.sql:166-186; annotations.py:52-57).
    * The build side is tiny (one row per month) → broadcast nested-loop,
    * which is exactly the right physical plan at any fact-side scale. */
  private def j4AsofJoin(s: SparkSession, d: String): DataFrame = {
    val releases = s
      .range(1)
      .select(
        explode(
          sequence(
            lit(java.sql.Date.valueOf("1995-01-01")),
            lit(java.sql.Date.valueOf("2001-08-01")),
            expr("interval 1 month")
          )
        ).as("release_day")
      )
      .withColumn(
        "major_version",
        months_between(col("release_day"), lit(java.sql.Date.valueOf("1995-01-01"))).cast("long") + 60
      )
    val o = Tables.orders(s, d)
    o.join(broadcast(releases), col("release_day") <= col("o_orderdate"))
      .groupBy("o_orderkey")
      .agg(max(col("major_version")).as("latest_major"))
      .groupBy("latest_major")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("latest_major")
  }

  /** J5: the annotations release spine (annotations.py:34-72), run through
    * the REAL [[graft.annotations.Annotations.versionReleaseDays]] code
    * path — weekly date spine, channel filter, `build.date <= day` range
    * join (broadcast NL: the build side is one row per release), MAX major
    * version per day, MIN day per version. The buildhub frame is
    * synthesized from `orders` in buildhub's nested shape
    * (build.target.{channel,version}, build.build.date) so the query is
    * oracle-checkable on driver testdata: ~1/3 of orders become release
    * builds whose build day advances ~25 days per major version, giving a
    * multi-row version staircase like the real release calendar. */
  private def j5AnnotationsSpine(s: SparkSession, d: String): DataFrame = {
    val buildhub = Tables.orders(s, d)
      .select(
        struct(
          struct(
            when(col("o_orderkey") % 3 === 0, lit("release"))
              .otherwise(lit("beta")).as("channel"),
            concat(
              (lit(60) + col("o_orderkey") % 20).cast("string"),
              lit(".0."),
              (col("o_custkey") % 10).cast("string")
            ).as("version")
          ).as("target"),
          struct(
            date_format(
              date_add(
                lit(java.sql.Date.valueOf("2018-12-01")),
                ((col("o_orderkey") % 20) * 25 + col("o_custkey") % 20).cast("int")
              ),
              "yyyy-MM-dd"
            ).as("date")
          ).as("build")
        ).as("build")
      )
    graft.annotations.Annotations
      .versionReleaseDays(s, buildhub, java.sql.Date.valueOf("2020-06-30"))
      .orderBy(col("day").desc)
  }

  /** J4's big-to-big scale path: as-of join via UNION + WINDOW. The
    * broadcast-NL form (j4) requires a tiny build side; when BOTH sides
    * are large (every purchase matched to the same user's latest prior
    * click), the production plan is to union the two streams, shuffle
    * ONCE on the join key, and carry the right side forward with a
    * running `last(..., ignoreNulls)` over (time, side) order — no
    * broadcast, no range-join candidate blowup, one keyed exchange total.
    * Side ordering (click before purchase at equal timestamps) encodes
    * the "at or before" semantics; the oracle states the same contract as
    * a correlated max. */
  private def j9AsofUnionWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        unix_micros(col("ts")).as("us")
      )
      .withColumn("side", when(col("event_type") === "click", 0).otherwise(1))
      .withColumn("click_us", when(col("side") === 0, col("us")))
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("us").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_us", last(col("click_us"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("event_id"),
        col("user_id"),
        col("us").as("purchase_us"),
        col("last_click_us")
      )
      .orderBy("event_id")
  }

  /** J6: lateral cross-join with a literal array — every row counted in its
    * own group AND in 'Worldwide' (`UNNEST([country,'Worldwide'])`,
    * user_activity.sql:23-24). At 100 TB the 'Worldwide' key is the skew
    * hotspot — AQE skew handling + partial aggregation keep it safe. */
  private def j6ExplodeLiteral(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(
        explode(array(col("n_name"), lit("Worldwide"))).as("nation_group"),
        col("c_acctbal")
      )
      .groupBy("nation_group")
      .agg(
        count(lit(1)).as("n_customers"),
        sum(F.cents(col("c_acctbal"))).as("acctbal_cents")
      )
      .orderBy("nation_group")
  }

  /** J6 at 100 TB: the 'Worldwide' key holds half of all rows after the
    * doubling — a single-level groupBy would funnel them through one
    * reducer. Two-level salted aggregation: partial-aggregate on
    * (key, salt=hash%16), then merge per key. Results are exactly identical
    * (sums of sums), so it shares j6's oracle semantics; it exists so the
    * bench can show the skew-safe plan costs nothing extra.
    */
  private def j6SaltedSkew(s: SparkSession, d: String): DataFrame = {
    val doubled = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(
        explode(array(col("n_name"), lit("Worldwide"))).as("nation_group"),
        col("c_acctbal"),
        pmod(hash(col("c_custkey")), lit(16)).as("salt")
      )
    doubled
      .groupBy("nation_group", "salt")
      .agg(
        count(lit(1)).as("pc"),
        sum(F.cents(col("c_acctbal"))).as("ps")
      )
      .groupBy("nation_group")
      .agg(
        sum("pc").as("n_customers"),
        sum("ps").as("acctbal_cents")
      )
      .orderBy("nation_group")
  }

  /** J7: outer unnest preserving empty arrays as one NULL row — BQ's
    * `UNNEST(IF(ARRAY_LENGTH(a)>0, a, [a[SAFE_OFFSET(0)]]))` trick
    * (user_activity.sql:59-67) is native `explode_outer` in Spark. */
  private def j7ExplodeOuter(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .withColumn(
        "tags",
        when(col("o_orderstatus") === "O", array().cast("array<string>"))
          .otherwise(array(col("o_orderpriority")))
      )
      .select(col("o_orderkey"), explode_outer(col("tags")).as("tag"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("tag").asc_nulls_first)
  }

  /** J8: literal-map dictionary lookup with default
    * (GPU vendor map get-or-Other, hardware_report.py:117-144). */
  private def j8MapLookup(s: SparkSession, d: String): DataFrame = {
    val zone = typedlit(
      Map(
        "NATION_0" -> "zone-a",
        "NATION_1" -> "zone-a",
        "NATION_2" -> "zone-b",
        "NATION_3" -> "zone-b",
        "NATION_4" -> "zone-c"
      )
    )
    Tables.nation(s, d)
      .withColumn("zone", coalesce(element_at(zone, col("n_name")), lit("Other")))
      .join(Tables.supplier(s, d), col("s_nationkey") === col("n_nationkey"))
      .groupBy("zone")
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy("zone")
  }

  // --------------------------------------------------------- A: aggregations

  /** A1: grouped SUM — the hardware per-dimension aggregation shape
    * (hardware_report.py:34-39). Integer-cents sums stay exact at any scale.
    */
  private def a1SumGroupBy(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(F.cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(F.fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_f4"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A2/A12: scalar (ungrouped) aggregate used as a ratio denominator
    * (hardware_report.py:45-50; ratio normalization :318-323). */
  private def a2ScalarRatio(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val total = o.agg(count(lit(1)).as("total")).select("total")
    o.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(total))
      .withColumn("ratio", col("n_orders") / col("total"))
      .select("o_orderpriority", "n_orders", "ratio")
      .orderBy("o_orderpriority")
  }

  /** A3: multi-grouping one-shot aggregation — the 11-dimension single-scan
    * hardware query (hardware_report.py:20-56) as GROUPING SETS (Catalyst
    * `Expand`: one scan, no re-read per dimension). Grouping-null keys are
    * labeled 'ALL' so the oracle needs no grouping_id() dialect. */
  private def a3GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    s.sql("""
      SELECT
        coalesce(c_mktsegment, 'ALL') AS segment,
        coalesce(o_orderpriority, 'ALL') AS priority,
        count(*) AS n_orders,
        sum(cast(round(o_totalprice * 100) AS bigint)) AS total_cents
      FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
      GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority),
                              (c_mktsegment, o_orderpriority), ())
      ORDER BY segment, priority
    """)
  }

  /** A4: conditional exact COUNT DISTINCT — MAU/WAU shape
    * (`COUNT(DISTINCT IF(cond, client_id, NULL))`, user_activity.sql:76-77).
    * Exact (not approx_count_distinct) for oracle parity; at 100 TB the
    * documented switch is approx_count_distinct(rsd). */
  private def a4CondCountDistinct(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(F.weekStart(col("o_orderdate")).as("week_start"))
      .agg(
        countDistinct(col("o_custkey")).as("active_customers"),
        countDistinct(when(col("o_orderpriority") === "1-URGENT", col("o_custkey")))
          .as("urgent_customers")
      )
      .withColumn(
        "urgent_ratio",
        F.safeDiv(col("urgent_customers"), col("active_customers"))
      )
      .orderBy("week_start")
  }

  /** A5: two-level average-of-averages (per-client then per-country,
    * user_activity.sql:85-112). Inner averages are exact-integer divisions;
    * the outer double average is rounded for cross-engine stability. */
  private def a5AvgOfAvgs(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        (sum(F.cents(col("o_totalprice"))) / lit(100.0) / count(lit(1)))
          .as("avg_order_value")
      )
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(avg(col("avg_order_value")), 6).as("avg_of_avg_order_value"))
      .orderBy("n_name")
  }

  /** A6/F13: SUM(bitcount)/COUNT intensity (user_activity.sql:117). */
  private def a6BitcountIntensity(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(F.bitcountLowest7(col("l_orderkey"))).as("sum_bits"),
        count(lit(1)).as("n_rows")
      )
      .withColumn("intensity", F.safeDiv(col("sum_bits"), col("n_rows")))
      .orderBy("l_returnflag")
  }

  /** A7: COUNTIF ratio (new_profile_rate / latest_version_ratio,
    * user_activity.sql:130-131,190). */
  private def a7CountifRatio(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .join(
        broadcast(
          Tables.customer(s, d).select("c_custkey", "c_nationkey")
        ),
        col("o_custkey") === col("c_custkey")
      )
      .groupBy("c_nationkey")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        count(lit(1)).as("n_orders")
      )
      .withColumn("finished_ratio", F.safeDiv(col("n_finished"), col("n_orders")))
      .orderBy("c_nationkey")
  }

  /** A8: grouped MIN/MAX (max version per day / min day per version,
    * user_activity.sql:156-164, annotations.py:47-71). */
  private def a8GroupMinMax(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"),
        max(F.cents(col("l_extendedprice"))).as("max_price_cents")
      )
      .filter(col("l_partkey") <= 200)
      .orderBy("l_partkey")
  }

  /** A9/W1: top-K per group — `ARRAY_AGG(STRUCT(...) ORDER BY ratio DESC
    * LIMIT 10)` (user_activity.sql:245-255) as window row_number + filter.
    * Deterministic tie-break by key. Flat (group, rank, key, value) shape so
    * the oracle hash-compares; the JSON export layer turns it into
    * array-of-struct. */
  private def a9TopkPerGroup(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(
        broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey")
      )
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "l_partkey")
      .agg(
        sum(F.fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_f4")
      )
    val w = Window
      .partitionBy("n_name")
      .orderBy(col("revenue_f4").desc, col("l_partkey").asc)
    rev
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("n_name", "rnk", "l_partkey", "revenue_f4")
      .orderBy("n_name", "rnk")
  }

  /** A9 scale form: bounded-heap top-K via a typed Aggregator — partial
    * buffers carry at most K entries, so the shuffle ships O(groups x K)
    * rows instead of every candidate (SURVEY §7.4). Output and oracle are
    * identical to a9_topk_per_group.
    */
  private def a9TopkHeap(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(5))
    val rev = Tables.lineitem(s, d)
      .join(
        broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey")
      )
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "l_partkey")
      .agg(
        sum(F.fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_f4")
      )
    rev
      .groupBy("n_name")
      .agg(topk(col("l_partkey"), col("revenue_f4")).as("top"))
      .select(col("n_name"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(
        col("n_name"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("e._1").as("l_partkey"),
        col("e._2").as("revenue_f4")
      )
      .orderBy("n_name", "rnk")
  }

  /** A9 composition form — the case where the bounded-heap Aggregator
    * genuinely beats the window form: top-K computed ALONGSIDE other
    * aggregates in a single `groupBy().agg(...)` pass (one shuffle). The
    * window formulation needs a window pass + a separate aggregation + a
    * join (two extra exchanges) for the same result — compare this plan's
    * single Exchange to the oracle SQL's shape.
    */
  private def a9TopkCombined(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val rev = Tables.lineitem(s, d)
      .join(
        broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey")
      )
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "l_partkey")
      .agg(
        sum(F.fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_f4")
      )
    rev
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("revenue_f4").as("nation_revenue_f4"),
        topk(col("l_partkey"), col("revenue_f4")).as("top")
      )
      .select(
        col("n_name"),
        col("n_parts"),
        col("nation_revenue_f4"),
        posexplode(col("top")).as(Seq("pos", "e"))
      )
      .select(
        col("n_name"),
        col("n_parts"),
        col("nation_revenue_f4"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("e._1").as("l_partkey"),
        col("e._2").as("revenue_f4")
      )
      .orderBy("n_name", "rnk")
  }

  /** A11/A12: two-pass threshold bucket-collapse with family intermediate —
    * faithful shape of `collapse_buckets` (hardware_report.py:278-324):
    * below 1%-of-total keys collapse to '<family>-Other', then a second pass
    * re-collapses still-below-threshold groups into global 'Other'; finally
    * ratio-normalize. Pure 2-round groupBy — no driver-side loops. */
  private def a11BucketCollapse(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .join(
        broadcast(Tables.part(s, d).select("p_partkey", "p_type", "p_brand")),
        col("l_partkey") === col("p_partkey")
      )
      .select(concat_ws("-", col("p_type"), col("p_brand")).as("key"))
      .groupBy("key")
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    val withTotal = counts.crossJoin(broadcast(total))
      .withColumn("threshold", floor(col("total") * 0.01))
    val pass1 = withTotal
      .withColumn(
        "key1",
        when(
          col("cnt") < col("threshold"),
          concat(split(col("key"), "-", 2).getItem(0), lit("-Other"))
        ).otherwise(col("key"))
      )
      .groupBy("key1", "total", "threshold")
      .agg(sum("cnt").as("cnt"))
    val pass2 = pass1
      .withColumn(
        "bucket",
        when(col("cnt") < col("threshold"), lit("Other")).otherwise(col("key1"))
      )
      .groupBy("bucket", "total")
      .agg(sum("cnt").as("cnt"))
    pass2
      .withColumn("ratio", col("cnt") / col("total"))
      .select("bucket", "cnt", "ratio")
      .orderBy("bucket")
  }

  /** A14 (extension): grouped percentiles — exact `percentile` (full-sort
    * linear interpolation, matching DuckDB's quantile_cont) over the
    * fixed-point cents column. Exact percentile holds while groups fit the
    * sort buffer; the unbounded-scale switch is `approx_percentile`
    * (Greenwald-Khanna sketch, mergeable map-side partial state) whose
    * error envelope vs this exact form is gated in PercentileSpec — the
    * same exact->approx pattern as e1/e5. 4dp rounding absorbs the
    * interpolation-formula ulp difference between engines.
    */
  private def a14Percentiles(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), F.cents(col("l_extendedprice")).as("price_cents"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("price_cents"), lit(0.5)), 4).as("p50"),
        round(percentile(col("price_cents"), lit(0.95)), 4).as("p95"),
        round(percentile(col("price_cents"), lit(0.99)), 4).as("p99")
      )
      .orderBy("l_returnflag")
  }

  /** W4 (extension): equal-frequency binning via ntile — the feature
    * bucketization a training pipeline runs to discretize a numeric
    * column. Partitioned by nation so no window sees a single global
    * partition; the ordering is total (exact cents, then key) so bin
    * assignment is deterministic and ntile's earlier-bins-get-extras
    * semantics agree across engines. */
  private def w4NtileBins(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("c_nationkey")
      .orderBy(col("bal_cents").asc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(
        col("c_nationkey"),
        col("c_custkey"),
        F.cents(col("c_acctbal")).as("bal_cents")
      )
      .withColumn("bin", ntile(4).over(w).cast("long"))
      .groupBy("c_nationkey", "bin")
      .agg(
        count(lit(1)).as("n"),
        min("bal_cents").as("min_cents"),
        max("bal_cents").as("max_cents")
      )
      .orderBy("c_nationkey", "bin")
  }

  /** A15 (extension): relational pivot — long-to-wide reshaping with an
    * EXPLICIT value list (`pivot(col, values)`), which is the only form
    * that scales: without the list Spark runs a distinct-values job first
    * AND the output schema becomes data-dependent, which no downstream
    * consumer can bind to. One scan, one shuffle; each cell a conditional
    * integer sum. The reference's pivot-to-JSON export (§2 W3) does this
    * shape driver-side at tiny cardinality; this is the distributed form.
    */
  private def a15Pivot(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(
        col("o_orderpriority"),
        col("o_orderstatus"),
        F.cents(col("o_totalprice")).as("cents")
      )
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum("cents"))
      .withColumnRenamed("F", "cents_f")
      .withColumnRenamed("O", "cents_o")
      .withColumnRenamed("P", "cents_p")
      .orderBy("o_orderpriority")
  }

  /** a17 — UNPIVOT (melt): the inverse reshaping of a15's pivot — wide
    * metric columns back to (key, metric, value) long form, the shape
    * exports and metric stores consume. Plans as a per-row Expand (one
    * output row per value column), pure codegen, ZERO shuffles — the
    * reshape is free at any scale; only the upstream a15 aggregation
    * pays. NULL cells (a pivot combo with no input rows) are dropped
    * explicitly on BOTH engines, pinning the one semantic edge where
    * pivot∘unpivot is not the identity. */
  private def a17Unpivot(s: SparkSession, d: String): DataFrame = {
    a15Pivot(s, d)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("cents_f"), col("cents_o"), col("cents_p")),
        "status",
        "cents"
      )
      .filter(col("cents").isNotNull)
      .withColumn("status", upper(substring(col("status"), 7, 1)))
      .orderBy("o_orderpriority", "status")
  }

  // ------------------------------------------------------- W: windows, sorts

  /** W1 (frame spec): per-partition running sum over an exact ordering. */
  private def w1RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 5)
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_shipdate"),
        F.cents(col("l_extendedprice")).as("price_cents")
      )
      .withColumn("running_cents", sum("price_cents").over(w))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
  }

  /** W2: global ORDER BY + LIMIT with deterministic tie-break
    * (readback ORDER BY date_from, hardware_report.py:467-470). */
  private def w2TopN(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_orderkey"), F.cents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** W6: RANGE-frame window — the value-based frame kind the catalog's
    * other windows don't exercise (w1 is a ROWS frame, w2 a global sort,
    * a9 rank-filters): per supplier, the trailing-30-DAY revenue as of
    * each ship day. RANGE frames bound by the ORDER value, so a day with
    * no shipments contributes nothing and gaps shrink the window — the
    * semantics a calendar-trailing metric actually needs (a ROWS frame
    * would count back 30 ROWS regardless of their dates). Day numbers are
    * integer epoch-day offsets so both engines frame on exact integers;
    * daily pre-aggregation keeps the frame one-row-per-day. */
  private def w6RangeFrame(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .filter(col("l_suppkey") <= 10)
      .groupBy(
        col("l_suppkey"),
        datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1992-01-01")))
          .cast("long")
          .as("day_num")
      )
      .agg(sum(F.cents(col("l_extendedprice"))).as("day_cents"))
    val w = Window
      .partitionBy("l_suppkey")
      .orderBy("day_num")
      .rangeBetween(-29, Window.currentRow)
    daily
      .withColumn("trailing30_cents", sum("day_cents").over(w))
      .select("l_suppkey", "day_num", "day_cents", "trailing30_cents")
      .orderBy("l_suppkey", "day_num")
  }

  /** J13 — selective big-to-big join under RUNTIME FILTER pushdown: a
    * narrow order-date slice (~4% of orders) joined to the whole
    * lineitem table, rolled up per priority. The declared semantics are
    * a plain inner equi-join; the reason it is declared is the SCALE
    * path: when BOTH sides are too big to broadcast (the 100 TB shape),
    * Catalyst's InjectRuntimeFilter builds a bloom filter from the
    * filtered orders side and pushes `might_contain(l_orderkey)` into
    * the lineitem SCAN — the fact side drops ~96% of its rows before
    * the shuffle, the lever that makes selective big-to-big joins
    * affordable. At toy scale the dim side auto-broadcasts (equally
    * correct); `PlanAuditSpec` pins the production shape by disabling
    * broadcast under the runtime-filter confs and asserting the bloom
    * probe lands in the lineitem scan filter with unchanged results. */
  private def j13RuntimeFilter(s: SparkSession, d: String): DataFrame = {
    val o = Tables
      .orders(s, d)
      .filter(
        col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-06-01").cast("timestamp")
      )
      .select("o_orderkey", "o_orderpriority")
    Tables
      .lineitem(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(F.cents(col("l_extendedprice"))).as("revenue_cents")
      )
      .orderBy("o_orderpriority")
  }

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, Q] = Map(
    "j13_runtime_filter" -> (j13RuntimeFilter _),
    "s1_scan_project" -> (s1ScanProject _),
    "s2_param_filter" -> (s2ParamFilter _),
    "p2_derived_week" -> (p2DerivedWeek _),
    "p4_sample_bucket" -> (p4SampleBucket _),
    "p6_not_in" -> (p6NotIn _),
    "p7_not_like" -> (p7NotLike _),
    "p9_having" -> (p9Having _),
    "p10_conditional" -> (p10Conditional _),
    "j1_left_join_dim" -> (j1LeftJoinDim _),
    "j2_using_multikey" -> (j2UsingMultikey _),
    "j4_asof_join" -> (j4AsofJoin _),
    "j5_annotations_spine" -> (j5AnnotationsSpine _),
    "j9_asof_union_window" -> (j9AsofUnionWindow _),
    "j6_explode_literal" -> (j6ExplodeLiteral _),
    "j6_salted_skew" -> (j6SaltedSkew _),
    "j7_explode_outer" -> (j7ExplodeOuter _),
    "j8_map_lookup" -> (j8MapLookup _),
    "a1_sum_groupby" -> (a1SumGroupBy _),
    "a2_scalar_ratio" -> (a2ScalarRatio _),
    "a3_grouping_sets" -> (a3GroupingSets _),
    "a4_cond_count_distinct" -> (a4CondCountDistinct _),
    "a5_avg_of_avgs" -> (a5AvgOfAvgs _),
    "a6_bitcount_intensity" -> (a6BitcountIntensity _),
    "a7_countif_ratio" -> (a7CountifRatio _),
    "a8_group_minmax" -> (a8GroupMinMax _),
    "a9_topk_per_group" -> (a9TopkPerGroup _),
    "a9_topk_heap" -> (a9TopkHeap _),
    "a9_topk_combined" -> (a9TopkCombined _),
    "a14_percentiles" -> (a14Percentiles _),
    "a11_bucket_collapse" -> (a11BucketCollapse _),
    "w1_running_sum" -> (w1RunningSum _),
    "w2_top_n" -> (w2TopN _),
    "w6_range_frame" -> (w6RangeFrame _),
    "w4_ntile_bins" -> (w4NtileBins _),
    "a15_pivot" -> (a15Pivot _),
    "a17_unpivot" -> (a17Unpivot _)
  )

  val oracles: Map[String, String] = Map(
    "j13_runtime_filter" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderdate >= TIMESTAMP '1995-03-01'
           AND o_orderdate < TIMESTAMP '1995-06-01'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "s1_scan_project" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
         FROM lineitem WHERE l_orderkey < 1000
         ORDER BY l_orderkey, l_linenumber""",
    "s2_param_filter" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "p2_derived_week" ->
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         count(*) AS n_orders,
         count(CASE WHEN dayofweek(o_orderdate) = 0 THEN 1 END) AS n_sunday_orders
         FROM orders GROUP BY 1 ORDER BY week_start""",
    "p4_sample_bucket" ->
      """SELECT l_returnflag, count(*) AS n_rows,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem WHERE l_orderkey % 100 = 1
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "p6_not_in" ->
      """SELECT n_name, count(*) AS n_customers
         FROM nation JOIN customer ON c_nationkey = n_nationkey
         WHERE n_name NOT IN ('NATION_0', 'NATION_13', 'NATION_24')
         GROUP BY n_name ORDER BY n_name""",
    "p7_not_like" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
         WHERE p_name NOT LIKE '%PROMO%' AND p_name NOT LIKE '%IVORY%'
           AND p_name NOT LIKE '%lavender%' AND p_name NOT LIKE '%STEEL%'
         GROUP BY p_brand ORDER BY p_brand""",
    "p9_having" ->
      """SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY o_custkey
         HAVING CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) > 200000000
         ORDER BY o_custkey""",
    "p10_conditional" ->
      """WITH per_cust AS (
           SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
         )
         SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
           CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS total_orders,
           CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / count(*)
             AS with_orders_ratio
         FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "j1_left_join_dim" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
         CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
         FROM supplier
         LEFT JOIN nation ON s_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "j2_using_multikey" ->
      """WITH counts AS (
           SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
                  o_orderpriority, count(*) AS n_orders
           FROM orders GROUP BY 1, 2
         ), money AS (
           SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
                  o_orderpriority,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
           FROM orders GROUP BY 1, 2
         )
         SELECT week_start, o_orderpriority, n_orders, total_cents
         FROM counts JOIN money USING (week_start, o_orderpriority)
         ORDER BY week_start, o_orderpriority""",
    // the correlated form IS the as-of contract; the Spark side reaches
    // the same rows with one keyed shuffle and a running window instead
    "j9_asof_union_window" ->
      """SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           (SELECT max(epoch_us(c.ts)) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND epoch_us(c.ts) <= epoch_us(p.ts)) AS last_click_us
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id""",
    "j4_asof_join" ->
      """WITH releases AS (
           SELECT CAST(t AS DATE) AS release_day,
                  60 + date_diff('month', DATE '1995-01-01', CAST(t AS DATE))
                    AS major_version
           FROM generate_series(DATE '1995-01-01', DATE '2001-08-01',
                                INTERVAL 1 MONTH) AS g(t)
         ), per_order AS (
           SELECT o_orderkey, max(major_version) AS latest_major
           FROM orders JOIN releases ON release_day <= o_orderdate
           GROUP BY o_orderkey
         )
         SELECT latest_major, count(*) AS n_orders FROM per_order
         GROUP BY latest_major ORDER BY latest_major""",
    // the annotations spine verbatim: weekly days, release-channel builds
    // synthesized from orders (same arithmetic as the Spark side), as-of
    // range join, MAX per day, MIN day per version
    "j5_annotations_spine" ->
      """WITH builds AS (
           SELECT DATE '2018-12-01'
                    + CAST((o_orderkey % 20) * 25 + o_custkey % 20 AS INTEGER)
                    AS build_day,
                  60 + o_orderkey % 20 AS v
           FROM orders WHERE o_orderkey % 3 = 0
         ), bf AS (
           SELECT * FROM builds WHERE build_day >= DATE '2018-10-31'
         ), days AS (
           SELECT CAST(t AS DATE) AS day
           FROM generate_series(DATE '2018-12-31', DATE '2020-06-30',
                                INTERVAL 7 DAY) AS g(t)
         ), perday AS (
           SELECT day, max(v) AS version
           FROM days JOIN bf ON build_day <= day GROUP BY day
         )
         SELECT version, min(CAST(day AS VARCHAR)) AS day
         FROM perday GROUP BY version ORDER BY day DESC""",
    "j6_explode_literal" ->
      """SELECT nation_group, count(*) AS n_customers,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
         FROM (
           SELECT unnest([n_name, 'Worldwide']) AS nation_group, c_acctbal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
         )
         GROUP BY nation_group ORDER BY nation_group""",
    "j6_salted_skew" ->
      """SELECT nation_group, count(*) AS n_customers,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
         FROM (
           SELECT unnest([n_name, 'Worldwide']) AS nation_group, c_acctbal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
         )
         GROUP BY nation_group ORDER BY nation_group""",
    "j7_explode_outer" ->
      """SELECT tag, count(*) AS n_rows FROM (
           SELECT o_orderkey,
             unnest(CASE WHEN len(tags) = 0 THEN [NULL] ELSE tags END) AS tag
           FROM (
             SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'O' THEN []
                    ELSE [o_orderpriority] END AS tags
             FROM orders
           )
         )
         GROUP BY tag ORDER BY tag NULLS FIRST""",
    "j8_map_lookup" ->
      """SELECT CASE
           WHEN n_name IN ('NATION_0', 'NATION_1') THEN 'zone-a'
           WHEN n_name IN ('NATION_2', 'NATION_3') THEN 'zone-b'
           WHEN n_name = 'NATION_4' THEN 'zone-c'
           ELSE 'Other' END AS zone,
         count(*) AS n_suppliers
         FROM nation JOIN supplier ON s_nationkey = n_nationkey
         GROUP BY zone ORDER BY zone""",
    "a1_sum_groupby" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT)
           AS sum_disc_f4,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "a2_scalar_ratio" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         count(*) / (SELECT count(*) FROM orders) AS ratio
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "a3_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority),
                                 (c_mktsegment, o_orderpriority), ())
         ORDER BY segment, priority""",
    "a4_cond_count_distinct" ->
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         count(DISTINCT o_custkey) AS active_customers,
         count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                             THEN o_custkey END) AS urgent_customers,
         CAST(count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                             THEN o_custkey END) AS DOUBLE)
           / nullif(count(DISTINCT o_custkey), 0) AS urgent_ratio
         FROM orders GROUP BY 1 ORDER BY week_start""",
    "a5_avg_of_avgs" ->
      """WITH per_cust AS (
           SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / count(*)
               AS avg_order_value
           FROM orders GROUP BY o_custkey
         )
         SELECT n_name, round(avg(avg_order_value), 6) AS avg_of_avg_order_value
         FROM customer
         JOIN per_cust ON c_custkey = o_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "a6_bitcount_intensity" ->
      """SELECT l_returnflag,
         CAST(sum(bit_count(l_orderkey & 127)) AS BIGINT) AS sum_bits,
         count(*) AS n_rows,
         CAST(sum(bit_count(l_orderkey & 127)) AS DOUBLE) / nullif(count(*), 0)
           AS intensity
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a7_countif_ratio" ->
      """SELECT c_nationkey,
         count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
         count(*) AS n_orders,
         CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE)
           / nullif(count(*), 0) AS finished_ratio
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "a8_group_minmax" ->
      """SELECT l_partkey, min(l_shipdate) AS first_ship,
         max(l_shipdate) AS last_ship,
         max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_price_cents
         FROM lineitem GROUP BY l_partkey
         HAVING l_partkey <= 200 ORDER BY l_partkey""",
    "a9_topk_per_group" ->
      """WITH rev AS (
           SELECT n_name, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                 AS BIGINT)) AS BIGINT) AS revenue_f4
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name, l_partkey
         ), ranked AS (
           SELECT n_name, l_partkey, revenue_f4,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY revenue_f4 DESC, l_partkey ASC) AS rnk
           FROM rev
         )
         SELECT n_name, rnk, l_partkey, revenue_f4 FROM ranked
         WHERE rnk <= 5 ORDER BY n_name, rnk""",
    "a15_pivot" ->
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS cents_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS cents_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS cents_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // a15's pivot CTE unpivoted by explicit UNION ALL (engine-neutral
    // melt); NULL cells dropped on both sides — the documented edge
    "a17_unpivot" ->
      """WITH piv AS (
           SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
               AS cents_f,
             CAST(sum(CASE WHEN o_orderstatus = 'O'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
               AS cents_o,
             CAST(sum(CASE WHEN o_orderstatus = 'P'
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
               AS cents_p
           FROM orders GROUP BY o_orderpriority
         )
         SELECT o_orderpriority, 'F' AS status, cents_f AS cents
         FROM piv WHERE cents_f IS NOT NULL
         UNION ALL
         SELECT o_orderpriority, 'O', cents_o FROM piv WHERE cents_o IS NOT NULL
         UNION ALL
         SELECT o_orderpriority, 'P', cents_p FROM piv WHERE cents_p IS NOT NULL
         ORDER BY o_orderpriority, status""",
    "w4_ntile_bins" ->
      """WITH b AS (
           SELECT c_nationkey, c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(ntile(4) OVER (PARTITION BY c_nationkey
               ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey)
               AS BIGINT) AS bin
           FROM customer
         )
         SELECT c_nationkey, bin, count(*) AS n,
           min(bal_cents) AS min_cents, max(bal_cents) AS max_cents
         FROM b GROUP BY 1, 2 ORDER BY c_nationkey, bin""",
    "a14_percentiles" ->
      """SELECT l_returnflag, count(*) AS n,
         round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
               0.5), 4) AS p50,
         round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
               0.95), 4) AS p95,
         round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
               0.99), 4) AS p99
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a9_topk_combined" ->
      """WITH rev AS (
           SELECT n_name, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                 AS BIGINT)) AS BIGINT) AS revenue_f4
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name, l_partkey
         ), agg AS (
           SELECT n_name, count(*) AS n_parts,
             CAST(sum(revenue_f4) AS BIGINT) AS nation_revenue_f4
           FROM rev GROUP BY n_name
         ), ranked AS (
           SELECT n_name, l_partkey, revenue_f4,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY revenue_f4 DESC, l_partkey ASC) AS rnk
           FROM rev
         )
         SELECT agg.n_name, n_parts, nation_revenue_f4, rnk, l_partkey,
           revenue_f4
         FROM agg JOIN ranked ON agg.n_name = ranked.n_name
         WHERE rnk <= 3 ORDER BY agg.n_name, rnk""",
    "a9_topk_heap" ->
      """WITH rev AS (
           SELECT n_name, l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                 AS BIGINT)) AS BIGINT) AS revenue_f4
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name, l_partkey
         ), ranked AS (
           SELECT n_name, l_partkey, revenue_f4,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY revenue_f4 DESC, l_partkey ASC) AS rnk
           FROM rev
         )
         SELECT n_name, rnk, l_partkey, revenue_f4 FROM ranked
         WHERE rnk <= 5 ORDER BY n_name, rnk""",
    "a11_bucket_collapse" ->
      """WITH counts AS (
           SELECT p_type || '-' || p_brand AS key, count(*) AS cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(floor(CAST(sum(cnt) AS BIGINT) * 0.01) AS BIGINT)
             AS threshold FROM counts
         ), pass1 AS (
           SELECT CASE WHEN cnt < threshold
                       THEN split_part(key, '-', 1) || '-Other'
                       ELSE key END AS key1,
                  total, threshold, cnt
           FROM counts, tot
         ), pass1g AS (
           SELECT key1, total, threshold, CAST(sum(cnt) AS BIGINT) AS cnt
           FROM pass1 GROUP BY key1, total, threshold
         ), pass2 AS (
           SELECT CASE WHEN cnt < threshold THEN 'Other' ELSE key1 END
                    AS bucket, total, cnt
           FROM pass1g
         ), pass2g AS (
           SELECT bucket, total, CAST(sum(cnt) AS BIGINT) AS cnt FROM pass2
           GROUP BY bucket, total
         )
         SELECT bucket, cnt, cnt / total AS ratio FROM pass2g
         ORDER BY bucket""",
    "w1_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER (
           PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS running_cents
         FROM lineitem WHERE l_suppkey <= 5
         ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""",
    "w2_top_n" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
           AS total_cents
         FROM orders ORDER BY total_cents DESC, o_orderkey ASC LIMIT 100""",
    // integer-day RANGE frame over pre-aggregated daily cents; every SUM
    // wrapped BIGINT per the HUGEINT rule
    "w6_range_frame" ->
      """WITH daily AS (
           SELECT l_suppkey,
             CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
                  AS BIGINT) AS day_num,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
           FROM lineitem WHERE l_suppkey <= 10
           GROUP BY 1, 2
         )
         SELECT l_suppkey, day_num, day_cents,
           CAST(sum(day_cents) OVER (
             PARTITION BY l_suppkey ORDER BY day_num
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS trailing30_cents
         FROM daily ORDER BY l_suppkey, day_num"""
  )
}
