package graft.useractivity

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.F

/** The user-activity aggregate pipeline — the Spark re-expression of the
  * reference's 361-line analytical query
  * (`scripts/public_data_report_user_activity.sql`, 15 CTEs). One method per
  * CTE, in dependency order; [[build]] assembles the 8-way join.
  *
  * Scale shape: `sample` doubles every row into (country, 'Worldwide') —
  * the Worldwide key concentrates half the data (SURVEY §7.4); every
  * aggregation below is partial-aggregated map-side and AQE handles the
  * skewed final merge. Every metric arm's output is keyed by (week,
  * country) — a keyspace bounded by construction — so [[build]] collects
  * each arm and joins the collected rows on the driver into one local
  * relation.
  */
object UserActivity {

  /** Config mirroring the query's literals (user_activity.sql:30-45,359). */
  final case class Config(
      countries: Seq[String] = Seq(
        "Worldwide", "Brazil", "China", "France", "Germany", "India",
        "Indonesia", "Italy", "Poland", "Russia", "United States"
      ),
      dateFrom: String = "2018-12-31",
      dateTo: String = "2020-06-29",
      excludedWeeks: Seq[String] = Seq("2019-04-29", "2019-05-06"),
      sampleId: Int = 1
  )

  /** Addon blocklist (user_activity.sql:206-219; the duplicated
    * testpilot-addon pattern is kept verbatim — SURVEY §7.5). */
  val addonBlocklist: Seq[String] = Seq(
    "%@mozilla%",
    "%@shield.mozilla%",
    "%@unified-urlbar-shield-study-%",
    "%@testpilot-addon%",
    "%@testpilot-addon%",
    "%@activity-streams%",
    "%support@laserlike.com%",
    "%testpilot@cliqz.com%",
    "%@testpilot-containers%",
    "%@sloth%",
    "%@min-vid%",
    "%jid1-NeEaf3sAHdKHPA@jetpack%"
  )

  /** The "countable addon" predicate used by addon_counts/has_addon
    * (user_activity.sql:204-223). */
  def countableAddon: Column =
    col("is_system") === false &&
      col("foreign_install") === false &&
      addonBlocklist.map(p => !col("addon_id").like(p)).reduce(_ && _)

  /** `sample` CTE (user_activity.sql:8-46): country doubling via
    * explode (J6), country-name decode via broadcast left join + coalesce,
    * week derivation, allowlist + date + outlier + sample-bucket filters.
    */
  def sample(clientsLastSeen: DataFrame, countryNames: DataFrame, cfg: Config): DataFrame =
    clientsLastSeen
      .select(
        col("*"),
        explode(array(col("country"), lit("Worldwide"))).as("country_group")
      )
      .join(broadcast(countryNames), col("code") === col("country_group"), "left")
      .withColumn("country_name", coalesce(col("name"), col("country_group")))
      .withColumn("week_start", F.weekStart(col("submission_date")))
      .withColumn("is_last_day_of_week", F.isLastDayOfWeek(col("submission_date")))
      .filter(col("country_name").isin(cfg.countries: _*))
      .filter(col("submission_date") >= lit(cfg.dateFrom))
      .filter(col("submission_date") < lit(cfg.dateTo))
      .filter(col("subsession_hours_sum") < 24)
      .filter(col("sample_id") === cfg.sampleId)
      .select(
        col("submission_date"), col("week_start"), col("is_last_day_of_week"),
        col("days_since_seen"), col("country_name"),
        col("subsession_hours_sum"), col("days_seen_bits"),
        col("days_created_profile_bits"), col("client_id"),
        col("app_version"), col("locale"), col("active_addons")
      )

  /** `sample_addons` (user_activity.sql:47-71): null-preserving outer
    * unnest — BQ's [a[SAFE_OFFSET(0)]] trick is native `explode_outer`. */
  def sampleAddons(sample: DataFrame): DataFrame =
    sample
      .filter(col("days_since_seen") < 7 && col("is_last_day_of_week"))
      .select(
        col("week_start"), col("country_name"), col("client_id"), col("locale"),
        explode_outer(col("active_addons")).as("addons")
      )
      .select(
        col("week_start"), col("country_name"), col("client_id"), col("locale"),
        col("addons.is_system"), col("addons.foreign_install"),
        col("addons.addon_id"), col("addons.name").as("addon_name")
      )

  /** `mau_wau` (user_activity.sql:72-84): conditional exact distinct. */
  def mauWau(sample: DataFrame): DataFrame =
    sample
      .filter(col("is_last_day_of_week"))
      .groupBy("week_start", "country_name")
      .agg(
        countDistinct(when(col("days_since_seen") < 28, col("client_id"))).as("mau"),
        countDistinct(when(col("days_since_seen") < 7, col("client_id"))).as("wau")
      )

  /** `avg_daily_usage_by_user` + `daily_usage` (user_activity.sql:85-112):
    * average of per-client averages, with the HAVING outlier clip. */
  def dailyUsage(sample: DataFrame): DataFrame =
    sample
      .filter(col("days_since_seen") === 0)
      .groupBy("client_id", "country_name", "week_start")
      .agg(avg("subsession_hours_sum").as("avg_hours_usage_daily_per_user"))
      .filter(col("avg_hours_usage_daily_per_user") < 24)
      .groupBy("country_name", "week_start")
      .agg(avg("avg_hours_usage_daily_per_user").as("avg_hours_usage_daily"))

  /** `intensity` (user_activity.sql:113-126): popcount of the trailing-week
    * bits over active rows. */
  def intensity(sample: DataFrame): DataFrame =
    sample
      .filter(col("is_last_day_of_week") && col("days_since_seen") < 7)
      .groupBy("week_start", "country_name")
      .agg(
        F.safeDiv(sum(F.bitcountLowest7(col("days_seen_bits"))), count(lit(1)))
          .as("intensity")
      )

  /** `new_profile_rate` (user_activity.sql:127-140): trailing-set-bit
    * position < 7 on creation bits vs seen bits. */
  def newProfileRate(sample: DataFrame): DataFrame =
    sample
      .filter(col("is_last_day_of_week"))
      .groupBy("week_start", "country_name")
      .agg(
        F.safeDiv(
          count(when(F.posOfTrailingSetBit(col("days_created_profile_bits")) < 7, 1)),
          count(when(F.posOfTrailingSetBit(col("days_seen_bits")) < 7, 1))
        ).as("new_profile_rate")
      )

  /** `latest_releases` (user_activity.sql:154-165): max major version per
    * build day on the release channel. */
  def latestReleases(buildhub: DataFrame): DataFrame =
    buildhub
      .filter(col("build.target.channel") === "release")
      .withColumn("day", to_date(col("build.build.date")))
      .filter(col("day") >= "2018-12-01")
      .groupBy("day")
      .agg(
        max(F.truncateVersionMajor(col("build.target.version")))
          .as("latest_major_version")
      )

  /** `active_clients_weekly` .. `latest_version_ratio`
    * (user_activity.sql:141-197): as-of range join (J4) against the tiny
    * releases dim (broadcast nested-loop — correct at any fact scale), max
    * per client-week, then countif ratio. */
  def latestVersionRatio(sample: DataFrame, buildhub: DataFrame): DataFrame = {
    val active = sample
      .filter(col("is_last_day_of_week") && col("days_since_seen") < 7)
      .select(
        col("country_name"),
        col("client_id"),
        F.truncateVersionMajor(col("app_version")).as("major_version"),
        expr("date_sub(submission_date, days_since_seen)").as("last_day_seen"),
        col("week_start")
      )
    val releases = latestReleases(buildhub)
    active
      .join(broadcast(releases), col("day") <= col("last_day_seen"))
      .filter(col("client_id").isNotNull)
      .groupBy("client_id", "country_name", "major_version", "week_start")
      .agg(max("latest_major_version").as("latest_major_version"))
      .groupBy("country_name", "week_start")
      .agg(
        F.safeDiv(
          count(when(col("major_version") === col("latest_major_version"), 1)),
          count(lit(1))
        ).as("latest_version_ratio")
      )
  }

  /** Top-K per group as sorted array-of-struct (A9,
    * user_activity.sql:245-255): window row_number for the K cutoff, then
    * collect into the BQ ARRAY_AGG(STRUCT(...) ORDER BY ... LIMIT K) shape.
    * Ties break deterministically by name (BQ leaves them unspecified).
    *
    * Ranks by the distinct-client count `user_count`, not by the
    * reference's ratio user_count / wau: within one (week, country) group
    * every row divides by the same wau, so both orders agree, and the arm
    * needs no wau. [[build]] divides the kept counts by wau.
    */
  private def topK(
      counts: DataFrame,
      nameCol: String,
      k: Int,
      outCol: String
  ): DataFrame = {
    val w = Window
      .partitionBy("week_start", "country_name")
      .orderBy(col("user_count").desc, col(nameCol).asc)
    counts
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy("week_start", "country_name")
      .agg(
        sort_array(
          collect_list(struct(col("rnk"), struct(col(nameCol), col("user_count")).as("s")))
        ).as("sorted")
      )
      .select(
        col("week_start"),
        col("country_name"),
        transform(col("sorted"), e => e.getField("s")).as(outCol)
      )
  }

  /** `addon_counts` .. `top_addons` (user_activity.sql:198-255), as
    * counts: `top_addons` holds (addon_name, user_count) entries. */
  def topAddons(sampleAddons: DataFrame): DataFrame = {
    val counts = sampleAddons
      .groupBy("week_start", "country_name", "addon_id", "addon_name")
      .agg(countDistinct(when(countableAddon, col("client_id"))).as("user_count"))
    topK(counts, "addon_name", 10, "top_addons")
  }

  /** `has_addon` (user_activity.sql:256-285): countable-addon users over
    * all users — the denominator includes zero-addon clients because the
    * outer unnest preserved them (intended semantics, SURVEY §7.5). Both
    * distinct counts come from one per-client aggregation, as in
    * [[weeklyStats]]. */
  def hasAddon(sampleAddons: DataFrame): DataFrame =
    sampleAddons
      .groupBy("week_start", "country_name", "client_id")
      .agg(count(when(countableAddon, 1)).as("countable_rows"))
      .groupBy("week_start", "country_name")
      .agg(
        (countClients(col("countable_rows") > 0) / count(col("client_id")))
          .as("has_addon_ratio")
      )

  /** `locale_counts` .. `top_locales` (user_activity.sql:286-325), as
    * counts: `top_locales` holds (locale, user_count) entries. */
  def topLocales(sample: DataFrame): DataFrame = {
    val counts = sample
      .filter(col("days_since_seen") < 7 && col("is_last_day_of_week"))
      .groupBy("week_start", "country_name", "locale")
      .agg(countDistinct(col("client_id")).as("user_count"))
    topK(counts, "locale", 5, "top_locales")
  }

  /** `mau_wau` + `intensity` + `new_profile_rate` in ONE aggregation pass.
    * The reference writes them as three CTEs (user_activity.sql:72-140),
    * but they share the scan, the `is_last_day_of_week` filter AND the
    * (week, country) grain — so [[build]] computes all six measures in one
    * pass over the scan instead of three.
    * Semantics are identical: the conditional aggregates reproduce each
    * CTE's row filter, and groups that would be absent from the stricter
    * CTEs (no days_since_seen<7 rows → NULL intensity here) are dropped
    * by the same inner joins that would have dropped them before, because
    * top_locales requires the identical filter to produce the group at
    * all. The standalone per-CTE methods remain above — they are the
    * reference-shaped forms the unit specs compare this pass against.
    *
    * The two distinct counts are two plain aggregations: per client
    * first, then per (week, country) counting the clients that passed
    * each condition. `countDistinct` on two different columns plans an
    * Expand that triples every row before the first shuffle; the
    * per-client grain shuffles each row once. The other measures are
    * integer sums and counts, so summing them per client first changes
    * no value. */
  def weeklyStats(sample: DataFrame): DataFrame = {
    val active = col("days_since_seen") < 7
    sample
      .filter(col("is_last_day_of_week"))
      .groupBy("week_start", "country_name", "client_id")
      .agg(
        count(when(col("days_since_seen") < 28, 1)).as("monthly_rows"),
        count(when(active, 1)).as("weekly_rows"),
        sum(when(active, F.bitcountLowest7(col("days_seen_bits")))).as("weekly_bits"),
        count(when(F.posOfTrailingSetBit(col("days_created_profile_bits")) < 7, 1)).as("new_rows"),
        count(when(F.posOfTrailingSetBit(col("days_seen_bits")) < 7, 1)).as("seen_rows")
      )
      .groupBy("week_start", "country_name")
      .agg(
        countClients(col("monthly_rows") > 0).as("mau"),
        countClients(col("weekly_rows") > 0).as("wau"),
        F.safeDiv(sum("weekly_bits"), sum("weekly_rows")).as("intensity"),
        F.safeDiv(sum("new_rows"), sum("seen_rows")).as("new_profile_rate")
      )
  }

  /** Over per-client rows: the number of non-null clients whose row
    * passes `cond` — `countDistinct(when(cond, client_id))` one level up. */
  private def countClients(cond: Column): Column =
    count(when(col("client_id").isNotNull && cond, 1))

  /** Final 8-way assembly + armagaddon-week exclusion
    * (user_activity.sql:326-360).
    *
    * Eager: every corpus-grain operator runs inside this call, and the
    * returned frame is one local relation holding the joined rows of the
    * six metric arms. Every arm therefore has snapshot semantics — the
    * result reflects the inputs as they were when `build` ran — and
    * executing the returned frame runs no job. `sample` is cached for the
    * duration of the call and released before it returns, also when an
    * arm fails. */
  def build(
      clientsLastSeen: DataFrame,
      countryNames: DataFrame,
      buildhub: DataFrame,
      cfg: Config = Config()
  ): DataFrame = {
    // Every arm below has its output bounded by construction: (weeks ×
    // country allowlist) rows — cfg's date window caps the weeks,
    // cfg.countries the names — no matter how big the fact table is, with
    // at most 10 or 5 array entries per row. So each arm is collected (the
    // same bounded driver transfer class as IvfAnn's k-centroid collect)
    // and the rows are joined on the driver.
    //
    // `sample` feeds all six arms, so it is decoded once into the cache
    // instead of once per arm. No arm needs another arm's output (the
    // top-K arms rank by count and leave the division by wau to the
    // assembly), so all six collect concurrently, in one wave. Each arm's
    // plan then starts with its own job materializing the cache (AQE's
    // table-cache stage), but the cache is built once: a task that finds
    // a partition being built by another job's task waits for it and
    // reads the stored block.
    //
    // dailyUsage is the only arm that sums doubles. Reading the cached
    // sample keeps the scan's partitions and row order, so its two-level
    // partial/final avg adds in the same order as over the scan, and the
    // exported floats stay bit-identical. Co-partitioning it with the
    // other arms, or fusing it into one of them, would reorder those sums.
    val smp = sample(clientsLastSeen, countryNames, cfg).cache()
    try {
      val addons = sampleAddons(smp)
      val arms = Seq(
        weeklyStats(smp),
        dailyUsage(smp),
        latestVersionRatio(smp, buildhub),
        topAddons(addons),
        topLocales(smp),
        hasAddon(addons)
      )
      // the reference's top-K entries: (name, user_count / wau)
      def ratios(arm: String, name: String): Column =
        transform(col(arm), e => struct(
          e.getField(name).as(name),
          (e.getField("user_count") / col("wau")).as("ratio")
        )).as(arm)
      assemble(arms, collectConcurrently(arms), cfg.excludedWeeks.toSet)
        .select(
          col("week_start").as("submission_date"),
          col("country_name"),
          col("mau"),
          col("avg_hours_usage_daily"),
          col("intensity"),
          col("new_profile_rate"),
          col("latest_version_ratio"),
          ratios("top_addons", "addon_name"),
          col("has_addon_ratio"),
          ratios("top_locales", "locale")
        )
    } finally smp.unpersist()
  }

  /** Inner join of the collected arms on (week_start, country_name), in
    * the first arm's row order, without the `excludedWeeks` rows: a group
    * missing from any arm is dropped, as in the reference's join chain.
    * The result is a local relation with the keys and then every arm's
    * other columns, so a projection over it runs no job. */
  private def assemble(
      arms: Seq[DataFrame],
      rows: Seq[Array[Row]],
      excludedWeeks: Set[String]
  ): DataFrame = {
    val keys = Seq("week_start", "country_name")
    val (fields, keyed) = arms.zip(rows).map { case (df, rs) =>
      val k = keys.map(df.schema.fieldIndex)
      val v = df.schema.indices.filterNot(k.contains)
      (v.map(df.schema(_)), rs.toSeq.map(r => k.map(r.get) -> v.map(r.get)))
    }.unzip
    val others = keyed.tail.map(_.toMap)
    val joined = for {
      (key, first) <- keyed.head
      if !excludedWeeks(key.head.toString)
      rest = others.flatMap(_.get(key))
      if rest.size == others.size
    } yield Row.fromSeq(key ++ first ++ rest.flatten)
    val schema = StructType(keys.map(arms.head.schema(_)) ++ fields.flatten)
    arms.head.sparkSession.createDataFrame(java.util.Arrays.asList(joined: _*), schema)
  }

  /** Collects every frame, concurrently, on a pool owned by this call:
    * one thread per frame, each created here on the caller's thread (so
    * it inherits the caller's Spark local properties). Every thread has
    * ended before this returns or throws; the first failing frame's
    * exception, in input order, is rethrown. */
  private def collectConcurrently(frames: Seq[DataFrame]): Seq[Array[Row]] = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(
      frames.size,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-useractivity-arm-${threads.size}")
        t.setDaemon(true)
        threads.add(t)
        t
      }
    )
    try {
      val pending = frames.map(df => pool.submit(() => df.collect()))
      pending.map { rows =>
        try rows.get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }
}
