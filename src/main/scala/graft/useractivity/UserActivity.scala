package graft.useractivity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.F

/** The user-activity aggregate pipeline — the Spark re-expression of the
  * reference's 361-line analytical query
  * (`scripts/public_data_report_user_activity.sql`, 15 CTEs). One method per
  * CTE, in dependency order; [[build]] assembles the 8-way join.
  *
  * Scale shape: `sample` doubles every row into (country, 'Worldwide') —
  * the Worldwide key concentrates half the data (SURVEY §7.4); every
  * aggregation below is partial-aggregated map-side and AQE handles the
  * skewed final merge. The post-aggregation joins are on (week, country) —
  * a tiny keyspace — and broadcast.
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
    */
  private def topK(
      ratios: DataFrame,
      nameCol: String,
      k: Int,
      outCol: String
  ): DataFrame = {
    val w = Window
      .partitionBy("week_start", "country_name")
      .orderBy(col("ratio").desc, col(nameCol).asc)
    ratios
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .groupBy("week_start", "country_name")
      .agg(
        sort_array(
          collect_list(struct(col("rnk"), struct(col(nameCol), col("ratio")).as("s")))
        ).as("sorted")
      )
      .select(
        col("week_start"),
        col("country_name"),
        transform(col("sorted"), e => e.getField("s")).as(outCol)
      )
  }

  /** `addon_counts` .. `top_addons` (user_activity.sql:198-255). */
  def topAddons(sampleAddons: DataFrame, mauWau: DataFrame): DataFrame = {
    val counts = sampleAddons
      .groupBy("week_start", "country_name", "addon_id", "addon_name")
      .agg(countDistinct(when(countableAddon, col("client_id"))).as("user_count"))
    val ratios = counts
      // mau_wau is one row per (week, country) — broadcast to the counts
      .join(broadcast(mauWau), Seq("week_start", "country_name"))
      .select(
        col("week_start"), col("country_name"), col("addon_name"),
        (col("user_count") / col("wau")).as("ratio")
      )
    topK(ratios, "addon_name", 10, "top_addons")
  }

  /** `has_addon` (user_activity.sql:256-285): countable-addon users over
    * all users — the denominator includes zero-addon clients because the
    * outer unnest preserved them (intended semantics, SURVEY §7.5). */
  def hasAddon(sampleAddons: DataFrame): DataFrame =
    sampleAddons
      .groupBy("week_start", "country_name")
      .agg(
        (countDistinct(when(countableAddon, col("client_id"))) /
          countDistinct(col("client_id"))).as("has_addon_ratio")
      )

  /** `locale_counts` .. `top_locales` (user_activity.sql:286-325). */
  def topLocales(sample: DataFrame, mauWau: DataFrame): DataFrame = {
    val counts = sample
      .filter(col("days_since_seen") < 7 && col("is_last_day_of_week"))
      .groupBy("week_start", "country_name", "locale")
      .agg(countDistinct(col("client_id")).as("user_count"))
    val ratios = counts
      .join(broadcast(mauWau), Seq("week_start", "country_name"))
      .select(
        col("week_start"), col("country_name"), col("locale"),
        (col("user_count") / col("wau")).as("ratio")
      )
    topK(ratios, "locale", 5, "top_locales")
  }

  /** `mau_wau` + `intensity` + `new_profile_rate` in ONE aggregation pass.
    * The reference writes them as three CTEs (user_activity.sql:72-140),
    * but they share the scan, the `is_last_day_of_week` filter AND the
    * (week, country) grain — so [[build]] computes all six measures in a
    * single groupBy (one scan + one shuffle instead of three of each).
    * Semantics are identical: the conditional aggregates reproduce each
    * CTE's row filter, and groups that would be absent from the stricter
    * CTEs (no days_since_seen<7 rows → NULL intensity here) are dropped
    * by the same inner joins that would have dropped them before, because
    * top_locales requires the identical filter to produce the group at
    * all. The standalone per-CTE methods remain above — they are the
    * reference-shaped forms the unit specs pin. */
  def weeklyStats(sample: DataFrame): DataFrame =
    sample
      .filter(col("is_last_day_of_week"))
      .groupBy("week_start", "country_name")
      .agg(
        countDistinct(when(col("days_since_seen") < 28, col("client_id"))).as("mau"),
        countDistinct(when(col("days_since_seen") < 7, col("client_id"))).as("wau"),
        F.safeDiv(
          sum(when(col("days_since_seen") < 7, F.bitcountLowest7(col("days_seen_bits")))),
          count(when(col("days_since_seen") < 7, 1))
        ).as("intensity"),
        F.safeDiv(
          count(when(F.posOfTrailingSetBit(col("days_created_profile_bits")) < 7, 1)),
          count(when(F.posOfTrailingSetBit(col("days_seen_bits")) < 7, 1))
        ).as("new_profile_rate")
      )

  /** Final 8-way assembly + armagaddon-week exclusion
    * (user_activity.sql:326-360).
    *
    * Not fully lazy: the `weeklyStats` arm is collected eagerly, at call
    * time, into a local relation (see below). That arm therefore has
    * snapshot semantics — it reflects the inputs as they were when
    * `build` ran — while every other arm stays lazy and reads the inputs
    * when the returned frame is executed. */
  def build(
      clientsLastSeen: DataFrame,
      countryNames: DataFrame,
      buildhub: DataFrame,
      cfg: Config = Config()
  ): DataFrame = {
    // `sample` feeds seven consumers — deliberately NOT cached: everything
    // below it is scan + broadcast join + filter (no shuffle), and each
    // consumer prunes to a narrow column subset, so seven pruned columnar
    // scans beat one full-width row materialization (measured twice:
    // caching smp+addons made the sf0.1 pipeline 17% SLOWER in round 11,
    // 3.26 s → 3.81 s; an eager-count re-test this round read min 2.76 s
    // uncached vs 2.98 s cached — the arms recompute in PARALLEL, so the
    // wall-clock win never materializes while the cache adds a serial
    // materialization job). At warehouse scale the same logic holds as
    // long as the input is columnar; a recompute-hostile source would
    // flip the call.
    val smp = sample(clientsLastSeen, countryNames, cfg)
    val addons = sampleAddons(smp)
    // one fused pass for the three same-grain weekly CTEs (see weeklyStats)
    // — computed ONCE and pinned as a LOCAL relation: mw feeds three
    // consumers (the assembly spine plus the wau denominator broadcast
    // into top_addons and top_locales), and as a lazy subtree each
    // consumer re-ran the whole two-countDistinct Expand aggregation over
    // its own re-scan of `sample` (the spine's copy escaped even
    // ReuseExchange — it is a shuffle, not a broadcast, consumer). The
    // result is (weeks × country allowlist) rows — bounded by
    // CONSTRUCTION (cfg's date window caps the weeks, cfg.countries the
    // names) no matter how big the fact table is, so collecting it is the
    // same bounded driver transfer class as IvfAnn's k-centroid collect,
    // and the local relation makes every downstream join build a
    // zero-job broadcast instead of re-planning the aggregate. Measured
    // (interleaved same-session A/B, sf0.1): min 2.33 s vs 2.89 s for the
    // eager-cache form — the cache's InMemoryScan feeds three stages that
    // the local relation removes from the job DAG entirely.
    val mwAgg = weeklyStats(smp)
    val mw = {
      import scala.jdk.CollectionConverters._
      val spark = clientsLastSeen.sparkSession
      spark.createDataFrame(mwAgg.collect().toSeq.asJava, mwAgg.schema)
    }
    // The assembly keys on (week, country) — a keyspace bounded by
    // construction (weeks × the country allowlist) no matter how big the
    // fact table is, so every metric CTE output is broadcast explicitly
    // (stats on fresh aggregates are unknown, and hoping for AQE's
    // runtime conversion leaves sort-merge joins in the static plan).
    val keys = Seq("week_start", "country_name")
    mw.join(broadcast(dailyUsage(smp)), keys)
      .join(broadcast(latestVersionRatio(smp, buildhub)), keys)
      .join(broadcast(topAddons(addons, mw)), keys)
      .join(broadcast(topLocales(smp, mw)), keys)
      .join(broadcast(hasAddon(addons)), keys)
      .filter(!col("week_start").cast("string").isin(cfg.excludedWeeks: _*))
      .select(
        col("week_start").as("submission_date"),
        col("country_name"),
        col("mau"),
        col("avg_hours_usage_daily"),
        col("intensity"),
        col("new_profile_rate"),
        col("latest_version_ratio"),
        col("top_addons"),
        col("has_addon_ratio"),
        col("top_locales")
      )
  }
}
