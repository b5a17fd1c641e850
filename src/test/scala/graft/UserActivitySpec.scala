package graft

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.useractivity.{CountryList, UserActivity}
import graft.export.JsonExport

/** End-to-end test of the user-activity pipeline over a deterministic
  * synthetic `clients_last_seen` fixture (FIXTURES.md §1 shape).
  */
class UserActivitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val addonSchema = ArrayType(
    StructType(
      Seq(
        StructField("is_system", BooleanType),
        StructField("foreign_install", BooleanType),
        StructField("addon_id", StringType),
        StructField("name", StringType)
      )
    )
  )

  private val clsSchema = StructType(
    Seq(
      StructField("submission_date", DateType),
      StructField("days_since_seen", IntegerType),
      StructField("country", StringType),
      StructField("subsession_hours_sum", DoubleType),
      StructField("days_seen_bits", LongType),
      StructField("days_created_profile_bits", LongType),
      StructField("client_id", StringType),
      StructField("app_version", StringType),
      StructField("locale", StringType),
      StructField("sample_id", IntegerType),
      StructField("active_addons", addonSchema)
    )
  )

  /** 2 weeks x 3 countries x 10 clients; Sundays 2019-01-13 and 2019-01-20.
    * Bit patterns consistent with days_since_seen (trailing set bit position
    * == days_since_seen). Deterministic — no RNG.
    */
  private def fixture: DataFrame = {
    val sundays = Seq(Date.valueOf("2019-01-13"), Date.valueOf("2019-01-20"))
    val countries = Seq("US", "DE", "FR")
    val rows = for {
      sunday <- sundays
      cc <- countries
      i <- 0 until 10
    } yield {
      val dss = i match {
        case 0 | 1 | 2 | 3 | 4 | 5 => 0 // active today
        case 6 => 3                      // active this week
        case 7 => 10                     // active this month
        case 8 => 27
        case _ => 0
      }
      val seenBits = 1L << dss
      val createdBits =
        if (i == 0) 1L << 2  // new profile this week
        else 1L << 20        // old profile
      val addons: Seq[Row] =
        if (i % 3 == 0) null
        else if (i % 3 == 1)
          Seq(
            Row(false, false, s"good-addon-$i", s"Good Addon $i"),
            Row(true, false, "system@mozilla", "SysThing")
          )
        else
          Seq(Row(false, false, "foo@testpilot-addon", "Blocked"))
      Row(
        sunday,
        dss,
        cc,
        math.min(23.0, 1.0 + i),
        seenBits,
        createdBits,
        s"client-$cc-$i",
        if (i % 2 == 0) "72.0.1" else "71.0",
        if (cc == "US") "en-US" else "de-DE",
        1,
        if (addons == null) null else addons
      )
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      clsSchema
    )
  }

  private def countryNames: DataFrame =
    Seq(("US", "United States"), ("DE", "Germany"), ("FR", "France"))
      .toDF("code", "name")

  private def buildhub: DataFrame = {
    val schema = StructType(
      Seq(
        StructField(
          "build",
          StructType(
            Seq(
              StructField(
                "target",
                StructType(
                  Seq(
                    StructField("version", StringType),
                    StructField("channel", StringType)
                  )
                )
              ),
              StructField(
                "build",
                StructType(Seq(StructField("date", TimestampType)))
              )
            )
          )
        )
      )
    )
    val rows = Seq(
      Row(Row(Row("71.0", "release"), Row(java.sql.Timestamp.valueOf("2018-12-03 10:00:00")))),
      Row(Row(Row("72.0", "release"), Row(java.sql.Timestamp.valueOf("2019-01-08 10:00:00")))),
      Row(Row(Row("73.0a1", "nightly"), Row(java.sql.Timestamp.valueOf("2019-01-10 10:00:00"))))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  /** Write the fixtures as parquet for CLI end-to-end runs (CliSpec). */
  def writeFixtures(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    fixture.write.mode("overwrite").parquet(s"$dir/clients")
    countryNames.write.mode("overwrite").parquet(s"$dir/countries")
    buildhub.write.mode("overwrite").parquet(s"$dir/buildhub")
  }

  private lazy val result = UserActivity
    .build(fixture, countryNames, buildhub)
    .cache()

  private val edgeCountries = UserActivity.Config(
    countries = Seq("Worldwide", "United States", "Germany", "France"))

  private def addon(id: String, name: String, system: Boolean = false): Row =
    Row(system, false, id, name)

  /** `clients_last_seen` rows from (day, days_since_seen, country,
    * client_id, active_addons, locale); the bit fields follow
    * days_since_seen, as in [[fixture]]. */
  private def clients(
      rows: Seq[(String, Integer, String, String, Seq[Row], String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map {
        case ((day, dss, cc, client, addons, locale), i) =>
          val seen: java.lang.Long = if (dss == null) null else 1L << dss.intValue
          Row(Date.valueOf(day), dss, cc, 1.0 + i % 5, seen, 1L << (i % 9),
            client, "72.0", locale, 1, addons)
      }, 2),
      clsSchema)

  /** Rows the distinct-count rewrite must count like `countDistinct`:
    * null client ids, one client with two last-day rows in one week (one
    * active this week, one not this month), null days_since_seen, null
    * and empty addon arrays, one client in two countries (counted once
    * under Worldwide), a not-last-day row and a group with no weekly
    * active client. */
  private def edgeCases: DataFrame = {
    val sun = "2019-01-13"
    val good = Seq(addon("good@x", "Good"))
    clients(Seq(
      (sun, 0, "US", "a", good, "en-US"),
      (sun, 30, "US", "a", null, "en-US"),
      (sun, 2, "US", null, good, "en-US"),
      (sun, null, "US", "b", null, "en-US"),
      (sun, 10, "US", "c", Seq(), "en-US"),
      (sun, 4, "US", "h", Seq(), "en-US"),
      (sun, 5, "DE", "d", Seq(addon("foo@testpilot-addon", "Blocked")), "de"),
      (sun, 1, "DE", "e", good :+ addon("sys@x", "Sys", system = true), "de"),
      (sun, null, "DE", null, null, "de"),
      (sun, 6, "DE", "a", null, "de"),
      ("2019-01-12", 3, "US", "f", good, "en-US"),
      (sun, 40, "FR", "g", good, "fr"),
      ("2019-01-20", 0, "US", "a", good, "en-US"),
      ("2019-01-20", 27, "US", "b", null, "en-US")
    ))
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("weeklyStats and hasAddon count distinct clients like countDistinct") {
    val smp = UserActivity.sample(edgeCases, countryNames, edgeCountries)
    val keys = Seq("week_start", "country_name")
    // the reference's per-CTE forms; intensity's CTE drops groups without
    // a weekly active row, where the fused pass reports NULL
    val reference = UserActivity.mauWau(smp)
      .join(UserActivity.intensity(smp), keys, "left")
      .join(UserActivity.newProfileRate(smp), keys)
      .select("week_start", "country_name", "mau", "wau", "intensity", "new_profile_rate")
    val weekly = UserActivity.weeklyStats(smp)
    assert(rowSet(weekly) == rowSet(reference))
    val ww = weekly.filter(col("country_name") === "Worldwide" &&
      col("week_start") === lit(Date.valueOf("2019-01-07"))).head()
    // a, c, h, d, e are seen this month (a counted once over US and DE);
    // a, h, d, e this week
    assert((ww.getAs[Long]("mau"), ww.getAs[Long]("wau")) == ((5L, 4L)))
    val addons = UserActivity.sampleAddons(smp)
    val hasAddonReference = addons
      .groupBy("week_start", "country_name")
      .agg((countDistinct(when(UserActivity.countableAddon, col("client_id"))) /
        countDistinct(col("client_id"))).as("has_addon_ratio"))
    assert(rowSet(UserActivity.hasAddon(addons)) == rowSet(hasAddonReference))
    assert(rowSet(UserActivity.hasAddon(addons)).size == 5)
  }

  /** The reference's top-K: rank by user_count / wau, ties by name. */
  private def ratioRankedTopK(counts: DataFrame, wau: DataFrame, nameCol: String, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("week_start", "country_name")
      .orderBy(col("ratio").desc, col(nameCol).asc)
    counts.join(wau, Seq("week_start", "country_name"))
      .select(col("week_start"), col("country_name"), col(nameCol),
        (col("user_count") / col("wau")).as("ratio"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .as[(Date, String, String, Double, Int)]
      .collect()
      .groupBy(r => (r._1, r._2))
      .map { case (key, rs) => key -> rs.sortBy(_._5).map(r => (r._3, r._4)).toSeq }
  }

  private def entries(df: DataFrame, arr: String, nameField: String) =
    df.select(col("submission_date"), col("country_name"),
        transform(col(arr),
          e => struct(e.getField(nameField).as("_1"), e.getField("ratio").as("_2"))))
      .as[(Date, String, Seq[(String, Double)])]
      .collect()
      .map(r => (r._1, r._2) -> r._3)
      .toMap

  test("top_addons and top_locales rank by count exactly as the reference ranks by ratio") {
    val sun = "2019-01-13"
    // US: 13 addons, counts 4, 3 ×2, 2 ×7 and 1 ×3, and "Dup" is one name
    // under two ids, so the cutoff at 10 falls inside the ties broken by
    // name; DE has fewer entries than K for both arms
    val usAddons = Seq(
      "A" -> 4, "Dup" -> 3, "B" -> 3, "K" -> 2, "C" -> 2, "J" -> 2, "D" -> 2, "I" -> 2,
      "E" -> 2, "L" -> 2, "H" -> 1, "F" -> 1, "G" -> 1)
    val us = (0 until 5).map { c =>
      val own = usAddons.zipWithIndex.collect {
        case ((name, n), i) if c < n => addon(s"id$i@x", name)
      } ++ (if (c < 2) Seq(addon("other@x", "Dup")) else Nil)
      (sun, Integer.valueOf(c % 7), "US", s"us$c", own, Seq("en-US", "es", "fr")(c % 3))
    }
    val de = Seq(
      (sun, Integer.valueOf(0), "DE", "de0", Seq(addon("z@x", "Z")), "de"),
      (sun, Integer.valueOf(2), "DE", "de1", Seq(addon("y@x", "Y")), "en-US"))
    val input = clients(us ++ de)
    val built = UserActivity.build(input, countryNames, buildhub, edgeCountries)
    val smp = UserActivity.sample(input, countryNames, edgeCountries)
    val wau = UserActivity.weeklyStats(smp).select("week_start", "country_name", "wau")
    val addonCounts = UserActivity.sampleAddons(smp)
      .groupBy("week_start", "country_name", "addon_id", "addon_name")
      .agg(countDistinct(when(UserActivity.countableAddon, col("client_id"))).as("user_count"))
    val localeCounts = smp
      .filter(col("days_since_seen") < 7 && col("is_last_day_of_week"))
      .groupBy("week_start", "country_name", "locale")
      .agg(countDistinct(col("client_id")).as("user_count"))
    val gotAddons = entries(built, "top_addons", "addon_name")
    val gotLocales = entries(built, "top_locales", "locale")
    assert(gotAddons == ratioRankedTopK(addonCounts, wau, "addon_name", 10))
    assert(gotLocales == ratioRankedTopK(localeCounts, wau, "locale", 5))
    val usWeek = (Date.valueOf("2019-01-07"), "United States")
    assert(gotAddons(usWeek).map(_._1) ==
      Seq("A", "B", "Dup", "C", "D", "Dup", "E", "I", "J", "K"))
    assert(gotAddons(usWeek).head._2 == 4.0 / 5)
    assert(gotAddons((Date.valueOf("2019-01-07"), "Germany")).map(_._1) == Seq("Y", "Z"))
  }

  test("a group without a weekly active client id fails like the ratio form: divide by zero") {
    // every weekly active row of France has a null client id, so wau = 0
    val input = clients(Seq(
      ("2019-01-13", 1, "US", "u", Seq(addon("good@x", "Good")), "en-US"),
      ("2019-01-13", 1, "FR", null, Seq(addon("good@x", "Good")), "fr")))
    def divideByZero(e: Throwable) =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("DIVIDE_BY_ZERO"))
    val smp = UserActivity.sample(input, countryNames, edgeCountries)
    val reference = intercept[Exception](ratioRankedTopK(
      smp.filter(col("days_since_seen") < 7 && col("is_last_day_of_week"))
        .groupBy("week_start", "country_name", "locale")
        .agg(countDistinct(col("client_id")).as("user_count")),
      UserActivity.weeklyStats(smp), "locale", 5))
    assert(divideByZero(reference), reference)
    val built = intercept[Exception](
      UserActivity.build(input, countryNames, buildhub, edgeCountries).collect())
    assert(divideByZero(built), built)
  }

  test("pipeline produces one row per (week, country) incl Worldwide") {
    val keys = result
      .select(col("submission_date").cast("string"), col("country_name"))
      .as[(String, String)]
      .collect()
      .toSet
    val weeks = Seq("2019-01-07", "2019-01-14")
    val expected = (for {
      w <- weeks
      c <- Seq("United States", "Germany", "France", "Worldwide")
    } yield (w, c)).toSet
    assert(keys == expected)
  }

  test("MAU/WAU semantics: conditional exact distinct") {
    // Per country-week: 10 clients, all have days_since_seen < 28 -> mau 10;
    // wau counts dss<7 -> i in {0..6, 9} = 8 clients.
    val row = result
      .filter(col("country_name") === "United States")
      .head()
    assert(row.getAs[Long]("mau") == 10L)
    // Worldwide doubles every client row but distinct-counts per client id,
    // so Worldwide mau = 30 (all clients across the 3 countries).
    val ww = result.filter(col("country_name") === "Worldwide").head()
    assert(ww.getAs[Long]("mau") == 30L)
  }

  test("intensity bounded by trailing-week popcount range") {
    val vals = result.select("intensity").as[Double].collect()
    assert(vals.forall(v => v >= 0.0 && v <= 7.0))
  }

  test("new_profile_rate: client 0 is the only new profile among 8 weekly-active") {
    val row = result
      .filter(col("country_name") === "Germany")
      .head()
    assert(math.abs(row.getAs[Double]("new_profile_rate") - 1.0 / 8.0) < 1e-12)
  }

  test("latest_version_ratio uses the as-of release join") {
    // Week of 2019-01-07 (last day 2019-01-13): latest release by then is 72
    // (released 2019-01-08; nightly 73 excluded). Clients on 72.0.1 (even i,
    // weekly active: i in {0,2,4,6} plus i=9 odd->71) -> 5 of 8 on latest.
    val row = result
      .filter(
        col("country_name") === "France" &&
          col("submission_date") === lit(Date.valueOf("2019-01-07"))
      )
      .head()
    assert(math.abs(row.getAs[Double]("latest_version_ratio") - 4.0 / 8.0) < 1e-12)
  }

  test("top_addons: only countable addons get nonzero ratios") {
    // Faithful reference semantics: blocked/system/no-addon GROUPS survive
    // addon_counts with user_count 0, so they can appear in top_addons with
    // ratio 0.0 when fewer than 10 addons exist (user_activity.sql:198-255).
    result
      .select(explode(col("top_addons")).as("a"))
      .select(col("a.addon_name"), col("a.ratio"))
      .as[(String, Double)]
      .collect()
      .foreach { case (name, ratio) =>
        if (ratio > 0.0) assert(name.startsWith("Good Addon"))
        assert(ratio >= 0.0 && ratio <= 1.0)
      }
    val sizes = result.select(size(col("top_addons"))).as[Int].collect()
    assert(sizes.forall(_ <= 10))
  }

  test("has_addon denominator includes zero-addon clients (outer unnest)") {
    // Weekly-active (8): countable-addon holders are i%3==1 among
    // {0..6,9} -> {1,4} = 2 clients -> ratio 2/8.
    val row = result.filter(col("country_name") === "United States").head()
    assert(math.abs(row.getAs[Double]("has_addon_ratio") - 2.0 / 8.0) < 1e-12)
  }

  test("export shapes: fxhealth/webusage pivot + validation") {
    val fx = JsonExport.fxhealthRows(result)
    val wu = JsonExport.webusageRows(result)
    val allow = Seq("United States", "Germany", "France", "Worldwide")
    JsonExport.validateCountries(fx, allow)
    JsonExport.validateCountries(wu, allow)
    intercept[RuntimeException] {
      JsonExport.validateCountries(fx, allow :+ "Atlantis")
    }
    val series = fx
      .filter(col("country_name") === "Worldwide")
      .select(size(col("series")))
      .as[Int]
      .head()
    assert(series == 2)
  }

  test("packaged 160-country allowlist validates a full export and rejects partial ones") {
    val full = CountryList.userActivityCountryList
    assert(full.length == 160)
    assert(full.distinct.length == 160)
    // spot-check ported data fidelity (reference __init__.py:1-162)
    assert(full.head == "Worldwide")
    assert(full.contains("Côte d'Ivoire") && full.contains("Türkiye"))
    // a synthetic export covering exactly the allowlist passes both ways
    val fullExport = full.toDF("country_name")
    JsonExport.validateCountries(fullExport, full)
    // a default (11-country) aggregate does NOT satisfy the full-list
    // validation — the reference aborts the export in this situation
    val partial = intercept[RuntimeException] {
      JsonExport.validateCountries(
        JsonExport.fxhealthRows(result), full)
    }
    assert(partial.getMessage.contains("Expected countries missing"))
    // and an export with a stray country is rejected the other way
    val stray = intercept[RuntimeException] {
      JsonExport.validateCountries(
        (full :+ "Atlantis").toDF("country_name"), full)
    }
    assert(stray.getMessage.contains("not in allowlist"))
  }

  test("top10addons dedups duplicate addon names like the reference's dict comprehension: first position, last value") {
    // user_activity.py:77-79 builds {addon_name: ratio} over the rank-
    // ordered array — a Python dict keeps one addon under two ids at the
    // FIRST occurrence's position with the LAST entry's value, and
    // webusage.json is dumped without sort_keys so the position is part
    // of the artifact
    val addonEntry = StructType(Seq(
      StructField("addon_name", StringType),
      StructField("ratio", DoubleType)
    ))
    val localeEntry = StructType(Seq(
      StructField("locale", StringType),
      StructField("ratio", DoubleType)
    ))
    val schema = StructType(Seq(
      StructField("country_name", StringType),
      StructField("submission_date", DateType),
      StructField("top_locales", ArrayType(localeEntry)),
      StructField("top_addons", ArrayType(addonEntry)),
      StructField("has_addon_ratio", DoubleType)
    ))
    val rows = Seq(
      Row(
        "Germany",
        Date.valueOf("2020-01-06"),
        Seq(Row("de", 0.5), Row("en-US", 0.25)),
        Seq(
          Row("Shared Name", 0.30),
          Row("Unique", 0.20),
          Row("Shared Name", 0.10), // same name, different addon_id upstream
          Row(null, 0.05) // null name -> "null" key (json.dumps of None)
        ),
        0.4
      )
    )
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      schema
    )
    val wu = JsonExport.webusageRows(df).collect()(0)
    val series = wu.getSeq[Row](1)
    val metrics = series(0).getStruct(1)
    val addonEntries =
      metrics.getSeq[Row](1).map(r => r.getString(0) -> r.getDouble(1))
    assert(addonEntries.size == 3, s"expected 3 deduped keys, got $addonEntries")
    assert(addonEntries.map(_._1) == Seq("Shared Name", "Unique", "null"),
      s"keys must sit at their FIRST-occurrence positions, got $addonEntries")
    val addons = addonEntries.toMap
    assert(math.abs(addons("Shared Name") - 10.0) < 1e-12,
      s"dict semantics keep the LAST value 0.10*100, got ${addons("Shared Name")}")
    assert(math.abs(addons("Unique") - 20.0) < 1e-12)
    // the serialized artifact renders k/v entries as an ordered object
    val json = graft.export.JsonWriter.write(
      graft.export.JsonWriter.rowToAny(metrics, JsonExport.webusageRows(df)
        .schema(1).dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType](1).dataType)
    )
    val sharedIdx = json.indexOf("\"Shared Name\"")
    val uniqueIdx = json.indexOf("\"Unique\"")
    val nullIdx = json.indexOf("\"null\"")
    assert(sharedIdx >= 0 && sharedIdx < uniqueIdx && uniqueIdx < nullIdx,
      s"JSON must serialize keys in insertion order:\n$json")
    assert(json.contains("\"Shared Name\": 10.0"), json)
  }
}
