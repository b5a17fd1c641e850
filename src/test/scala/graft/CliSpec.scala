package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Main
import graft.sources.DeviceMap

/** End-to-end CLI runs over synthetic parquet inputs — exercises the S4
  * (resource JSON), S5 (partitioned parquet sink + dynamic overwrite), S6
  * (JSON file sink), S7 (readback) operators that the declared queries
  * can't (they return DataFrames).
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("device map inverts like the reference (tests/test_hardware_report.py:50-66)") {
    // inverted on the driver: no session, no Spark job
    val lookup = DeviceMap.lookup()
    // one entry per device id of the packaged map (2 vendors, 7 devices)
    assert(lookup.size == 7)
    // vendor ids are 0x-prefixed, device ids resolve to (family, chipset)
    assert(lookup("0x10de|0x13c1") == ("Maxwell", "GM204"))
    assert(lookup("0x10de|0x13d7") == ("Maxwell", "GM204M"))
    assert(lookup("0x8086|0x1912") == ("Gen9", "Skylake"))
    assert(lookup("0x10de|0x1b02") == ("Pascal", "GP102"))
    assert(!lookup.contains("0x10de|0xdead"))
  }

  test("hardware_report CLI: weekly loop -> partitioned parquet -> readback -> JSON") {
    val tmp = Files.createTempDirectory("graft-hw").toString
    val input = Seq(
      // week 1: two combos
      ("2020-01-06", "2020-01-13", "Windows_NT-10.0", "x86-64", 8, "GenuineIntel",
        "3.6", "1920x1080", 16, false, false, "0x10de", "0x13c1", 950L),
      ("2020-01-06", "2020-01-13", "Darwin-19.0", "x86-64", 4, "GenuineIntel",
        "2.6", "2560x1440", 8, false, false, "0x8086", "0x1912", 50L),
      // week 2
      ("2020-01-13", "2020-01-20", "Windows_NT-10.0", "x86-64", 8, "GenuineIntel",
        "3.6", "1920x1080", 16, false, false, "0x10de", "0x13c1", 1000L)
    ).toDF(
      "date_from_s", "date_to_s", "os", "browser_arch", "cpu_cores", "cpu_vendor",
      "cpu_speed", "resolution", "memory_gb", "has_flash", "is_wow64",
      "gfx0_vendor_id", "gfx0_device_id", "client_count"
    ).withColumn("date_from", org.apache.spark.sql.functions.to_date($"date_from_s"))
      .withColumn("date_to", org.apache.spark.sql.functions.to_date($"date_to_s"))
      .drop("date_from_s", "date_to_s")
    input.write.mode("overwrite").parquet(s"$tmp/input")

    Main.hardwareReport(
      spark,
      Map(
        "input" -> s"$tmp/input",
        "date_from" -> "2020-01-13",
        "past_weeks" -> "1",
        "output" -> s"$tmp/out"
      )
    )
    // partitioned aggregate table written (S5) and readable (S7)
    val agg = spark.read.parquet(s"$tmp/out/hardware_aggregates")
    assert(agg.select("date_from").distinct().count() == 2)
    // week 1: Darwin combo is 5% -> above the 1% threshold, survives; the
    // gfx model decodes through the resource device map
    val week1 = agg.filter($"date_from" === "2020-01-06")
    val models = week1
      .filter($"dimension" === "gfx0_model")
      .select("key", "ratio")
      .as[(String, Double)]
      .collect()
      .toMap
    assert(models == Map("Maxwell-GM204" -> 0.95, "Gen9-Skylake" -> 0.05))
    // JSON artifact exists, date-desc, prefixed keys (S6)
    val json = Files.readString(java.nio.file.Path.of(s"$tmp/out/hwsurvey-weekly.json"))
    assert(json.indexOf("2020-01-13") < json.indexOf("2020-01-06"))
    assert(json.contains("\"gpuModel_Maxwell-GM204\""))
    assert(json.contains("\"osName_Windows_NT-10.0\""))
  }

  /** One hardware combo of 950 clients in each week starting on a date
    * of `weekStarts`. */
  private def hardwareInput(path: String, weekStarts: Seq[String]): Unit =
    weekStarts.map { d =>
      (d, "Windows_NT-10.0", "x86-64", 8, "GenuineIntel", "3.6", "1920x1080", 16,
        false, false, "0x10de", "0x13c1", 950L)
    }.toDF(
      "date_from_s", "os", "browser_arch", "cpu_cores", "cpu_vendor",
      "cpu_speed", "resolution", "memory_gb", "has_flash", "is_wow64",
      "gfx0_vendor_id", "gfx0_device_id", "client_count"
    ).withColumn("date_from", org.apache.spark.sql.functions.to_date($"date_from_s"))
      .withColumn("date_to", org.apache.spark.sql.functions.date_add($"date_from", 7))
      .drop("date_from_s")
      .write.mode("overwrite").parquet(path)

  test("hardware_report: an empty week fails the job before any write") {
    val tmp = Files.createTempDirectory("graft-hw-empty").toString
    hardwareInput(s"$tmp/input", Seq("2020-01-20", "2020-01-06"))
    val e = intercept[IllegalArgumentException] {
      Main.hardwareReport(spark, Map(
        "input" -> s"$tmp/input", "date_from" -> "2020-01-20",
        "past_weeks" -> "2", "output" -> s"$tmp/out"))
    }
    assert(e.getMessage.contains("No data in input for 2020-01-13 to 2020-01-20"))
    assert(!Files.exists(java.nio.file.Path.of(s"$tmp/out/hardware_aggregates")))
  }

  test("hardware_report: a rerun over one week keeps the other weeks, session conf untouched") {
    val tmp = Files.createTempDirectory("graft-hw-rerun").toString
    hardwareInput(s"$tmp/input", Seq("2020-01-13", "2020-01-06"))
    Seq("2020-01-06", "2020-01-13").foreach { d =>
      Main.hardwareReport(spark, Map(
        "input" -> s"$tmp/input", "date_from" -> d,
        "past_weeks" -> "0", "output" -> s"$tmp/out"))
    }
    val weeks = spark.read.parquet(s"$tmp/out/hardware_aggregates")
      .select("date_from").distinct().as[java.sql.Date].collect().map(_.toString).toSet
    assert(weeks == Set("2020-01-06", "2020-01-13"))
    // dynamic overwrite is an option of the job's write, not a session conf
    val mode = org.apache.spark.sql.internal.SQLConf.PARTITION_OVERWRITE_MODE
    assert(spark.conf.get(mode.key) == mode.defaultValueString)
  }

  test("hardware_report runs a fixed number of Spark jobs") {
    // no schema job for the two parquet reads, none to invert the device
    // map, no broadcast of the weekly totals and no sort of the readback:
    // what is left is the window totals (2 jobs), the write (4) and the
    // readback's collect (1)
    val tmp = Files.createTempDirectory("graft-hw-jobs").toString
    hardwareInput(s"$tmp/input", Seq("2020-01-13", "2020-01-06"))
    val jobs = TestSpark.jobStarts {
      Main.hardwareReport(spark, Map(
        "input" -> s"$tmp/input", "date_from" -> "2020-01-13",
        "past_weeks" -> "1", "output" -> s"$tmp/out"))
    }.size
    assert(jobs == 7, s"hardware_report ran $jobs Spark jobs")
  }

  test("hardware_report runs as many SQL executions for four weeks as for one") {
    // the weeks share one pass; a per-week loop would add executions per week
    val tmp = Files.createTempDirectory("graft-hw-execs").toString
    hardwareInput(s"$tmp/input", Seq("2020-01-27", "2020-01-20", "2020-01-13", "2020-01-06"))
    def executions(pastWeeks: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          n.incrementAndGet()
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        Main.hardwareReport(spark, Map(
          "input" -> s"$tmp/input", "date_from" -> "2020-01-27",
          "past_weeks" -> pastWeeks.toString, "output" -> s"$tmp/out$pastWeeks"))
        org.apache.spark.TestBus.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      n.get
    }
    val one = executions(0)
    assert(one > 0 && executions(3) == one)
    assert(spark.read.parquet(s"$tmp/out3/hardware_aggregates")
      .select("date_from").distinct().count() == 4)
  }

  test("annotations CLI writes three JSON artifacts with static merge") {
    val tmp = Files.createTempDirectory("graft-ann").toString
    val schema = StructType(Seq(StructField("build", StructType(Seq(
      StructField("target", StructType(Seq(
        StructField("version", StringType), StructField("channel", StringType)))),
      StructField("build", StructType(Seq(StructField("date", TimestampType)))))))))
    val rows = Seq(
      Row(Row(Row("71.0", "release"), Row(java.sql.Timestamp.valueOf("2018-12-03 10:00:00")))),
      Row(Row(Row("72.0", "release"), Row(java.sql.Timestamp.valueOf("2019-01-08 10:00:00"))))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/buildhub")

    Files.writeString(
      java.nio.file.Path.of(s"$tmp/static_wu.json"),
      """{"Worldwide": [{"annotation": {"pct_addon": "example static annotation"}, "date": "2019-01-01"}]}"""
    )
    Main.annotations(
      spark,
      Map(
        "buildhub" -> s"$tmp/buildhub",
        "date_to" -> "2019-02-04",
        "output" -> s"$tmp/out",
        "static_webusage" -> s"$tmp/static_wu.json"
      )
    )
    val fx = Files.readString(java.nio.file.Path.of(s"$tmp/out/annotations_fxhealth.json"))
    assert(fx.contains("\"pct_latest_version\": \"FF72\""))
    assert(fx.contains("\"Worldwide\""))
    val wu = Files.readString(java.nio.file.Path.of(s"$tmp/out/annotations_webusage.json"))
    // static entry merged with per-country defaults
    assert(wu.contains("example static annotation"))
    assert(wu.contains("legacy addons disabled"))
    assert(Files.exists(java.nio.file.Path.of(s"$tmp/out/annotations_hardware.json")))
  }

  test("annotations_hardware.json is the reference's published file, passed through byte-for-byte") {
    // annotations.py:119-121 uploads the packaged static file VERBATIM —
    // no parse, no re-serialize. Two gates: (1) the shipped artifact
    // equals the packaged resource byte-for-byte (pass-through), and
    // (2) the resource equals the reference's published 734-byte content
    // (golden embedded here, not read from the reference tree).
    val tmp = Files.createTempDirectory("graft-ann-hw").toString
    val schema = StructType(Seq(StructField("build", StructType(Seq(
      StructField("target", StructType(Seq(
        StructField("version", StringType), StructField("channel", StringType)))),
      StructField("build", StructType(Seq(StructField("date", TimestampType)))))))))
    val rows = Seq(
      Row(Row(Row("71.0", "release"), Row(java.sql.Timestamp.valueOf("2018-12-03 10:00:00"))))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/buildhub")
    Main.annotations(
      spark,
      Map(
        "buildhub" -> s"$tmp/buildhub",
        "date_to" -> "2019-01-14",
        "output" -> s"$tmp/out"
      )
    )
    val artifact = Files.readString(java.nio.file.Path.of(s"$tmp/out/annotations_hardware.json"))
    val resource = graft.sources.DeviceMap.readResourceText("/graft/static/annotations_hardware.json")
    assert(artifact == resource, "hardware annotations must pass through unmodified")
    val golden =
      """{
        |  "default": [
        |    {
        |      "annotation": {
        |        "cpuCores": "XP and Vista leave dataset",
        |        "cpuSpeed": "XP and Vista leave dataset",
        |        "cpuVendor": "XP and Vista leave dataset",
        |        "gpuModel": "XP and Vista leave dataset",
        |        "gpuVendor": "XP and Vista leave dataset",
        |        "hasFlash": "XP and Vista leave dataset",
        |        "osArch": "XP and Vista leave dataset",
        |        "osName": "XP and Vista leave dataset",
        |        "ram": "XP and Vista leave dataset",
        |        "resolution": "XP and Vista leave dataset"
        |      },
        |      "date": "2017-03-05"
        |    },
        |    {
        |      "annotation": {
        |        "browserArch": "64-bit updates unthrottled on Win7+ for 2GB+ users"
        |      },
        |      "date": "2017-10-22"
        |    }
        |  ]
        |}
        |""".stripMargin
    assert(artifact == golden, "hardware annotations drifted from the reference's published content")
    // the packaged webusage static is the reference's `{}` — with no
    // override, the artifact is the pure defaults fan-out: every country
    // present, no static entries beyond the two defaults
    val wu = Files.readString(java.nio.file.Path.of(s"$tmp/out/annotations_webusage.json"))
    assert(wu.contains("\"Worldwide\"") && wu.contains("legacy addons disabled"))
    assert(!wu.contains("example static annotation"))
  }

  test("annotations webusage artifact matches a byte-level golden (S4/W2/F16)") {
    // full-file golden of the merged static+computed annotations JSON,
    // assembled here from string literals ONLY (no JsonWriter, no
    // Annotations code): locks key sorting, 2-space indent, static-entry
    // precedence, and the default-annotation fan-out on the annotations
    // path the same way the hwsurvey goldens lock the hardware path
    val tmp = Files.createTempDirectory("graft-ann-golden").toString
    val schema = StructType(Seq(StructField("build", StructType(Seq(
      StructField("target", StructType(Seq(
        StructField("version", StringType), StructField("channel", StringType)))),
      StructField("build", StructType(Seq(StructField("date", TimestampType)))))))))
    val rows = Seq(
      Row(Row(Row("71.0", "release"), Row(java.sql.Timestamp.valueOf("2018-12-03 10:00:00"))))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$tmp/buildhub")
    Files.writeString(
      java.nio.file.Path.of(s"$tmp/static_wu.json"),
      """{"Worldwide": [{"annotation": {"pct_addon": "example static annotation"}, "date": "2019-01-01"}]}"""
    )
    Main.annotations(
      spark,
      Map(
        "buildhub" -> s"$tmp/buildhub",
        "date_to" -> "2019-01-14",
        "output" -> s"$tmp/out",
        "static_webusage" -> s"$tmp/static_wu.json"
      )
    )
    def entry(date: String, kvs: (String, String)*): String =
      s"""    {
         |      "annotation": {
         |${kvs.map { case (k, v) => s"""        "$k": "$v"""" }.mkString(",\n")}
         |      },
         |      "date": "$date"
         |    }""".stripMargin
    val defaults = Seq(
      entry("2017-11-14", "pct_TP" -> "FF57", "pct_addon" -> "legacy addons disabled"),
      entry("2019-05-05", "pct_addon" -> "data deleted (addons outage)")
    )
    val staticWw = entry("2019-01-01", "pct_addon" -> "example static annotation")
    def country(name: String, entries: Seq[String]): String =
      s"""  "$name": [
         |${entries.mkString(",\n")}
         |  ]""".stripMargin
    // sort_keys=True ordering over the FULL 160-country allowlist
    // (annotations.py:96 extends defaults for every country in
    // USER_ACITVITY_COUNTRY_LIST); Worldwide's static entry precedes its
    // defaults (dict value order: static list first, extend() appends)
    val golden = graft.useractivity.CountryList.userActivityCountryList.sorted
      .map {
        case "Worldwide" => country("Worldwide", staticWw +: defaults)
        case c => country(c, defaults)
      }
      .mkString("{\n", ",\n", "\n}")
    val wu = Files.readString(java.nio.file.Path.of(s"$tmp/out/annotations_webusage.json"))
    assert(wu == golden,
      s"webusage annotations drifted from the golden:\n--- got ---\n$wu\n--- want ---\n$golden")
  }

  test("user_activity CLI: pipeline -> validation -> fxhealth/webusage JSON") {
    val tmp = Files.createTempDirectory("graft-ua").toString
    // reuse the UserActivitySpec fixture shapes, via parquet round-trip
    val fixtures = new UserActivitySpec()
    fixtures.writeFixtures(spark, tmp)
    Main.userActivity(
      spark,
      Map(
        "clients" -> s"$tmp/clients",
        "country_names" -> s"$tmp/countries",
        "buildhub" -> s"$tmp/buildhub",
        "countries" -> "Worldwide,United States,Germany,France",
        "output" -> s"$tmp/out",
        "archive_date" -> "2020-06-29"
      )
    )
    // dual write applies to the user-activity artifacts too
    assert(Files.exists(java.nio.file.Path.of(s"$tmp/out/fxhealth-2020-06-29.json")))
    assert(Files.exists(java.nio.file.Path.of(s"$tmp/out/webusage-2020-06-29.json")))
    val fx = Files.readString(java.nio.file.Path.of(s"$tmp/out/fxhealth.json"))
    val wu = Files.readString(java.nio.file.Path.of(s"$tmp/out/webusage.json"))
    // nested shape {country: [{date, metrics{...}}]} with x100 scaling keys
    assert(fx.contains("\"United States\""))
    assert(fx.contains("\"MAU\""))
    assert(fx.contains("\"pct_new_user\""))
    // the reference's exact key, parens included (user_activity.py:64) —
    // pinned so the public artifact format can't silently drift
    assert(fx.contains("\"avg_daily_usage(hours)\""))
    assert(!fx.contains("avg_daily_usage_hours"))
    assert(wu.contains("\"top10addons\""))
    assert(wu.contains("\"pct_addon\""))
    assert(wu.contains("\"Worldwide\""))
    // byte-level goldens of both artifacts: float sums, country key order
    // (the export aggregation's row order; neither artifact sorts keys)
    // and the ordered locale/addon objects
    def golden(name: String): String = new String(
      getClass.getResourceAsStream(s"/graft/golden/user_activity/$name").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(fx == golden("fxhealth.json"), s"fxhealth.json drifted from the golden:\n$fx")
    assert(wu == golden("webusage.json"), s"webusage.json drifted from the golden:\n$wu")
  }

  test("user_activity runs a fixed number of Spark jobs, its arms in one concurrent wave") {
    // the six metric arms collect concurrently and are joined on the
    // driver, so a broadcast join in the assembly adds one job per arm.
    // Every arm that starts before the cached sample is built runs its own
    // job materializing it (AQE's table-cache stage; the tasks of one
    // partition wait for one build). How many arms get there first is a
    // race, so those jobs are counted apart: an arm collected on its own
    // before the others leaves exactly one.
    // Its three input reads run no schema job (Tables.parquet reads the
    // footers on the driver).
    val tmp = Files.createTempDirectory("graft-ua-jobs").toString
    new UserActivitySpec().writeFixtures(spark, tmp)
    spark.catalog.clearCache()
    val started = TestSpark.jobStarts {
      Main.userActivity(spark, Map(
        "clients" -> s"$tmp/clients",
        "country_names" -> s"$tmp/countries",
        "buildhub" -> s"$tmp/buildhub",
        "countries" -> "Worldwide,United States,Germany,France",
        "output" -> s"$tmp/out",
        "archive_date" -> "2020-06-29"
      ))
    }
    // a cache-materializing job is one stage whose own RDD (the head of
    // its RDD infos) is the persisted one
    val cacheJobs = started.count(e =>
      e.stageInfos.size == 1 && e.stageInfos.head.rddInfos.head.storageLevel.isValid)
    val jobs = started.size - cacheJobs
    assert(jobs == 25, s"user_activity ran $jobs Spark jobs besides its $cacheJobs cache jobs")
    assert(cacheJobs >= 2, s"only $cacheJobs arm started before the sample was cached")
  }

  test("user_activity releases its cache and arm threads, also when an arm fails") {
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("graft-ua-cleanup").toString
    new UserActivitySpec().writeFixtures(spark, tmp)
    // a release build whose major version overflows a long: the
    // latest-version arm's cast throws while that arm executes, in the
    // same wave as the other five arms
    val buildhubSchema = spark.read.parquet(s"$tmp/buildhub").schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Row(
        Row("99999999999999999999.0", "release"),
        Row(java.sql.Timestamp.valueOf("2018-12-03 10:00:00")))))),
      buildhubSchema
    ).write.mode("overwrite").parquet(s"$tmp/overflow_buildhub")
    def run(buildhub: String): Unit = Main.userActivity(spark, Map(
      "clients" -> s"$tmp/clients",
      "country_names" -> s"$tmp/countries",
      "buildhub" -> buildhub,
      "countries" -> "Worldwide,United States,Germany,France",
      "output" -> s"$tmp/out",
      "archive_date" -> "2020-06-29"
    ))
    def armThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-useractivity-arm-"))
    spark.catalog.clearCache()
    run(s"$tmp/buildhub")
    assert(spark.sharedState.cacheManager.isEmpty, "the cached sample outlived the job")
    assert(armThreads.isEmpty, s"arm threads left running: $armThreads")
    val e = intercept[Exception](run(s"$tmp/overflow_buildhub"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("99999999999999999999")),
      s"the failing arm's exception did not reach the caller: $e")
    assert(spark.sharedState.cacheManager.isEmpty, "a failed arm left the sample cached")
    assert(armThreads.isEmpty, s"arm threads left running after a failure: $armThreads")
  }

  test("artifacts get a dated archive copy; --dry_run skips the JSON sink but not the warehouse write") {
    val tmp = Files.createTempDirectory("graft-dry").toString
    val input = Seq(
      ("2020-01-06", "2020-01-13", "Windows_NT-10.0", "x86-64", 8, "GenuineIntel",
        "3.6", "1920x1080", 16, false, false, "0x10de", "0x13c1", 950L)
    ).toDF(
      "date_from_s", "date_to_s", "os", "browser_arch", "cpu_cores", "cpu_vendor",
      "cpu_speed", "resolution", "memory_gb", "has_flash", "is_wow64",
      "gfx0_vendor_id", "gfx0_device_id", "client_count"
    ).withColumn("date_from", org.apache.spark.sql.functions.to_date($"date_from_s"))
      .withColumn("date_to", org.apache.spark.sql.functions.to_date($"date_to_s"))
      .drop("date_from_s", "date_to_s")
    input.write.mode("overwrite").parquet(s"$tmp/input")
    val base = Map(
      "input" -> s"$tmp/input",
      "date_from" -> "2020-01-06",
      "past_weeks" -> "0",
      "archive_date" -> "2020-01-14"
    )
    // dry run: aggregate parquet written, NO json artifacts (reference
    // contract: tests/test_hardware_report.py:193-200)
    Main.hardwareReport(spark, base + ("output" -> s"$tmp/dry", "dry_run" -> "true"))
    assert(Files.exists(java.nio.file.Path.of(s"$tmp/dry/hardware_aggregates")))
    assert(!Files.exists(java.nio.file.Path.of(s"$tmp/dry/hwsurvey-weekly.json")))
    assert(!Files.exists(java.nio.file.Path.of(s"$tmp/dry/hwsurvey-weekly-2020-01-14.json")))
    // wet run: latest + dated archive, identical bytes (GCS-no-symlink
    // dual copy, hardware_report.py:361-381)
    Main.hardwareReport(spark, base + ("output" -> s"$tmp/wet"))
    val latest = Files.readString(java.nio.file.Path.of(s"$tmp/wet/hwsurvey-weekly.json"))
    val archived = Files.readString(java.nio.file.Path.of(s"$tmp/wet/hwsurvey-weekly-2020-01-14.json"))
    assert(latest == archived && latest.nonEmpty)
  }

  test("query subcommand runs a declared catalog query to parquet and json") {
    val tmp = java.nio.file.Files.createTempDirectory("cli-query").toString
    val in = "/root/testdata/sf0.001"
    Main.query(spark, Map("name" -> "t3_dedup_exact", "input" -> in, "output" -> tmp))
    val parquet = spark.read.parquet(s"$tmp/t3_dedup_exact")
    val direct = SparkEntry.queries("t3_dedup_exact")(spark, in)
    assert(parquet.count() == direct.count() && parquet.count() > 0)
    Main.query(
      spark,
      Map("name" -> "t15_corpus_profile", "input" -> in, "output" -> tmp, "format" -> "json")
    )
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/t15_corpus_profile.json")
    )
    assert(json.startsWith("[") && json.contains("\"lang\""))
    // json mode is row-capped (corpus-grain queries are unbounded at
    // scale): at the cap it succeeds, one under it refuses loudly
    val n = SparkEntry.queries("t1_token_stats")(spark, in).count()
    Main.query(
      spark,
      Map("name" -> "t1_token_stats", "input" -> in, "output" -> tmp,
        "format" -> "json", "json_max_rows" -> n.toString)
    )
    val capped = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tmp/t1_token_stats.json")
    )
    assert(capped.count(_ == '\n') == n + 2) // n rows + brackets
    val err = intercept[IllegalStateException] {
      Main.query(
        spark,
        Map("name" -> "t1_token_stats", "input" -> in, "output" -> tmp,
          "format" -> "json", "json_max_rows" -> (n - 1).toString)
      )
    }
    assert(err.getMessage.contains("json_max_rows"))
    // --list is a valueless flag, like --dry_run
    assert(graft.cli.Main.parseArgs(Seq("--list")).contains("list"))
  }

  test("argv parsing: valueless --dry_run/--dryrun flags mix with k-v options") {
    // the click is_flag style the reference accepts (hardware_report.py:409-414)
    val a = graft.cli.Main.parseArgs(
      Seq("--input", "/x", "--dry_run", "--past_weeks", "2"))
    assert(a == Map("input" -> "/x", "past_weeks" -> "2", "dry_run" -> "true"))
    val b = graft.cli.Main.parseArgs(Seq("--dryrun", "--output", "/y"))
    assert(b == Map("output" -> "/y", "dry_run" -> "true"))
    val c = graft.cli.Main.parseArgs(Seq("--output", "/y"))
    assert(!c.contains("dry_run"))
    // positional parsing: a VALUE that spells '--dry_run' stays a value,
    // and a stray token after a flag can't shift later key/value pairing
    val d = graft.cli.Main.parseArgs(
      Seq("--note", "--dry_run", "--output", "/y"))
    assert(d == Map("note" -> "--dry_run", "output" -> "/y"))
    val e = graft.cli.Main.parseArgs(
      Seq("--dry_run", "true", "--output", "/y"))
    assert(e == Map("dry_run" -> "true", "output" -> "/y"))
    // a value-taking option as the LAST token is click's abort case
    // ("Option '--output' requires an argument") — not a silent drop
    val f = intercept[IllegalArgumentException] {
      graft.cli.Main.parseArgs(Seq("--input", "/x", "--output"))
    }
    assert(f.getMessage.contains("--output"))
  }

  test("JsonWriter matches python json.dumps conventions") {
    val v = scala.collection.immutable.ListMap(
      "b" -> (1L: Any),
      "a" -> (Seq(scala.collection.immutable.ListMap("x" -> (0.5: Any))): Any),
      "t" -> (true: Any),
      "s" -> ("q\"uote": Any)
    )
    val out = graft.export.JsonWriter.write(v, indent = 2, sortKeys = true)
    assert(out ==
      """{
        |  "a": [
        |    {
        |      "x": 0.5
        |    }
        |  ],
        |  "b": 1,
        |  "s": "q\"uote",
        |  "t": true
        |}""".stripMargin)
  }
}
