package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.hardware.HardwareReport

/** Golden-port tests of the hardware pipeline stages against the reference's
  * own test expectations (tests/test_hardware_report.py:87-190).
  */
class HardwareReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** DEVICE_MAP_SAMPLE (tests/test_hardware_report.py:5-20) in our inverted
    * (vendor|device) -> (family, chipset) shape. */
  private val deviceMap = Map(
    "0x10de|0x13c1" -> ("Maxwell", "GM204"),
    "0x10de|0x13c2" -> ("Maxwell", "GM204"),
    "0x10de|0x13d7" -> ("Maxwell", "GM204M")
  )

  private val week1 = (java.sql.Date.valueOf("2020-01-06"), java.sql.Date.valueOf("2020-01-13"))

  /** Stamps every row with one weekly window, the columns each per-week
    * grouping carries. */
  private def inWeek(df: org.apache.spark.sql.DataFrame, w: (java.sql.Date, java.sql.Date)) =
    df.withColumn("date_from", lit(w._1)).withColumn("date_to", lit(w._2))

  /** One week's (sample_count, threshold), keyed by its window. */
  private def totals(w: (java.sql.Date, java.sql.Date), n: Long, threshold: Long) =
    Map(w -> (n, threshold))

  /** The 6-client synthetic of test_transform_dimensions (:90-140),
    * expressed as the per-combo joint table our pipeline consumes. Client 1
    * carries every "1-count" marginal; clients 2-6 the "5-count" ones.
    */
  private def inputDf = {
    val c1 = ("Windows_NT-10.0", "x86-64", 4, "GenuineIntel", "3.6",
      "1920x1080", 14, true, true, "0x10de", "0x13c2", 1L)
    val c5 = ("Windows_NT-6.2", "x86-64", 8, "GenuineIntel", "Other",
      "2560x1440", 17, false, false, "0x1414", "0xfefe", 5L)
    Seq(c1, c5).toDF(
      "os", "browser_arch", "cpu_cores", "cpu_vendor", "cpu_speed",
      "resolution", "memory_gb", "has_flash", "is_wow64",
      "gfx0_vendor_id", "gfx0_device_id", "client_count"
    )
  }

  test("aggregateDimensions reproduces transform_dimensions golden (:142-158)") {
    val out = HardwareReport
      .aggregateDimensions(inWeek(inputDf, week1), deviceMap)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val expected = Map(
      ("os", "Windows_NT-10.0") -> 1L,
      ("os", "Windows_NT-6.2") -> 5L,
      ("browser_arch", "x86-64") -> 6L,
      ("cpu_cores", "4") -> 1L,
      ("cpu_cores", "8") -> 5L,
      ("cpu_vendor", "GenuineIntel") -> 6L,
      ("cpu_speed", "3.6") -> 1L,
      ("cpu_speed", "Other") -> 5L,
      ("resolution", "1920x1080") -> 1L,
      ("resolution", "2560x1440") -> 5L,
      ("memory_gb", "14") -> 1L,
      ("memory_gb", "17") -> 5L,
      ("has_flash", "True") -> 1L,
      ("has_flash", "False") -> 5L,
      ("os_arch", "x86-64") -> 6L,
      ("gfx0_vendor_name", "NVIDIA") -> 1L,
      ("gfx0_vendor_name", "Microsoft Basic") -> 5L,
      ("gfx0_model", "Maxwell-GM204") -> 1L,
      ("gfx0_model", "Other") -> 5L
    )
    assert(out == expected)
  }

  test("collapseBuckets reproduces collapse_buckets golden (:161-190)") {
    val aggregated = Seq(
      ("os", "Windows_NT-10.0", 95L), ("os", "Windows_NT-6.2", 5L),
      ("browser_arch", "x86-64", 100L),
      ("cpu_cores", "4", 100L),
      ("cpu_vendor", "GenuineIntel", 100L),
      ("cpu_speed", "4", 2L), ("cpu_speed", "3.6", 48L), ("cpu_speed", "Other", 50L),
      ("resolution", "1920x1080", 100L),
      ("memory_gb", "14", 50L), ("memory_gb", "17", 50L),
      ("has_flash", "True", 1L), ("has_flash", "False", 99L),
      ("os_arch", "x86-64", 100L),
      ("gfx0_vendor_name", "NVIDIA", 60L), ("gfx0_vendor_name", "Microsoft Basic", 40L),
      ("gfx0_model", "Maxwell-GM204", 95L), ("gfx0_model", "Other", 5L)
    ).toDF("dimension", "key", "client_count")
    val out = HardwareReport
      .collapseBuckets(inWeek(aggregated, week1), totals(week1, 100L, 10L))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    val expected = Map(
      ("os", "Windows_NT-10.0") -> 0.95, ("os", "Other") -> 0.05,
      ("browser_arch", "x86-64") -> 1.0,
      ("cpu_cores", "4") -> 1.0,
      ("cpu_vendor", "GenuineIntel") -> 1.0,
      ("cpu_speed", "3.6") -> 0.48, ("cpu_speed", "Other") -> 0.52,
      ("resolution", "1920x1080") -> 1.0,
      ("memory_gb", "14") -> 0.5, ("memory_gb", "17") -> 0.5,
      ("has_flash", "True") -> 0.01, ("has_flash", "False") -> 0.99,
      ("os_arch", "x86-64") -> 1.0,
      ("gfx0_vendor_name", "NVIDIA") -> 0.6,
      ("gfx0_vendor_name", "Microsoft Basic") -> 0.4,
      ("gfx0_model", "Maxwell-GM204") -> 0.95, ("gfx0_model", "Other") -> 0.05
    )
    assert(out == expected)
  }

  test("resolution 0x0 always collapses to Other (:293-295)") {
    val aggregated = Seq(
      ("resolution", "0x0", 90L),
      ("resolution", "1920x1080", 10L)
    ).toDF("dimension", "key", "client_count")
    val out = HardwareReport
      .collapseBuckets(inWeek(aggregated, week1), totals(week1, 100L, 5L))
      .collect()
      .map(r => r.getString(1) -> r.getLong(2))
      .toMap
    assert(out == Map("Other" -> 90L, "1920x1080" -> 10L))
  }

  test("flatten produces prefixed keys date-desc (:327-358)") {
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (EF.. < F0..), the order
    // Spark's string sort gave the artifact, but after it in UTF-16 code
    // units (FF21 > D83D), the order of String.compareTo
    val (fullwidthA, emoji) = ("\uFF21", "\uD83D\uDE00")
    val readback = Seq(
      (java.sql.Date.valueOf("2020-01-06"), "os", "Windows_NT-10.0", 0.9),
      (java.sql.Date.valueOf("2020-01-13"), "memory_gb", "16", 0.4),
      (java.sql.Date.valueOf("2020-01-13"), "os", emoji, 0.1),
      (java.sql.Date.valueOf("2020-01-13"), "os", fullwidthA, 0.2)
    ).toDF("date_from", "dimension", "key", "ratio")
    val out = HardwareReport.flatten(readback)
    assert(out.map(_._1) == Seq("2020-01-13", "2020-01-13", "2020-01-13", "2020-01-06"))
    assert(out.map(_._2) ==
      Seq(s"osName_$fullwidthA", s"osName_$emoji", "ram_16", "osName_Windows_NT-10.0"))
    assert(out.map(_._3) == Seq(0.2, 0.1, 0.4, 0.9))
  }

  test("NULL telemetry values become distinct 'None' buckets like Python's str(metric) (:318-321)") {
    // a client whose resolution, cpu_vendor and has_flash are all null:
    // the reference stringifies the raw grouped value, so None is its own
    // bucket — folding it into "False"/losing the key would both diverge
    // and (for string dims) NPE the JSON writer through a null flat_key
    val rows = Seq(
      ("Windows_NT-10.0", "x86-64", 4, null.asInstanceOf[String], "3.6",
        null.asInstanceOf[String], 14, null.asInstanceOf[java.lang.Boolean],
        java.lang.Boolean.TRUE, "0x10de", "0x13c2", 4L),
      ("Windows_NT-10.0", "x86-64", 4, "GenuineIntel", "3.6",
        "1920x1080", 14, java.lang.Boolean.FALSE, java.lang.Boolean.TRUE,
        "0x10de", "0x13c2", 6L)
    ).toDF(
      "os", "browser_arch", "cpu_cores", "cpu_vendor", "cpu_speed",
      "resolution", "memory_gb", "has_flash", "is_wow64",
      "gfx0_vendor_id", "gfx0_device_id", "client_count"
    )
    val out = HardwareReport
      .aggregateDimensions(inWeek(rows, week1), deviceMap)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out(("resolution", "None")) == 4L)
    assert(out(("cpu_vendor", "None")) == 4L)
    assert(out(("has_flash", "None")) == 4L)
    assert(out(("has_flash", "False")) == 6L)
    // flatten of a surviving None key concatenates cleanly
    val flat = HardwareReport.flatten(
      Seq((java.sql.Date.valueOf("2020-01-06"), "resolution", "None", 0.4))
        .toDF("date_from", "dimension", "key", "ratio")
    )
    assert(flat.head._2 == "resolution_None")
  }

  /** Three weeks of the golden combos with different totals: the
    * Windows_NT-10.0 combo is 12 of 1212 (above 1%) in the first week, 12
    * of 2412 (under 1%) in the second and absent from the third. */
  private val weeks = Seq("2020-01-06", "2020-01-13", "2020-01-20").map { d =>
    val from = java.time.LocalDate.parse(d)
    (java.sql.Date.valueOf(from), java.sql.Date.valueOf(from.plusDays(7)))
  }

  private def weeklyInput = {
    def rows(w: (java.sql.Date, java.sql.Date), rare: Long, common: Long) = {
      val week = inWeek(inputDf, w)
      week.filter($"client_count" === 1L).withColumn("client_count", lit(rare))
        .unionByName(week.filter($"client_count" === 5L).withColumn("client_count", lit(common)))
    }
    rows(weeks(0), 12L, 1200L)
      .unionByName(rows(weeks(1), 12L, 2400L))
      .unionByName(rows(weeks(2), 0L, 700L).filter($"client_count" > 0L))
  }

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.select(
      date_format($"date_from", "yyyy-MM-dd"), date_format($"date_to", "yyyy-MM-dd"),
      $"dimension", $"key", $"client_count", $"ratio"
    ).as[(String, String, String, String, Long, Double)].collect().toSet

  test("all weeks in one pass equal the union of one-week runs") {
    val input = weeklyInput
    val all = collected(HardwareReport.aggregateWeeks(input, deviceMap, weeks))
    val oneByOne = weeks.map(w => collected(HardwareReport.aggregateWeeks(input, deviceMap, Seq(w))))
    assert(all == oneByOne.reduce(_ ++ _))
    // the rare combo's keys survive only the week where they clear 1%
    val cores = all.filter(_._3 == "cpu_cores").map(r => (r._1, r._4) -> r._5).toMap
    assert(cores(("2020-01-06", "4")) == 12L && !cores.contains(("2020-01-06", "Other")))
    assert(cores(("2020-01-13", "Other")) == 12L && !cores.contains(("2020-01-13", "4")))
    assert(!cores.contains(("2020-01-20", "4")) && cores(("2020-01-20", "8")) == 700L)
    // under the threshold an os key folds per OS family, then to Other
    val os = all.filter(_._3 == "os").map(r => (r._1, r._4) -> r._5).toMap
    assert(os(("2020-01-06", "Windows_NT-10.0")) == 12L)
    assert(os(("2020-01-13", "Other")) == 12L)
    // ratios normalize by each week's own sample count
    val ratios = all.filter(r => r._1 == "2020-01-13" && r._3 == "cpu_cores").map(r => r._4 -> r._6).toMap
    assert(ratios == Map("Other" -> 12.0 / 2412, "8" -> 2400.0 / 2412))
    assert(all.map(_._1) == Set("2020-01-06", "2020-01-13", "2020-01-20"))
  }

  test("an empty week of three fails before any work, naming that week") {
    // the reference fails loudly on an empty week, like load_data's
    // ValueError (:80-83) — here every window is checked up front
    val empty = (java.sql.Date.valueOf("1999-01-04"), java.sql.Date.valueOf("1999-01-11"))
    val e = intercept[IllegalArgumentException] {
      HardwareReport.aggregateWeeks(weeklyInput, deviceMap, Seq(weeks(0), empty, weeks(2)))
    }
    assert(e.getMessage.contains("No data in input for 1999-01-04 to 1999-01-11"))
  }
}
