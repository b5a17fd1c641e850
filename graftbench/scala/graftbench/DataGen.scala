package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic inputs.
  *
  * Every random column is a pure function of (row id, column tag, seed) via
  * `xxhash64`, so a table is identical whatever the partitioning or thread
  * count. The catalog tables follow the shape of the project's sf testdata
  * (TESTDATA.md): the same columns, types, value domains and row counts per
  * scale factor. The report inputs follow FIXTURES.md §1-4.
  */
final class DataGen(spark: SparkSession, seed: Long) {

  private def h(id: Column, tag: Int): Column = xxhash64(id, lit(tag), lit(seed))

  /** Uniform long in [0, n). */
  private def ri(id: Column, tag: Int, n: Long): Column = pmod(h(id, tag), lit(n))

  /** Uniform double in [0, 1). */
  private def u(id: Column, tag: Int): Column =
    pmod(h(id, tag), lit(1L << 40)).cast(DoubleType) / lit((1L << 40).toDouble)

  private def pick(id: Column, tag: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (ri(id, tag, values.size.toLong) + 1).cast(IntegerType))

  /** Skewed pick: low indexes are much more frequent, so the rare tail
    * falls under the hardware report's 1% collapse threshold. */
  private def skewPick[T: scala.reflect.runtime.universe.TypeTag](
      id: Column,
      tag: Int,
      values: Seq[T]
  ): Column =
    element_at(
      typedLit(values),
      (floor(pow(u(id, tag), lit(3.0)) * values.size) + 1).cast(IntegerType)
    )

  private def shl(a: Column, bits: Column): Column = call_function("shiftleft", a, bits)

  private def ids(n: Long): DataFrame = spark.range(n).withColumnRenamed("id", "i")
  private val i = col("i")

  private def money(id: Column, tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, tag) * (hi - lo), 2)

  private def dayOffset(start: String, id: Column, tag: Int, days: Long): Column =
    date_add(lit(java.sql.Date.valueOf(start)), ri(id, tag, days).cast(IntegerType))
      .cast(TimestampNTZType)

  private val vocab = Seq(
    "query", "row", "stream", "the", "spark", "line", "small", "fast", "group",
    "customer", "batch", "sort", "value", "hash", "filter", "big", "data", "dup",
    "part", "column", "order", "scan", "a", "slow", "agg", "key", "window",
    "table", "merge", "vector", "join"
  )

  /** The catalog tables the benchmark's queries read (orders, lineitem,
    * events, documents and embeddings) at scale factor `sf`, written as
    * parquet under `dir`. Row counts and key ranges match the testdata:
    * sf0.1 has 150k orders over 15k customers, 600k lineitems over 20k
    * parts and 1000 suppliers, 100k events, 5000 documents and 2000
    * embeddings. */
  def catalogTables(dir: String, sf: Double): Unit = {
    def n(perSf: Double, floor: Long = 1L): Long = math.max(floor, math.round(perSf * sf))
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nLines = n(6000000)
    val nEvents = n(1000000)
    val nUsers = n(15000, 150)
    val nDocs = n(50000, 500)
    val nVecs = n(20000, 500)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write(
      "orders",
      ids(nOrders).select(
        i.as("o_orderkey"),
        ri(i, 1, nCust).as("o_custkey"),
        pick(i, 2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(i, 3, 1000.0, 500000.0).as("o_totalprice"),
        dayOffset("1995-01-01", i, 4, 2404).as("o_orderdate"),
        pick(i, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")
      )
    )
    write(
      "lineitem",
      ids(nLines).select(
        ri(i, 1, nOrders).as("l_orderkey"),
        ri(i, 2, nPart).as("l_partkey"),
        ri(i, 3, nSupp).as("l_suppkey"),
        (ri(i, 4, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (ri(i, 5, 50) + 1).cast(DoubleType).as("l_quantity"),
        money(i, 6, 900.0, 105000.0).as("l_extendedprice"),
        (ri(i, 7, 11).cast(DoubleType) / 100.0).as("l_discount"),
        (ri(i, 8, 9).cast(DoubleType) / 100.0).as("l_tax"),
        pick(i, 9, Seq("N", "A", "R")).as("l_returnflag"),
        pick(i, 10, Seq("O", "F")).as("l_linestatus"),
        dayOffset("1995-01-02", i, 11, 2498).as("l_shipdate")
      )
    )
    // events arrive in time order over 30 days, as in the testdata
    val stepUs = 30L * 86400L * 1000000L / nEvents
    val t0Us = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    write(
      "events",
      ids(nEvents).select(
        i.as("event_id"),
        timestamp_micros(lit(t0Us) + i * stepUs + ri(i, 1, stepUs)).cast(TimestampNTZType).as("ts"),
        ri(i, 2, nUsers).as("user_id"),
        pick(i, 3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        money(i, 4, 0.0, 560.0).as("value"),
        format_string("{\"k\": %d}", ri(i, 5, 100)).as("props")
      )
    )
    // one document in twenty repeats the word sequence of a nearby
    // document at its own length, so the dedup families find clusters
    val src = when(ri(i, 1, 20) === 0 && i > 10, i - 1 - ri(i, 2, 10)).otherwise(i)
    val words = transform(
      sequence(lit(1L), lit(10L) + ri(i, 3, 91)),
      k => element_at(typedLit(vocab), (pmod(xxhash64(src, k, lit(seed)), lit(vocab.size.toLong)) + 1).cast(IntegerType))
    )
    write(
      "documents",
      ids(nDocs)
        .select(
          i.as("doc_id"),
          array_join(words, " ").as("text"),
          element_at(typedLit(Seq("en", "en", "en", "en", "en", "en", "en", "en",
            "zh", "zh", "zh", "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")),
            (ri(i, 4, 20) + 1).cast(IntegerType)).as("lang"),
          concat(lit("src"), pmod(i, lit(20L)).cast(StringType)).as("source")
        )
        .withColumn("n_chars", length(col("text")).cast(LongType))
    )
    val raw = transform(sequence(lit(0), lit(63)), k => u(i * 64 + k, 1) * 2.0 - 1.0)
    write(
      "embeddings",
      ids(nVecs)
        .select(i.as("vec_id"), raw.as("r"), ri(i, 2, 10).cast(IntegerType).as("label"))
        .select(
          col("vec_id"),
          transform(col("r"), x => (x / sqrt(aggregate(col("r"), lit(0.0), (acc, y) => acc + y * y)))
            .cast(FloatType)).as("embedding"),
          col("label")
        )
    )
  }

  /** Inputs for the three report jobs: a hardware combo table over
    * `weeks` weekly windows ending at `lastWeek`, a `clients_last_seen`
    * table whose countries cover the whole export allowlist, the country
    * name dimension and a buildhub release table. */
  def reportInputs(dir: String, hwRows: Long, clientRows: Long, lastWeek: String, weeks: Int,
      countries: Seq[String]): Unit = {
    val last = java.sql.Date.valueOf(lastWeek)
    val week = ri(i, 1, weeks.toLong).cast(IntegerType)
    val from = date_sub(lit(last), week * 7)
    ids(hwRows)
      .select(
        from.as("date_from"),
        date_add(from, 7).as("date_to"),
        skewPick(i, 2, Seq("Windows_NT-10.0", "Windows_NT-6.1", "Darwin-19.0", "Windows_NT-6.3",
          "Linux-5.4", "Darwin-18.0", "Windows_NT-6.2", "Linux-4.15", "Windows_NT-5.1")).as("os"),
        skewPick(i, 3, Seq("x86-64", "x86", "aarch64")).as("browser_arch"),
        skewPick(i, 4, Seq(4, 2, 8, 6, 12, 16, 1, 24, 32)).as("cpu_cores"),
        skewPick(i, 5, Seq("GenuineIntel", "AuthenticAMD", "Other")).as("cpu_vendor"),
        skewPick(i, 6, Seq("2.4", "3.6", "2.6", "3.0", "1.8", "Other", "4.2")).as("cpu_speed"),
        skewPick(i, 7, Seq("1920x1080", "1366x768", "2560x1440", "1440x900", "0x0",
          "3840x2160", "1280x1024", "800x600")).as("resolution"),
        skewPick(i, 8, Seq(8, 4, 16, 2, 32, 1, 64)).as("memory_gb"),
        (ri(i, 9, 10) === 0).as("has_flash"),
        (ri(i, 10, 5) === 0).as("is_wow64"),
        skewPick(i, 11, Seq("0x8086", "0x10de", "0x1002", "0x1414")).as("gfx0_vendor_id"),
        skewPick(i, 12, Seq("0x1912", "0x13c1", "0x1916", "0x1b00", "0x13d7", "0x1b02",
          "0x13c2", "0x6779")).as("gfx0_device_id"),
        (ri(i, 13, 1000) + 1).as("client_count")
      )
      .write.mode("overwrite").parquet(s"$dir/hardware")

    val named = countries.filterNot(_ == "Worldwide")
    val codes = named.indices.map(k => f"C$k%03d")
    spark
      .createDataFrame(codes.zip(named))
      .toDF("code", "name")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/country_names")

    // clients keep one country, locale and version line; a quarter of the
    // rows fall outside the analysed sample and an eighth carry no addons
    val nClients = math.max(1L, clientRows / 4)
    val client = ri(i, 1, nClients)
    // half the rows are active on the snapshot day
    val dss = when(ri(i, 2, 2) === 0, lit(0)).otherwise(ri(i, 15, 32)).cast(IntegerType)
    val seenBits = when(dss >= 28, lit(0L)).otherwise(
      shl(ri(i, 3, 1L << 20), dss + 1).bitwiseOR(shl(lit(1L), dss)).bitwiseAND(lit((1L << 28) - 1))
    )
    val addon = struct(
      (ri(i, 5, 7) === 0).as("is_system"),
      (ri(i, 6, 9) === 0).as("foreign_install"),
      pick(i, 7, Seq("good-addon@example", "foo@testpilot-addon", "adblock@example",
        "system@mozilla", "tabs@example")).as("addon_id"),
      lit("Addon").as("name")
    )
    ids(clientRows)
      .select(
        // weekly snapshots, taken on Sundays
        date_add(lit(java.sql.Date.valueOf("2019-01-06")), (ri(i, 4, weeks.toLong) * 7).cast(IntegerType))
          .as("submission_date"),
        dss.as("days_since_seen"),
        element_at(typedLit(codes), (pmod(xxhash64(client, lit(seed)), lit(codes.size.toLong)) + 1)
          .cast(IntegerType)).as("country"),
        round(u(i, 8) * 20.0, 2).as("subsession_hours_sum"),
        seenBits.as("days_seen_bits"),
        when(ri(i, 9, 10) === 0, shl(lit(1L), ri(i, 10, 28).cast(IntegerType)))
          .otherwise(lit(1L << 27)).as("days_created_profile_bits"),
        concat(lit("client-"), client.cast(StringType)).as("client_id"),
        element_at(typedLit(Seq("64.0", "65.0.1", "66.0", "67.0.4", "68.0", "69.0.1", "70.0")),
          (pmod(xxhash64(client, lit(11)), lit(7L)) + 1).cast(IntegerType)).as("app_version"),
        element_at(typedLit(Seq("en-US", "de", "fr", "es-ES", "pt-BR", "ru", "zh-CN")),
          (pmod(xxhash64(client, lit(12)), lit(7L)) + 1).cast(IntegerType)).as("locale"),
        when(ri(i, 13, 4) === 0, lit(2)).otherwise(lit(1)).as("sample_id"),
        when(ri(i, 14, 8) === 0, lit(null).cast(
          "array<struct<is_system:boolean,foreign_install:boolean,addon_id:string,name:string>>"))
          .otherwise(array(addon)).as("active_addons")
      )
      .write.mode("overwrite").parquet(s"$dir/clients")

    val releases = (60 to 75).map { v =>
      (s"$v.0", "release", java.sql.Timestamp.valueOf(
        java.time.LocalDate.parse("2018-05-08").plusWeeks((v - 60) * 4L).atTime(10, 0)))
    } ++ (61 to 76).map { v =>
      (s"$v.0b3", "beta", java.sql.Timestamp.valueOf(
        java.time.LocalDate.parse("2018-04-20").plusWeeks((v - 61) * 4L).atTime(9, 0)))
    }
    spark
      .createDataFrame(releases)
      .toDF("version", "channel", "date")
      .select(struct(
        struct(col("version"), col("channel")).as("target"),
        struct(col("date")).as("build")
      ).as("build"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/buildhub")
  }
}
