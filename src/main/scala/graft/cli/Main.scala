package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.annotations.Annotations
import graft.export.{JsonExport, JsonWriter}
import graft.hardware.HardwareReport
import graft.sources.{DeviceMap, Tables}
import graft.useractivity.{CountryList, UserActivity}

/** CLI mirroring the reference's three jobs (`public_data_report/cli.py`):
  *
  *   hardware_report --input P --date_from D --past_weeks N --output DIR
  *   user_activity   --clients P --country_names P --buildhub P --output DIR
  *   annotations     --buildhub P --date_to D --output DIR
  *
  * Inputs are parquet paths (the BigQuery tables of the reference); outputs
  * are the same JSON artifacts (hwsurvey-weekly.json, fxhealth.json,
  * webusage.json, annotations_*.json) plus the partitioned parquet
  * aggregate table for the hardware job.
  *
  * Common options: `--dry_run`/`--dryrun` (flag) computes everything but
  * skips the JSON artifact writes (hardware_report.py:409-414);
  * `--archive_date D` overrides the dated archive-copy suffix (defaults to
  * today, like the reference's `datetime.today()`).
  */
object Main {

  /** Valueless flags (click `is_flag` options): both dry-run spellings the
    * reference accepts (hardware_report.py:409-414) normalize to
    * `dry_run=true`; `--list` belongs to the query subcommand. */
  private val flagOpts = Set("dry_run", "dryrun", "list")

  private[graft] def parseArgs(args: Seq[String]): Map[String, String] = {
    // positional walk (not partition + grouped pairing): a flag is consumed
    // in place, so an option VALUE that happens to spell '--dry_run' still
    // pairs with its key, and a stray token after a flag can't shift every
    // later key/value by one
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: tail if flag.startsWith("--") && flagOpts(flag.drop(2)) =>
          val key = if (flag.drop(2) == "list") "list" else "dry_run"
          go(tail, acc + (key -> "true"))
        case key :: value :: tail if key.startsWith("--") =>
          // click's greedy pairing, kept verbatim: mid-sequence, the next
          // token IS the value even when it spells another option
          // (spec-pinned by the '--note --dry_run' case)
          go(tail, acc + (key.drop(2) -> value))
        case key :: Nil if key.startsWith("--") =>
          // ...but a value-taking option as the LAST token is where click
          // aborts ("Option '--key' requires an argument") — silently
          // dropping it once made a trailing --output vanish
          throw new IllegalArgumentException(s"option $key requires an argument")
        case _ :: tail => go(tail, acc) // stray token (click would abort)
      }
    go(args.toList, Map.empty)
  }

  private def isDryRun(opts: Map[String, String]): Boolean =
    opts.get("dry_run").contains("true")

  /** Archive-copy date suffix; the reference stamps the UPLOAD day
    * (`datetime.today()`, hardware_report.py:367) — overridable for
    * hermetic tests. */
  private def archiveDate(opts: Map[String, String]): String =
    opts.getOrElse("archive_date", java.time.LocalDate.now.toString)

  def main(args: Array[String]): Unit = args.toSeq match {
    case cmd +: rest =>
      val opts = parseArgs(rest)
      val spark = graft.GraftSession.start()
      try cmd match {
        case "hardware_report" => hardwareReport(spark, opts)
        case "user_activity" => userActivity(spark, opts)
        case "annotations" => annotations(spark, opts)
        case "query" => query(spark, opts)
        case other =>
          System.err.println(s"unknown command: $other"); sys.exit(2)
      } finally spark.stop()
    case _ =>
      System.err.println(
        "usage: graft.cli.Main {hardware_report|user_activity|annotations|query} [--opt value ...]"
      )
      sys.exit(2)
  }

  /** Run any declared catalog query from the command line — what makes the
    * extension surface operational without writing Scala:
    *
    *   query --name t3_dedup_exact --input DIR --output DIR [--format json]
    *   query --list
    *
    * `--input` is a directory of the standard parquet tables; the result
    * lands under `output/<name>` as parquet (default) or pretty JSON via
    * the same writer the reference-artifact sinks use. */
  def query(spark: SparkSession, opts: Map[String, String]): Unit = {
    if (opts.contains("list")) {
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val name = opts.getOrElse("name", {
      System.err.println("query requires --name <query> (or --list)")
      sys.exit(2)
    })
    val fn = graft.SparkEntry.queries.getOrElse(
      name, {
        System.err.println(s"unknown query: $name (use --list)")
        sys.exit(2)
      }
    )
    val out = opts("output")
    val result = fn(spark, opts("input"))
    opts.getOrElse("format", "parquet") match {
      case "json" =>
        // json mode is a driver-side file writer, so it is row-capped: the
        // catalog is NOT all aggregates (t28/t30/t31 are corpus-grain, one
        // row per document), and an uncapped collect on those is unbounded
        // at scale. Within the cap, stream via toLocalIterator — one
        // partition in driver memory at a time, never the whole result.
        val cap = opts.getOrElse("json_max_rows", "100000").toLong
        val it = result.limit(
          math.min(cap + 1, Int.MaxValue.toLong).toInt
        ).toJSON.toLocalIterator()
        val sb = new StringBuilder("[\n")
        var n = 0L
        while (it.hasNext && n < cap) {
          if (n > 0) sb.append(",\n")
          sb.append(it.next()); n += 1
        }
        if (it.hasNext) {
          // thrown (not sys.exit) so the guard is testable; uncaught it
          // still terminates the CLI non-zero
          throw new IllegalStateException(
            s"query $name: result exceeds --json_max_rows $cap; " +
              "use the parquet format (distributed write) for corpus-grain results"
          )
        }
        sb.append("\n]\n")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/$name.json"), sb.toString)
      case _ =>
        result.write.mode("overwrite").parquet(s"$out/$name")
    }
  }

  /** The reference's weekly batches (hardware_report.py:416-470) in one
    * pass: every window from `date_from` back `past_weeks` weeks is
    * checked for data, aggregated and collapsed together
    * ([[HardwareReport.aggregateWeeks]]), and written by one partitioned
    * write; then readback, flatten, JSON export. An empty window fails
    * the job before any partition is written. */
  def hardwareReport(spark: SparkSession, opts: Map[String, String]): Unit = {
    val input = Tables.parquet(spark, opts("input"))
    val out = opts("output")
    val weeks = opts.getOrElse("past_weeks", "0").toInt
    val dateFrom = java.time.LocalDate.parse(opts("date_from"))
    val deviceMap = DeviceMap.lookup()
    val windows = (0 to weeks).map { w =>
      val from = dateFrom.minusWeeks(w.toLong)
      (java.sql.Date.valueOf(from), java.sql.Date.valueOf(from.plusDays(7)))
    }
    HardwareReport
      .aggregateWeeks(input, deviceMap, windows)
      .write
      .mode("overwrite")
      // dynamic partition overwrite = the reference's `table$YYYYMMDD` +
      // WRITE_TRUNCATE idempotent weekly upsert (hardware_report.py:459-465):
      // the one write replaces exactly the weeks it carries. A write
      // option, so the caller's session conf is left as it was.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date_from")
      .parquet(s"$out/hardware_aggregates")
    val flat = HardwareReport.flatten(Tables.parquet(spark, s"$out/hardware_aggregates"))
    val byDate = flat
      .groupBy(_._1)
      .toSeq
      .sortBy(_._1)(Ordering[String].reverse)
      .map { case (date, rows) =>
        scala.collection.immutable.ListMap(
          (rows.map { case (_, key, ratio) => key -> (ratio: Any) } :+
            ("date" -> (date: Any))): _*
        )
      }
    // Latest + dated archive, or neither on --dry_run. The parquet
    // aggregate above is written regardless — mirroring the reference,
    // whose dry run skips only the artifact upload, not the warehouse
    // write (hardware_report.py:456-472 vs :369).
    JsonExport.writeArtifact(
      out,
      "hwsurvey-weekly.json",
      JsonWriter.write(byDate),
      archiveDate(opts),
      isDryRun(opts)
    )
  }

  /** Aggregate build + export (user_activity.py): pipeline, country
    * validation, fxhealth.json + webusage.json. */
  def userActivity(spark: SparkSession, opts: Map[String, String]): Unit = {
    // --countries (comma-separated) overrides BOTH the aggregation list and
    // the export/validation allowlist. Without it, BOTH default to the full
    // packaged 160-country allowlist (__init__.py:1-162): the reference's
    // export reads a production aggregate that was built over every
    // allowlisted country, then requires the exported key set to EQUAL the
    // allowlist — so a single-invocation CLI must aggregate the same list
    // it validates, or the default path can never satisfy set equality.
    val override_ = opts.get("countries").map(_.split(",").map(_.trim).toSeq)
    val exportCountries =
      override_.getOrElse(CountryList.userActivityCountryList)
    val cfg = UserActivity.Config(countries = exportCountries)
    val result = UserActivity.build(
      Tables.parquet(spark, opts("clients")),
      Tables.parquet(spark, opts("country_names")),
      Tables.parquet(spark, opts("buildhub")),
      cfg
    )
    val out = opts("output")
    // `result` is one local relation (build ran every arm) holding only
    // cfg.countries, so one aggregation carries both artifacts' series and
    // is collected ONCE; validation runs on the collected rows' key set
    // (the reference validates rows it already fetched,
    // user_activity.py:85-90), before either artifact is written.
    val exported = JsonExport.exportRows(result)
    val schema = exported.schema
    val rows = exported.collect().toSeq
    JsonExport.validateCountries(rows.map(_.getString(0)), exportCountries)
    Seq("fxhealth", "webusage").foreach { series =>
      val i = schema.fieldIndex(series)
      val asMap = scala.collection.immutable.ListMap(
        rows.map(r => r.getString(0) -> JsonWriter.rowToAny(r.get(i), schema(i).dataType)): _*
      )
      JsonExport.writeArtifact(out, s"$series.json", JsonWriter.write(asMap),
        archiveDate(opts), isDryRun(opts))
    }
  }

  /** Annotations job (annotations.py:103-133): version spine + static
    * merges, three JSON artifacts. */
  def annotations(spark: SparkSession, opts: Map[String, String]): Unit = {
    val out = opts("output")
    val dateTo = java.sql.Date.valueOf(opts("date_to"))
    // the FULL 160-country allowlist, not the 11-country analysis list:
    // annotations.py:79,96 fans both fxhealth and webusage annotations
    // over USER_ACITVITY_COUNTRY_LIST, and the dashboard pairs these
    // files with fxhealth.json/webusage.json whose key set is validated
    // to equal that allowlist
    val countries = CountryList.userActivityCountryList
    val vd = Annotations.versionReleaseDays(
      spark,
      Tables.parquet(spark, opts("buildhub")),
      dateTo
    )
    val fx = Annotations.fxhealthAnnotations(vd, countries)
    JsonExport.writeArtifact(
      out,
      "annotations_fxhealth.json",
      // ListMap in allowlist order + sortKeys=false: the reference's
      // fxhealth dict is built by inserting allowlist keys in order and
      // dumped WITHOUT sort_keys (annotations.py:77-89), so key order is
      // the allowlist's — a plain hash Map would serialize in arbitrary
      // order and break byte-level comparison
      JsonWriter.write(
        annotationsToJsonShape(fx, orderedKeys = Some(countries)),
        indent = 2
      ),
      archiveDate(opts),
      isDryRun(opts)
    )
    // static web-usage annotations: the packaged resource ships the
    // reference's verbatim file (`{}` — annotations.py:92-94 reads it and
    // fans defaults over every country); tests may point `static_webusage`
    // at a fixture file to exercise static-entry merge precedence
    val staticWu = opts.get("static_webusage") match {
      case Some(path) =>
        parseStaticAnnotations(
          spark,
          java.nio.file.Files.readString(java.nio.file.Path.of(path))
        )
      case None =>
        loadStaticAnnotations(spark, "/graft/static/annotations_webusage.json")
    }
    val merged = Annotations.usageAnnotations(staticWu, countries)
    JsonExport.writeArtifact(
      out,
      "annotations_webusage.json",
      JsonWriter.write(annotationsToJsonShape(merged), indent = 2, sortKeys = true),
      archiveDate(opts),
      isDryRun(opts)
    )
    JsonExport.writeArtifact(
      out,
      "annotations_hardware.json",
      DeviceMap.readResourceText("/graft/static/annotations_hardware.json"),
      archiveDate(opts),
      isDryRun(opts)
    )
  }

  private def annotationsToJsonShape(
      m: Map[String, Seq[(String, Map[String, String])]],
      orderedKeys: Option[Seq[String]] = None
  ): Map[String, Any] = {
    def shape(entries: Seq[(String, Map[String, String])]): Any =
      entries.map { case (date, ann) =>
        scala.collection.immutable.ListMap(
          "annotation" -> (ann: Any),
          "date" -> (date: Any)
        )
      }
    orderedKeys match {
      // insertion-ordered for sortKeys=false artifacts (fxhealth):
      // allowlist keys first in list order, then any extras in key order
      case Some(keys) =>
        val extras = (m.keySet -- keys).toSeq.sorted
        scala.collection.immutable.ListMap(
          (keys.filter(m.contains) ++ extras).map(k => k -> shape(m(k))): _*
        )
      case None =>
        m.map { case (country, entries) => country -> shape(entries) }
    }
  }

  /** Static annotations resource (S4) parsed via from_json — no external
    * JSON library needed. */
  def loadStaticAnnotations(
      spark: SparkSession,
      resource: String
  ): Map[String, Seq[(String, Map[String, String])]] =
    parseStaticAnnotations(spark, DeviceMap.readResourceText(resource))

  private def parseStaticAnnotations(
      spark: SparkSession,
      txt: String
  ): Map[String, Seq[(String, Map[String, String])]] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "map<string,array<struct<annotation:map<string,string>,date:string>>>"
    )
    val parsed = Seq(txt)
      .toDF("json")
      .select(from_json(col("json"), schema).as("m"))
      .select(explode(col("m")).as(Seq("country", "entries")))
      .select(
        col("country"),
        col("entries.date").as("dates"),
        col("entries.annotation").as("anns")
      )
      .collect()
    parsed.map { r =>
      val dates = r.getSeq[String](1)
      val anns = r.getSeq[scala.collection.Map[String, String]](2)
      r.getString(0) -> dates.zip(anns.map(_.toMap)).toSeq
    }.toMap
  }
}
