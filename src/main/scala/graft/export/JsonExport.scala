package graft.export

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Final JSON shaping + country validation — Spark re-expression of
  * `public_data_report/user_activity/user_activity.py` (export) and the
  * hardware `flatten/upload` path (hardware_report.py:327-381).
  *
  * Everything stays a DataFrame until the terminal collect of an
  * already-tiny aggregated result (weeks x countries); the pivot to nested
  * JSON is a per-country `collect_list(struct(...))` aggregation, not a
  * driver row loop.
  */
object JsonExport {

  /** One fxhealth.json record per (week, country) row: the date and the
    * metrics with the x100 percent scaling (user_activity.py:58-69). */
  private def fxhealthRecord: Column =
    struct(
      date_format(col("submission_date"), "yyyy-MM-dd").as("date"),
      struct(
        col("intensity").as("avg_intensity"),
        col("mau").as("MAU"),
        // the reference's exact (unusual) key, parens included
        // (user_activity.py:64) — consumers of the public artifact
        // look this string up verbatim
        col("avg_hours_usage_daily").as("avg_daily_usage(hours)"),
        (col("new_profile_rate") * 100).as("pct_new_user"),
        (col("latest_version_ratio") * 100).as("pct_latest_version")
      ).as("metrics")
    )

  /** One webusage.json record per (week, country) row: locale/addon
    * ratio maps x100 + pct_addon (user_activity.py:70-83). The
    * name->pct maps travel as ORDERED k/v struct arrays (not MapType) so
    * Python-dict insertion order survives collect — see
    * [[nameRatioEntries]]. */
  private def webusageRecord: Column =
    struct(
      date_format(col("submission_date"), "yyyy-MM-dd").as("date"),
      struct(
        nameRatioEntries(col("top_locales"), "locale").as("locale"),
        nameRatioEntries(col("top_addons"), "addon_name").as("top10addons"),
        (col("has_addon_ratio") * 100).as("pct_addon")
      ).as("metrics")
    )

  /** Per country, one date-sorted series column per (name, record): the
    * one aggregation behind both user-activity artifacts. */
  private def seriesByCountry(userActivity: DataFrame, records: (String, Column)*): DataFrame = {
    val series = records.map { case (name, rec) => sortByDate(collect_list(rec)).as(name) }
    userActivity.groupBy("country_name").agg(series.head, series.tail: _*)
  }

  /** Both artifacts' rows in one aggregation: `country_name`, the
    * fxhealth series and the webusage series. */
  def exportRows(userActivity: DataFrame): DataFrame =
    seriesByCountry(userActivity, "fxhealth" -> fxhealthRecord, "webusage" -> webusageRecord)

  /** fxhealth.json rows: per country, the date-sorted fxhealth series. */
  def fxhealthRows(userActivity: DataFrame): DataFrame =
    seriesByCountry(userActivity, "series" -> fxhealthRecord)

  /** webusage.json rows: per country, the date-sorted webusage series. */
  def webusageRows(userActivity: DataFrame): DataFrame =
    seriesByCountry(userActivity, "series" -> webusageRecord)

  /** Ordered name -> ratio*100 entries over a top-K struct array, with
    * the reference's exact dict-comprehension semantics
    * (user_activity.py:74-79): a None key renders as "null" (Python
    * json.dumps), and DUPLICATE names — top_addons is grouped by
    * (addon_id, addon_name), so one name can appear under two ids —
    * dedup the way a Python dict does: the FIRST occurrence's insertion
    * POSITION carries the LAST occurrence's VALUE. Returned as an ordered
    * array<struct<k,v>> rather than MapType: a MapType round-trips
    * through a scala HashMap on collect (insertion order lost above 4
    * keys), while webusage.json is dumped WITHOUT sort_keys, so key
    * order is part of the artifact. JsonWriter.rowToAny renders k/v
    * struct arrays as insertion-ordered JSON objects. */
  private def nameRatioEntries(arr: Column, nameField: String): Column = {
    val entries = transform(
      arr,
      e => struct(
        coalesce(e.getField(nameField), lit("null")).as("k"),
        (e.getField("ratio") * 100).as("v")
      )
    )
    val firstOccurrences = filter(
      entries,
      (e, i) =>
        !exists(
          slice(entries, lit(1), i),
          earlier => earlier.getField("k") === e.getField("k")
        )
    )
    transform(
      firstOccurrences,
      e => struct(
        e.getField("k").as("k"),
        element_at(
          filter(entries, x => x.getField("k") === e.getField("k")),
          -1
        ).getField("v").as("v")
      )
    )
  }

  /** Date-ascending sort of collected records via a comparator on the date
    * field only — the records carry MapType metrics, which are not orderable
    * as whole structs (sort_array would reject them). */
  private def sortByDate(recs: org.apache.spark.sql.Column) =
    array_sort(
      recs,
      (l, r) =>
        when(l.getField("date") < r.getField("date"), -1)
          .when(l.getField("date") > r.getField("date"), 1)
          .otherwise(0)
    )

  /** Country-set validation (user_activity.py:85-101): both directions,
    * throwing on any mismatch, like the reference. The country-key frame
    * is grouped (≤|allowlist| rows), so one bounded collect feeds the
    * driver-side set compare. */
  def validateCountries(exported: DataFrame, allowlist: Seq[String]): Unit = {
    val spark = exported.sparkSession
    import spark.implicits._
    validateCountries(
      exported.select("country_name").as[String].collect().toSeq,
      allowlist
    )
  }

  /** Driver-side variant over an already-collected key set — the
    * reference validates on rows it has already fetched
    * (user_activity.py:85-90), so a caller that collects the artifact
    * anyway must not pay two more cluster jobs per artifact just to
    * re-derive the keys. */
  def validateCountries(exportedCountries: Seq[String], allowlist: Seq[String])(
      implicit d: DummyImplicit
  ): Unit = {
    val allow = allowlist.toSet
    val got = exportedCountries.toSet
    val missing = (allow -- got).toSeq.sorted
    val unexpected = (got -- allow).toSeq.sorted
    val errors = Seq(
      if (missing.nonEmpty) Some(s"Expected countries missing: ${missing.mkString(", ")}")
      else None,
      if (unexpected.nonEmpty)
        Some(s"Countries not in allowlist but included in output: ${unexpected.mkString(", ")}")
      else None
    ).flatten
    if (errors.nonEmpty)
      throw new RuntimeException(s"Invalid countries in output: ${errors.mkString(", ")}")
  }

  /** Dual-copy artifact write — a stable "latest" name plus a dated archive
    * copy (`name-YYYY-MM-DD.ext`). The reference's object store has no
    * symlinks, so every export is uploaded twice: latest for consumers,
    * the dated copy for history/backfills (hardware_report.py:361-381).
    * `dryRun` skips BOTH sink writes while the caller still computes the
    * artifact — the reference's dry-run contract (hardware_report.py:369,
    * tests/test_hardware_report.py:193-200: no sink is ever constructed). */
  def writeArtifact(
      dir: String,
      name: String,
      json: String,
      archiveDate: String,
      dryRun: Boolean
  ): Unit =
    if (!dryRun) {
      val (base, ext) = name.lastIndexOf('.') match {
        case -1 => (name, "")
        case i => (name.substring(0, i), name.substring(i))
      }
      writeJson(s"$dir/$name", json)
      writeJson(s"$dir/$base-$archiveDate$ext", json)
    }

  /** Minimal JSON writer for the terminal export files (4-space indent like
    * the reference's json.dumps(indent=4)). Values are already collected,
    * tiny, and shaped. */
  def writeJson(path: String, json: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

}
