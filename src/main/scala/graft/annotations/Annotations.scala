package graft.annotations

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F

/** The annotations job — Spark re-expression of
  * `public_data_report/annotations/annotations.py`.
  *
  * Release-version chart annotations: a weekly date spine range-joined to
  * build metadata (latest major version as of each day), regrouped to the
  * first day each version became latest, fanned out per country, merged
  * with static JSON defaults.
  */
object Annotations {

  /** Default annotations appended for every country
    * (annotations.py:21-27). */
  val defaultUsageAnnotations: Seq[(String, Map[String, String])] = Seq(
    "2017-11-14" -> Map(
      "pct_TP" -> "FF57",
      "pct_addon" -> "legacy addons disabled"
    ),
    "2019-05-05" -> Map("pct_addon" -> "data deleted (addons outage)")
  )

  /** The version-release spine (annotations.py:34-72): weekly days from
    * 2018-12-31 to dateTo, as-of joined to release builds (J5), MAX major
    * version per day, then MIN day per version. All Spark: sequence+explode
    * spine, broadcast range join, two groupBys. Unordered: the result is
    * one row per major version, and its consumer orders it day-desc on the
    * driver ([[fxhealthAnnotations]]). */
  def versionReleaseDays(
      spark: SparkSession,
      buildhub: DataFrame,
      dateTo: java.sql.Date
  ): DataFrame = {
    val days = spark
      .range(1)
      .select(
        explode(
          sequence(
            lit(java.sql.Date.valueOf("2018-12-31")),
            lit(dateTo),
            expr("interval 7 days")
          )
        ).as("day")
      )
    val builds = buildhub
      .filter(col("build.target.channel") === "release")
      .withColumn("build_day", to_date(col("build.build.date")))
      .filter(col("build_day") >= "2018-10-31")
      .select(
        col("build_day"),
        F.truncateVersionMajor(col("build.target.version")).as("v")
      )
    days
      .join(broadcast(builds), col("build_day") <= col("day"))
      .groupBy("day")
      .agg(max("v").as("version"))
      .groupBy("version")
      .agg(min(date_format(col("day"), "yyyy-MM-dd")).as("day"))
  }

  /** Country fan-out (annotations.py:77-85): every (version, day) row
    * annotated into every country's series, day-desc. The rows are sorted
    * after the collect: a Spark sort of them ran its own jobs. */
  def fxhealthAnnotations(
      versionDays: DataFrame,
      countries: Seq[String]
  ): Map[String, Seq[(String, Map[String, String])]] = {
    val rows = versionDays
      .select("day", "version")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(Ordering[String].reverse)
    countries.map { c =>
      c -> rows.toSeq.map { case (day, v) =>
        day -> Map("pct_latest_version" -> s"FF$v")
      }
    }.toMap
  }

  /** Static JSON merge (annotations.py:90-100): per-country defaults
    * appended to the static web-usage annotations. */
  def usageAnnotations(
      staticAnnotations: Map[String, Seq[(String, Map[String, String])]],
      countries: Seq[String]
  ): Map[String, Seq[(String, Map[String, String])]] =
    countries.map { c =>
      c -> (staticAnnotations.getOrElse(c, Seq.empty) ++ defaultUsageAnnotations)
    }.toMap ++ (staticAnnotations -- countries)
}
