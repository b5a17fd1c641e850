package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.UserActivityFull
import graft.useractivity.UserActivity

/** Decomposes ua_full_pipeline's cost by timing each CTE arm as its own
  * action (noop sink, guide §1.4) plus the full assembly, several reps in
  * one session — the round-15 profiling pass the r14 verdict asked for
  * (finding #1: the flagship was never profiled below whole-query grain).
  * Usage: runMain graft.tools.UaProbe [reps] [arms]
  */
object UaProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val armsToo = args.length > 1 && args(1) == "arms"
    val spark = SparkSession.builder
      .master("local[32]")
      .appName("ua-probe")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time(name: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime - t0) / 1e9
      println(f"UA $name%-22s $dt%7.3f s")
      spark.catalog.clearCache()
      dt
    }
    val cfg = UserActivity.Config(countries = UserActivityFull.uaCountries)
    val full = scala.collection.mutable.ArrayBuffer[Double]()
    for (r <- 1 to reps) {
      println(s"--- rep $r")
      if (armsToo) {
        def smp = UserActivity.sample(
          UserActivityFull.synthClients(spark, d),
          UserActivityFull.synthCountryNames(spark, d),
          cfg
        )
        time("sample")(smp)
        time("weeklyStats")(UserActivity.weeklyStats(smp))
        time("dailyUsage")(UserActivity.dailyUsage(smp))
        time("latestVersionRatio")(
          UserActivity.latestVersionRatio(smp, UserActivityFull.synthBuildhub(spark, d))
        )
        time("sampleAddons")(UserActivity.sampleAddons(smp))
        time("topAddons")(
          UserActivity.topAddons(
            UserActivity.sampleAddons(smp),
            UserActivity.weeklyStats(smp)
          )
        )
        time("topLocales")(
          UserActivity.topLocales(smp, UserActivity.weeklyStats(smp))
        )
        time("hasAddon")(UserActivity.hasAddon(UserActivity.sampleAddons(smp)))
      }
      full += time("full_pipeline")(graft.SparkEntry.queries("ua_full_pipeline")(spark, d))
    }
    println(
      f"UA SUMMARY full_pipeline min=${full.min}%.3f med=${full.sorted.apply(full.size / 2)}%.3f " +
        full.map(v => f"$v%.2f").mkString("[", ",", "]")
    )
    spark.stop()
  }
}
