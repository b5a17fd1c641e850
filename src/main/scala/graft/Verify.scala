package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import graft.export.JsonWriter
import graft.sources.Tables
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * _manifest.json, what each query did. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the recipe's codegen.fallback=false makes this run the codegen gate too
    val spark = GraftSession.start()
    val selected = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = run(spark, sfDir, outDir, selected.toSeq).filter(_.error.nonEmpty).map(_.name)
    spark.stop()
    // a run that observed no pass must not exit 0: a throwing query or a
    // filter that selected nothing both read as failures
    if (selected.isEmpty) {
      System.err.println(s"[verify] FAILED: the filter ${args(2)} selected no query")
      sys.exit(1)
    }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED ${failed.size}/${selected.size}: ${failed.mkString(",")}")
      sys.exit(1)
    }
    println(s"[verify] ok ${selected.size}/${selected.size}")
  }

  /** One query's outcome: `error` is empty when it wrote its result, and
    * `rows` is the row count read back from what it wrote. */
  private[graft] final case class Outcome(
      name: String,
      error: Option[String],
      rows: Option[Long],
      seconds: Double
  )

  /** Writes each query's result under `outDir/<name>`, then
    * `oracle_sql.json` and `_manifest.json` (one entry per query: name,
    * status, rows, error, seconds). */
  private[graft] def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]
  ): Seq[Outcome] = {
    new java.io.File(outDir).mkdirs()
    val outcomes = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      def seconds = math.round((System.nanoTime() - t0) / 1e6) / 1e3
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Outcome(name, None, Some(Tables.parquet(spark, s"$outDir/$name").count()), seconds)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Outcome(name, Some(String.valueOf(e.getMessage)), None, seconds)
      }
      // several queries cache intermediates (t19 eval shingles, t29
      // features, v4 shingle rows); without this the pins accumulate
      // across the 100-query session and evict each other mid-run
      finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifestJson(outcomes))
    outcomes
  }

  private[graft] def manifestJson(outcomes: Seq[Outcome]): String =
    JsonWriter.write(
      outcomes.map { o =>
        ListMap(
          "name" -> o.name,
          "status" -> (if (o.error.isEmpty) "ok" else "failed"),
          "rows" -> o.rows,
          "error" -> o.error,
          "seconds" -> o.seconds
        )
      },
      indent = 2
    ) + "\n"

  /** The oracle map rendered as the JSON document the driver's json.load
    * consumes, escaped by [[JsonWriter.esc]] (backslash, quote and every
    * control char: a tab or CR in builder-authored SQL would otherwise
    * make the driver's parse fail and silently zero the round's
    * correctness). Factored out so VerifyContractSpec can round-trip every
    * oracle through a strict parser on every test run. */
  private[graft] def oracleJson: String =
    SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonWriter.esc(k)}: ${JsonWriter.esc(v)}" }.mkString("{", ",", "}")
}
