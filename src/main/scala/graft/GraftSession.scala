package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a session and sets its confs. Every main
  * (`cli.Main`, `Verify`, `Bench`, `Explain`, the `tools` mains) and the
  * test suite's shared session get the same recipe, the one Verify checks
  * against the oracle:
  *
  *   - master `SPARK_MASTER`, default `local[threads]`;
  *   - `spark.sql.shuffle.partitions` = `threads` unless the caller passes
  *     a count;
  *   - UTC session time zone, UI off, log level WARN;
  *   - `spark.sql.codegen.fallback=false`: a whole-stage codegen compile
  *     error fails the query instead of silently running interpreted. The
  *     silent fallback once hid the graft_dot freshName collision for two
  *     rounds and cost m7 2.1× (SCALING.md round 9b);
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: older testdata
  *     generations store `events.ts` as parquet TIMESTAMP(NANOS), which
  *     Spark otherwise refuses to read. `Tables.events` reads it as a
  *     nanosecond long and converts it; graft never sets the conf on a
  *     session it did not build. Data without NANOS columns reads the
  *     same either way.
  *
  * Job-specific write modes are not part of the recipe: the hardware job
  * asks for dynamic partition overwrite on its own write.
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every available core. */
  lazy val threads: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Gets or creates the session with the recipe above. `warehouseDir` is
    * a deployment path (the test suite points it at a temp dir). */
  def start(
      shufflePartitions: Option[Int] = None,
      threads: Int = GraftSession.threads,
      warehouseDir: Option[String] = None
  ): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$threads]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(threads).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = warehouseDir
      .fold(builder)(builder.config("spark.sql.warehouse.dir", _))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
