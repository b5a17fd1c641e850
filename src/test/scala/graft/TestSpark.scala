package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite: the graft recipe at a
  * fixed 4 threads, so split sizes and shuffle partitioning (and with them
  * the float sums the goldens pin) do not depend on the box's core count. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.start(
      threads = 4,
      warehouseDir =
        Some(java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    )
}
