package graft

/** Plan inspection: prints the formatted physical plan of declared queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...] (no names = all).
  * The audit loop for "is this the plan you'd want at 100 TB" — check
  * PushedFilters/ReadSchema on scans, broadcast vs sort-merge joins, and
  * WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.start()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
