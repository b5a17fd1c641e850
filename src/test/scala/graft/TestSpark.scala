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

  /** The Spark jobs started while `body` runs. */
  def jobStarts(body: => Unit): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    val started = Seq.newBuilder[org.apache.spark.scheduler.SparkListenerJobStart]
    val listener = new org.apache.spark.scheduler.SparkListener {
      // the listener bus calls back on one thread
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started += e
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    started.result()
  }
}
