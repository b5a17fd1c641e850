package graft.tools

import org.apache.spark.sql.functions._

/** Production-config rehearsal for the v35 trainer: the declared query
  * runs K=4 iterations over bias+7 dims because the ORACLE unrolls one
  * CTE pair per iteration and one column per weight — this tool runs the
  * SAME loop (same gradient aggregation via VectorOps.logregGradients,
  * same rational sigmoid, same integer ledger) at a real classifier's
  * shape: all 64 embedding dims + bias, K iterations of choice. What it
  * demonstrates is the plan INVARIANCE claim: per-iteration cost is one
  * map-side-combined agg over the cached slim projection whatever K and
  * F are, so wall time is K × (one scan) + the one-time featurize.
  *
  * Usage: runMain graft.tools.LogregScale <sfDir> [iters=20] [dims=64]
  */
object LogregScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 20
    val dims = if (args.length > 2) args(2).toInt else 64
    val spark = graft.GraftSession.start()

    val x = (j: Int) => col("embedding").getItem(j - 1).cast("double")
    val cols =
      Seq(col("vec_id").cast("long").as("vec_id"), lit(1.0).as("x0")) ++
        (1 to dims).map(j => x(j).as(s"x$j")) :+
        when(x(1) + x(2) > 0, 1.0).otherwise(0.0).as("y")
    val feats = graft.sources.Tables
      .embeddings(spark, dir)
      .select(cols: _*)
      .cache()

    val p = dims + 1
    var w = Array.fill(p)(0.0)
    val t0 = System.nanoTime
    val n0 = feats.count() // materialize the cache outside the iteration clock
    val tFeat = (System.nanoTime - t0) / 1e9
    println(f"[logreg-scale] corpus $n0 rows, featurize+cache ${tFeat}%.2f s")

    var correctAtEnd = 0L
    val tIter0 = System.nanoTime
    for (it <- 1 to iters) {
      val s = System.nanoTime
      val (g, n) = graft.operators.VectorOps.logregGradients(feats, w)
      w = (0 until p).map { j =>
        w(j) - graft.operators.VectorOps.logregLr * ((g(j).toDouble / n.toDouble) / 1.0e9)
      }.toArray
      if (it == 1 || it == iters || it % 5 == 0)
        println(f"[logreg-scale] iter $it: ${(System.nanoTime - s) / 1e9}%.2f s")
    }
    val perIter = (System.nanoTime - tIter0) / 1e9 / iters
    // final accuracy under the trained weights (sign test, one scan)
    val z = (0 until p).map(j => lit(w(j)) * col(s"x$j")).reduceLeft(_ + _)
    correctAtEnd = feats
      .withColumn("ok", ((z >= 0) === (col("y") === 1.0)).cast("long"))
      .agg(sum("ok"))
      .collect()(0)
      .getLong(0)
    println(
      f"[logreg-scale] dims=$dims iters=$iters: ${perIter}%.3f s/iter, " +
        f"accuracy ${correctAtEnd.toDouble / n0}%.4f"
    )
    spark.stop()
  }
}
