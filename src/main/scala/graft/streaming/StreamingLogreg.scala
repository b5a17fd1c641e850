package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.VectorOps
import graft.sources.Tables

/** Streaming mini-batch SGD for the v35 logistic-regression trainer —
  * the 22nd streaming module, and the LEARNING analogue of the
  * StreamingCoreset "model as state" contract: each arriving micro-batch
  * contributes one gradient step, computed by the SAME distributed
  * aggregation the batch trainer runs (`VectorOps.logregGradients`:
  * rational sigmoid, per-row contributions floored to the 1e-9 integer
  * grid, order-independent sums), and the weight vector lives on the
  * driver — the parameter-server shape at its smallest.
  *
  * State & recovery: the model is F+1 doubles plus a per-step ledger
  * row, persisted to `ledgerDir` as parquet AFTER each applied batch.
  * On restart the trainer reloads the ledger: weights resume from the
  * highest applied batch and REPLAYED batch ids are skipped — so a
  * checkpoint-recovered foreachBatch re-delivery updates nothing twice
  * (the StreamingIndexUpsert epoch discipline, applied to a scalar
  * model instead of a partitioned index). A crash between the gradient
  * job and the ledger append loses only that unacknowledged step, which
  * the replayed batch then recomputes — identically, because the
  * gradient is a deterministic function of (batch rows, weights).
  *
  * Semantics note (spec-pinned, not hand-waved): a K-batch stream is
  * mini-batch SGD, NOT K-iteration full-batch GD — the two agree only
  * when the whole corpus arrives as one batch (asserted against v35's
  * iteration-1 ledger row). The streaming parity gate is therefore
  * fold-the-same-slices-in-order equality, bit for bit.
  *
  * Scale shape per batch: one map-side-combined agg over the arrivals'
  * slim projection returning ONE row; the ledger append touches one
  * file. Nothing resident is re-read.
  */
object StreamingLogreg {

  /** Driver-held trainer state with a persisted ledger. `p` weights,
    * learning rate `lr` — defaults match the declared v35 query. */
  final class Trainer(
      spark: SparkSession,
      ledgerDir: String,
      p: Int = VectorOps.logregFeatures + 1,
      lr: Double = VectorOps.logregLr
  ) extends Serializable {

    @volatile private var wCur: Array[Double] = Array.fill(p)(0.0)
    // Replay state is ONE long, not a set: foreachBatch ids are monotone
    // (Spark's batch counter), so "already applied" ⟺ id ≤ high-water
    // mark. The first cut kept a SortedSet of every applied id — O(batches)
    // driver growth for a stream whose whole pitch is O(1) model state
    // (round-11 verdict #4); crash recovery still has the full ledger.
    @volatile private var hwm: Long = -1L

    // resume: the ledger's highest batch row IS the trainer state —
    // weights after that step plus the replay watermark. (Rows for a
    // duplicated id — a retried append — are identical anyway because
    // the step is a deterministic function of (batch rows, weights).)
    locally {
      val dir = new java.io.File(ledgerDir)
      if (dir.isDirectory && dir.listFiles().exists(_.getName.endsWith(".parquet"))) {
        val last = Tables.parquet(spark, ledgerDir)
          .orderBy(col("batch_id").desc)
          .limit(1)
          .collect()
        if (last.nonEmpty) {
          hwm = last(0).getAs[Long]("batch_id")
          wCur = last(0).getSeq[Double](last(0).fieldIndex("w_after")).toArray
        }
      }
    }

    def weights: Array[Double] = wCur.clone()

    /** Highest applied batch id (−1 before any batch): the replay
      * watermark — with monotone foreachBatch ids it answers
      * "was this id applied" exactly, in O(1) state. */
    def highWater: Long = hwm

    /** Apply one micro-batch: one distributed gradient agg + one driver
      * update + one ledger append. Replays (id ≤ high-water mark,
      * including out-of-order re-deliveries of any older id) are no-ops.
      * Empty batches are ledgered (n = 0, weights unchanged) so the
      * watermark is gap-free under replay. */
    def handleBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batchId <= hwm) return
      val feats = VectorOps.logregProject(batch)
      val (g, n) = VectorOps.logregGradients(feats, wCur)
      val wNext =
        if (n == 0L) wCur
        else
          (0 until p).map { j =>
            wCur(j) - lr * ((g(j).toDouble / n.toDouble) / 1.0e9)
          }.toArray
      val s = batch.sparkSession
      import s.implicits._
      Seq((batchId, n, g.toSeq, wNext.toSeq))
        .toDF("batch_id", "n", "g_sums", "w_after")
        .write
        .mode("append")
        .parquet(ledgerDir)
      wCur = wNext
      hwm = batchId
    }
  }

  /** Attach the training stream: arrivals are (vec_id, embedding) rows;
    * each micro-batch becomes one SGD step in `trainer`. */
  def start(
      arrivals: DataFrame,
      trainer: Trainer,
      checkpoint: String
  ): StreamingQuery =
    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        trainer.handleBatch(batch, id)
      }
      .start()

  /** Batch reference: fold the SAME slices in the same order through
    * the identical gradient/update arithmetic — the parity oracle for
    * the streaming form. Returns (final weights, per-step (n, gSums,
    * wAfter)). */
  def trainSlices(
      slices: Seq[DataFrame],
      p: Int = VectorOps.logregFeatures + 1,
      lr: Double = VectorOps.logregLr
  ): (Array[Double], Seq[(Long, Seq[Long], Seq[Double])]) = {
    var w = Array.fill(p)(0.0)
    val steps = Seq.newBuilder[(Long, Seq[Long], Seq[Double])]
    slices.foreach { df =>
      val (g, n) = VectorOps.logregGradients(VectorOps.logregProject(df), w)
      if (n != 0L)
        w = (0 until p).map { j =>
          w(j) - lr * ((g(j).toDouble / n.toDouble) / 1.0e9)
        }.toArray
      steps += ((n, g.toSeq, w.toSeq))
    }
    (w, steps.result())
  }
}
