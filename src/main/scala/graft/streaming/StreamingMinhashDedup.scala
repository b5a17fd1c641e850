package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps
import graft.sources.Tables

/** Continuous near-dup dedup against a PERSISTED MinHash signature index —
  * the streaming form of t41, the way a production ingestion pipeline
  * actually runs dedup: documents arrive, are screened against everything
  * already accepted, and their own signatures join the index for the next
  * batch to probe.
  *
  * Per micro-batch: read the band index (4 constant-size rows per indexed
  * doc — the whole point of signature indexes: the probe side reads
  * kilobytes per million docs, never postings), run the IDENTICAL batch
  * verdict plan ([[TextOps.minhashVerdicts]] — band-collision candidates,
  * exact Jaccard verify, best match), emit verdicts, then append the
  * batch's signatures under its own epoch partition.
  *
  * ALL arrival signatures are appended, dup or not: matching a duplicate's
  * signature is still a correct dup verdict (its content IS corpus
  * content), and it keeps single-batch and multi-batch runs finding the
  * same matches. The one semantic shift across batch boundaries is the
  * LABEL: a match against an earlier micro-batch reports dup_index (it is
  * in the index now) where one-shot t41 would say dup_batch — the
  * (doc_id, dup_of, jaccard) triple is batching-invariant, asserted in
  * the parity spec.
  *
  * Replay idempotence is layout, not luck (the [[StreamingIndexUpsert]]
  * argument): epoch = micro-batch id under dynamic partition overwrite,
  * so a checkpoint-replayed batch REPLACES its own partition instead of
  * double-appending its signatures.
  */
object StreamingMinhashDedup {

  /** The stored index as (old_id, band, bkey); empty-but-typed before the
    * first epoch lands. Existence is probed through the session's Hadoop
    * FileSystem, not java.nio — indexDir may be HDFS/S3, where a local
    * Files.exists would always take the empty branch and silently ignore
    * every persisted signature.
    *
    * `excludeEpoch` drops exactly the CURRENT batch's partition from the
    * probe (partition-pruned): a checkpoint-replayed batch whose previous
    * attempt already appended its own epoch must not probe its own
    * signatures — an intra-batch original would band-collide with its
    * sibling via the index and flip from `unique` to `dup_index`, the
    * replay-divergence the epoch layout exists to prevent (round-10
    * review). Exclusion is by equality, not `<`: batches commit in
    * order, so only the current id can be a stale self-append — and
    * BOOTSTRAP epochs (an index pre-seeded before the stream starts,
    * conventionally negative) stay probe-visible even against batch 0.
    * Default MinValue = exclude nothing (audit/spec reads). */
  def readIndex(
      spark: SparkSession,
      dir: String,
      excludeEpoch: Long = Long.MinValue
  ): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path))
      Tables.parquet(spark, dir)
        .filter(col("epoch") =!= lit(excludeEpoch))
        .select(col("doc_id").as("old_id"), col("band"), col("bkey"))
    else
      Seq.empty[(Long, Int, Long)].toDF("old_id", "band", "bkey")
  }

  /** Append one batch's signatures under its epoch (replayed epochs
    * replace themselves). */
  def appendEpoch(batchDocs: DataFrame, dir: String, epoch: Long): Unit =
    TextOps
      .minhashBands(batchDocs)
      .withColumn("epoch", lit(epoch))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("epoch")
      .parquet(dir)

  /** Wire a (doc_id, text) stream through the screen. `corpus` is the
    * verify-side source of originals (at scale a point-read service; the
    * index itself never stores text). `onBatch` receives each batch's
    * verdict frame. */
  def run(
      docs: DataFrame,
      indexDir: String,
      corpus: DataFrame,
      checkpoint: String,
      onBatch: (DataFrame, Long) => Unit
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try {
          // verify-side postings must cover the arrivals themselves:
          // `corpus` is the match-side source of originals, but a streamed
          // doc absent from it would lose its own sizes/intersection rows
          // and silently report `unique`. Union the batch in (the keyed
          // stage distincts on (doc_id, h), so overlap is harmless).
          val verifySide = corpus
            .select("doc_id", "text")
            .unionByName(b.select("doc_id", "text"))
          // localCheckpoint(eager): materialize the verdicts against the
          // pre-append index before appendEpoch mutates it — without the
          // cut, an onBatch consumer evaluating the frame lazily would
          // re-plan readIndex against the GROWN index and flip an
          // intra-batch original from unique to dup_index (the exact
          // hazard the semantic sibling cut in round 9). Verdicts are
          // arrival-sized, so the materialization is micro-batch cost.
          val verdicts = TextOps
            .minhashVerdicts(
              b,
              readIndex(b.sparkSession, indexDir, excludeEpoch = id),
              verifySide
            )
            .localCheckpoint(true)
          onBatch(verdicts, id)
          appendEpoch(b, indexDir, id)
        } finally { b.unpersist(); () }
      }
      .start()
}
