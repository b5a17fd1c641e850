package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.multimodal.MultimodalOps
import graft.sources.Tables

/** Continuous SEMANTIC media dedup against a persisted band-signature
  * index — the streaming form of m7b, and the embedding-space sibling of
  * [[StreamingMinhashDedup]]: media payloads arrive, are featurized
  * (`graft_gram_embed` here; a real encoder at production), band-probe
  * everything already accepted plus each other, pay m7b's exact cosine
  * verify on band collisions only, and report dup_index / dup_batch /
  * unique. Their own signatures AND embeddings then join the index for
  * the next micro-batch to probe.
  *
  * Index layout (two co-versioned subtables under `indexDir`):
  *   - `bands/` — (old_id, band, bh), the constant-size probe side: the
  *     per-batch read is nBands rows per indexed media, never payloads;
  *   - `vecs/`  — (old_id, embedding, nrm), the verify side: a point
  *     read keyed by the candidate match ids (the join on match_id is
  *     the restriction), standing in for the vector store a production
  *     index serves lookups from.
  * Both append under `epoch = micro-batch id` with dynamic partition
  * overwrite, so a checkpoint-replayed batch REPLACES its own partitions
  * instead of double-appending ([[StreamingIndexUpsert]]'s layout-not-luck
  * argument), and the engine's `vec_id =!= old_id` guard keeps replayed
  * arrivals from matching their own already-committed signatures.
  *
  * The band GEOMETRY is part of the index's on-disk contract: rows banded
  * under one (nBands, bandBits) are unprobeable under another, so the
  * first epoch persists the geometry to `geometry.txt` and every later
  * append asserts against it — a stream restarted with a re-solved
  * geometry fails fast instead of silently probing nothing. Production
  * solves the geometry ONCE from the expected corpus scale
  * ([[graft.operators.VectorOps.bandGeometry]]) and pins it for the
  * index's life; re-banding is an offline index rebuild, not a stream
  * restart.
  *
  * ALL arrival vectors are appended, dup or not, for the same reason
  * StreamingMinhashDedup appends dups' signatures: matching a duplicate's
  * vector is still a correct dup verdict, and it keeps single-batch and
  * multi-batch runs finding the same matches. The one cross-batch shift
  * is the LABEL (dup_batch → dup_index when the match landed in an
  * earlier micro-batch); the (vec_id, dup_of, cos) triple is
  * batching-invariant for id-ordered arrival streams, asserted in the
  * parity spec.
  */
object StreamingSemanticDedup {

  /** Featurize (vec_id, content) arrivals: trigram-hash embedding + norm,
    * zero-vector rows (no word trigram) dropped —
    * [[MultimodalOps.gramEmbedFrame]] (the one featurizer definition the
    * batch criterion uses) over the stream's column names. */
  def featurize(arrivals: DataFrame): DataFrame =
    MultimodalOps.gramEmbedFrame(arrivals, col("vec_id"), col("content"))

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The stored band table as (old_id, band, bh); empty-but-typed before
    * the first epoch lands. Existence goes through the session's Hadoop
    * FileSystem (indexDir may be HDFS/S3). `excludeEpoch` drops exactly the
    * current batch's partition from the probe (partition-pruned): a
    * checkpoint-replayed batch whose previous attempt already appended
    * must not probe its own partition, or intra-batch originals flip
    * unique -> dup_index on replay (round-10 review). Equality, not `<`,
    * so pre-seeded bootstrap epochs (conventionally negative) stay
    * visible against batch 0; default MinValue = exclude nothing. */
  def readBands(
      spark: SparkSession,
      dir: String,
      excludeEpoch: Long = Long.MinValue
  ): DataFrame = {
    import spark.implicits._
    val (f, p) = fs(spark, s"$dir/bands")
    if (f.exists(p))
      Tables.parquet(spark, s"$dir/bands")
        .filter(col("epoch") =!= lit(excludeEpoch))
        .select(col("vec_id").as("old_id"), col("band"), col("bh"))
    else Seq.empty[(Long, Int, Long)].toDF("old_id", "band", "bh")
  }

  /** The stored vector table as (old_id, embedding, nrm); empty-but-typed
    * before the first epoch lands. */
  /** `excludeEpoch`: see [[readBands]] — replayed batches must not probe
    * their own previous attempt's partition. */
  def readVecs(
      spark: SparkSession,
      dir: String,
      excludeEpoch: Long = Long.MinValue
  ): DataFrame = {
    val (f, p) = fs(spark, s"$dir/vecs")
    if (f.exists(p))
      Tables.parquet(spark, s"$dir/vecs")
        .filter(col("epoch") =!= lit(excludeEpoch))
        .select(col("vec_id").as("old_id"), col("embedding"), col("nrm"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Array[Float], Double)]
        .toDF("old_id", "embedding", "nrm")
        .select(
          col("old_id"),
          col("embedding").cast("array<float>").as("embedding"),
          col("nrm")
        )
    }
  }

  /** Pin the index geometry on first append; fail fast on drift after. */
  private def assertGeometry(
      spark: SparkSession,
      dir: String,
      nBands: Int,
      bandBits: Int
  ): Unit = {
    val (f, p) = fs(spark, s"$dir/geometry.txt")
    val want = s"$nBands,$bandBits"
    if (f.exists(p)) {
      val in = f.open(p)
      val got =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(
        got == want,
        s"index at $dir was banded at geometry ($got) but this stream runs ($want) — " +
          "rebanding is an offline index rebuild, not a stream restart"
      )
    } else {
      val out = f.create(p, true)
      try out.write(want.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Append one batch's band rows and vectors under its epoch (replayed
    * epochs replace themselves in BOTH subtables). */
  def appendEpoch(
      vecs: DataFrame,
      dir: String,
      epoch: Long,
      nBands: Int,
      bandBits: Int
  ): Unit = {
    assertGeometry(vecs.sparkSession, dir, nBands, bandBits)
    def overwrite(df: DataFrame, sub: String): Unit =
      df.withColumn("epoch", lit(epoch))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(s"$dir/$sub")
    overwrite(MultimodalOps.bandRows(vecs, nBands, bandBits), "bands")
    overwrite(vecs.select("vec_id", "embedding", "nrm"), "vecs")
  }

  /** Wire a (vec_id, content) stream through the screen. `onBatch`
    * receives each batch's verdict frame (vec_id, status, dup_of, cos). */
  def run(
      media: DataFrame,
      indexDir: String,
      checkpoint: String,
      nBands: Int,
      bandBits: Int,
      tau: Double,
      onBatch: (DataFrame, Long) => Unit
  ): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try {
          val spark = b.sparkSession
          // featurize-once: the cached embeddings feed the signature pass,
          // both candidate sides, and the epoch append
          val vecs = featurize(b).persist()
          try {
            // geometry is verified BEFORE any probe, not only inside the
            // epoch append: a restart with re-solved (nBands, bandBits)
            // against an existing index would band-join new-geometry
            // arrivals against old-geometry index rows — zero collisions,
            // every arrival "unique" — and the poisoned verdicts would
            // reach onBatch before appendEpoch's own assert fired
            // (round-9 review). Fail the batch before a verdict exists.
            assertGeometry(spark, indexDir, nBands, bandBits)
            // localCheckpoint(eager): the verdict frame is MATERIALIZED
            // against the pre-append index before appendEpoch mutates it.
            // Without the cut, an onBatch consumer that evaluates the
            // frame lazily (stores it, wires it to a later sink) would
            // re-scan the GROWN index and report different verdicts than
            // the batch's true screen — silently. Verdicts are
            // arrival-sized, so the materialization is micro-batch cost.
            val verdicts = MultimodalOps
              .semanticVerdicts(
                b.select("vec_id"),
                vecs,
                readBands(spark, indexDir, excludeEpoch = id),
                readVecs(spark, indexDir, excludeEpoch = id),
                nBands,
                bandBits,
                tau
              )
              .localCheckpoint(true)
            onBatch(verdicts, id)
            appendEpoch(vecs, indexDir, id, nBands, bandBits)
          } finally { vecs.unpersist(); () }
        } finally { b.unpersist(); () }
      }
      .start()
}
