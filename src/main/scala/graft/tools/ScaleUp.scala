package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-rehearsal corpus generator: synthesizes an ~sf(R/10) dataset from
  * a base sf dir by replicating every FACT table R× — `documents`,
  * `embeddings`, `events`, `orders`, `lineitem`: the tables that grow at
  * 100 TB — and symlinking the dimensions (facts outgrow dimensions; the
  * dims' broadcast-ability, which the join plans are pinned on, is a
  * property of real growth, not a shortcut).
  *
  * The replication is designed to look like MORE DATA FROM THE SAME
  * DISTRIBUTION, not R copies of the same data (naive duplication would give
  * every document R−1 exact near-duplicates and every vector R−1 cosine-1.0
  * twins, exploding candidate-pair counts in a way no real corpus growth
  * does):
  *
  *   - documents: replica k suffixes every whitespace token with `~k`, so
  *     replicas occupy DISJOINT shingle/vocabulary space — within-replica
  *     near-dup structure (the thing t4/t16/v4/v5 bill by) is preserved
  *     exactly, cross-replica similarity is zero, and the corpus-wide dup
  *     RATE matches the base. Token counts are unchanged; doc_id offsets by
  *     k·10⁹; n_chars recomputed.
  *   - embeddings: replica k applies a deterministic per-dimension sign flip
  *     (an orthogonal transformation): within-replica dot products and norms
  *     are preserved EXACTLY — so cluster geometry, IVF balance, and
  *     pair-survival rates match the base — while cross-replica cosines
  *     scramble toward 0 instead of 1.
  *
  * Usage: runMain graft.tools.ScaleUp <baseSfDir> <outDir> [replicas=10]
  */
object ScaleUp {
  private val IdOffset = 1000000000L

  // Replication is one EXPLODE over a replica-index array, not a fold of
  // R unionAll branches: the fold's plan has R children (R transform
  // subtrees through the analyzer), which stops scaling around the third
  // decade (sf100 = 1000 replicas). The explode form is O(1) plan size
  // for any R and row-for-row identical to the fold (same per-(row, k)
  // formulas; k = 0 passes the base through untouched).
  def scaledDocuments(base: DataFrame, replicas: Int): DataFrame =
    base
      .select(col("*"), explode(sequence(lit(0L), lit(replicas - 1L))).as("k"))
      .withColumn("doc_id", col("doc_id") + col("k") * lit(IdOffset))
      .withColumn(
        "text",
        when(col("k") === 0, col("text")).otherwise(
          array_join(
            transform(
              split(col("text"), " "),
              t => concat(t, lit("~"), col("k").cast("string"))
            ),
            " "
          )
        )
      )
      .withColumn(
        "n_chars",
        when(col("k") === 0, col("n_chars")).otherwise(length(col("text")))
      )
      .drop("k")

  def scaledEmbeddings(base: DataFrame, replicas: Int): DataFrame =
    base
      .select(col("*"), explode(sequence(lit(0L), lit(replicas - 1L))).as("k"))
      .withColumn("vec_id", col("vec_id") + col("k") * lit(IdOffset))
      .withColumn(
        "embedding",
        when(col("k") === 0, col("embedding")).otherwise(
          transform(
            col("embedding"),
            // cast to int: the fold hashed lit(k): Int, and xxhash64 is
            // type-sensitive — a long replica index would flip different
            // signs than the committed sf1/sf10 corpora were built with
            (x, i) =>
              (x * when(pmod(xxhash64(i, col("k").cast("int")), lit(2)) === 0, lit(1.0f))
                .otherwise(lit(-1.0f))).cast("float")
          )
        )
      )
      .drop("k")

  /** events: replica k offsets user_id and event_id by k·10⁹ and keeps
    * ts/type/value/props VERBATIM — growth as MORE USERS ON THE SAME
    * CALENDAR, which is how an event stream actually grows. Every
    * per-user temporal structure the event family bills by (session
    * boundaries, funnels, cadence gaps, growth-accounting transitions,
    * SCD versions, burst chains) is preserved exactly per replica, so
    * per-user-keyed costs scale 1:1 with rows; calendar-grain frames
    * (daily counts, weekly rollups) grow R× heavier per key — the
    * realistic skew direction; and exact ratio metrics (e32's
    * autocorrelation, e21's quick ratio) are R-invariant, which doubles
    * as a correctness probe of the synthesis itself. */
  def scaledEvents(base: DataFrame, replicas: Int): DataFrame =
    base
      .select(col("*"), explode(sequence(lit(0L), lit(replicas - 1L))).as("k"))
      .withColumn("event_id", col("event_id") + col("k") * lit(IdOffset))
      .withColumn("user_id", col("user_id") + col("k") * lit(IdOffset))
      .drop("k")

  /** orders/lineitem: replica k offsets the ORDER key on both tables by
    * k·10⁹ (the fact-to-fact join key must move together) and keeps
    * every other column verbatim — so each order keeps its lines, its
    * dates, and its dimension keys. Dimensions (customer/part/supplier)
    * stay symlinked: growth shows up as R× more orders per customer and
    * R× more lines per part — the realistic direction (facts outgrow
    * dimensions), which also preserves the broadcast-ability the j-
    * queries' plans are pinned on. Selective-key filters (s1's
    * l_orderkey < 1000) intentionally stay constant-selectivity-zero on
    * replicas: point lookups not growing with corpus size is exactly
    * what an id-range probe does at scale. */
  def scaledOrders(base: DataFrame, replicas: Int): DataFrame =
    base
      .select(col("*"), explode(sequence(lit(0L), lit(replicas - 1L))).as("k"))
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * lit(IdOffset))
      .drop("k")

  def scaledLineitem(base: DataFrame, replicas: Int): DataFrame =
    base
      .select(col("*"), explode(sequence(lit(0L), lit(replicas - 1L))).as("k"))
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * lit(IdOffset))
      .drop("k")

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-list of fact tables to scale (default all)
    // — a decade sweep of one family needn't rewrite the other families'
    // scaled corpora; unscaled facts ride along as base symlinks
    val facts = Seq("documents", "embeddings", "events", "orders", "lineitem")
    val selected: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else facts.toSet
    val spark = graft.GraftSession.start()

    val outPath = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outPath)
    // a pre-existing output dir may carry selected facts as symlinks into
    // the BASE dir — drop the links first so the overwrites below can
    // never resolve through them into read-only testdata
    facts.filter(selected).foreach { t =>
      val link = outPath.resolve(s"$t.parquet")
      if (java.nio.file.Files.isSymbolicLink(link))
        java.nio.file.Files.delete(link)
    }
    if (selected("documents"))
      scaledDocuments(graft.sources.Tables.documents(spark, base), replicas)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (selected("embeddings"))
      scaledEmbeddings(graft.sources.Tables.embeddings(spark, base), replicas)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // through Tables.events, not a raw read: events.ts has shipped as
    // TIMESTAMP(NANOS) in one testdata generation, which a raw parquet
    // read rejects outright — the loader normalizes either shape to μs
    // (so the scaled output is normalized too, which Bench/Verify accept)
    if (selected("events"))
      scaledEvents(graft.sources.Tables.events(spark, base), replicas)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    if (selected("orders"))
      scaledOrders(graft.sources.Tables.orders(spark, base), replicas)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    if (selected("lineitem"))
      scaledLineitem(graft.sources.Tables.lineitem(spark, base), replicas)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // dimensions — and unselected facts — ride along as base symlinks so
    // any query can still run (unselected facts at BASE size, flagged in
    // any sweep that reads them)
    val basePath = java.nio.file.Paths.get(base).toAbsolutePath
    val rideAlong =
      Seq("region", "nation", "customer", "supplier", "part") ++
        facts.filterNot(selected)
    rideAlong.foreach { t =>
      val link = outPath.resolve(s"$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, basePath.resolve(s"$t.parquet"))
    }
    println(s"[scaleup] wrote ${replicas}x ${facts.filter(selected).mkString("+")} to $out")
    spark.stop()
  }
}
