package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TextOps, VectorOps}

/** Fidelity of the LSH-family scale paths against their exact counterparts
  * on the driver's sf0.001 testdata (these are the queries the driver can
  * only rows-check — this is their correctness gate).
  */
class LshRecallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // both driver scale factors: sf0.01 is where the driver's DuckDB compare
  // runs, and total recall there is what makes v4's semi-oracle (exact pair
  // set as expected output) a sound hash check
  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"MinHash+LSH dedup finds the same pairs as exact n-gram Jaccard ($sfDir)") {
      val exact = TextOps
        .queries("t4_dedup_ngram_jaccard")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val lsh = VectorOps
        .queries("v4_minhash_lsh")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      // LSH verifies candidates with the exact Jaccard, so lsh ⊆ exact
      // always; at jaccard>0.8 with 32 perms / 8 bands recall is total here.
      assert(lsh.subsetOf(exact))
      assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
    }

  // the ANN scale paths hold >= 80% recall at two scale factors
  // (measured: v3 0.90/0.98, v6 0.90/0.90 at sf0.001/sf0.01 with the
  // 64-bit 16x4 banding and k=16 nProbe=4 IVF config); PQ (v11) is gated
  // at its measured floor of 60% — 4-bit codes on unstructured vectors
  // trade recall for the 64x footprint, and the gate stays honest
  for {
    sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    (approx, minRecall) <- Seq(
      "v3_ann_lsh" -> 0.8,
      "v6_ann_ivf" -> 0.8,
      "v9_ann_quantized" -> 0.8,
      "v10_ann_ivf_quantized" -> 0.8,
      "v11_ann_pq" -> 0.6
    )
  } test(s"$approx recall vs brute force >= ${(minRecall * 100).toInt}% at k=5 ($sfDir)") {
    val exact = VectorOps
      .queries("v1_ann_bruteforce")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toSet
    val got = VectorOps
      .queries(approx)(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= minRecall, s"recall=$recall")
  }

  // graph-expansion ANN, property 1: the candidate budget and the
  // superset guarantee. The graph stage adds at most seeds(5) +
  // 5·k(15) + beam·k(12) = 32 candidates per query whatever the corpus
  // (the point of graph refinement), and because the served top-5
  // reranks a SUPERSET of v6's seeds with the exact metric, recall can
  // only match or beat v6's — even on this near-random corpus where a
  // COLD graph walk measured recall at sampling chance (the navigability
  // adjudication in the v38 Scaladoc).
  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"v38 graph-expansion stays within budget and never loses to its IVF seeds ($sfDir)") {
      val rows = VectorOps.queries("v38_graph_ann")(spark, sfDir).collect()
      val nCorpus = graft.sources.Tables.embeddings(spark, sfDir).count()
      val maxVisited = rows.map(_.getLong(3)).max
      assert(maxVisited <= 40,
        s"visited $maxVisited graph candidates — must stay O(beam·k·hops), corpus=$nCorpus")
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
      val exact = VectorOps
        .queries("v1_ann_bruteforce")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .toSet
      val v6 = VectorOps
        .queries("v6_ann_ivf")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .toSet
      val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
      val rGot = (exact & got).size.toDouble / exact.size
      val rV6 = (exact & v6).size.toDouble / exact.size
      info(s"v38 recall $rGot vs v6 $rV6 at $sfDir")
      assert(rGot >= rV6 - 1e-9, s"superset rerank lost recall: v38=$rGot v6=$rV6")
      assert(rGot >= 0.8, s"recall=$rGot")
    }

  // graph-expansion ANN, property 2: on data with neighborhood STRUCTURE
  // (the ScaleTechniquesSpec clustered fixture — real embedding corpora
  // cluster), seeds land in the query's cluster and the graph edges pull
  // in the cluster-mates the probed lists carry, so the ~2%-of-corpus
  // graph budget serves near-exact answers.
  test("v38 graph-ANN recalls >= 0.8 on a clustered corpus at a ~2% visit budget") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(50)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val emb = (0 until 2000).map { i =>
      val c = centers(i % 50)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.15f).toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn(
        "embedding",
        org.apache.spark.sql.functions.col("embedding").cast("array<float>"))
      .cache()
    val got = VectorOps.graphAnnOn(emb, VectorOps.knnGraph(emb)).collect()
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got.map(_.getLong(3)).max <= 40, "visit budget exceeded on the fixture")
    // exact top-5 for the same queries (vec_id < 10)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val a = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", sqrt(call_function("graft_dot", col("qe"), col("qe"))))
    val b = emb
      .select(col("vec_id").as("nbr_id"), col("embedding").as("ne"))
      .withColumn("nn", sqrt(call_function("graft_dot", col("ne"), col("ne"))))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id").asc)
    val exact = b
      .crossJoin(a)
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("ne")) / (col("qn") * col("nn"))
      )
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "nbr_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    info(s"v38 clustered-corpus recall@5: $recall (budget ${got.map(_.getLong(3)).max}/2000)")
    assert(recall >= 0.8, s"graph walk failed to navigate a clustered corpus: recall=$recall")
  }

  test("the persisted kNN graph serves a NEW session without rebuilding; purge sweeps it") {
    val sf = "/root/testdata/sf0.001"
    val first = VectorOps.queries("v17_knn_graph")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def stores(): Set[String] =
      Option(warehouse.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_knn_graph_"))
        .map(_.getName).toSet
    assert(stores().nonEmpty, "v17 did not persist a graph store")
    def sig(name: String): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(warehouse, name))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    }
    val fp = stores().toSeq.sorted.map(sig)
    val second = VectorOps.queries("v17_knn_graph")(spark.newSession(), sf)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "store-served graph diverged from the builder's")
    assert(stores().toSeq.sorted.map(sig) == fp,
      "new session REBUILT the graph store instead of reading it")
    val removed = graft.stores.WarehouseStore.purge(spark, prefix = "graft_knn_graph_")
    assert(removed.nonEmpty && stores().isEmpty, "purge missed the graph store")
  }

  // the bulk k-NN graph: per-node top-3 within the 4 probed IVF lists vs
  // the exact all-pairs top-3. Measured 0.59/0.59 at sf0.001/sf0.01 —
  // gated at 0.55, the honest floor for NEAR-RANDOM synthetic vectors
  // (coarse clustering carries little neighbor signal when the space has
  // no cluster structure; real embedding corpora do — the same caveat as
  // v11's 0.6 PQ gate). The oracle, not this gate, checks correctness:
  // the graph is exactly the declared probed-lists computation.
  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"v17 knn graph recall vs exact all-pairs top-3 ($sfDir)") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
      val a = emb
        .select(col("vec_id").as("src_id"), col("embedding").as("se"))
        .withColumn("sn", sqrt(call_function("graft_dot", col("se"), col("se"))))
      val b = emb
        .select(col("vec_id").as("nbr_id"), col("embedding").as("ne"))
        .withColumn("nn", sqrt(call_function("graft_dot", col("ne"), col("ne"))))
      val w = Window.partitionBy("src_id").orderBy(col("cos").desc, col("nbr_id").asc)
      val exact = a
        .crossJoin(b)
        .filter(col("src_id") =!= col("nbr_id"))
        .withColumn(
          "cos",
          call_function("graft_dot", col("se"), col("ne")) / (col("sn") * col("nn"))
        )
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("src_id", "nbr_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val got = VectorOps
        .queries("v17_knn_graph")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .toSet
      val recall = (exact & got).size.toDouble / exact.size
      info(s"v17 recall at $sfDir = $recall")
      assert(recall >= 0.55, s"recall=$recall")
    }

  // Quantizer fidelity is DATA-DEPENDENT and the gates say so honestly:
  // on the driver's outlier-free synthetic vectors max-abs wins (there is
  // no outlier to stretch its scale; clipping the top 1% only costs),
  // so v18 carries a floor there — while on outlier-bearing vectors,
  // which is the distribution p99 clipping exists for, clipped must WIN,
  // asserted on a planted-outlier corpus.
  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"calibrated quantization holds its fidelity floor on outlier-free data ($sfDir)") {
      def meanKeep(q: String): Double = VectorOps
        .queries(q)(spark, sfDir)
        .agg(org.apache.spark.sql.functions.avg("cos_keep"))
        .head()
        .getDouble(0)
      val maxAbs = meanKeep("v8_embed_quantize")
      val clipped = meanKeep("v18_sq_calibrated")
      info(s"mean cos_keep: max-abs=$maxAbs clipped=$clipped")
      assert(clipped >= 0.99, s"clipped=$clipped")
      assert(maxAbs >= 0.999, s"maxAbs=$maxAbs")
    }

  test("p99 clipping restores code resolution that max-abs loses to planted outliers") {
    // What clipping buys is NOT cosine-to-original (an outlier carries
    // most of the vector's energy, so max-abs — which preserves the
    // outlier exactly — "wins" that metric by crushing everything else):
    // it is RESOLUTION on the value mass. With a 100x outlier setting the
    // max-abs scale, every small component lands in codes {-1, 0, 1};
    // the per-dim p99 clip spends the code range on the mass instead.
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0 until 100).map { i =>
      val v = Array.fill(64)(rnd.nextFloat() * 0.2f - 0.1f)
      v(i % 64) = 10.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def smallCompCodes(df: org.apache.spark.sql.DataFrame): Long = df
      .select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "code")))
      .filter(col("pos") =!= col("vec_id") % 64) // non-outlier components
      .agg(countDistinct("code"))
      .head()
      .getLong(0)
    val maxAbsCodes = smallCompCodes(VectorOps.maxAbsQuant(emb))
    val clippedCodes = smallCompCodes(VectorOps.sqCalibrated(emb))
    info(s"distinct codes on non-outlier components: max-abs=$maxAbsCodes clipped=$clippedCodes")
    assert(maxAbsCodes <= 3, s"max-abs resolution unexpectedly fine: $maxAbsCodes")
    assert(clippedCodes >= 20, s"clipped resolution too coarse: $clippedCodes")
  }

  test("v14's hot-term drop counts are queryable and exact (not a log line)") {
    // controlled corpus: "the" appears in 3 of 4 docs (df=3 > 4/2 → capped),
    // "rare" in exactly half (df=2 = N/2 → kept: the cap is strict-greater)
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick fox rare"),
      (1L, "the lazy dog"),
      (2L, "the other text"),
      (3L, "rare words only")
    ).toDF("doc_id", "text")
    val r = VectorOps.v14DroppedTerms(docs).head()
    assert(r.getLong(0) == 1L, s"dropped_terms=${r.getLong(0)}")
    assert(r.getLong(1) == 3L, s"dropped_postings=${r.getLong(1)}")
    // and on the driver corpus the declared catalog query is the same frame
    val catalog = VectorOps
      .queries("v14b_rrf_dropped_terms")(spark, sf)
      .head()
    assert(catalog.getLong(0) >= 0L && catalog.getLong(1) >= catalog.getLong(0))
  }

  // v5 is rows-only (xxhash64); t6 is oracle-checked but keeps its recall gate
  // carry their fidelity gates at BOTH driver scale factors, including the
  // sf0.01 the driver's DuckDB compare runs at
  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test(s"winnowing fingerprints recover the exact near-dup pairs ($sfDir)") {
      val exact = TextOps
        .queries("t4_dedup_ngram_jaccard")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val winnow = TextOps
        .queries("t6_winnow_fingerprint")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(exact.subsetOf(winnow), s"missed: ${exact -- winnow}")
    }

    test(s"banded semantic-dedup pair stage equals the exact all-pairs criterion ($sfDir)") {
      // the v12 scale path: banded candidates + exact verify can only MISS
      // pairs, and at 64 bands x 4 bits the analytic miss rate for a
      // τ=0.45 pair is (1 - p^4)^64 ≈ 4e-6 — assert total recall here
      val spark0 = spark
      graft.functions.GraftFunctions.register(spark0)
      val emb = graft.sources.Tables.embeddings(spark0, sfDir)
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairSet(VectorOps.cosinePairsExact(emb, 0.45))
      val banded = pairSet(VectorOps.cosinePairsBanded(emb, 0.45))
      assert(banded.subsetOf(exact), s"false positives: ${banded -- exact}")
      assert(banded == exact, s"banding missed: ${exact -- banded}")
    }

    test(s"SimHash near-dup pairs are also exact near-dups ($sfDir)") {
      val exact = TextOps
        .queries("t4_dedup_ngram_jaccard")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val sim = VectorOps
        .queries("v5_simhash")(spark, sfDir)
        .select("doc_a", "doc_b")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      // hamming<=3 of 64 bits is a (much) stricter similarity bar;
      // everything it finds must be a true near-dup pair.
      assert(sim.subsetOf(exact), s"false positives: ${sim -- exact}")
      assert(sim.nonEmpty)
    }
  }

  for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    test(s"v23 sweep is a monotone frontier agreeing with v19 at the deployed config ($sfDir)") {
      val rows = VectorOps
        .queries("v23_probe_sweep")(spark, sfDir)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
      // widening the probe set can only add candidates and hits
      assert(rows.sliding(2).forall {
        case Array(a, b) => b._2 > a._2 && b._3 >= a._3
        case _ => true
      })
      // the sweep point at the deployed nProbe=4 must reproduce v19's
      // monitoring total exactly — two operators, one truth
      val v19Hits = VectorOps
        .queries("v19_ann_recall_eval")(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("n_hits"))
        .head
        .getLong(0)
      assert(rows.find(_._1 == 4).get._3 == v19Hits)
    }
}
