package graft.tools

import org.apache.spark.sql.functions._

/** Production-vocabulary measurement for `graft_bpe_encode` (SCALING.md's
  * BPE row): train N merges on a bounded word-count SAMPLE driver-side —
  * the real pipeline shape: a tokenizer trains on a sample once, the
  * trained artifact encodes the full corpus forever — then time the
  * corpus-wide encode with the merge list compiled into the expression.
  *
  * t62's in-cluster trainer exists to prove the training loop's plan
  * shape; its per-iteration collect makes N=1k+ a thousand Spark jobs.
  * For a MEASUREMENT of the encode (the verb that actually touches 100 TB)
  * the trainer is scaffolding, so this tool trains the classic way: BPE
  * over a capped word-count dictionary in driver memory (GPT-2's trainer
  * fits in one process too — vocabularies are small, corpora are not).
  *
  * Usage: runMain graft.tools.BpeScale <sfDir> <nMerges> [sampleWords]
  * Prints one JSON line: corpus totals + train/encode seconds.
  */
object BpeScale {

  /** Classic driver-side BPE trainer over (word, count) pairs with t62's
    * exact pick rule: max weight, ties broken (l asc, r asc). Returns
    * rank-ordered NUL-joined merge entries. Since round 13 this
    * DELEGATES to the declared t62b merge loop
    * ([[graft.operators.TextOps.bpeDriverMergeLoop]] -- incremental pair
    * counts + an ordered pick set instead of the old full recount per
    * iteration, and spec-pinned bit-equal to t62) so the tool and the
    * operator can never fork. */
  def trainOnSample(wordCounts: Seq[(String, Long)], nMerges: Int): Array[String] =
    graft.operators.TextOps
      .bpeDriverMergeLoop(wordCounts, nMerges)
      .map { case (_, l, r, _, _) => l + "\u0000" + r }
      .toArray

  /** The fixture corpus has a 31-stem vocabulary: training EXHAUSTS at a
    * few hundred merges (every distinct word fully merged). To measure
    * the encode at a production vocabulary size anyway, ranks past
    * exhaustion are synthesized as well-formed pairs over the TRAINED
    * symbol inventory (what a richer corpus would ship) — they populate
    * the rank map like real merges do; whether they occur is the
    * corpus's business, which is exactly the point being measured: the
    * kernel's per-word cost follows occurrences, not N. */
  def padMerges(trained: Array[String], target: Int): Array[String] = {
    if (trained.length >= target) return trained
    val inventory = (trained.map { m =>
      val i = m.indexOf('\u0000'); m.substring(0, i) + m.substring(i + 1)
    } ++ trained.flatMap { m =>
      val i = m.indexOf('\u0000'); Seq(m.substring(0, i), m.substring(i + 1))
    }).distinct
    val used = scala.collection.mutable.HashSet(trained: _*)
    val out = scala.collection.mutable.ArrayBuffer(trained: _*)
    var i = 0
    while (out.length < target && i < inventory.length * inventory.length) {
      val l = inventory(i % inventory.length)
      val r = inventory((i / inventory.length + i) % inventory.length)
      val m = l + "\u0000" + r
      if (!used.contains(m)) { used += m; out += m }
      i += 1
    }
    out.toArray
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nMerges = args.lift(1).map(_.toInt).getOrElse(1024)
    // 0 = FULL vocabulary (the t62b in-engine trainer path — default
    // since round 13: the vocab is Heaps-bounded driver state anyway, so
    // capping is a measurement lever, not a necessity)
    val sampleWords = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.start(
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt))
    graft.functions.GraftFunctions.register(spark)

    val toks = graft.functions.F.wsTokens(col("text"))
    val docs = graft.sources.Tables.documents(spark, sfDir)

    // vocabulary = bounded driver state regardless of corpus bytes
    // (Heaps' law); sampleWords > 0 caps it to the top-K (the old
    // measurement lever), 0 collects the FULL vocab and trains through
    // the declared t62b operator path
    val t0 = System.nanoTime()
    val vocabAgg = docs
      .select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val sample =
      (if (sampleWords > 0)
         vocabAgg.orderBy(col("n").desc, col("w").asc).limit(sampleWords)
       else vocabAgg)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq
    val tSample = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val trained = trainOnSample(sample, nMerges)
    val merges = padMerges(trained, nMerges)
    val tTrain = (System.nanoTime() - t1) / 1e9

    // merges.txt interchange: the trained artifact leaves through the
    // declared file boundary and the encode consumes the LOADED list —
    // the real pipeline shape, where a tokenizer's published merges.txt
    // is the input, not in-process trainer state
    val mergesFile = sys.env.getOrElse(
      "SPARK_GRAFT_BPE_MERGES",
      java.nio.file.Files.createTempFile("graft-merges", ".txt").toString)
    val pairs = merges.toSeq.map { m =>
      val i = m.indexOf(0.toChar); (m.substring(0, i), m.substring(i + 1))
    }
    graft.functions.BpeMerges.write(pairs, mergesFile)
    val loaded = graft.functions.BpeMerges
      .packed(graft.functions.BpeMerges.read(mergesFile))
    require(loaded.toSeq == merges.toSeq, "merges.txt round-trip drifted")

    // the measured verb: ONE corpus scan, merge list compiled into the
    // expression — the plan a 10k-merge production tokenizer would run
    val t2 = System.nanoTime()
    val enc = docs
      .select(explode(toks).as("w"))
      .select(call_function("graft_bpe_encode", col("w"), lit(loaded)).as("syms"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(size(col("syms"))).as("n_symbols"))
      .collect()(0)
    val tEncode = (System.nanoTime() - t2) / 1e9

    // optional contrast: t63's plan shape (one replace node per merge) at
    // a chain length that still analyzes — SPARK_GRAFT_BPE_CHAIN_N=0 skips
    val chainN = sys.env.get("SPARK_GRAFT_BPE_CHAIN_N").map(_.toInt).getOrElse(0)
    val chainStats = if (chainN <= 0) "" else {
      val SOH = "\u0001"; val STX = "\u0002"
      val seq0 = expr(
        s"concat_ws('', transform(sequence(1, length(w)), i -> concat('$SOH', substring(w, i, 1), '$STX')))")
      val seqN = merges.take(chainN).foldLeft(seq0) { (c, m) =>
        val i = m.indexOf('\u0000'); val l = m.substring(0, i); val r = m.substring(i + 1)
        call_function("replace", c, lit(s"$SOH$l$STX$SOH$r$STX"), lit(s"$SOH$l$r$STX"))
      }
      val t3 = System.nanoTime()
      docs.select(explode(toks).as("w"))
        .select(seqN.as("seq"))
        .agg(sum(length(col("seq")) -
          length(call_function("replace", col("seq"), lit(SOH), lit("")))).as("n"))
        .collect()
      val tChain = (System.nanoTime() - t3) / 1e9
      s""","chain_n":$chainN,"chain_sec":${f"$tChain%.1f"}"""
    }

    // the t74 production path: publish the per-doc token-count store at
    // THIS vocabulary (one BIGINT per doc, content+merges-keyed), then
    // read it back from a fresh session — the build-once-budget-many
    // contract measured at production N (SPARK_GRAFT_BPE_STORE=0 skips)
    val storeStats =
      if (sys.env.get("SPARK_GRAFT_BPE_STORE").contains("0")) ""
      else {
        val t4 = System.nanoTime()
        val nDocs = graft.operators.TextOps
          .bpeTokenCountsFor(spark, sfDir, loaded.toSeq)
          .count()
        val tStore = (System.nanoTime() - t4) / 1e9
        val t5 = System.nanoTime()
        graft.operators.TextOps
          .bpeTokenCountsFor(spark.newSession(), sfDir, loaded.toSeq)
          .agg(sum("n_bpe_tokens")).collect()
        val tRead = (System.nanoTime() - t5) / 1e9
        val bytes = graft.stores.WarehouseStore
          .list(spark, "graft_bpe_tokens_")
          .map(_._2).sum
        s""","store_docs":$nDocs,"store_build_sec":${f"$tStore%.1f"},""" +
          s""""store_read_sec":${f"$tRead%.1f"},"store_bytes":$bytes"""
      }

    println(
      s"""{"tool":"bpe_scale","sf":"$sfDir","n_merges":${merges.length},""" +
        s""""n_trained":${trained.length},"merges_file":"$mergesFile",""" +
        s""""sample_words":${sample.length},"n_tokens":${enc.getLong(0)},""" +
        s""""n_symbols":${enc.getLong(1)},"sample_sec":${f"$tSample%.1f"},""" +
        s""""train_sec":${f"$tTrain%.1f"},"encode_sec":${f"$tEncode%.1f"}$chainStats$storeStats}""")
    spark.stop()
  }
}
