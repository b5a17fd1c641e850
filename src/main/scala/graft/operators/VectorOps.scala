package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{F, GraftFunctions}
import graft.sources.Tables
import graft.stores.WarehouseStore

/** Similarity search + hash-based near-dup operators over the `embeddings`
  * and `documents` tables.
  *
  * Scale design: brute-force ANN broadcasts the (small) query set and scans
  * candidates once — the right baseline plan at any candidate scale. The LSH
  * variants (random-hyperplane for vectors, MinHash banding for shingles,
  * SimHash banding for tokens) bound candidate generation by bucket joins so
  * the pair space never goes quadratic. v4/v5 use Spark's xxhash64 and are
  * therefore declared WITHOUT a DuckDB oracle (engine-specific hash) — their
  * recall against the exact operators is asserted in ScalaTest instead.
  * v3 is hash-free (deterministic ±1 planes) and fully oracle-checked.
  */
object VectorOps {

  type Q = (SparkSession, String) => DataFrame

  /** Brute-force cosine top-k: queries (vec_id < 10) × all candidates,
    * double-precision cosine, k=5, deterministic tie-break on neighbor id.
    * Output is (query_id, rnk, neighbor_id) — rank only, so cross-engine
    * float noise in the score cannot flip the hash. */
  private def v1AnnBruteforce(s: SparkSession, d: String): DataFrame = {
    // Norms are computed ONCE per row before the pair join (not per pair) —
    // the pair-side work is a single native dot product (codegen'd
    // DotProductFloat: no per-pair array allocation). Bit-identical to
    // dot/(sqrt(dot aa)*sqrt(dot bb)) computed pairwise.
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn")
      )
    val scored = emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** ANN index-quality evaluation AS AN OPERATOR — recall@5 of the IVF
    * probed path (v6) against the exact scan (v1) on the declared query
    * sample, emitted as a queryable one-row-per-query DataFrame. This
    * operationalizes what the ScalaTest recall gates check: a 100 TB
    * pipeline monitors its index quality continuously on a sampled query
    * set, not in a test harness. Cost shape: the exact side is the
    * expensive one and runs only over the SAMPLE (broadcast queries ×
    * one corpus scan — v1's plan); the probed side touches nProbe/k of
    * the data; the comparison is a join of two k·|sample|-row frames.
    * `n_hits` (an exact count) anchors the cross-engine hash; `recall`
    * is a display division of it. */
  private def v19AnnRecallEval(s: SparkSession, d: String): DataFrame = {
    val exact = v1AnnBruteforce(s, d).select("query_id", "neighbor_id")
    val ivf = IvfAnn
      .query(s, d)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact
      .join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .withColumn("recall", round(col("n_hits") / lit(5.0), 6))
      .orderBy("query_id")
  }

  /** Sweep values for v23 — the nProbe candidates a serving team would
    * choose between (the declared v6 default sits in the middle). */
  private val v23Probes = Seq(1, 2, 4, 8)

  /** v23 — IVF TUNING sweep: the recall/cost frontier over nProbe values
    * in ONE pass, per sweep point (n_probe, n_candidates, n_hits,
    * recall). v19 monitors the recall of the deployed config; v23 is the
    * operator that PICKS the config — "which nProbe buys which recall at
    * which scan cost" — rerun whenever the corpus distribution drifts.
    *
    * One pass, not |sweep| queries: candidates are fetched ONCE at
    * max(nProbe) with their probe RANK kept (posexplode of the sorted
    * centroid-distance slice), and each candidate replays into every
    * sweep point with n_probe >= its rank (bounded ≤|sweep|× fanout of
    * the already-probe-bounded candidate set — never a corpus rescan).
    * The exact reference side is v1's plan over the broadcast query
    * sample only. The index side never shuffles (broadcast probes, v6's
    * contract); per-point top-5 is a (qid, n_probe)-partitioned window
    * over probe-bounded groups. Integer n_candidates/n_hits anchor the
    * cross-engine hash; recall is a display division. */
  private def v23ProbeSweep(
      s: SparkSession,
      d: String,
      centArrOpt: Option[Array[(Int, Seq[Float])]] = None,
      exactOpt: Option[DataFrame] = None
  ): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val centArr = centArrOpt.getOrElse(IvfAnn.storedEmbCents(s, d))
    val indexed = IvfAnn.assignTo(centArr)(emb)
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probed = queries
      .select(
        col("*"),
        posexplode(
          slice(
            array_sort(array(IvfAnn.distStructs(centArr, col("qe")): _*)),
            1,
            v23Probes.max
          )
        ).as(Seq("pos", "p"))
      )
      .withColumn("cid", col("p.cid"))
      .withColumn("probe_rank", col("pos") + 1)
      .drop("p", "pos")
    // norms hoisted once per side (v1's pattern, round-10 review): the
    // sweep scores every probed candidate, so a per-pair sqrt(dot) paid
    // each side's 64-mult fold |pairs| times; sqrt(a)*sqrt(b) in the same
    // order keeps cos bit-identical
    val cand = broadcast(
      probed.withColumn("qn", sqrt(call_function("graft_dot", col("qe"), col("qe"))))
    )
      .join(
        indexed.withColumn("cn", sqrt(call_function("graft_dot", col("embedding"), col("embedding")))),
        Seq("cid")
      )
      .filter(col("vec_id") =!= col("qid"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("cn"))
      )
    val sweep = cand.withColumn(
      "n_probe",
      explode(filter(typedlit(v23Probes), p => p >= col("probe_rank")))
    )
    val nCand = sweep
      .groupBy("n_probe")
      .agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy("qid", "n_probe").orderBy(col("cos").desc, col("vec_id").asc)
    val exact = exactOpt
      .getOrElse(v1AnnBruteforce(s, d))
      .select(
        col("query_id").as("qid"),
        col("neighbor_id").as("vec_id"),
        lit(1L).as("hit")
      )
    val nHits = sweep
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .join(broadcast(exact), Seq("qid", "vec_id"), "left")
      .groupBy("n_probe")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
    // recall denominator is the DECLARED sample (10 queries x top-5), a
    // fixed constant in both engines — deriving it from surviving qids
    // would silently shrink the denominator for a query whose probed
    // lists contain nothing but itself
    nCand
      .join(broadcast(nHits), Seq("n_probe"))
      .select(
        col("n_probe"),
        col("n_candidates"),
        col("n_hits"),
        (col("n_hits") / lit(50.0)).as("recall")
      )
      .orderBy("n_probe")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold (the
    * embedding-space analogue of Jaccard dedup). Pair pruning by id order;
    * all pairs scored in double precision. */
  private def v2EmbedCosineDedup(s: SparkSession, d: String): DataFrame = {
    // One pair-stage implementation: v2 is the declared exactness baseline,
    // so it IS cosinePairsExact at its threshold — no duplicated criterion
    // that could drift from what v12's equality gates compare against.
    GraftFunctions.register(s)
    cosinePairsExact(Tables.embeddings(s, d), 0.45).orderBy("id_a", "id_b")
  }

  /** Deterministic ±1 hyperplane table shared by the v3 implementation and
    * its DuckDB oracle — canonical definition lives in
    * [[graft.functions.Planes]] (also the [[graft.functions.BandHashesFloat]]
    * expression's table), kept as an alias so the oracle literal
    * generators below read naturally. */
  private def planeSign(j: Int, k: Int): Float =
    graft.functions.Planes.sign(j, k)

  /** Random-hyperplane LSH ANN (scale path): 64 sign-hash bits from
    * deterministic ±1 hyperplanes (splitmix-seeded), banded bucket join on
    * the signature, exact cosine re-rank inside candidate buckets.
    * Hash-free since round 2 => fully oracle-checked (plane table baked
    * into the DuckDB SQL as literals). */
  private def v3AnnLsh(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    // Norms once per row (shared by every candidate pair downstream).
    val signed = emb
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    // 16 bands x 4 bits: top-k neighbors here agree per bit with p ~ 0.6,
    // so a band matches with p^4 ~ 0.13 and missing ALL bands is
    // (1-p^4)^16 ~ 0.11 — measured recall ~0.9 (8 bands measured 0.64-0.70).
    // Narrow bands + many of them is the OR-amplification that makes recall
    // usable; candidates are re-ranked with the exact cosine anyway.
    // Band b of graft_band_hashes packs sign bits of planes [4b, 4b+4) —
    // exactly the (sig >>> 4b) & 15 slices of the former 64-bit signature
    // column (round-1..7 form: 64 separate dot-against-literal columns);
    // one fused pass, bit-identical bh values, same plane table as the
    // oracle's SQL literals.
    val banded = signed
      .select(
        col("vec_id"),
        col("embedding"),
        col("nrm"),
        posexplode(
          call_function("graft_band_hashes", col("embedding"), lit(16), lit(4))
        ).as(Seq("band", "bh"))
      )
    val queries = banded
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn"),
        col("band"),
        col("bh")
      )
    val cands = banded
      .join(queries, Seq("band", "bh"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qe"), col("qn"), col("vec_id"), col("embedding"), col("nrm"))
      .distinct()
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    cands
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** MinHash + LSH banded dedup (scale path for t4): 32-perm MinHash
    * signature over 3-word shingles, 8 bands × 4 rows, candidate pairs from
    * band-bucket join, exact Jaccard verification on candidates only.
    * No oracle (xxhash64 signatures); recall vs t4 asserted in tests. */
  private def v4MinhashLsh(s: SparkSession, d: String): DataFrame = {
    val nPerm = 32
    val bands = 8
    val rows = nPerm / bands
    val sh = TextOps.shingleHashRows(Tables.documents(s, d)).cache()
      // shingleHashRows already emits 64-bit xxhash64 longs (one per
      // distinct (doc, shingle)); the second xxhash64 here is this
      // pipeline's BASE hash of its permutation family, kept verbatim:
      // removing it would re-roll which pairs band-collide, and the
      // banded==exact spec equality is pinned under THIS family — the
      // re-hash is load-bearing for the certified recall, not for
      // dedup semantics (round-10 review corrected the stale
      // string-keying comment that used to stand here).
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    // signature: for each permutation i, min over shingles of xxhash64(i, h)
    val sig = sh
      .groupBy("doc_id")
      .agg(
        min(xxhash64(lit(0), col("shingle"))).as("m0"),
        (1 until nPerm)
          .map(i => min(xxhash64(lit(i), col("shingle"))).as(s"m$i")): _*
      )
    val banded = sig.select(
      col("doc_id"),
      explode(
        array(
          (0 until bands).map { b =>
            struct(
              lit(b).as("band"),
              xxhash64(
                (b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*
              ).as("bh")
            )
          }: _*
        )
      ).as("bb")
    ).select(col("doc_id"), col("bb.band"), col("bb.bh"))
      // pre-shuffle on the join key so the self-join runs
      // shuffle-to-shuffle with no extra exchange per side. NOTE: unlike
      // v12b/v5, ReuseExchange can NOT deduplicate the signature agg here
      // — the shingle input is cached, and exchange subtrees over an
      // InMemoryRelation do not canonicalize equal (the PlanAuditSpec
      // reuse pin exempts v4 for exactly this). The duplicated side reads
      // the CACHE, not the corpus, which is the same cost bound the reuse
      // would give.
      .repartition(col("band"), col("bh"))
    val candPairs = banded
      .as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Exact Jaccard verification restricted to the candidate set — the
    // shingle lists are joined against candPairs first, so the pairwise
    // intersection is computed for O(|candidates|) pairs, never all pairs.
    // This is what makes MinHash+LSH the 100 TB path vs exact t4.
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = candPairs
      .join(sh.as("a"), col("a.doc_id") === col("doc_a"))
      .join(
        sh.as("b"),
        col("b.doc_id") === col("doc_b") && col("a.shingle") === col("b.shingle")
      )
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    candPairs
      .join(inter, Seq("doc_a", "doc_b"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") > 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup: 64-bit simhash over 3-word shingles (sum of ±1 per
    * bit from the shingle hash, sign → bit), 4×16-bit band blocking,
    * Hamming distance <= 3 on candidates.
    *
    * The shingle hash is the CROSS-ENGINE md5-prefix scheme (first 8 bytes
    * of md5, big-endian — the 64-bit extension of t6's 4-byte form), so the
    * whole pipeline is reproducible in DuckDB and hash-checked by the
    * oracle; until round 6 this used xxhash64 and was rows-only. md5 is
    * slower per gram than xxhash64 but runs once per shingle in a codegen
    * projection — the build stays scan-bound at scale (same trade t6 made,
    * ShingleGenerator.scala:161). */
  private def v5Simhash(s: SparkSession, d: String): DataFrame = {
    // SimHash over 3-word shingles, not bare tokens: with a small vocabulary
    // every document shares most TOKENS, so token-level simhashes collapse
    // together; shingle frequency vectors keep the discrimination that makes
    // hamming<=3 mean "near-duplicate".
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), F.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode(F.wordShingles(col("w"), 3)).as("t"))
      // h = first 8 md5 bytes as a signed 64-bit long: hi/lo 32-bit halves
      // parsed separately so the hex→long conversion never overflows
      .withColumn("hhex", md5(col("t")))
      .withColumn(
        "h",
        shiftleft(conv(substring(col("hhex"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("hhex"), 9, 8), 16, 10).cast("long"))
      )
    val sig = tok
      .groupBy("doc_id")
      .agg(
        sum(
          when(col("h").bitwiseAND(lit(1L)) =!= 0L, 1L).otherwise(-1L)
        ).as("b0"),
        (1 until 64).map { j =>
          sum(
            when(col("h").bitwiseAND(lit(1L << j)) =!= 0L, 1L).otherwise(-1L)
          ).as(s"b$j")
        }: _*
      )
      .select(
        col("doc_id"),
        (0 until 64)
          .map(j => when(col(s"b$j") >= 0, lit(1L << j)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b))
          .as("simhash")
      )
    val banded = sig.select(
      col("doc_id"),
      col("simhash"),
      explode(
        array((0 until 4).map { b =>
          struct(
            lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * 16)
              .bitwiseAND(lit(0xFFFFL)).as("bh")
          )
        }: _*)
      ).as("bb")
    ).select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bh"))
      // pre-shuffle on the join key: the 64-column simhash agg runs ONCE
      // and the self-join's second side is a ReusedExchange (v12b's pattern)
      .repartition(col("band"), col("bh"))
    banded
      .as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming")
      )
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-label embedding statistics: centroid components + norms per
    * cluster label — the profiling pass an embedding-space pipeline runs
    * before choosing index parameters. posexplode + groupBy (label, dim):
    * one shuffle, linear in vectors x dims. */
  private def v7LabelCentroids(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("x").cast("double")), 6).as("mean"),
        round(min(col("x").cast("double")), 6).as("min_x"),
        round(max(col("x").cast("double")), 6).as("max_x")
      )
      .filter(col("dim") < 8)
      .orderBy("label", "dim")
  }

  /** Int8 embedding quantization (the storage form an ANN index serves
    * from): one native codegen expression per row, no shuffle — plus a
    * quantization-quality column (cosine between the dequantized and
    * original vector) so the error is measured where the data is, not in a
    * driver loop. Rounded to 6dp for cross-engine comparability. */
  private def v8EmbedQuantize(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    maxAbsQuant(Tables.embeddings(s, d)).select("vec_id", "q_csv", "cos_keep")
  }

  /** The v8 pipeline over any (vec_id, embedding) frame (see
    * [[sqCalibrated]] for why it is factored out). */
  private[graft] def maxAbsQuant(emb: DataFrame): DataFrame = {
    emb
      .select(
        col("vec_id"),
        call_function("graft_quantize_int8", col("embedding")).as("q"),
        col("embedding")
      )
      // dequantized cosine via the native dot on the float-cast int8 array:
      // cos(q, x) is scale-invariant, so the scale factor drops out entirely.
      // NULL (not NaN) when q is all zeros (only possible for an all-zero
      // embedding here): Spark's 0/0 is NaN while DuckDB's is NULL
      .withColumn("qf", col("q").cast("array<float>"))
      .withColumn("qn2", call_function("graft_dot", col("qf"), col("qf")))
      .withColumn(
        "cos_keep",
        when(col("qn2") === 0d, lit(null).cast("double")).otherwise(
          round(
            call_function("graft_dot", col("qf"), col("embedding")) /
              (sqrt(col("qn2")) *
                sqrt(call_function("graft_dot", col("embedding"), col("embedding")))),
            6
          )
        )
      )
      // the vector is pinned as a CSV string, not a raw array column: every
      // int8 component still hash-checks, without depending on how the
      // compare harness stringifies array-typed cells
      .withColumn("q_csv", concat_ws(",", col("q").cast("array<string>")))
      .select("vec_id", "q", "q_csv", "cos_keep")
      .orderBy("vec_id")
  }

  /** Percentile-clipped scalar quantization — the production upgrade of
    * v8's max-abs scaling: one outlier component stretches a max-abs
    * scale and crushes the other 63 dims into a few codes, so serving
    * quantizers clip each dimension at a high percentile (p99 here)
    * before scaling. Calibration = one posexplode aggregation to 64
    * (dim, clip) rows, collected driver-side like the IVF centroids (the
    * same "tiny model fit" allowance) and baked into a zip_with over the
    * vector — quantization itself is per-row codegen, no shuffle. The
    * exact interpolated percentile is the a14/e9-proven cross-engine
    * form, and clip-then-scale is written in the identical op order in
    * the oracle. cos_keep is emitted like v8's so the two quantizers sit
    * side by side in the catalog — with the honest caveat (measured in
    * LshRecallSpec) that cosine-to-original REWARDS keeping outliers, so
    * max-abs wins that metric; what clipping buys is code resolution on
    * the value mass, asserted on a planted-outlier corpus where max-abs
    * collapses every non-outlier component into codes {-1,0,1}. */
  private def v18SqCalibrated(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    sqCalibrated(Tables.embeddings(s, d)).select("vec_id", "q_csv", "cos_keep")
  }

  /** The v18 pipeline over any (vec_id, embedding) frame — shared with the
    * planted-outlier fidelity spec, which needs to run both quantizers on
    * data whose outlier structure it controls. */
  private[graft] def sqCalibrated(emb: DataFrame): DataFrame = {
    val clips = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(percentile(abs(col("x").cast("double")), lit(0.99)).as("clip"))
      .orderBy("dim")
      .collect()
      .map(r => r.getDouble(1))
    val clipCol = typedlit(clips.toSeq)
    val q = zip_with(
      col("embedding"),
      clipCol,
      (x, c) =>
        when(c === 0d, lit(0L)).otherwise(
          round(greatest(least(x.cast("double"), c), -c) / c * 127).cast("long")
        )
    )
    emb
      .select(col("vec_id"), q.as("q"), col("embedding"))
      .withColumn("qf", col("q").cast("array<float>"))
      // NULL (not NaN) on a zero denominator: unlike v8, whose scale comes
      // from the vector itself (its max component always lands on code
      // 127), the per-dim clips come from OTHER rows, so a valid vector
      // can quantize to all-zero codes; Spark's 0/0 is NaN while DuckDB's
      // is NULL — emit NULL explicitly so both engines agree
      .withColumn(
        "qn2",
        call_function("graft_dot", col("qf"), col("qf"))
      )
      .withColumn(
        "cos_keep",
        when(col("qn2") === 0d, lit(null).cast("double")).otherwise(
          round(
            call_function("graft_dot", col("qf"), col("embedding")) /
              (sqrt(col("qn2")) *
                sqrt(call_function("graft_dot", col("embedding"), col("embedding")))),
            6
          )
        )
      )
      .withColumn("q_csv", concat_ws(",", col("q").cast("array<string>")))
      .select("vec_id", "q", "q_csv", "cos_keep")
      .orderBy("vec_id")
  }

  /** Quantized-scan ANN — the serving pattern for a v8-compressed index:
    * coarse-score every candidate with the int8 cosine (the scan that reads
    * 4x fewer bytes at scale), keep the top-10 per query, exact re-rank
    * only those with the full-precision cosine, emit top-5. Cosine is
    * per-vector-scale-invariant, so the quantization scale drops out of the
    * coarse score entirely. Deterministic end to end => oracle-checked
    * (same contract as v6/v8). */
  private def v9AnnQuantized(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn(
        "qf",
        call_function("graft_quantize_int8", col("embedding")).cast("array<float>")
      )
      .withColumn("qn", sqrt(call_function("graft_dot", col("qf"), col("qf"))))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("qf").as("query_qf"),
        col("qn").as("query_qn"),
        col("embedding").as("qe"),
        col("nrm").as("query_nrm")
      )
    val wq = Window.partitionBy("query_id").orderBy(col("qcos").desc, col("vec_id").asc)
    val wr = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "qcos",
        call_function("graft_dot", col("query_qf"), col("qf")) /
          (col("query_qn") * col("qn"))
      )
      .withColumn("crn", row_number().over(wq))
      .filter(col("crn") <= 10)
      // exact re-rank touches ONLY the 10 survivors per query
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) /
          (col("query_nrm") * col("nrm"))
      )
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** Exact all-pairs cosine pair stage (v2's criterion): every id-ordered
    * pair scored with the native double dot. The EXACTNESS BASELINE — it
    * reads each side once but its pair space is quadratic. */
  def cosinePairsExact(emb: DataFrame, tau: Double): DataFrame = {
    val base = emb
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val a = base.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", call_function("graft_dot", col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") > tau)
      .select("id_a", "id_b")
  }

  /** Banded random-hyperplane pair stage — the 100 TB replacement for
    * [[cosinePairsExact]]: `nBands`×`bandBits` deterministic ±1-plane sign
    * bits per vector (the v3 signature scheme widened), candidate pairs
    * from the per-band bucket self-join, then an EXACT cosine verify on
    * candidates only — so the output can only ever MISS a pair relative to
    * the exact stage (no false positives), and equality holds whenever
    * banding recall is total.
    *
    * Band math at the v12 operating point (τ=0.45 → per-bit agreement
    * p = 1 − arccos(0.45)/π ≈ 0.65): a near-threshold pair misses all 64
    * 4-bit bands with probability (1 − p⁴)⁶⁴ ≈ 4·10⁻⁶ — the equality gate
    * in LshRecallSpec runs on both driver scale factors. The quadratic
    * all-pairs stage never materializes: candidate generation is a keyed
    * join on (band, bucket), and at a production SemDeDup threshold
    * (τ ≥ 0.9, p ≥ 0.86) the buckets prune >99.9% of the pair space. At a
    * LOW τ the background (uncorrelated pairs, p ≈ 0.5) still collides in
    * some band, which is why the exact stage stays the declared default at
    * bench scale — banding pays off exactly when τ is high or the corpus
    * is too large to cross-join, i.e. the regime this path exists for. */
  def cosinePairsBanded(
      emb: DataFrame,
      tau: Double,
      nBands: Int = 64,
      bandBits: Int = 4
  ): DataFrame =
    verifyCosinePairs(bandedCandidates(emb, nBands, bandBits), emb, tau)

  /** Recall-holding band geometry for a corpus of `n` vectors at threshold
    * `tau` — the SCALING.md knob-1 rule made executable. Per-bit agreement
    * for a τ-cosine pair is p = 1 − acos(τ)/π (random-hyperplane LSH), so
    * a b-bit band matches with probability p^b and the miss rate after B
    * bands is (1−p^b)^B. The solver widens `bandBits` until the expected
    * BACKGROUND candidates per vector (n·B·2⁻ᵇ) drop to `targetCandPerVec`,
    * raising `nBands` at each step to hold the true-pair miss at `maxMiss`
    * — so corpus growth costs a logarithmically wider signature (B·b
    * planes) instead of quadratic candidate growth. Pure function of the
    * inputs: unit-tested analytically, and the 450-vector fixture gate
    * runs the geometry it picks end-to-end. */
  def bandGeometry(
      n: Long,
      tau: Double,
      targetCandPerVec: Int = 32,
      maxMiss: Double = 0.01
  ): (Int, Int) = {
    val p = 1.0 - math.acos(tau) / math.Pi
    // snap to a 1e-9 grid before ceil (round-10 review): ln/log1p/pow are
    // not correctly-rounded, and the v12c oracle re-runs this arithmetic
    // in DuckDB — an ulp sitting under an integer boundary would flip
    // ceil and pick a different geometry than the SQL solve, a
    // solver-boundary hash flake rather than a pipeline bug
    def bandsFor(bits: Int): Int =
      math.max(1, math.ceil(math.round(math.log(maxMiss) / math.log1p(-math.pow(p, bits)) * 1e9) / 1e9).toInt)
    var bits = 8
    while (bits < 24 &&
      n.toDouble * bandsFor(bits) / math.pow(2, bits) > targetCandPerVec)
      bits += 1
    (bandsFor(bits), bits)
  }

  /** [[bandGeometry]] with the background model MEASURED instead of
    * assumed. The random-sign model (per-band collision 2⁻ᵇ) is correct
    * for a whole corpus of unstructured directions but WRONG inside an
    * IVF list: clustering concentrates correlated vectors, so the
    * background per-bit agreement exceeds ½ and buckets explode — the
    * round-9 sf10 finding (candidates ×2.4 over the model at the naive
    * solve's bits, a disk-filling 570 M-row join; SCALING.md). `epb(b)`
    * is the measured E[p_bg^b] over a neighbor-pair sample of the actual
    * banding population ([[inListNeighborEpb]]) — the exact expected
    * per-band collision rate — and the solver widens bits against IT,
    * holding the true-pair miss at `maxMiss` via the same analytic
    * bandsFor (the miss bound needs only the design-τ p₁, which is
    * geometry-free). If no measured width meets the budget (the gap is
    * fully compressed — e.g. lists far tighter than the signal), the
    * least-bad width is returned; callers equality-gate the outcome, so
    * a mis-sized geometry costs time, never pairs. */
  def bandGeometryMeasured(
      listPop: Long,
      epb: Map[Int, Double],
      tau: Double,
      targetCandPerVec: Int = 256,
      maxMiss: Double = 1e-6,
      fanOut: Int = 1
  ): (Int, Int) = {
    val p1 = 1.0 - math.acos(tau) / math.Pi
    // same 1e-9 snap as bandGeometry's (one solver discipline)
    def bandsFor(bits: Int): Int =
      math.max(1, math.ceil(math.round(math.log(maxMiss) / math.log1p(-math.pow(p1, bits)) * 1e9) / 1e9).toInt)
    def bg(bits: Int): Double = {
      val m = epb.getOrElse(bits, math.pow(0.5, bits))
      if (java.lang.Double.isNaN(m) || m <= 0.0) math.pow(0.5, bits) else m
    }
    // a multi-probed vector collides independently in each of its
    // `fanOut` lists — the per-vector estimate must carry that factor or
    // the stated budget is quietly fanOut× too loose
    def candPerVec(bits: Int): Double =
      fanOut.toDouble * listPop.toDouble * bandsFor(bits) * bg(bits)
    val range = 8 to 24
    range
      .find(candPerVec(_) <= targetCandPerVec)
      .orElse(Some(range.minBy(candPerVec)))
      .map(b => (bandsFor(b), b))
      .get
  }

  /** Measured within-list background for [[bandGeometryMeasured]]:
    * E[p^b] over deterministic neighbor pairs of the banding population,
    * where p = 1 − acos(cos)/π is a pair's per-bit sign-agreement
    * probability. Members of each list rank by xxhash64(vec_id, cid) —
    * hash order is unstructured, so each row paired with its next
    * `stride` hash-neighbors is a uniform-ish sample of the list's pair
    * space WITHOUT an all-pairs join: one cid-keyed window pass over the
    * probed frame (≤ stride·|probed| sample rows), one agg to |bits|
    * doubles. Deterministic inputs ⇒ a deterministic solve. */
  def inListNeighborEpb(
      probed: DataFrame,
      bits: Seq[Int] = 8 to 24,
      stride: Int = 2
  ): Map[Int, Double] = {
    val w = Window.partitionBy("cid").orderBy("hk")
    val ranked = probed
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .withColumn("hk", xxhash64(col("vec_id"), col("cid")))
    val withLeads = ranked.select(
      col("embedding") +: col("nrm") +:
        (1 to stride).flatMap(k =>
          Seq(
            lead(col("embedding"), k).over(w).as(s"eb$k"),
            lead(col("nrm"), k).over(w).as(s"nb$k")
          )
        ): _*
    )
    val pairs = withLeads
      .select(
        col("embedding"),
        col("nrm"),
        explode(
          array((1 to stride).map(k =>
            struct(col(s"eb$k").as("eb"), col(s"nb$k").as("nb"))
          ): _*)
        ).as("o")
      )
      .filter(col("o.eb").isNotNull)
      .select(
        (call_function("graft_dot", col("embedding"), col("o.eb")) /
          (col("nrm") * col("o.nb"))).as("cos")
      )
      .select(
        (lit(1.0) -
          acos(least(lit(1.0), greatest(lit(-1.0), col("cos")))) / lit(math.Pi)).as("p")
      )
    val row = pairs
      .agg(
        avg(pow(col("p"), bits.head)).as(s"b${bits.head}"),
        bits.tail.map(b => avg(pow(col("p"), b)).as(s"b$b")): _*
      )
      .first()
    bits.zipWithIndex.map { case (b, i) =>
      b -> (if (row.isNullAt(i)) Double.NaN else row.getDouble(i))
    }.toMap
  }

  /** The banded CANDIDATE stage alone: distinct id-ordered pairs sharing at
    * least one (band, bucket). Factored out of [[cosinePairsBanded]] so the
    * declared v12b query can surface per-vector candidate degree — the
    * banding stage stays hash-certified even when the verify keeps nothing. */
  def bandedCandidates(
      emb: DataFrame,
      nBands: Int = 64,
      bandBits: Int = 4
  ): DataFrame =
    bandedCandidateStream(emb, nBands, bandBits).distinct()

  /** [[bandedCandidates]] WITHOUT the closing pair-distinct — the raw
    * (id_a, id_b) collision stream, one row per shared (band, bucket).
    * For a verify-then-emit consumer (m7b) the pre-verify distinct is a
    * full shuffle of the candidate stream purchased to avoid re-verifying
    * the ~3% of pairs that collide in more than one band — a bad trade:
    * the verify is one codegen dot per row, so the consumer verifies the
    * stream as-is and dedupes the SURVIVORS (tiny at any τ). v12b keeps
    * the distinct form: its declared `n_cand` column is defined as the
    * per-vector DISTINCT candidate degree. */
  def bandedCandidateStream(
      emb: DataFrame,
      nBands: Int,
      bandBits: Int
  ): DataFrame = bandedCandidateStreamKeyed(emb, Nil, nBands, bandBits)

  /** [[bandedCandidateStream]] restricted to bands [bandLo, bandHiExcl) —
    * the SHARDED banding primitive (SCALING.md round 10 named it as m7b's
    * continuation past one box's disk): bands are independent, so running
    * the solved geometry's B bands in S sequential groups and unioning
    * the survivors is EXACT by construction, while each group's signature
    * exchange carries only its fraction of the one-shot's spill volume —
    * the resource that actually killed the sf30 one-shot. The full
    * `graft_band_hashes` array is still computed per pass (plane dots are
    * CPU-linear and were never the binding resource); the SLICE keeps the
    * off-range rows out of the exchange, which is where the bytes bind. */
  def bandedCandidateStreamRange(
      emb: DataFrame,
      nBands: Int,
      bandBits: Int,
      bandLo: Int,
      bandHiExcl: Int
  ): DataFrame = {
    require(
      0 <= bandLo && bandLo < bandHiExcl && bandHiExcl <= nBands,
      s"band range [$bandLo, $bandHiExcl) outside geometry ${nBands}x$bandBits"
    )
    val banded = emb
      .select(
        col("vec_id"),
        posexplode(
          slice(
            call_function("graft_band_hashes", col("embedding"), lit(nBands), lit(bandBits)),
            bandLo + 1,
            bandHiExcl - bandLo
          )
        ).as(Seq("pos", "bh"))
      )
      .select(col("vec_id"), (col("pos") + lit(bandLo)).as("band"), col("bh"))
      .repartition(col("band"), col("bh"))
    banded
      .as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
  }

  /** [[bandedCandidateStreamKeyed]] for a MULTI-PROBED population: the
    * signature pass runs ONCE PER VECTOR over `vecs` (one row per
    * vec_id) and the bounded-fan-out key assignment (e.g. m7c's
    * (cid, vec_id) at probes rows per vector) is joined onto the banded
    * rows — same (key, band, bh) collision keyspace, identical candidate
    * stream, 1/fan-out of the `graft_band_hashes` work. The caller's
    * previous shape banded the EXPLODED frame, so every plane-dot pass
    * ran fan-out times per vector (measured at sf0.1/59×8: candidate
    * stage 2.9 → 1.7 s). The assignment join is left to the planner: at
    * bench scale the (key, vec_id) side is tiny and broadcasts; at
    * warehouse scale it degrades to a narrow-row shuffle join, which is
    * still the right trade — banded rows are a few ints wide while the
    * signature compute is nBands·bandBits·dims multiplies per vector. */
  def bandedCandidateStreamAssigned(
      vecs: DataFrame,
      assignments: DataFrame,
      extraKeys: Seq[String],
      nBands: Int,
      bandBits: Int
  ): DataFrame = {
    val joinKeys = extraKeys :+ "band" :+ "bh"
    val banded = vecs
      .select(
        col("vec_id"),
        posexplode(
          call_function("graft_band_hashes", col("embedding"), lit(nBands), lit(bandBits))
        ).as(Seq("band", "bh"))
      )
      .join(assignments, "vec_id")
      .repartition(joinKeys.map(col): _*)
    banded
      .as("x")
      .join(banded.as("y"), joinKeys)
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
  }

  /** [[bandedCandidateStream]] with extra JOIN KEYS ahead of (band, bh) —
    * the IVF-pruned form's primitive: keyed by a cluster id, collisions
    * can only form INSIDE a list (m7c passes Seq("cid")). One definition
    * of the signature-explode + keyed self-join discipline for both the
    * corpus-wide and the pruned plans. */
  def bandedCandidateStreamKeyed(
      emb: DataFrame,
      extraKeys: Seq[String],
      nBands: Int,
      bandBits: Int
  ): DataFrame = {
    // The whole signature is ONE fused native expression
    // (graft_band_hashes: every plane dot in a single codegen loop over an
    // executor-local plane matrix) instead of nBands·bandBits separate
    // dot-against-literal columns — bit-identical results (same double
    // accumulation in index order against the same ±1 planes), but the
    // expression tree stays O(1) as the solver widens the geometry
    // (v12c picks 1054 planes at sf1, where the composed form is a
    // codegen method-size hazard and 429 plan nodes at sf0.1).
    // Pre-shuffle on the join key so the self-join's two children are the
    // IDENTICAL exchange: ReuseExchange computes the signature pass once
    // and the second side reads shuffle output. At scale the (band, bh)
    // join shuffles both sides regardless, so the repartition adds
    // nothing — it only deduplicates the signature work.
    val joinKeys = extraKeys :+ "band" :+ "bh"
    val banded = emb
      .select(
        extraKeys.map(col) :+ col("vec_id") :+
          posexplode(
            call_function("graft_band_hashes", col("embedding"), lit(nBands), lit(bandBits))
          ).as(Seq("band", "bh")): _*
      )
      .repartition(joinKeys.map(col): _*)
    banded
      .as("x")
      .join(banded.as("y"), joinKeys)
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
  }

  /** EXACT cosine verify restricted to a candidate pair set — candidates
    * join the embedding table keyed on each side, so the quadratic space
    * never materializes and the emitted pairs satisfy the exact criterion. */
  def verifyCosinePairs(cand: DataFrame, emb: DataFrame, tau: Double): DataFrame = {
    val withNrm = emb
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    cand
      .join(
        withNrm.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na")),
        "id_a"
      )
      .join(
        withNrm.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")),
        "id_b"
      )
      .withColumn("cos", call_function("graft_dot", col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") > tau)
      .select("id_a", "id_b")
  }

  /** Semantic dedup clusters (SemDeDup shape): embedding-cosine near-dup
    * pairs collapsed into connected components — the canonical per cluster
    * is what survives semantic deduplication. Reuses
    * [[GraphOps.connectedComponents]] (state = pair members only).
    *
    * The pair stage is the exact all-pairs scan: this corpus's τ=0.45 sits
    * near the random-pair background where banding can't prune (see
    * [[cosinePairsBanded]], whose pair set LshRecallSpec gates equal to the
    * exact one at this τ). The banded scale path is v12b/v12c. */
  // NOTE on .cache() inside declared queries that RETURN lazy frames
  // (v12 family, v4, v22, v37's tf base): the builder cannot unpersist
  // what the caller has not yet executed. Freed by session clearCache
  // (Bench's between-query hygiene) or LRU eviction; long-lived serving
  // sessions wrap catalog calls with their own cache scope (round-10
  // review). The suffix family's memoized rank tables are the related
  // long-lived state: checkpoint-backed, session-validated by reference,
  // and cleared on application end (TextOps.suffixRankCache) — serving
  // sessions that regenerate fixtures in place get fresh builds through
  // the content snapshot in the cache key.
  private def v12SemanticClusters(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val edges = GraphOps.bidirectional(cosinePairsExact(emb, 0.45), "id_a", "id_b").cache()
    val labels = GraphOps.connectedComponents(edges).withColumnRenamed("id", "vec_id")
    val w = Window.partitionBy("cluster_id")
    emb
      .select("vec_id")
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("vec_id")))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .select("vec_id", "cluster_id", "cluster_size", "is_canonical")
      .orderBy("vec_id")
  }

  /** v12b — semantic dedup clusters ON THE BANDED SCALE PATH, declared at a
    * production SemDeDup threshold (τ=0.9): [[bandedCandidates]] is the ONLY
    * pair source here (no exact all-pairs stage anywhere in the plan), so
    * the CORRECTNESS row certifies the actual 100 TB plan instead of its
    * ScalaTest-gated stand-in.
    *
    * Band config 16×8: at τ=0.9 (per-bit agreement p ≈ 0.856) a true pair
    * misses all 16 8-bit bands with probability (1−p⁸)¹⁶ ≈ 0.4%, while an
    * uncorrelated pair (p ≈ 0.5) survives banding with probability
    * 1−(1−2⁻⁸)¹⁶ ≈ 6% — the pruning that makes the pair space linear-ish;
    * harsher thresholds widen bandBits (the oracle literal scales with it).
    *
    * This corpus's max pair cosine is ~0.51, so the verify keeps nothing
    * and every vector is its own cluster — which is exactly why the output
    * carries `n_cand`, the per-vector banded-candidate degree (t5/t6's
    * surface-the-intermediate convention): the signature, banding, and
    * bucket-join stages all feed the hash through `n_cand`, so a banding
    * bug flips the row hash even with an empty verified pair set. The
    * oracle rebuilds the 128-plane table as SQL literals (v3's scheme). */
  private def v12bSemanticClustersBanded(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    // Band geometry is THE scale knob (SCALING.md): background (uncorrelated)
    // pairs collide with constant probability ≈ nBands·2^-bandBits, so with
    // fixed geometry the candidate count grows quadratically in corpus size.
    // v12b stays at 16×8 — the geometry baked into the DuckDB oracle's plane
    // literals; v12c runs the geometry solved from the corpus count.
    semanticClustersBandedAt(Tables.embeddings(s, d), nBands = 16, bandBits = 8)
  }

  /** v12b's post-geometry body — banded candidates, per-vector degree,
    * exact verify at τ=0.9, connected components — shared with v12c so
    * both declared queries certify the IDENTICAL plan modulo geometry. */
  private def semanticClustersBandedAt(
      emb: DataFrame,
      nBands: Int,
      bandBits: Int
  ): DataFrame = {
    val cand = bandedCandidates(emb, nBands = nBands, bandBits = bandBits).cache()
    val degree = cand
      .select(col("id_a").as("vec_id"))
      .union(cand.select(col("id_b").as("vec_id")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_cand"))
    val pairs = verifyCosinePairs(cand, emb, 0.9)
    val edges = GraphOps.bidirectional(pairs, "id_a", "id_b").cache()
    val labels = GraphOps.connectedComponents(edges).withColumnRenamed("id", "vec_id")
    val w = Window.partitionBy("cluster_id")
    emb
      .select("vec_id")
      .join(degree, Seq("vec_id"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("vec_id")))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
      .select("vec_id", "n_cand", "cluster_id", "cluster_size", "is_canonical")
      .orderBy("vec_id")
  }

  /** v12c — v12b under the AUTO-SOLVED band geometry, declared as its own
    * query so the solver's pick (not the hand-baked 16×8) is itself
    * hash-certified.
    * Geometry = [[bandGeometry]](corpus count, τ=0.9) — one planning-time
    * count(); the DuckDB oracle re-runs the SAME solver arithmetic in SQL
    * over count(*) and draws its planes from a literal table sized for the
    * solver's pick at any verify scale up to ~13k vectors (bandBits ≤ 14 —
    * regenerate [[v12cPlaneValues]] wider if verify ever outgrows it). At
    * the driver's sf0.01 (500 vectors) the solver picks 14×8; at sf0.1,
    * 33×13 — both certified by the same adaptive oracle. */
  private def v12cSemanticClustersAuto(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val (nBands, bandBits) = bandGeometry(emb.count(), 0.9)
    semanticClustersBandedAt(emb, nBands, bandBits)
  }

  /** MMR diversity re-rank — the serving-side step AFTER ANN retrieval:
    * from each query's top-20 cosine candidates, select 8 by Maximal
    * Marginal Relevance (lambda=0.7), so results trade raw relevance
    * against redundancy with what is already selected.
    *
    * The sequential-in-k selection runs INSIDE the custom
    * [[graft.functions.MmrSelect]] Generator over `collect_list`-packed
    * candidates — one row per query, O(k*N) per row — instead of k rounds
    * of join+window (k shuffles) or a driver loop. Candidate generation is
    * the v1 broadcast-queries scan; the only shuffles are the top-20
    * window and the one-row-per-query groupBy. Fully deterministic
    * (rounded-score argmax, id tie-break), so the recursive-CTE oracle
    * reproduces every pick. */
  private def v13MmrRerank(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn")
      )
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .groupBy("query_id")
      .agg(collect_list(struct(col("vec_id"), col("cos"), col("embedding"))).as("cands"))
      .selectExpr("query_id", "graft_mmr(cands) AS (rnk, neighbor_id, score)")
      .orderBy("query_id", "rnk")
  }

  /** Hybrid retrieval with Reciprocal Rank Fusion — the fusion step of a
    * modern search stack: a LEXICAL ranking (tf-idf sparse dot via the
    * inverted-index token join) and a VECTOR ranking (v1's broadcast
    * cosine scan) are combined per query as
    * `1/(60+r_lex) + 1/(60+r_vec)`, so neither scorer's scale matters,
    * only its ranks. `documents.doc_id` and `embeddings.vec_id` share the
    * id space (TESTDATA), which is what makes the fusion join meaningful.
    *
    * Cross-engine determinism by construction: the lexical score is a sum
    * of INTEGER terms (tf_q * tf_d * round(ln(N/df)*1e6)) — exact whatever
    * the aggregation order — and the RRF score is a fixed-form double over
    * integer ranks. Shuffles: the token join (inverted index), one per
    * ranking window, the fusion join co-partitioned on (query_id, id).
    *
    * Hot-term cap (the t5/t6 stop-fingerprint pattern applied to the
    * inverted index): terms with df > N/2 are dropped from the dictionary
    * BEFORE the term join, so a stop word appearing in every document can
    * never fan the join out quadratically — exactly the terms whose
    * idf < ln 2 contributes nothing to the ranking anyway. The cap is
    * RELATIVE (df/N), so it needs no retuning as the corpus grows, and the
    * dropped-term count is surfaced as the declared query
    * `v14b_rrf_dropped_terms`, never silent. The query side of the term
    * join is broadcast — query term lists are bounded by construction, so
    * the corpus-side posting list streams without a shuffle. */
  /** v14's per-document term frequencies and its df-annotated dictionary
    * (each term with its document frequency and the corpus size) — shared
    * by the retrieval query and the drop-count observability query so the
    * cap audited is the cap applied. */
  private[graft] def termTfAndDict(docs: DataFrame): (DataFrame, DataFrame) = {
    val tf = docs
      .select(col("doc_id"), explode(F.wsTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    (tf, dft.crossJoin(broadcast(n)))
  }

  /** The v14 hot-term cap's drop counts as a ONE-ROW queryable frame
    * (t5/t6's surface-the-intermediate convention): how many dictionary
    * terms — and how many posting-list entries — the df>N/2 cap removes
    * from the inverted index before the term join. Declared in the catalog
    * as `v14b_rrf_dropped_terms`, so the observability itself is
    * oracle-checked, not just logged. */
  private[graft] def v14DroppedTerms(docs: DataFrame): DataFrame =
    termTfAndDict(docs)._2
      .filter(col("df") > expr("n_docs DIV 2"))
      .agg(
        count(lit(1)).as("dropped_terms"),
        coalesce(sum("df"), lit(0L)).as("dropped_postings")
      )

  private def v14bRrfDroppedTerms(s: SparkSession, d: String): DataFrame =
    v14DroppedTerms(Tables.documents(s, d))

  private def v14HybridRrf(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val (tf, dftN) = termTfAndDict(docs)
    val weighted = tf
      .join(dftN.filter(col("df") <= expr("n_docs DIV 2")), "term")
      .withColumn("idf6", round(log(col("n_docs") / col("df")) * 1e6).cast("long"))
    val qterms = weighted
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("term"), col("tf").as("qtf"), col("idf6"))
    val wLex = Window.partitionBy("query_id").orderBy(col("lex_score").desc, col("doc_id").asc)
    val lexRank = broadcast(qterms)
      .join(weighted.select(col("doc_id"), col("term"), col("tf")), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qtf") * col("tf") * col("idf6")).as("lex_score"))
      .withColumn("r_lex", row_number().over(wLex))
      .filter(col("r_lex") <= 50)
      .select("query_id", "doc_id", "r_lex")
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val qvec = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val wVec = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    val vecRank = emb
      .crossJoin(broadcast(qvec))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("r_vec", row_number().over(wVec))
      .filter(col("r_vec") <= 50)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_vec"))
    val wFuse = Window.partitionBy("query_id").orderBy(col("rrf_raw").desc, col("doc_id").asc)
    // Full-outer fuses can't broadcast; the shuffle_hash hint keeps the
    // tiny rank tables (≤ queries × 50 rows each) off a sort-merge plan —
    // no sort pass, and the pin in PlanAuditSpec keeps it that way.
    lexRank
      .hint("shuffle_hash")
      .join(vecRank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn(
        "rrf_raw",
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0))
      )
      .withColumn("rnk", row_number().over(wFuse).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id"), round(col("rrf_raw"), 6).as("rrf"))
      .orderBy("query_id", "rnk")
  }

  /** Radius (range) search — the other half of a similarity-search API
    * next to top-k: ALL candidates with cosine ≥ τ per query, not a fixed
    * count. Same broadcast-queries single-scan plan as v1; the result size
    * is data-dependent (possibly zero rows per query — preserved via the
    * per-query match count), which is exactly why serving APIs offer both
    * forms. τ=0.3 sits below this corpus's 0.51 max pair cosine so the
    * operator returns real matches. */
  private def v15RangeSearch(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn")
      )
    emb
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
      .filter(col("cos") >= 0.3)
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_matches"),
        round(max("cos"), 6).as("best_cos"),
        array_join(sort_array(collect_list(col("vec_id"))), ",").as("neighbor_ids")
      )
      .orderBy("query_id")
  }

  /** Filtered ANN — top-k under a metadata predicate, the third member of
    * the serving API next to top-k (v1) and radius (v15): "nearest
    * neighbors WHERE label ∈ …". The filter is applied BEFORE ranking
    * (pre-filtering), so every query gets k true neighbors from the
    * eligible set — post-filtering a plain top-k can return fewer than k
    * (or zero) rows when the predicate is selective, which is why serving
    * engines treat the filtered form as a distinct operator.
    *
    * Scale shape: the predicate lands in the parquet scan as a pushed
    * filter (pinned in PlanAuditSpec — the candidate scan reads only
    * matching row groups), then the same broadcast-queries single scan as
    * v1. At 100 TB the filter column becomes the index's partition key, so
    * the predicate upgrades from row-group pruning to directory pruning —
    * the layout ScaleTechniquesSpec proves on the bucketed corpus; the
    * query plan here is unchanged by that swap. */
  private def v16AnnFiltered(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val queries = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn")
      )
    // predicate FIRST: candidates are restricted before any scoring
    val eligible = emb.filter(col("label").isin(0, 1, 2))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    eligible
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("label"))
      .orderBy("query_id", "rnk")
  }

  /** Bulk k-NN graph construction — every vector's top-3 neighbors in one
    * job (the SemDeDup / graph-curation building block), as opposed to
    * v1/v6's point queries. Candidate generation is bounded by coarse IVF
    * geometry: each vector probes only its IvfAnn.nProbe=4 nearest
    * inverted lists (v6's config — a 25% scan fraction at k=16, shrinking
    * as k grows), so per-node candidates are ~4·n/k and pair work 4n²/k;
    * at scale k grows with the corpus (k ≈ n / target list size), holding
    * per-list pair work constant — the standard within-cluster pairing
    * recipe. The probe side is the WHOLE corpus (not a broadcastable query
    * set), so the list join is a keyed co-partitioned join — one shuffle
    * per side on cid; hot lists are AQE skew-split territory — PROVEN, not
    * just asserted: AqeSkewSpec runs this exact plan on a one-hot-list
    * fixture and pins that AQE's runtime skew split engages on the cid
    * join. At test scale k=16 keeps everything tiny. Deterministic
    * id-seeded build ⇒ fully oracle-checked by composing v6's
    * unrolled-Lloyd SQL with the all-nodes probe; recall vs exact brute
    * force is gated in ScalaTest. */
  /** SCALING.md knob-2 rule, executable: lists sized so the average
    * inverted list holds ~`targetListSize` vectors — per-node candidate
    * work stays constant as the corpus grows (nProbe lists × targetList).
    * Floor at the oracle-certified 16; the 4096 cap keeps the collected
    * centroid table a driver-side scalar (4096 × 64 floats ≈ 1 MB). */
  def ivfListsFor(n: Long, targetListSize: Int = 256): Int =
    math.min(4096L, math.max(IvfAnn.k.toLong, n / targetListSize)).toInt

  /** Code version of the `graft_knn_graph_` store (see
    * [[WarehouseStore.Key]]). */
  private[graft] val knnGraphStoreVersion = 1

  /** Cross-session PERSISTED kNN graph — the third index family to get
    * the warehouse-store treatment (minhash signatures, suffix ranks,
    * now the graph): at corpus scale the graph build is the expensive
    * all-nodes probe while its consumers (v17's report, v22's PageRank,
    * v38's serving walk) are cheap reads, so one ingest pays the build
    * and every session after reads parquet. Keyed by the embeddings
    * snapshot and nLists through [[WarehouseStore.storedOrBuilt]].
    * The graph rows are deterministic (cosine ranks with id
    * tie-breaks), so a stored graph is bit-equal to a rebuilt one and
    * every consumer's oracle stays green either way. */
  private[graft] def knnGraphFor(s: SparkSession, d: String, nLists: Int): DataFrame = {
    val snapshot = WarehouseStore.fixtureSnapshot(d, "embeddings.parquet")
    WarehouseStore.storedOrBuilt(
      s,
      WarehouseStore.Key("knn_graph", knnGraphStoreVersion, snapshot, Seq(nLists.toString))) {
      // the graph build reads the SAME persisted fit its probe-side
      // consumers use — one Lloyd fit per (corpus content, nLists)
      // however the stores warm up
      knnGraph(Tables.embeddings(s, d), nLists, Some(IvfAnn.storedEmbCents(s, d, nLists)))
    }
  }

  private def v17KnnGraph(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    // spark.graft.ivf.auto=true sizes the list count from the corpus count
    // (one planning-time count(), v12c's convention); an explicit
    // spark.graft.ivf.lists PINS the count even when auto is on; default
    // stays the oracle's 16.
    val nLists = s.conf
      .getOption("spark.graft.ivf.lists")
      .map(_.toInt)
      .getOrElse(
        if (s.conf.getOption("spark.graft.ivf.auto").exists(_.toBoolean))
          ivfListsFor(emb.count())
        else IvfAnn.k
      )
    knnGraphFor(s, d, nLists).orderBy("vec_id", "rnk")
  }

  /** The v17 pipeline over any (vec_id, embedding) frame — shared with the
    * AqeSkewSpec hot-list pin, which needs the REAL plan on a fixture
    * whose cid distribution it controls.
    *
    * `nLists` (conf `spark.graft.ivf.lists` on the declared query) is the
    * scale knob: candidate pairs per node ∝ list size = n/nLists, so fixed
    * geometry grows the pair space quadratically in n (measured 5.6× on a
    * 10× corpus) while nLists ∝ n holds per-node work constant. Default 16
    * keeps the oracle's unrolled-Lloyd geometry. */
  private[graft] def knnGraph(
      emb: DataFrame,
      nLists: Int = IvfAnn.k,
      centArrOpt: Option[Array[(Int, Seq[Float])]] = None
  ): DataFrame = {
    val centArr = centArrOpt.getOrElse(IvfAnn.collectCents(IvfAnn.centroids(emb, nLists)))
    val indexed = IvfAnn
      .assignTo(centArr)(emb)
      .select(
        col("cid"),
        col("vec_id").as("nbr_id"),
        col("embedding").as("ne"),
        sqrt(call_function("graft_dot", col("embedding"), col("embedding"))).as("nn")
      )
    val probes = IvfAnn.withProbedCids(centArr, "se")(
      emb
        .select(col("vec_id").as("src_id"), col("embedding").as("se"))
        .withColumn("sn", sqrt(call_function("graft_dot", col("se"), col("se"))))
    )
    val w = Window.partitionBy("src_id").orderBy(col("cos").desc, col("nbr_id").asc)
    probes
      .join(indexed, Seq("cid"))
      .filter(col("nbr_id") =!= col("src_id"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("se"), col("ne")) / (col("sn") * col("nn"))
      )
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("src_id").as("vec_id"), col("rnk"), col("nbr_id").as("neighbor_id"))
      .orderBy("vec_id", "rnk")
  }

  /** v38 — GRAPH-EXPANSION ANN serving: IVF seeds refined over the v17
    * kNN graph, the deployed shape of the DiskANN/HNSW idea and the
    * missing member of the index family (IVF v6, PQ v11, LSH v3,
    * Hamming v24). The query's 4 probed lists supply exact top-5 SEEDS
    * (v6's serving answer); the seeds' graph neighbors — and one more
    * beam-of-4 hop of theirs — join the candidate set, which is exactly
    * reranked for the served top-5. The graph edges are what recover
    * the classic IVF miss: a true neighbor in an UNPROBED list is
    * reachable as the graph neighbor of a probed seed. Because the
    * served set reranks a SUPERSET of the seeds, recall is provably
    * >= v6's on any corpus (gated in LshRecallSpec, with a 0.9 floor on
    * the clustered fixture); a COLD graph walk instead (no IVF seeds)
    * measured recall 0.0 there — a plain kNN graph of well-separated
    * clusters has no cross-cluster edges to navigate, the textbook
    * reason HNSW/DiskANN add long-range structure, adjudicated in the
    * Scaladoc rather than shipped.
    *
    * Scale shape: the graph is the PRE-BUILT artifact (v17's build — at
    * 100 TB a stored table like the IVF index); serving adds, on top of
    * v6's probed-list scan, at most seeds + 5·k + beam·k ≈ 32 graph
    * candidates per query (n_visited, the integer cost anchor) fetched
    * by point-lookup joins — independent of corpus size. Rank-only
    * output, v1's float-noise-immune convention; the oracle unrolls
    * seeds and both hops over the v17 graph CTEs. */
  private def v38GraphAnn(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    // the graph AND the coarse fit come from their PERSISTED stores — the
    // "pre-built stored artifact" the Scaladoc's scale story describes,
    // made literal (spec callers pass their own frames and keep the
    // fresh-fit default)
    graphAnnOn(
      Tables.embeddings(s, d),
      knnGraphFor(s, d, IvfAnn.k),
      Some(IvfAnn.storedEmbCents(s, d))
    )
  }

  /** The v38 pipeline over any (vec_id, embedding) frame and its kNN
    * graph (v17 rows: vec_id, rnk, neighbor_id) — shared with the
    * clustered-corpus recall pin (LshRecallSpec), which needs the REAL
    * plan on a fixture whose cluster geometry it controls. */
  private[graft] def graphAnnOn(
      embRaw: DataFrame,
      graph: DataFrame,
      centArrOpt: Option[Array[(Int, Seq[Float])]] = None
  ): DataFrame = {
    val emb = embRaw.withColumn(
      "nrm",
      sqrt(call_function("graft_dot", col("embedding"), col("embedding")))
    )
    val edges = graph
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val centArr = centArrOpt.getOrElse(IvfAnn.collectCents(IvfAnn.centroids(embRaw)))
    val indexed = IvfAnn
      .assignTo(centArr)(embRaw)
      .select(col("cid"), col("vec_id").as("cand"))
    val q = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cand = emb
      .select(col("vec_id").as("cand"), col("embedding").as("ce"), col("nrm").as("cn"))
    // exact cosine over a (query_id, cand) pair frame; the query side is
    // a broadcast (<=10 rows), the cand side one point-lookup join
    def scoredPairs(pairs: DataFrame): DataFrame =
      pairs
        .join(broadcast(q), "query_id")
        .join(cand, "cand")
        .filter(col("cand") =!= col("query_id"))
        .withColumn(
          "cos",
          call_function("graft_dot", col("qe"), col("ce")) / (col("qn") * col("cn"))
        )
        .select("query_id", "cand", "cos")
    def beamOf(scored: DataFrame, width: Int): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand").asc)
      scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= width)
        .select("query_id", "cand")
    }
    def expand(visited: DataFrame, beam: DataFrame): DataFrame =
      visited
        .union(
          beam
            .join(edges, beam("cand") === edges("src"))
            .select(col("query_id"), col("dst").as("cand")))
        .distinct()
    // seeds = v6's serving answer: exact top-5 within the query's 4
    // probed lists (the list scan is v6's documented cost; n_visited
    // counts only the graph stage's candidate set)
    val listPairs = IvfAnn
      .withProbedCids(centArr, "qe")(q)
      .select(col("query_id"), col("cid"))
      .join(indexed, Seq("cid"))
      .select("query_id", "cand")
    val seeds = beamOf(scoredPairs(listPairs), 5)
    val v1 = expand(seeds, seeds)
    val s1 = scoredPairs(v1)
    val v2 = expand(s1.select("query_id", "cand"), beamOf(s1, 4))
    val s2 = scoredPairs(v2)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand").asc)
    val wq = Window.partitionBy("query_id")
    s2.withColumn("n_visited", count(lit(1)).over(wq))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("cand").as("neighbor_id"), col("n_visited"))
      .orderBy("query_id", "rnk")
  }

  /** The budget points of v39's graph arm — nominal visited-candidate
    * caps. 32 is v38's own full admission set (seeds 5 + hop-1 <= 15 +
    * hop-2 <= 12 before dedup), so the top point IS v38's serving
    * config; 8 and 16 are the cheaper anytime cuts of the same run. */
  private val v39Budgets = Seq(8, 16, 32)

  /** v38's full run with its DISCOVERY ORDER kept: every candidate the
    * expansion ever visits, tagged with a deterministic admission
    * position — seeds in seed-rank order, then hop-1 neighbors in
    * (seed rank, edge rank) order, then hop-2 in (beam rank, edge rank)
    * order, earliest admission kept on dedup. Truncating at position B
    * replays the SAME run under a visited-candidate budget (v23's
    * fetch-once-replay trick applied to the graph family): the capped
    * sets are nested in B, so — because an exact-top-5 member present
    * in any candidate set always survives an exact rerank of it —
    * recall is provably non-decreasing in B. Admission keys pack into
    * one small integer (stage*100 + rank*10 + edge rank; all digits
    * < 10 by construction) so the dedup is a plain min. */
  private[graft] def graphAnnAdmission(
      embRaw: DataFrame,
      graph: DataFrame,
      centArrOpt: Option[Array[(Int, Seq[Float])]] = None
  ): DataFrame = {
    val emb = embRaw.withColumn(
      "nrm",
      sqrt(call_function("graft_dot", col("embedding"), col("embedding")))
    )
    val edges = graph.select(
      col("vec_id").as("src"),
      col("rnk").as("ernk"),
      col("neighbor_id").as("dst")
    )
    val centArr = centArrOpt.getOrElse(IvfAnn.collectCents(IvfAnn.centroids(embRaw)))
    val indexed = IvfAnn
      .assignTo(centArr)(embRaw)
      .select(col("cid"), col("vec_id").as("cand"))
    val q = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cand = emb
      .select(col("vec_id").as("cand"), col("embedding").as("ce"), col("nrm").as("cn"))
    def scoredPairs(pairs: DataFrame): DataFrame =
      pairs
        .join(broadcast(q), "query_id")
        .join(cand, "cand")
        .filter(col("cand") =!= col("query_id"))
        .withColumn(
          "cos",
          call_function("graft_dot", col("qe"), col("ce")) / (col("qn") * col("cn"))
        )
        .select("query_id", "cand", "cos")
    val listPairs = IvfAnn
      .withProbedCids(centArr, "qe")(q)
      .select(col("query_id"), col("cid"))
      .join(indexed, Seq("cid"))
      .select("query_id", "cand")
    val wSeed = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand").asc)
    val seeds = scoredPairs(listPairs)
      .withColumn("srnk", row_number().over(wSeed))
      .filter(col("srnk") <= 5)
      .select("query_id", "cand", "srnk")
    val adm0 = seeds.select(
      col("query_id"),
      col("cand"),
      (col("srnk") * 10).as("akey") // stage 0
    )
    val adm1 = seeds
      .join(edges, seeds("cand") === edges("src"))
      .select(
        col("query_id"),
        col("dst").as("cand"),
        (lit(100) + col("srnk") * 10 + col("ernk")).as("akey") // stage 1
      )
    // v38's beam: top-4 of the scored v1 = seeds ∪ hop-1 (self excluded)
    val v1 = adm0
      .select("query_id", "cand")
      .union(adm1.select("query_id", "cand"))
      .filter(col("cand") =!= col("query_id"))
      .distinct()
    val b1 = scoredPairs(v1)
      .withColumn("brnk", row_number().over(wSeed))
      .filter(col("brnk") <= 4)
      .select("query_id", "cand", "brnk")
    val adm2 = b1
      .join(edges, b1("cand") === edges("src"))
      .select(
        col("query_id"),
        col("dst").as("cand"),
        (lit(200) + col("brnk") * 10 + col("ernk")).as("akey") // stage 2
      )
    val wAdm = Window.partitionBy("query_id").orderBy(col("akey").asc, col("cand").asc)
    adm0
      .union(adm1)
      .union(adm2)
      .filter(col("cand") =!= col("query_id"))
      .groupBy("query_id", "cand")
      .agg(min("akey").as("akey"))
      .withColumn("pos", row_number().over(wAdm))
      .select("query_id", "cand", "pos")
  }

  /** v39 — the INDEX-FAMILY SELECTION FRONTIER: recall@5 and integer
    * scan cost for the IVF family at nProbe ∈ {1,2,4,8} (v23's one-pass
    * replay, verbatim) and the graph family at visited budgets
    * {8,16,32} ([[graphAnnAdmission]]'s truncations of v38's run), on
    * the SAME 10-query probe sample against the same exact top-5 — the
    * one frame a pipeline owner reads to pick a serving config
    * (round-13 verdict ask #6). Cost is exact-cosine evaluations per
    * sample: the IVF arm's probed-list candidates; the graph arm's
    * seed-stage list scan (it pays v6@4's scan to seed) PLUS its
    * budget-capped visited set. Both arms' recalls are monotone in
    * their knob by construction — nested candidate sets, exact rerank —
    * so a non-monotone row is a bug, and the spec pins exactly that.
    *
    * Scale shape: the IVF arm is v23's plan (broadcast probes, one
    * fetch at max nProbe, bounded replay explode); the graph arm runs
    * v38's serving plan once with rank bookkeeping (same point-lookup
    * joins on the PERSISTED kNN-graph store) and replays positions into
    * budgets — no stage rescans the corpus, and the budget sweep
    * multiplies only the <=32-row-per-query admission frame. */
  private def v39IndexFrontier(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val embRaw = Tables.embeddings(s, d)
    val centArr = IvfAnn.storedEmbCents(s, d)
    // exact0 is REFERENCED twice (v23's recall join + the graph arm's) and
    // deliberately NOT cache()d: a lazily-cached frame whose two consumers
    // are both BroadcastExchange builders measured +7 s here — the build
    // threads race to materialize the InMemoryRelation — and even an
    // eagerly pre-materialized cache measured ~+1 s vs letting the two
    // 50-row subtrees execute independently in parallel inside the job.
    val exact0 = v1AnnBruteforce(s, d)
    val ivf = v23ProbeSweep(s, d, Some(centArr), Some(exact0)).select(
      lit("ivf").as("family"),
      col("n_probe").cast("long").as("knob"),
      col("n_candidates").as("n_cost"),
      col("n_hits"),
      col("recall")
    )
    val adm = graphAnnAdmission(embRaw, knnGraphFor(s, d, IvfAnn.k), Some(centArr))
    val emb = embRaw.withColumn(
      "nrm",
      sqrt(call_function("graft_dot", col("embedding"), col("embedding")))
    )
    val q = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = adm
      .join(broadcast(q), "query_id")
      .join(
        emb.select(col("vec_id").as("cand"), col("embedding").as("ce"), col("nrm").as("cn")),
        "cand"
      )
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("ce")) / (col("qn") * col("cn"))
      )
      .select("query_id", "cand", "pos", "cos")
    val sweep = scored.withColumn(
      "budget",
      explode(filter(typedlit(v39Budgets), b => b >= col("pos")))
    )
    val nVisited = sweep.groupBy("budget").agg(count(lit(1)).as("n_visited"))
    // the seed stage scans the 4 probed lists whatever the budget — the
    // graph arm's floor cost, identical to the IVF arm's nProbe=4 scan
    val listScan = IvfAnn
      .withProbedCids(centArr, "qe")(q)
      .select(col("query_id"), col("cid"))
      .join(IvfAnn.assignTo(centArr)(embRaw).select(col("cid"), col("vec_id").as("cand")), Seq("cid"))
      .filter(col("cand") =!= col("query_id"))
      .agg(count(lit(1)).as("n_list_scan"))
    val wTop = Window.partitionBy("query_id", "budget").orderBy(col("cos").desc, col("cand").asc)
    val exact = exact0
      .select(col("query_id"), col("neighbor_id").as("cand"), lit(1L).as("hit"))
    val hits = sweep
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .join(broadcast(exact), Seq("query_id", "cand"), "left")
      .groupBy("budget")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_hits"))
    val graphArm = nVisited
      .join(broadcast(hits), Seq("budget"))
      .crossJoin(broadcast(listScan))
      .select(
        lit("graph").as("family"),
        col("budget").cast("long").as("knob"),
        (col("n_list_scan") + col("n_visited")).as("n_cost"),
        col("n_hits"),
        (col("n_hits") / lit(50.0)).as("recall")
      )
    ivf.unionByName(graphArm).orderBy("family", "knob")
  }

  /** v21 — the k-means FIT itself as a declared, per-vector-certified
    * output: the final Lloyd assignment (vec_id → cid) for the whole
    * corpus plus each cluster's population. Every IVF consumer
    * (v6/v10/v16/v17/v20, the index store) runs on this fit but is
    * certified only through the probe lens — the top-k survivors a query
    * happens to touch. This row hash-checks every individual assignment
    * against the unrolled-Lloyd DuckDB oracle, so a drifted centroid or a
    * flipped near-tie ANYWHERE in the corpus turns the row red: the
    * training-stage certificate the serving-stage rows assume.
    *
    * At 100 TB: identical code path to the index build — bounded model
    * fit (k×64-float centroid table collected to the driver), shuffle-free
    * codegen argmin assignment while the scan streams, and ONE keyed
    * shuffle on cid for the population window. Corpus-grain output. */
  private def v21KmeansFit(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    // deliberately the FRESH fit, not the centroid store: v21 is the
    // training-stage certificate (every assignment hash-checked against
    // the unrolled-Lloyd oracle), so the cold fit path stays a declared,
    // oracle-verified query every round — the store can never drift from
    // the fit unobserved (see IvfAnn.storedCentroids)
    val centArr = IvfAnn.collectCents(IvfAnn.centroids(emb))
    val wc = Window.partitionBy("cid")
    IvfAnn
      .assignTo(centArr)(emb)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .withColumn("cluster_n", count(lit(1)).over(wc))
      .orderBy("vec_id")
  }

  /** v28 — CLUSTER-BALANCED diversity sampling: assign every vector to
    * v21's k-means clusters, keep a deterministic uniform top-10 per
    * cluster. The diversity-preserving subset selection (DataComp /
    * SemDeDup-adjacent): a plain uniform sample over-represents dense
    * semantic regions, cluster-balanced sampling caps each region at the
    * same budget — the embedding-space analogue of t32's per-source caps.
    * Per-cluster pick order is md5(vec_id) (t14's growth-stable uniform),
    * so membership is reproducible across runs and engines.
    *
    * Scale: the assignment is the shuffle-free codegen argmin over
    * broadcast centroids (v21's scan stage); the ONLY exchange is the
    * cid-keyed rank, planned as WindowGroupLimit — map-side partials
    * keep ≤10 rows per cid before the shuffle, so a billion-vector
    * cluster ships 10 rows per input partition, not a billion (t32's
    * guarantee on the embedding side). */
  private def v28ClusterSample(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val centArr = IvfAnn.storedEmbCents(s, d)
    val w = Window.partitionBy("cid").orderBy("h", "vec_id")
    IvfAnn
      .assignTo(centArr)(emb)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select("cid", "rnk", "vec_id")
      .orderBy("cid", "rnk")
  }

  /** v30 — signed-random-projection (Johnson–Lindenstrauss) dimensionality
    * reduction WITH its distortion certificate: every vector is projected
    * 64 → 16 dims through the deterministic ±1 plane table (the v3/v12b
    * family's planes, raw sums instead of sign bits), and the operator
    * reports, per probe, how well pairwise squared distances survived —
    * ratio6 = ⌊1e6·p2/(16·d2)⌋, which concentrates around 1e6 because
    * E[p2] = 16·d2 for ±1 projections. This is the store-less/compute-4×
    * reduction trade measured (v25 asks it of PREFIX truncation; v30 of a
    * dense projection, which spreads signal across ALL dims instead of
    * hoping the head dims carry it), plus the monitoring row a pipeline
    * runs before pointing its ANN stack at the reduced vectors.
    *
    * Scale: the projection is ONE native codegen loop per row
    * (`graft_project` — the fused `graft_band_hashes` lesson), scan-side,
    * no shuffle; the eval is v1's broadcast-probes single scan with both
    * distances in native expressions; zero-distance pairs are excluded
    * from ratios but COUNTED (n_zero_dist — no-silent-caps). Integer
    * min/max/sum ratios anchor the hash. */
  private def v30JlDistortion(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables
      .embeddings(s, d)
      .withColumn("proj", call_function("graft_project", col("embedding"), lit(16)))
    val probes = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("proj").as("qp"))
    emb
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", call_function("graft_dist2", col("qe"), col("embedding")))
      .withColumn("p2", call_function("graft_dist2", col("qp"), col("proj")))
      .withColumn(
        "ratio6",
        when(col("d2") > 0, floor(col("p2") * 1000000 / (col("d2") * 16)))
      )
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("ratio6").isNull, 1L).otherwise(0L)).as("n_zero_dist"),
        min("ratio6").as("min_ratio6"),
        max("ratio6").as("max_ratio6"),
        sum("ratio6").as("sum_ratio6")
      )
      .withColumn(
        "avg_ratio6",
        expr("sum_ratio6 div greatest(n_pairs - n_zero_dist, 1)")
      )
      .orderBy("query_id")
  }

  /** v31 — pseudo-relevance FEEDBACK retrieval (Rocchio): round 1 takes
    * the exact top-5, round 2 re-queries with the expanded vector
    * q' = q + mean(top-5 neighbors) — "more like what I just found", the
    * classic recall-raising second pass (a query vector sitting at a
    * cluster edge pulls toward the cluster core). `is_new` flags which
    * served neighbors round 1 could not reach — the operator's own
    * effect measurement.
    *
    * Determinism across engines: the expansion is an UNROLLED rank-wise
    * sum (q + n1/5 + … + n5/5, left-associated, double arithmetic,
    * REAL-cast — the m6/v30 convention), never an agg over neighbor rows
    * whose partial order could differ; both rounds rank with the shared
    * native cosine. Scale: round 1 is v1's broadcast-probe scan; the
    * pivot/expansion touches 5·|probes| rows; round 2 is one more
    * broadcast-probe scan — the corpus is scanned twice, never
    * shuffled. */
  /** v32 — GREEDY K-CENTER CORESET (farthest-point traversal): pick the
    * corpus point whose distance to the nearest already-chosen point is
    * LARGEST, k times, seeded at the lowest vec_id — the
    * diversity-selection primitive of coreset curation (maximize
    * coverage of embedding space with k exemplars; the 2-approximation
    * of the k-center objective). Where v28 samples WITHIN clusters
    * (balance), k-center picks the points that SPAN the space
    * (diversity) — the two halves of "representative subset".
    *
    * Scale: each of the k−1 steps is ONE full corpus scan with the ≤k
    * chosen vectors folded into a single `least(graft_dist2…)` codegen
    * expression — no join, no shuffle, and the argmax is
    * `TakeOrderedAndProject(1)` (per-partition top-1 into a driver
    * merge). Driver state is k embeddings; the sequential driver loop is
    * the algorithm (each pick depends on all previous), bounded by k —
    * the IvfAnn-Lloyd class of legitimate iteration, and k scans of a
    * 100 TB corpus is the known honest price of exact greedy k-center
    * (the stream-/composable-coreset variants trade exactness for one
    * pass; this is the exact anchor they are certified against).
    *
    * Determinism across engines: graft_dist2 accumulates double products
    * in index order and the oracle replays the same op order
    * ([[duckDist2]]), so the argmax compares bit-identical doubles; ties
    * break on vec_id. */
  private def v32KcenterCoreset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    kcenterChosen(s, d).zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }
      .toDF("rank", "vec_id")
  }

  /** The greedy selection itself (k=8, seeded at the lowest vec_id),
    * shared by v32 (the ranked list) and v33 (the coverage certificate,
    * which needs the chosen EMBEDDINGS to fold into its assignment
    * expression). */
  private def kcenterChosen(
      s: SparkSession,
      d: String
  ): Vector[(Long, Seq[Float])] = {
    GraftFunctions.register(s)
    val k = 8
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val seed = emb.orderBy("vec_id").head
    var chosen = Vector((seed.getLong(0), seed.getSeq[Float](1)))
    while (chosen.size < k) {
      val next = kcenterStep(emb, chosen).head
      chosen = chosen :+ ((next.getLong(0), next.getSeq[Float](1)))
    }
    chosen
  }

  /** v33 — K-CENTER COVERAGE CERTIFICATE: assign every corpus point to
    * its nearest v32-chosen center and report, per center, the assigned
    * population and the squared coverage radius (max assigned distance).
    * The global max row IS the k-center objective value — the number
    * the greedy 2-approximation bounds — so v32's "representative
    * subset" claim ships with its own quality certificate (selection
    * without a measured radius is an assertion, not a curation result).
    *
    * Scale: ONE corpus scan — the 8 chosen embeddings fold into a
    * single `array_min(array(struct(d2, rank, cid)...))` codegen
    * expression (struct ordering = (d2, rank): nearest center, ties to
    * the earlier-chosen), then an 8-group agg; no join, no shuffle
    * beyond 8 partial rows per task. The selection scans are shared
    * with v32's loop.
    *
    * Determinism: d2 is graft_dist2's index-order double sum, replayed
    * bit-identically by the oracle ([[duckDist2]]); ties break on
    * center rank, which both engines order identically. */
  private def v33KcenterRadius(s: SparkSession, d: String): DataFrame = {
    val chosen = kcenterChosen(s, d)
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val cands = chosen.zipWithIndex.map { case ((id, e), i) =>
      struct(
        call_function("graft_dist2", col("embedding"), typedlit(e)).as("d2"),
        lit(i + 1).as("crank"),
        lit(id).as("cid")
      )
    }
    emb
      .withColumn("best", array_min(array(cands: _*)))
      .groupBy(col("best.cid").as("center_id"))
      .agg(
        count(lit(1)).as("n_assigned"),
        max(col("best.d2")).as("radius2")
      )
      .orderBy("center_id")
  }

  /** v34 — LABEL-NOISE audit (confident-learning shape): flag points
    * whose nearest label CENTROID belongs to a foreign label, rolled up
    * to the (label, nearest_label) confusion matrix — the data-cleaning
    * gate run before training on labeled data (a heavy off-diagonal
    * cell means that label pair's annotations disagree with the
    * geometry). The centroid includes the point itself (standard
    * population semantics; at corpus counts the self-term is
    * negligible and the contract is documented).
    *
    * Scale: TWO corpus scans, zero joins, zero data shuffles. Pass 1
    * fits the model — per-(label, dim) exact integer sums of the
    * 1e-6-quantized coordinates, ≤ |labels|·dim rows collected (the
    * IvfAnn bounded-model-fit class, ~kilobytes). Pass 2 folds all
    * |labels| candidate scores into per-row codegen HOF expressions
    * (zip_with + aggregate over the literal sum vectors) and picks the
    * argmin with v33's array_min(struct) trick; the only exchange is
    * the ≤ |labels|² final agg.
    *
    * Determinism: squared distance comparisons avoid dividing by
    * different counts via exact integer algebra — score_c =
    * Σ_dims (n_c·x_i − S_ci)² in decimal(38,0) (= n_c²·dist², the
    * e23/t56 HUGEINT discipline; |n·x| ≤ 5e10 so terms ≤ 2.5e21,
    * 64·|labels| of them — far inside 38 digits), and the argmin
    * ranks by the IEEE double score_c/n_c² (identical decimal in both
    * engines → identical double → identical order), ties to the
    * smaller label. */
  private def v34LabelNoise(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
    val dim = 64
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xq", round(col("x").cast("double") * lit(1e6)).cast("long"))
      .groupBy("label", "dim")
      .agg(sum(col("xq")).as("sq"), count(lit(1)).as("n"))
      .collect()
    val byLabel: Seq[(Int, Long, Seq[Long])] = cent
      .groupBy(_.getInt(0))
      .map { case (lab, rows) =>
        val arr = new Array[Long](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        (lab, rows.head.getLong(3), arr.toSeq)
      }
      .toSeq
      .sortBy(_._1)
    val xq = transform(
      col("embedding"),
      x => round(x.cast("double") * lit(1e6)).cast("long")
    )
    val cands = byLabel.map { case (lab, n, sArr) =>
      val score = aggregate(
        zip_with(col("xq"), typedlit(sArr), (x, sv) => x * lit(n) - sv),
        lit(0).cast("decimal(38,0)"),
        (acc, v) => acc + v.cast("decimal(38,0)") * v.cast("decimal(38,0)")
      )
      struct(
        (score.cast("double") / lit(n.toDouble * n)).as("d2n"),
        lit(lab).as("cand")
      )
    }
    emb
      .withColumn("xq", xq)
      .withColumn("best", array_min(array(cands: _*)))
      .groupBy(col("label"), col("best.cand").as("nearest_label"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy("label", "nearest_label")
  }

  /** One greedy k-center selection step: the full-scan argmax frame
    * (top-1 by min distance to the chosen set). Package-visible so
    * PlanAuditSpec can pin its shape: no Join, no Exchange —
    * TakeOrderedAndProject over one codegen scan. */
  private[graft] def kcenterStep(
      emb: DataFrame,
      chosen: Seq[(Long, Seq[Float])]
  ): DataFrame = {
    val minD2 = chosen
      .map(c => call_function("graft_dist2", col("embedding"), typedlit(c._2)))
      .reduce(least(_, _))
    emb
      .filter(!col("vec_id").isin(chosen.map(c => java.lang.Long.valueOf(c._1)): _*))
      .withColumn("mind2", minD2)
      .orderBy(col("mind2").desc, col("vec_id").asc)
      .limit(1)
  }

  private def v31RocchioFeedback(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val round1 = v1AnnBruteforce(s, d)
    val pivotExprs = (1 to 5).map { r =>
      max(when(col("rnk") === r, col("ne"))).as(s"n$r")
    }
    val pivoted = round1
      .join(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")),
        "neighbor_id"
      )
      .groupBy("query_id")
      .agg(pivotExprs.head, pivotExprs.tail: _*)
    val sumTerms = (1 to 5)
      .map(r => s"CAST(element_at(n$r, i + 1) AS DOUBLE) / 5")
      .mkString(" + ")
    val expanded = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .join(pivoted, "query_id")
      .withColumn(
        "qx",
        expr(s"transform(qe, (v, i) -> CAST(CAST(v AS DOUBLE) + $sumTerms AS FLOAT))")
      )
      .select("query_id", "qx")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    // corpus norm once per row, expanded-query norm once per query
    // (round-10 review): the scan scored |corpus|x|queries| pairs with
    // both norms recomputed per pair
    emb
      .withColumn("cn", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
      .crossJoin(broadcast(
        expanded.withColumn("qxn", sqrt(call_function("graft_dot", col("qx"), col("qx"))))
      ))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("qx"), col("embedding")) / (col("qxn") * col("cn"))
      )
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .join(
        round1.select(col("query_id"), col("neighbor_id"), lit(1L).as("r1")),
        Seq("query_id", "neighbor_id"),
        "left"
      )
      .withColumn("is_new", col("r1").isNull)
      .select("query_id", "rnk", "neighbor_id", "is_new")
      .orderBy("query_id", "rnk")
  }

  /** nDCG@5 weight per rank, scaled 1e6: round(1e6 / log2(r+1)). A
    * LITERAL table (e13's exact-integer-weights trick) so neither
    * engine evaluates a logarithm — the one transcendental in the nDCG
    * definition is frozen into five shared constants. */
  private val v29Weights = Seq(1000000L, 630930L, 500000L, 430677L, 386853L)

  /** Σ (6−r)·w_r — the ideal DCG under 5-graded relevance, a constant. */
  private val v29Idcg: Long =
    v29Weights.zipWithIndex.map { case (w, i) => (5 - i) * w }.sum

  /** v29 — retrieval nDCG@5 evaluation: the RANK-aware index-quality
    * metric next to v19's recall (recall says "did the right neighbors
    * appear"; nDCG says "did they appear in the right ORDER" — an index
    * that returns the true top-5 reversed scores recall 1.0 but
    * nDCG 0.68). Relevance is graded by the exact rank (rel = 6 − r for
    * the exact top-5, else 0), discounts are the literal integer weight
    * table, so dcg_scaled is an exact integer and ndcg6 one integer
    * floor division — no logarithm runs in either engine.
    *
    * Scale: v19's cost shape exactly — the exact side runs only over
    * the broadcast query SAMPLE, the probed side touches nProbe/k of
    * the corpus, and the comparison joins two 5·|sample|-row frames. */
  private def v29NdcgEval(s: SparkSession, d: String): DataFrame = {
    val exact = v1AnnBruteforce(s, d)
      .select(col("query_id"), col("neighbor_id"), (lit(6L) - col("rnk")).as("rel"))
    IvfAnn
      .query(s, d)
      .withColumn("w", element_at(typedlit(v29Weights), col("rnk").cast("int")))
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("rel"), lit(0L)) * col("w")).cast("long").as("dcg_scaled"),
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("n_overlap")
      )
      .withColumn("ndcg6", expr(s"(dcg_scaled * 1000000) div ${v29Idcg}L"))
      .orderBy("query_id")
  }

  /** v22 — PageRank-style centrality over the v17 k-NN graph (the
    * graph-curation signal: which documents sit at the semantic core of
    * the corpus vs its periphery). Three power iterations, damping 0.85,
    * over the directed kNN edge set with per-node out-degree.
    *
    * All arithmetic is INTEGER-SCALED (ranks are BIGINT units of 1e-12):
    * floating-point summation order differs between Spark's partial aggs
    * and DuckDB's, so a double-typed rank would hash-flake at round()
    * boundaries — integer contributions (per-edge floor division, then an
    * exact BIGINT sum) are reorder-proof by construction, the same trick
    * the t27 entropy and e7 rolling windows use. Mass ≤ 1e12 and factors
    * ≤ 85 keep every intermediate < 2^63.
    *
    * At 100 TB: the edge list is built once (cached here; persisted
    * storage in production) partitioned by src, and each iteration is the
    * Pregel shape — one keyed join of the rank vector on src, one keyed
    * re-aggregation on dst. Nothing is ever collected; iteration count is
    * fixed (3), so the lineage is bounded without checkpointing. */
  private def v22GraphPagerank(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val n = emb.count() // planning-time scalar, ivf.auto's convention
    val scale = 1000000000000L
    val r0 = scale / n
    val base = 15L * r0 / 100L
    val edges = knnGraphFor(s, d, IvfAnn.k)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one shuffle on src builds both deg and the join; cached because the
    // rank loop re-reads it every iteration (disk-persisted at scale)
    val edgesD = edges.join(deg, "src").cache()
    val verts = emb.select(col("vec_id"))
    var ranks = verts.withColumn("pr", lit(r0))
    (1 to 3).foreach { _ =>
      val summed = edgesD
        .join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .withColumnRenamed("dst", "vec_id")
      ranks = verts
        .join(summed, Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          (lit(base) + expr("(85 * coalesce(s, bigint(0))) div 100")).as("pr")
        )
    }
    ranks.orderBy("vec_id")
  }

  /** Binary-embedding ANN: each 64-dim vector collapses to its 64 SIGN
    * BITS packed into two 32-bit words (two BIGINTs — bit 31 shifts never
    * touch a sign bit, so DuckDB's overflow-checked arithmetic and
    * Spark's agree exactly), and top-k runs on Hamming distance
    * (`bit_count(a XOR b)`) with an id tie-break. This is the 32×
    * compression serving trick (64 floats → 8 bytes): the scan side
    * never touches the float arrays, so a 100 TB float corpus becomes a
    * ~3 TB bit corpus read + pure register arithmetic per candidate.
    * The packing is position-indexed sign extraction — zero hashing, so
    * the DuckDB oracle replays it bit-for-bit.
    *
    * Scale: probes broadcast (10 rows), candidates scan once, per-pair
    * cost is two XOR+popcounts in codegen; the only shuffle is the
    * per-query top-k (WindowGroupLimit-prunable). Integer hamming
    * anchors the hash. */
  private def v24HammingAnn(s: SparkSession, d: String): DataFrame = {
    // graft_sign_pack: one codegen loop per word vs the SQL fold's 32
    // interpreted lambda evaluations per row (bit-identical semantics;
    // differential-tested in GrowthQualityOpsSpec)
    GraftFunctions.register(s)
    val packed = Tables
      .embeddings(s, d)
      .select(
        col("vec_id"),
        call_function("graft_sign_pack", col("embedding"), lit(0)).as("w0"),
        call_function("graft_sign_pack", col("embedding"), lit(32)).as("w1")
      )
    val probes = packed
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val scored = packed
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "hamming",
        (bit_count(col("q0").bitwiseXOR(col("w0"))) +
          bit_count(col("q1").bitwiseXOR(col("w1")))).cast("long")
      )
    val w = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"), col("hamming"))
      .orderBy("query_id", "rnk")
  }

  /** Matryoshka truncation evaluation: top-5 neighbor overlap between the
    * FULL 64-dim exact cosine ranking (v1's construction verbatim) and
    * the same ranking run on the 16- and 32-dim PREFIXES — the
    * measurement behind serving truncated matryoshka embeddings (search
    * on a prefix, store 2–4× less, rerank on the tail only when needed).
    * One scored pair frame computes all three rankings; overlap counts
    * are integers, so the hash never sees a float.
    *
    * Scale: each ranking is v1's broadcast-probes/scan-once shape; the
    * dot-product work is irreducibly per-ranking (different prefix per
    * branch), and each branch's top-k is WindowGroupLimit-pruned to ≤5
    * rows per query per partition before its exchange, so the three
    * branches cost three scans but only kilobytes of shuffle. The final
    * per-query set intersect joins three 10-row frames. */
  private def v25MatryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    def pref(c: String, n: Int): Column =
      if (n == 64) col(c) else slice(col(c), 1, n)
    val emb = Tables.embeddings(s, d)
    val probes = emb
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = emb
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
    def topSet(n: Int): DataFrame = {
      val cos = call_function("graft_dot", pref("qe", n), pref("embedding", n)) /
        (sqrt(call_function("graft_dot", pref("qe", n), pref("qe", n))) *
          sqrt(call_function("graft_dot", pref("embedding", n), pref("embedding", n))))
      val w = Window.partitionBy("query_id").orderBy(cos.desc, col("vec_id").asc)
      pairs
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .groupBy("query_id")
        .agg(sort_array(collect_list(col("vec_id"))).as(s"top$n"))
    }
    topSet(64)
      .join(broadcast(topSet(16)), "query_id")
      .join(broadcast(topSet(32)), "query_id")
      .select(
        col("query_id"),
        size(array_intersect(col("top64"), col("top16"))).cast("long").as("hits16"),
        size(array_intersect(col("top64"), col("top32"))).cast("long").as("hits32")
      )
      .orderBy("query_id")
  }

  /** Two-stage binary-quantized serving (the production pattern behind
    * v24): a COARSE Hamming top-50 over the 8-byte packed sign bits —
    * the stage that reads 32× less than a float scan — then an exact
    * float-cosine RERANK of only those 50 candidates per query down to
    * the served top-5. On this corpus the rerank lifts recall@5 vs the
    * exact ranking from v24's raw 24% to 68% (spec-gated ≥ 60%) — the
    * measured statement of why binary quantization ships as a
    * filter+rerank pair, never alone.
    *
    * Scale: stage 1 is v24's plan (broadcast probes, packed-word scan,
    * WindowGroupLimit); stage 2 touches float vectors for only
    * 50·|probes| rows — the candidate set broadcasts back onto the
    * embedding table, so the float table is scanned once and never
    * shuffled. */
  private def v26HammingRerank(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val packed = emb.select(
      col("vec_id"),
      col("embedding"),
      call_function("graft_sign_pack", col("embedding"), lit(0)).as("w0"),
      call_function("graft_sign_pack", col("embedding"), lit(32)).as("w1")
    )
    val probes = packed
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        col("w0").as("q0"),
        col("w1").as("q1")
      )
    val hw = Window
      .partitionBy("query_id")
      .orderBy(col("hamming").asc, col("vec_id").asc)
    val cand = packed
      .drop("embedding")
      .crossJoin(broadcast(probes.drop("qe")))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(
        "hamming",
        bit_count(col("q0").bitwiseXOR(col("w0"))) +
          bit_count(col("q1").bitwiseXOR(col("w1")))
      )
      .withColumn("hrnk", row_number().over(hw))
      .filter(col("hrnk") <= 50)
      .select("query_id", "vec_id")
    // rerank: only the 50·|probes| survivors fetch their float vectors
    val rw = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    emb
      .join(broadcast(cand), "vec_id")
      .join(broadcast(probes.select("query_id", "qe")), "query_id")
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) /
          (sqrt(call_function("graft_dot", col("qe"), col("qe"))) *
            sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
      )
      .withColumn("rnk", row_number().over(rw).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** HARD-NEGATIVE mining (v27) — per anchor, the top-5 most-similar
    * vectors with a DIFFERENT label: the contrastive-training data step
    * (negatives that are close in embedding space but semantically
    * wrong are the ones that teach the margin; random negatives are
    * free but easy). v1's broadcast-probes scoring shape with the label
    * inequality as an EARLY pair filter — at serving scale this is
    * v16's filtered-ANN discipline pointed at training-pair generation.
    * Output keeps the negative's label so downstream pair writers never
    * join back. */
  private def v27HardNegatives(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables
      .embeddings(s, d)
      .withColumn("nrm", sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val anchors = emb
      .filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("anchor_id"),
        col("embedding").as("qe"),
        col("nrm").as("qn"),
        col("label").as("anchor_label")
      )
    val w = Window.partitionBy("anchor_id").orderBy(col("cos").desc, col("vec_id").asc)
    emb
      .crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id") && col("label") =!= col("anchor_label"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("nrm"))
      )
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(
        col("anchor_id"),
        col("rnk"),
        col("vec_id").as("negative_id"),
        col("label").cast("long").as("negative_label")
      )
      .orderBy("anchor_id", "rnk")
  }

  /** v37 — BM25 top-k lexical retrieval: the standard probabilistic
    * lexical scorer (k1 = 1.2, b = 0.75) that v14's tf·idf arm
    * approximates — term-frequency SATURATION (a 50th occurrence adds
    * almost nothing) and document-LENGTH normalization (a match in a
    * short doc outweighs the same match in a long one), neither of which
    * tf·idf has. Queries are the doc_id < 10 probe docs; output is
    * (query_id, rnk, doc_id, score6), top-5.
    *
    * Determinism discipline: idf6 = round(ln(1+(N−df+0.5)/(df+0.5))·1e6)
    * as an integer (v14's ln anchor pattern, with Lucene's +1 floor —
    * idf stays positive at ANY df, so no model-side term drop is needed;
    * the driver fixture's 31-term vocabulary would otherwise empty 9 of
    * 10 queries, exactly the degeneracy the +1 exists to avoid); the
    * saturation factor is pure +,*,/ on doubles in a pinned expression
    * order (bit-equal across engines); each term's contribution floors
    * to an integer BEFORE the per-(query, doc) sum, so the aggregation
    * is order-independent.
    *
    * Scale: v14's inverted-index shape — tf/df aggregations on the term
    * key, broadcast query side, candidates bounded by shared terms.
    * Hot-term COST capping stays available through the same dictionary
    * (v14/v14b's df cap + observability) when a deployment wants it; the
    * SCORING model itself no longer forces one. The length norm adds one
    * doc-keyed join against the corpus-sized dl table, co-partitioned
    * with the candidate aggregation's own key. */
  private def v37Bm25Topk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // tf feeds every consumer (dictionary df, dl, the corpus total, the
    // query side) — cache it, and derive df from the CACHED frame, or
    // the tokenize+agg re-derives per branch (the first cut took
    // termTfAndDict's df off the uncached tf and measured 20.8 s
    // single-run at sf1; caching tf alone still left two re-derivations
    // through the df lineage)
    val tf = termTfAndDict(docs)._1.cache()
    val dftN = tf
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tot = dl.agg(sum("dl").as("sum_dl"))
    val wt = tf
      .join(dftN, "term")
      .withColumn(
        "idf6",
        round(
          log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) * 1e6
        ).cast("long")
      )
    val qterms = wt
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("term"))
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
        ((col("dl").cast("double") * col("n_docs")) / col("sum_dl"))))
    val wTop = Window
      .partitionBy("query_id")
      .orderBy(col("score6").desc, col("doc_id").asc)
    broadcast(qterms)
      .join(wt.select(col("doc_id"), col("term"), col("tf"), col("n_docs"), col("idf6")), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("contrib6", floor(col("idf6").cast("double") * sat).cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib6").as("score6"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 5)
      .select("query_id", "rnk", "doc_id", "score6")
      .orderBy("query_id", "rnk")
  }

  /** v35/v36 trainer configuration: 4 batch-GD iterations over a bias +
    * 7-dim feature slice at learning rate 0.5. Small on purpose — the
    * oracle unrolls one CTE pair per iteration and one column per
    * weight; the PLAN is invariant in both (one slim scan + one
    * map-side-combined agg per iteration, whatever K and F are). */
  val logregIters = 4
  val logregFeatures = 7
  val logregLr = 0.5

  private def logregP: Int = logregFeatures + 1

  /** The (bias, embedding dims, binary label) projection both the trainer
    * and the scorer read: x0 = 1.0, x1..x7 = dims 0..6 widened
    * float→double (exact). At 100 TB this is the ONLY shape the
    * iterations touch — F+2 doubles per row, not the raw 64-dim vector.
    *
    * The target is the TEACHER rule y = [x1 + x2 > 0] rather than the
    * fixture's label parity: the synthetic labels carry no linear signal
    * in any dim (per-class means differ by ~0.01 — measured), so a
    * parity-trained model degenerates to the majority class and the gate
    * would certify a trainer that provably learned nothing. The teacher
    * target has a known recoverable separator, so the correctness gate
    * can also assert DESCENT (96% accuracy vs the 50% majority floor,
    * weights concentrated on w1/w2 — spec-pinned). Real quality labels
    * (human/LLM-annotated) swap in as a column, changing nothing in the
    * plan. */
  private[graft] def logregFeatureFrame(s: SparkSession, d: String): DataFrame =
    logregProject(Tables.embeddings(s, d))

  /** The projection applied to ANY (vec_id, embedding) frame — shared
    * with the streaming trainer so batch and stream score the identical
    * feature/label definition. */
  private[graft] def logregProject(df: DataFrame): DataFrame = {
    val x = (j: Int) => col("embedding").getItem(j - 1).cast("double")
    val cols =
      Seq(col("vec_id").cast("long").as("vec_id"), lit(1.0).as("x0")) ++
        (1 to logregFeatures).map(j => x(j).as(s"x$j")) :+
        when(x(1) + x(2) > 0, 1.0).otherwise(0.0).as("y")
    df.select(cols: _*)
  }

  /** The margin w·x under the CURRENT weights, built left-associated
    * (w0*x0 + w1*x1 + ...) so the float addition order is pinned — the
    * oracle writes the identical chain and IEEE doubles make the two
    * engines agree bit for bit (no transcendentals anywhere in this
    * family: the sigmoid is the RATIONAL z/(1+|z|) form). */
  private def logregMargin(w: Array[Double]): Column =
    (0 until logregP).map(j => lit(w(j)) * col(s"x$j")).reduceLeft(_ + _)

  /** One GD iteration's gradient over `feats` under weights `w`: per-row
    * error from the rational sigmoid, per-feature contribution floored
    * to the 1e-9 integer grid, summed as BIGINTs — so the corpus-wide
    * gradient is EXACT and independent of partitioning and summation
    * order (the t62/m7d ledger discipline applied to learning).
    * Returns (per-feature gradient sums ×1e9, row count). */
  private[graft] def logregGradients(
      feats: DataFrame,
      w: Array[Double]
  ): (Array[Long], Long) = {
    val p = w.length
    val z = (0 until p).map(j => lit(w(j)) * col(s"x$j")).reduceLeft(_ + _)
    val err = (lit(0.5) * (z / (lit(1.0) + abs(z)) + lit(1.0))) - col("y")
    val aggs = (0 until p).map(j =>
      sum(floor((col("err") * col(s"x$j")) * lit(1.0e9)).cast("long")).as(s"g$j")
    ) :+ count(lit(1)).as("n")
    val row = feats.withColumn("err", err).agg(aggs.head, aggs.tail: _*).collect()(0)
    ((0 until p).map(row.getLong).toArray, row.getLong(p))
  }

  private val logregCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Seq[(Int, Array[Long], Long, Array[Double])]]

  /** The v35 trainer loop: K batch-GD iterations, each ONE slim-scan
    * aggregation collecting a single (F+2)-column row; the weight vector
    * is driver state like t62's merge picks. Memoized per fixture
    * content so train-once-score-many (v36, the schema gate) reuses the
    * picks. Returns per iteration (iter, gradient sums, n, weights
    * AFTER the update). */
  private def logregLedger(
      s: SparkSession,
      d: String
  ): Seq[(Int, Array[Long], Long, Array[Double])] =
    logregCache.getOrElseUpdate(
      WarehouseStore.fixtureSnapshot(d, "embeddings.parquet"), {
        val feats = logregFeatureFrame(s, d).cache()
        try {
          var w = Array.fill(logregP)(0.0)
          val out = Seq.newBuilder[(Int, Array[Long], Long, Array[Double])]
          for (it <- 1 to logregIters) {
            val (g, n) = logregGradients(feats, w)
            w = (0 until logregP).map { j =>
              w(j) - logregLr * ((g(j).toDouble / n.toDouble) / 1.0e9)
            }.toArray
            out += ((it, g, n, w))
          }
          out.result()
        } finally { feats.unpersist(); () }
      }
    )

  /** v35 — supervised QUALITY-CLASSIFIER TRAINING (distributed batch
    * gradient descent for logistic regression): the missing half of the
    * corpus-filter story — t47 serves a linear model, v35 FITS one, the
    * way the fastText-style quality classifiers behind DCLM / FineWeb-Edu
    * filtering are fit on labeled documents. Emits the training ledger:
    * per (iteration, weight) the exact integer gradient sum and the
    * updated weight on the 1e-9 grid.
    *
    * Cross-engine determinism is designed, not hoped for: the sigmoid is
    * the RATIONAL approximation 0.5·(z/(1+|z|)+1) — only +,*,/,abs, all
    * IEEE-correctly-rounded, so both engines compute bit-equal doubles
    * where exp() would drift by ULPs — and every per-row gradient
    * contribution is floored to an integer before the sum, so the
    * reduction is order-independent (same ledger whatever the partition
    * count; spec-pinned). The oracle unrolls the SAME loop as CTE pairs
    * generated from the same constants, so K and the update algebra
    * cannot drift between engines.
    *
    * Scale: the corpus is projected ONCE to (bias, F dims, y) and
    * cached; each iteration is one map-side-combined agg returning ONE
    * row (F+1 longs). K scans of an (F+2)-double projection — the plan
    * MLlib's own batch LBFGS/GD runs per step, with the model as driver
    * state. Cost is K·F per row inside WholeStageCodegen; no shuffle
    * beyond the F+1-column partial-agg exchange of 1 row per task.
    * Multiclass (the FineWeb-Edu-style 0–5 scorer) is the same plan with
    * C·(F+1) sum columns in the one agg — one-vs-rest trains every class
    * in the same single scan per iteration; it is not declared as a query
    * because the fixture labels carry no linear signal to recover
    * (measured 12.8% one-vs-rest accuracy on all 64 dims vs the 10%
    * floor — the gate would certify noise). */
  private def v35LogregFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    logregLedger(s, d)
      .flatMap { case (it, g, _, w) =>
        (0 until logregP).map { j =>
          (it.toLong, j.toLong, g(j), math.floor(w(j) * 1.0e9).toLong)
        }
      }
      .toDF("iter", "j", "g_sum", "w_after9")
      .orderBy("iter", "j")
  }

  /** v36 — the trained classifier's SCORING pass + confusion matrix:
    * v35's final weights ride the scan as literals (join-free, the t47
    * serving plan with LEARNED weights), every vector gets its margin
    * z = w·x, and the output is the (true label, predicted) confusion
    * matrix with exact integer margin sums. The decision threshold is
    * z ≥ 0 — the rational sigmoid crosses 0.5 exactly at z = 0, so the
    * verdict needs no float comparison beyond the sign. */
  private def v36LogregScore(s: SparkSession, d: String): DataFrame = {
    val w = logregLedger(s, d).last._4
    logregFeatureFrame(s, d)
      .withColumn("z", logregMargin(w))
      .select(
        col("y").cast("long").as("label_bin"),
        (col("z") >= 0).cast("long").as("pred_pos"),
        col("z")
      )
      .groupBy("label_bin", "pred_pos")
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("z") * lit(1.0e9)).cast("long")).as("sum_margin9")
      )
      .orderBy("label_bin", "pred_pos")
  }

  val queries: Map[String, Q] = Map(
    "v35_logreg_fit" -> (v35LogregFit _),
    "v36_logreg_score" -> (v36LogregScore _),
    "v37_bm25_topk" -> (v37Bm25Topk _),
    "v27_hard_negatives" -> (v27HardNegatives _),
    "v26_hamming_rerank" -> (v26HammingRerank _),
    "v24_hamming_ann" -> (v24HammingAnn _),
    "v25_matryoshka_recall" -> (v25MatryoshkaRecall _),
    "v23_probe_sweep" -> ((s: SparkSession, d: String) => v23ProbeSweep(s, d)),
    "v21_kmeans_fit" -> (v21KmeansFit _),
    "v28_cluster_sample" -> (v28ClusterSample _),
    "v29_ndcg_eval" -> (v29NdcgEval _),
    "v30_jl_distortion" -> (v30JlDistortion _),
    "v31_rocchio_feedback" -> (v31RocchioFeedback _),
    "v32_kcenter_coreset" -> (v32KcenterCoreset _),
    "v33_kcenter_radius" -> (v33KcenterRadius _),
    "v34_label_noise" -> (v34LabelNoise _),
    "v22_graph_pagerank" -> (v22GraphPagerank _),
    "v19_ann_recall_eval" -> (v19AnnRecallEval _),
    "v18_sq_calibrated" -> (v18SqCalibrated _),
    "v17_knn_graph" -> (v17KnnGraph _),
    "v38_graph_ann" -> (v38GraphAnn _),
    "v39_index_frontier" -> (v39IndexFrontier _),
    "v16_ann_filtered" -> (v16AnnFiltered _),
    "v15_range_search" -> (v15RangeSearch _),
    "v14_hybrid_rrf" -> (v14HybridRrf _),
    "v14b_rrf_dropped_terms" -> (v14bRrfDroppedTerms _),
    "v13_mmr_rerank" -> (v13MmrRerank _),
    "v12_semantic_clusters" -> (v12SemanticClusters _),
    "v12b_semantic_clusters_banded" -> (v12bSemanticClustersBanded _),
    "v12c_semantic_clusters_auto" -> (v12cSemanticClustersAuto _),
    "v1_ann_bruteforce" -> (v1AnnBruteforce _),
    "v2_embed_cosine_dedup" -> (v2EmbedCosineDedup _),
    "v3_ann_lsh" -> (v3AnnLsh _),
    "v4_minhash_lsh" -> (v4MinhashLsh _),
    "v5_simhash" -> (v5Simhash _),
    "v6_ann_ivf" -> ((s: SparkSession, d: String) => IvfAnn.query(s, d)),
    "v20_index_upsert" -> ((s: SparkSession, d: String) => IvfAnn.upsert(s, d)),
    "v7_label_centroids" -> (v7LabelCentroids _),
    "v8_embed_quantize" -> (v8EmbedQuantize _),
    "v9_ann_quantized" -> (v9AnnQuantized _),
    "v10_ann_ivf_quantized" -> ((s: SparkSession, d: String) => IvfAnn.queryQuantized(s, d)),
    "v11_ann_pq" -> ((s: SparkSession, d: String) => PqAnn.query(s, d))
  )

  /** v4 carries a SEMI-oracle (see [[v4Oracle]]): its verification stage
    * is exact, so the output is hash-checked against the exact pair set.
    *
    * v5 is FULLY oracle-checked since round 6: its shingle hash is the
    * md5-prefix scheme, so the DuckDB side rebuilds every simhash bit from
    * `substr(md5(g), 1, 16)` (bit j lives in hex digit 16 - j/4 at digit
    * bit j%4), reproduces the ±1 bit sums, the 4×16-bit bands, and the
    * Hamming verify — no engine-specific hashing anywhere in the pipeline.
    *
    * v3 WAS in that set while its signature used xxhash64; since the
    * round-2 rewrite it is hash-free (sign bits of graft_dot against
    * deterministic ±1 planes), so it gets the same full oracle treatment
    * as v6/v9: the 64×64 plane table is emitted into the SQL as literals,
    * each band's 4-bit hash is rebuilt from the sign bits (per-band, so
    * DuckDB's overflow-checked BIGINT never sees bit 63), and the re-rank
    * cosine mirrors graft_dot's double accumulation exactly.
    *
    * v6 IS oracle-checked: the IVF build is hash-free and deterministic
    * (id-ordered seeds, 2 unrolled Lloyd iterations, float-rounded
    * centroids), so the whole index + probe + re-rank pipeline is
    * reproducible in SQL. Rank-only output keeps ulp-level cross-engine
    * float noise out of the hash, same as v1. */
  private val ivfAssignDist: String =
    """list_sum(list_transform(range(1, 65),
      |            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))
      |               * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))))""".stripMargin

  private def ivfAssign(cents: String, name: String, src: String = "embeddings"): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM $src e CROSS JOIN $cents c
       |  ) WHERE rn = 1
       |)""".stripMargin

  private def ivfUpdate(assigned: String, name: String): String =
    s"""${name}_u AS (
       |  SELECT cid, i AS dim, CAST(avg(CAST(x AS DOUBLE)) AS REAL) AS m
       |  FROM (SELECT cid, unnest(embedding) AS x,
       |          generate_subscripts(embedding, 1) AS i FROM $assigned)
       |  GROUP BY cid, i
       |), $name AS (
       |  SELECT cid, list(m ORDER BY dim) AS centroid FROM ${name}_u GROUP BY cid
       |)""".stripMargin

  private val v1Oracle: String =
    s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), scored AS (
           SELECT query_id, vec_id,
             ${duckDot("qe", "embedding")}
               / (sqrt(${duckDot("qe", "qe")})
                * sqrt(${duckDot("embedding", "embedding")})) AS cos
           FROM embeddings, q WHERE vec_id <> query_id
         ), ranked AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM scored
         )
         SELECT query_id, rnk, vec_id AS neighbor_id FROM ranked
         WHERE rnk <= 5 ORDER BY query_id, rnk"""

  private val v6Oracle: String =
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |probes AS (
       |  SELECT qid, qe, cid FROM (
       |    SELECT e.vec_id AS qid, e.embedding AS qe, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents2 c
       |    WHERE e.vec_id < 10
       |  ) WHERE rn <= 4
       |), ranked AS (
       |  -- double cosine in graft_dot's exact op order (not the
       |  -- float-typed list_cosine_similarity) so near-tie ranks cannot
       |  -- flip between engines
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${duckDot("qe", "embedding")}
       |            / (sqrt(${duckDot("qe", "qe")})
       |             * sqrt(${duckDot("embedding", "embedding")})) DESC,
       |        vec_id ASC) AS rnk
       |  FROM probes JOIN indexed USING (cid)
       |  WHERE vec_id <> qid
       |)
       |SELECT qid AS query_id, rnk, vec_id AS neighbor_id
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** VALUES literal of the first `nPlanes` rows of the ±1 plane table,
    * built from the same [[planeSign]] the implementation uses — the oracle
    * is still a static SQL string once rendered (dumped to oracle_sql.json
    * by Verify). v3 consumes planes 0..63; v12b's 16×8 banding 0..127. */
  private[graft] def planeValues(nPlanes: Int): String = (0 until nPlanes).map { j =>
    val row = (0 until 64)
      .map(k => if (planeSign(j, k) > 0) "1" else "-1")
      .mkString("[", ",", "]")
    s"($j, CAST($row AS DOUBLE[]))"
  }.mkString(",\n")

  private val v3PlaneValues: String = planeValues(64)

  /** Exact double dot product in index order — bit-identical to graft_dot
    * (float operands promoted to double, accumulated left-to-right). */
  // v20: the v6 fit CTEs restricted to the existing corpus (vec_id%10<>0),
  // then one assignment pass per side against the final centroids,
  // aggregated to the per-list upsert ledger
  private val v20Oracle: String =
    s"""WITH existing AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
       |), increment AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
       |), seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM existing ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0", "existing")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1", "existing")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "assignE", "existing")},
       |${ivfAssign("cents2", "assignI", "increment")},
       |old AS (SELECT cid, count(*) AS old_size FROM assignE GROUP BY cid),
       |arr AS (SELECT cid, count(*) AS added FROM assignI GROUP BY cid)
       |-- FULL outer + NULL growth on empty lists, mirroring the Spark
       |-- side: an all-arrivals list must stay in the ledger
       |SELECT CAST(cid AS BIGINT) AS cid,
       |  COALESCE(old_size, 0) AS old_size,
       |  COALESCE(added, 0) AS added,
       |  COALESCE(old_size, 0) + COALESCE(added, 0) AS new_size,
       |  CASE WHEN COALESCE(old_size, 0) = 0 THEN NULL
       |       ELSE round(CAST(COALESCE(added, 0) AS DOUBLE)
       |                  / COALESCE(old_size, 0), 6) END AS growth
       |FROM old FULL OUTER JOIN arr USING (cid) ORDER BY cid""".stripMargin

  private def duckDot(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin

  /** duckDot over the first `n` dims — the matryoshka-prefix variant
    * (same element-order accumulation `graft_dot` uses). */
  private def duckDotN(a: String, b: String, n: Int): String =
    s"""list_sum(list_transform(range(1, ${n + 1}),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin

  private val v3Oracle: String =
    s"""WITH planes(j, plane) AS (VALUES
       |$v3PlaneValues
       |), bits AS (
       |  SELECT e.vec_id, p.j,
       |    CASE WHEN list_sum(list_transform(range(1, 65),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
       |      THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e CROSS JOIN planes p
       |), bands AS (
       |  -- band b holds sig bits [4b, 4b+4): identical to the Spark side's
       |  -- (sig >> 4b) & 15 because the bits are disjoint powers of two
       |  SELECT vec_id, j // 4 AS band,
       |    CAST(sum(bit * (1 << (j % 4))) AS BIGINT) AS bh
       |  FROM bits GROUP BY vec_id, band
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
       |  FROM bands q JOIN bands c USING (band, bh)
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${duckDot("q.embedding", "c.embedding")}
       |            / (sqrt(${duckDot("q.embedding", "q.embedding")})
       |             * sqrt(${duckDot("c.embedding", "c.embedding")})) DESC,
       |        cand.vec_id ASC) AS rnk
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.vec_id
       |)
       |SELECT query_id, rnk, vec_id AS neighbor_id
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Squared L2 in the oracle, mirroring graft_dist2's op order. */
  private def duckDist2(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin

  /** v10 oracle = the v6 construction (unrolled Lloyd → indexed) composed
    * with the v9 construction (int8 quantize → coarse rank → exact
    * re-rank), restricted to the probed lists. */
  private val v10Oracle: String =
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |quant AS (
       |  SELECT vec_id, cid, embedding,
       |    list_transform(embedding, x ->
       |      CASE WHEN mx = 0 THEN 0.0
       |           ELSE round(CAST(x AS DOUBLE) / (mx / 127.0)) END) AS qf
       |  FROM (SELECT *,
       |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
       |            AS mx
       |        FROM indexed)
       |), qnorm AS (
       |  SELECT vec_id, cid, embedding, qf,
       |    sqrt(list_sum(list_transform(range(1, 65), i -> qf[i] * qf[i]))) AS qn
       |  FROM quant
       |), probes AS (
       |  SELECT qid, qe, query_qf, query_qn, cid FROM (
       |    SELECT n.vec_id AS qid, n.embedding AS qe, n.qf AS query_qf,
       |      n.qn AS query_qn, c.cid,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${duckDist2("n.embedding", "c.centroid")} ASC,
       |          c.cid ASC) AS rn
       |    FROM qnorm n CROSS JOIN cents2 c
       |    WHERE n.vec_id < 10
       |  ) WHERE rn <= 4
       |), coarse AS (
       |  SELECT p.qid, n.vec_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> p.query_qf[i] * n.qf[i])) / (p.query_qn * n.qn) AS qcos,
       |    ${duckDot("p.qe", "n.embedding")}
       |      / (sqrt(${duckDot("p.qe", "p.qe")})
       |       * sqrt(${duckDot("n.embedding", "n.embedding")})) AS cos
       |  FROM probes p JOIN qnorm n USING (cid)
       |  WHERE n.vec_id <> p.qid
       |), c10 AS (
       |  SELECT qid, vec_id, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY qcos DESC, vec_id ASC) AS crn
       |  FROM coarse
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id ASC) AS rnk
       |  FROM c10 WHERE crn <= 10
       |)
       |SELECT qid AS query_id, rnk, vec_id AS neighbor_id
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** v17 oracle: v6's unrolled-Lloyd index construction, probed by EVERY
    * vector (rn <= 4 nearest lists), self-joined within lists, exact
    * double cosine in graft_dot's op order, rank-only output. */
  private val v17Oracle: String =
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |probes AS (
       |  SELECT src_id, qe, cid FROM (
       |    SELECT e.vec_id AS src_id, e.embedding AS qe, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents2 c
       |  ) WHERE rn <= 4
       |), ranked AS (
       |  SELECT p.src_id, i.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY p.src_id
       |      ORDER BY ${duckDot("p.qe", "i.embedding")}
       |            / (sqrt(${duckDot("p.qe", "p.qe")})
       |             * sqrt(${duckDot("i.embedding", "i.embedding")})) DESC,
       |        i.vec_id ASC) AS rnk
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE i.vec_id <> p.src_id
       |)
       |SELECT src_id AS vec_id, rnk, nbr_id AS neighbor_id
       |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  /** v38: the v17 graph CTEs (edges at k=3), the query's probed-list
    * members off the same fit (v6's seed scan), then the UNROLLED
    * expansion — seed top-5, neighbor hop, beam-of-4 hop — and the
    * visited set's exact top-5 with its count. Same rank-only +
    * integer-anchor hash discipline as v1/v17; duckDot mirrors
    * graft_dot's double accumulation so beam composition can't drift. */
  /** v23's oracle, factored to a val so v39's combined frontier can
    * embed the IVF arm verbatim. */
  private val v23OracleSql: String =
    s"""WITH seeds AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
         |  FROM embeddings ORDER BY vec_id LIMIT 16
         |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
         |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
         |${ivfAssign("cents2", "indexed")},
         |probes AS (
         |  SELECT qid, qe, cid, rn AS probe_rank FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qe, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents2 c
         |    WHERE e.vec_id < 10
         |  ) WHERE rn <= 8
         |), sweep AS (
         |  SELECT p.qid, p.qe, p.cid, s.n_probe
         |  FROM probes p
         |  JOIN (VALUES (1), (2), (4), (8)) s(n_probe)
         |    ON s.n_probe >= p.probe_rank
         |), cand AS (
         |  SELECT sweep.qid, sweep.n_probe, i.vec_id,
         |    ${duckDot("qe", "embedding")}
         |      / (sqrt(${duckDot("qe", "qe")})
         |       * sqrt(${duckDot("embedding", "embedding")})) AS cos
         |  FROM sweep JOIN indexed i USING (cid)
         |  WHERE i.vec_id <> sweep.qid
         |), ncand AS (
         |  SELECT n_probe, count(*) AS n_candidates FROM cand GROUP BY n_probe
         |), top AS (
         |  SELECT qid, n_probe, vec_id FROM (
         |    SELECT qid, n_probe, vec_id,
         |      row_number() OVER (PARTITION BY qid, n_probe
         |                         ORDER BY cos DESC, vec_id ASC) AS rnk
         |    FROM cand
         |  ) WHERE rnk <= 5
         |), hits AS (
         |  SELECT t.n_probe, count(e.neighbor_id) AS n_hits
         |  FROM top t LEFT JOIN ($v1Oracle) e
         |    ON e.query_id = t.qid AND e.neighbor_id = t.vec_id
         |  GROUP BY t.n_probe
         |)
         |SELECT n.n_probe, n.n_candidates, h.n_hits,
         |  CAST(h.n_hits AS DOUBLE) / 50.0 AS recall
         |FROM ncand n JOIN hits h USING (n_probe)
         |ORDER BY n_probe""".stripMargin

  private val v38Oracle: String = {
    def cosExpr(q: String, c: String) =
      s"""${duckDot(q, c)}
         |            / (sqrt(${duckDot(q, q)})
         |             * sqrt(${duckDot(c, c)}))""".stripMargin
    def beam(sN: String, bN: String, width: Int) =
      s"""$bN AS (
         |  SELECT query_id, cand FROM (
         |    SELECT query_id, cand, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, cand ASC) AS rnk
         |    FROM $sN
         |  ) WHERE rnk <= $width
         |)""".stripMargin
    def rescore(vN: String, sN: String) =
      s"""$sN AS (
         |  SELECT v.query_id, v.cand, ${cosExpr("q.qe", "e2.embedding")} AS cos
         |  FROM $vN v JOIN qs q USING (query_id)
         |  JOIN embeddings e2 ON e2.vec_id = v.cand
         |  WHERE v.cand <> v.query_id
         |)""".stripMargin
    def expand(prevPairs: String, bN: String, vN: String) =
      s"""$vN AS (
         |  SELECT DISTINCT query_id, cand FROM (
         |    SELECT query_id, cand FROM $prevPairs
         |    UNION ALL
         |    SELECT b.query_id, g.dst AS cand
         |    FROM $bN b JOIN edges0 g ON g.src = b.cand
         |  )
         |)""".stripMargin
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |probes AS (
       |  SELECT src_id, qe, cid FROM (
       |    SELECT e.vec_id AS src_id, e.embedding AS qe, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents2 c
       |  ) WHERE rn <= 4
       |), gr AS (
       |  SELECT p.src_id, i.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY p.src_id
       |      ORDER BY ${duckDot("p.qe", "i.embedding")}
       |            / (sqrt(${duckDot("p.qe", "p.qe")})
       |             * sqrt(${duckDot("i.embedding", "i.embedding")})) DESC,
       |        i.vec_id ASC) AS rnk
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE i.vec_id <> p.src_id
       |), edges0 AS (
       |  SELECT src_id AS src, nbr_id AS dst FROM gr WHERE rnk <= 3
       |), qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < 10
       |), v0 AS (
       |  SELECT DISTINCT p.src_id AS query_id, i.vec_id AS cand
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE p.src_id < 10
       |),
       |${rescore("v0", "s0")},
       |${beam("s0", "b0", 5)},
       |${expand("b0", "b0", "v1")},
       |${rescore("v1", "s1")},
       |${beam("s1", "b1", 4)},
       |${expand("s1", "b1", "v2")},
       |${rescore("v2", "s2")}
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand AS neighbor_id,
       |  n_visited
       |FROM (
       |  SELECT query_id, cand, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand ASC) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_visited
       |  FROM s2
       |) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  /** v39: the v38 CTE prefix with seed/edge RANKS kept, the packed-key
    * admission order (stage*100 + rank*10 + edge rank, earliest kept),
    * the (VALUES) budget replay, and the lscan floor cost — UNION'd
    * with v23's oracle relabeled as the IVF arm. Same rank-only +
    * integer-anchor discipline as v23/v38. */
  private val v39Oracle: String = {
    def cosExpr(q: String, c: String) =
      s"""${duckDot(q, c)}
         |            / (sqrt(${duckDot(q, q)})
         |             * sqrt(${duckDot(c, c)}))""".stripMargin
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |probes AS (
       |  SELECT src_id, qe, cid FROM (
       |    SELECT e.vec_id AS src_id, e.embedding AS qe, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents2 c
       |  ) WHERE rn <= 4
       |), gr AS (
       |  SELECT p.src_id, i.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY p.src_id
       |      ORDER BY ${cosExpr("p.qe", "i.embedding")} DESC,
       |        i.vec_id ASC) AS rnk
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE i.vec_id <> p.src_id
       |), edges0 AS (
       |  SELECT src_id AS src, rnk AS ernk, nbr_id AS dst FROM gr WHERE rnk <= 3
       |), qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < 10
       |), v0 AS (
       |  SELECT DISTINCT p.src_id AS query_id, i.vec_id AS cand
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE p.src_id < 10 AND i.vec_id <> p.src_id
       |), s0 AS (
       |  SELECT v.query_id, v.cand, ${cosExpr("q.qe", "e2.embedding")} AS cos
       |  FROM v0 v JOIN qs q USING (query_id)
       |  JOIN embeddings e2 ON e2.vec_id = v.cand
       |), sd AS (
       |  SELECT query_id, cand, srnk FROM (
       |    SELECT query_id, cand, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand ASC) AS srnk
       |    FROM s0) WHERE srnk <= 5
       |), adm0 AS (
       |  SELECT query_id, cand, srnk * 10 AS akey FROM sd
       |), adm1 AS (
       |  SELECT b.query_id, g.dst AS cand, 100 + b.srnk * 10 + g.ernk AS akey
       |  FROM sd b JOIN edges0 g ON g.src = b.cand
       |), v1c AS (
       |  SELECT DISTINCT query_id, cand FROM (
       |    SELECT query_id, cand FROM adm0
       |    UNION ALL SELECT query_id, cand FROM adm1)
       |  WHERE cand <> query_id
       |), s1 AS (
       |  SELECT v.query_id, v.cand, ${cosExpr("q.qe", "e2.embedding")} AS cos
       |  FROM v1c v JOIN qs q USING (query_id)
       |  JOIN embeddings e2 ON e2.vec_id = v.cand
       |), b1 AS (
       |  SELECT query_id, cand, brnk FROM (
       |    SELECT query_id, cand, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand ASC) AS brnk
       |    FROM s1) WHERE brnk <= 4
       |), adm2 AS (
       |  SELECT b.query_id, g.dst AS cand, 200 + b.brnk * 10 + g.ernk AS akey
       |  FROM b1 b JOIN edges0 g ON g.src = b.cand
       |), admall AS (
       |  SELECT query_id, cand, min(akey) AS akey FROM (
       |    SELECT * FROM adm0 UNION ALL SELECT * FROM adm1
       |    UNION ALL SELECT * FROM adm2)
       |  WHERE cand <> query_id GROUP BY query_id, cand
       |), admpos AS (
       |  SELECT query_id, cand,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY akey ASC, cand ASC) AS pos
       |  FROM admall
       |), scored AS (
       |  SELECT a.query_id, a.cand, a.pos,
       |    ${cosExpr("q.qe", "e2.embedding")} AS cos
       |  FROM admpos a JOIN qs q USING (query_id)
       |  JOIN embeddings e2 ON e2.vec_id = a.cand
       |), sweep AS (
       |  SELECT s.query_id, s.cand, s.cos, b.budget
       |  FROM scored s JOIN (VALUES (8), (16), (32)) b(budget)
       |    ON b.budget >= s.pos
       |), nvis AS (
       |  SELECT budget, count(*) AS n_visited FROM sweep GROUP BY budget
       |), lscan AS (
       |  SELECT count(*) AS n_list_scan FROM v0
       |), top AS (
       |  SELECT query_id, budget, cand FROM (
       |    SELECT query_id, budget, cand,
       |      row_number() OVER (PARTITION BY query_id, budget
       |                         ORDER BY cos DESC, cand ASC) AS rnk
       |    FROM sweep) WHERE rnk <= 5
       |), ghits AS (
       |  SELECT t.budget, count(e.neighbor_id) AS n_hits
       |  FROM top t LEFT JOIN ($v1Oracle) e
       |    ON e.query_id = t.query_id AND e.neighbor_id = t.cand
       |  GROUP BY t.budget
       |), garm AS (
       |  SELECT 'graph' AS family, CAST(n.budget AS BIGINT) AS knob,
       |    CAST(l.n_list_scan + n.n_visited AS BIGINT) AS n_cost,
       |    CAST(h.n_hits AS BIGINT) AS n_hits,
       |    CAST(h.n_hits AS DOUBLE) / 50.0 AS recall
       |  FROM nvis n JOIN ghits h ON h.budget = n.budget CROSS JOIN lscan l
       |), iarm AS (
       |  SELECT 'ivf' AS family, CAST(n_probe AS BIGINT) AS knob,
       |    CAST(n_candidates AS BIGINT) AS n_cost,
       |    CAST(n_hits AS BIGINT) AS n_hits, recall
       |  FROM ($v23OracleSql)
       |)
       |SELECT * FROM iarm UNION ALL SELECT * FROM garm
       |ORDER BY family, knob""".stripMargin
  }

  /** v21: the v6 fit CTEs, then the full-corpus final assignment with a
    * per-cluster population window — every vector's cid is in the hash. */
  private val v21Oracle: String =
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid,
       |  count(*) OVER (PARTITION BY cid) AS cluster_n
       |FROM indexed ORDER BY vec_id""".stripMargin

  /** One integer PageRank iteration as a CTE: per-edge floor-divided
    * contribution, exact BIGINT sum per destination, damped with `//` —
    * the same truncating integer ops the Spark side runs, so the result
    * is bit-identical regardless of either engine's summation order. */
  private def prIter(prev: String, name: String): String =
    s"""$name AS (
       |  SELECT v.vec_id,
       |    (15 * (1000000000000 // (SELECT n FROM nn))) // 100
       |      + (85 * COALESCE(s.s, 0)) // 100 AS pr
       |  FROM verts v LEFT JOIN (
       |    SELECT k.dst AS vec_id, sum(r.pr // d.outdeg) AS s
       |    FROM knn k JOIN deg d USING (src) JOIN $prev r ON r.vec_id = k.src
       |    GROUP BY k.dst
       |  ) s USING (vec_id)
       |)""".stripMargin

  /** v22: the v17 edge CTEs, then 3 unrolled integer power iterations.
    * The final CAST(pr AS BIGINT) matters: prIter's SUM makes pr HUGEINT,
    * which arrow-exports as decimal128 and hash-diverged from Spark's
    * int64 in the driver's r7 canonicalization despite equal values. */
  private val v22Oracle: String =
    s"""WITH seeds AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT 16
       |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
       |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
       |${ivfAssign("cents2", "indexed")},
       |probes AS (
       |  SELECT src_id, qe, cid FROM (
       |    SELECT e.vec_id AS src_id, e.embedding AS qe, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $ivfAssignDist ASC, c.cid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents2 c
       |  ) WHERE rn <= 4
       |), edges AS (
       |  SELECT p.src_id, i.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY p.src_id
       |      ORDER BY ${duckDot("p.qe", "i.embedding")}
       |            / (sqrt(${duckDot("p.qe", "p.qe")})
       |             * sqrt(${duckDot("i.embedding", "i.embedding")})) DESC,
       |        i.vec_id ASC) AS rnk
       |  FROM probes p JOIN indexed i USING (cid)
       |  WHERE i.vec_id <> p.src_id
       |), knn AS (
       |  SELECT src_id AS src, nbr_id AS dst FROM edges WHERE rnk <= 3
       |), deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src),
       |verts AS (SELECT vec_id FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |r0 AS (
       |  SELECT vec_id, 1000000000000 // (SELECT n FROM nn) AS pr FROM verts
       |), ${prIter("r0", "r1")}, ${prIter("r1", "r2")}, ${prIter("r2", "r3")}
       |SELECT vec_id, CAST(pr AS BIGINT) AS pr FROM r3
       |ORDER BY vec_id""".stripMargin

  /** v4 SEMI-oracle. The banding stage uses xxhash64 (not reproducible in
    * DuckDB), but the VERIFICATION stage is exact Jaccard on candidates —
    * and the emitted pair set equals the exact t4 pair set whenever no
    * banding miss occurs, which `LshRecallSpec` asserts at both driver
    * scale factors (32 perms × 8 bands at J>0.8: per-pair miss odds
    * ≤ (1−0.8⁴)⁸ ≈ 1.5%, and zero observed). So the oracle IS the exact
    * pair set with v4's columns: every emitted pair is checked to be a
    * true >0.8 pair with the exactly-right Jaccard value, upgrading v4
    * from rows-only to hash-checked. On a corpus where banding did miss a
    * pair this row would go red while v4's probabilistic contract still
    * held — that trade is intentional; the gate runs on the driver corpus,
    * where equality is asserted. Hashed-shingle counts equal string-shingle
    * counts barring 64-bit collisions (~n²/2⁶⁵). */
  private val v4Oracle: String =
    """WITH words AS (
         SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> length(x) > 0) AS w
         FROM documents
       ), sh AS (
         SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         FROM words WHERE len(w) >= 3
       ), sizes AS (
         SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       ), inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b USING (shingle)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2
       )
       SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
       FROM inter
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) > 0.8
       ORDER BY doc_a, doc_b"""

  /** 8-dim squared L2 between list slices, double, index order —
    * mirrors graft_dist2 over a Spark slice() of the float vector. */
  private def duckSubDist2(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 9),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin

  /** v11 oracle: the PQ build unrolled — per-subspace seed assignment,
    * one Lloyd mean (REAL-rounded like v6), re-encode, ADC sum rounded to
    * 6dp (so the 8-term sum's cross-engine addition-order ulp noise cannot
    * flip a coarse rank; ties fall to vec_id), exact cosine re-rank. */
  private val v11Oracle: String =
    s"""WITH subs AS (SELECT unnest(range(0, 8)) AS s),
       |seedv AS (
       |  SELECT vec_id, embedding,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
       |),
       |seeds AS (
       |  SELECT s, cid, embedding[s*8+1 : s*8+8] AS c
       |  FROM seedv CROSS JOIN subs
       |),
       |svec AS (
       |  SELECT vec_id, s, embedding[s*8+1 : s*8+8] AS sub
       |  FROM embeddings CROSS JOIN subs
       |),
       |assign0 AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT v.vec_id, v.s, sd.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${duckSubDist2("v.sub", "sd.c")} ASC, sd.cid ASC) AS rn
       |    FROM svec v JOIN seeds sd USING (s)
       |  ) WHERE rn = 1
       |),
       |cent_u AS (
       |  SELECT s, cid, i AS dim, CAST(avg(CAST(x AS DOUBLE)) AS REAL) AS m
       |  FROM (
       |    SELECT a.s, a.cid, unnest(v.sub) AS x,
       |      generate_subscripts(v.sub, 1) AS i
       |    FROM assign0 a JOIN svec v ON v.vec_id = a.vec_id AND v.s = a.s
       |  ) GROUP BY s, cid, i
       |),
       |cents AS (
       |  SELECT s, cid, list(m ORDER BY dim) AS c FROM cent_u GROUP BY s, cid
       |),
       |codes AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT v.vec_id, v.s, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id, v.s
       |        ORDER BY ${duckSubDist2("v.sub", "c.c")} ASC, c.cid ASC) AS rn
       |    FROM svec v JOIN cents c USING (s)
       |  ) WHERE rn = 1
       |),
       |adc AS (
       |  SELECT q.vec_id AS query_id, v.vec_id,
       |    round(sum(${duckSubDist2("q.sub", "ct.c")}), 6) AS adist
       |  FROM codes v
       |  JOIN cents ct ON ct.s = v.s AND ct.cid = v.cid
       |  JOIN (SELECT vec_id, s, sub FROM svec WHERE vec_id < 10) q
       |    ON q.s = v.s
       |  WHERE v.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |),
       |c10 AS (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, vec_id ASC) AS crn
       |  FROM adc
       |),
       |ranked AS (
       |  SELECT c10.query_id, c10.vec_id,
       |    row_number() OVER (PARTITION BY c10.query_id
       |      ORDER BY ${duckDot("qq.embedding", "ee.embedding")}
       |            / (sqrt(${duckDot("qq.embedding", "qq.embedding")})
       |             * sqrt(${duckDot("ee.embedding", "ee.embedding")})) DESC,
       |        c10.vec_id ASC) AS rnk
       |  FROM c10
       |  JOIN embeddings qq ON qq.vec_id = c10.query_id
       |  JOIN embeddings ee ON ee.vec_id = c10.vec_id
       |  WHERE c10.crn <= 50
       |)
       |SELECT query_id, rnk, vec_id AS neighbor_id
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** v5's full cross-engine reproduction: positional 3-gram md5 hashes,
    * per-(doc, bit) ±1 sums over all 64 bits of the first 8 md5 bytes,
    * sign → bit, 16-bit band hashes from the disjoint bit ranges, pair
    * candidates from the band join, Hamming ≤ 3 on the full bit vectors. */
  private val v5Oracle: String =
    """WITH words AS (
         SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> length(x) > 0) AS w
         FROM documents
       ), sh AS (
         SELECT doc_id, md5(w[p] || ' ' || w[p+1] || ' ' || w[p+2]) AS hh
         FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS p
               FROM words WHERE len(w) >= 3)
       ), js AS (
         SELECT unnest(range(0, 64)) AS j
       ), sig AS (
         -- bit j of the 64-bit big-endian md5 prefix sits in hex digit
         -- 16 - j/4 (1-based from the left) at digit bit j%4
         SELECT doc_id, j,
           CASE WHEN sum(CASE WHEN
               ((instr('0123456789abcdef',
                       substr(hh, CAST(16 - j // 4 AS INTEGER), 1)) - 1)
                 >> (j % 4)) & 1 = 1
             THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit
         FROM sh CROSS JOIN js
         GROUP BY doc_id, j
       ), sigbits AS (
         SELECT doc_id, list(bit ORDER BY j) AS bits FROM sig GROUP BY doc_id
       ), bands AS (
         SELECT doc_id, j // 16 AS band,
           CAST(sum(bit * (1 << (j % 16))) AS BIGINT) AS bh
         FROM sig GROUP BY doc_id, band
       ), cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y USING (band, bh)
         WHERE x.doc_id < y.doc_id
       )
       SELECT doc_a, doc_b,
         CAST(list_sum(list_transform(range(1, 65),
           i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END))
           AS BIGINT) AS hamming
       FROM cand
       JOIN sigbits a ON a.doc_id = doc_a
       JOIN sigbits b ON b.doc_id = doc_b
       WHERE list_sum(list_transform(range(1, 65),
           i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) <= 3
       ORDER BY doc_a, doc_b"""

  /** The greedy k-center selection unrolled to k literal steps (SQL has
    * no sequential loop), shared by the v32 and v33 oracles: step i's
    * CTE cross-joins the candidates against the ≤i−1 chosen rows, takes
    * min-distance per candidate in duckDist2's index-order double
    * arithmetic, and argmaxes with the same (mind2 DESC, vec_id ASC)
    * tie-break the Spark loop uses. */
  private lazy val v32KcenterCte: String = {
    val steps = (2 to 8).map { i =>
      val prev = s"c${i - 1}"
      s"""n$i AS (
         |  SELECT CAST($i AS BIGINT) AS rank, e.vec_id, e.embedding
         |  FROM embeddings e, $prev
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY e.vec_id, e.embedding
         |  ORDER BY min(${duckDist2("e.embedding", s"$prev.embedding")}) DESC,
         |           e.vec_id ASC
         |  LIMIT 1
         |), c$i AS (
         |  SELECT * FROM $prev UNION ALL SELECT * FROM n$i
         |)""".stripMargin
    }.mkString(", ")
    s"""c1 AS (
       |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, embedding
       |  FROM embeddings ORDER BY vec_id LIMIT 1
       |), $steps""".stripMargin
  }

  /** The v35 trainer unrolled as CTE pairs (g_i = exact integer gradient
    * sums under w_{i-1}; w_i = the update), GENERATED from the same
    * constants as the Spark loop so iteration count, feature slice and
    * update algebra cannot drift. Weight tables are ONE-ROW pivoted CTEs
    * (w0..w7 as columns), so the margin is the same left-associated
    * `w0*x0 + w1*x1 + ...` chain the Spark side builds — the float
    * addition order is pinned on both engines. */
  private def logregOracleCtes: String = {
    val p = logregP
    val sb = new StringBuilder
    sb.append(
      s"""feats AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id, 1.0 AS x0,
         |    ${(1 to logregFeatures)
          .map(j => s"CAST(embedding[$j] AS DOUBLE) AS x$j")
          .mkString(",\n    ")},
         |    CASE WHEN CAST(embedding[1] AS DOUBLE)
         |             + CAST(embedding[2] AS DOUBLE) > 0
         |         THEN 1.0 ELSE 0.0 END AS y
         |  FROM embeddings
         |), w0t AS (SELECT ${(0 until p).map(j => s"0.0 AS w$j").mkString(", ")})""".stripMargin
    )
    for (it <- 1 to logregIters) {
      val prevW = if (it == 1) "w0t" else s"w${it - 1}t"
      val zExpr = (0 until p).map(j => s"w.w$j * f.x$j").mkString(" + ")
      sb.append(
        s""",
           |g$it AS (
           |  SELECT ${(0 until p)
            .map(j =>
              s"CAST(sum(CAST(floor((err * x$j) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g$j")
            .mkString(",\n    ")},
           |    count(*) AS n
           |  FROM (
           |    SELECT 0.5 * (z / (1.0 + abs(z)) + 1.0) - y AS err,
           |      ${(0 until p).map(j => s"x$j").mkString(", ")}
           |    FROM (SELECT $zExpr AS z, f.* FROM feats f CROSS JOIN $prevW w)
           |  )
           |),
           |w${it}t AS (
           |  SELECT ${(0 until p)
            .map(j =>
              s"w.w$j - $logregLr * ((CAST(g.g$j AS DOUBLE) / CAST(g.n AS DOUBLE)) / 1000000000.0) AS w$j")
            .mkString(",\n    ")}
           |  FROM $prevW w CROSS JOIN g$it g
           |)""".stripMargin
      )
    }
    sb.toString
  }

  private def v35OracleSql: String = {
    val p = logregP
    val iterSelects = (1 to logregIters)
      .map { it =>
        s"""SELECT CAST($it AS BIGINT) AS iter,
           |  unnest([${(0 until p).map(j => s"CAST($j AS BIGINT)").mkString(", ")}]) AS j,
           |  unnest([${(0 until p).map(j => s"g.g$j").mkString(", ")}]) AS g_sum,
           |  unnest([${(0 until p)
            .map(j => s"CAST(floor(w.w$j * 1000000000.0) AS BIGINT)")
            .mkString(", ")}]) AS w_after9
           |FROM g$it g CROSS JOIN w${it}t w""".stripMargin
      }
      .mkString("\nUNION ALL\n")
    s"""WITH ${logregOracleCtes}
       |SELECT * FROM (
       |$iterSelects
       |) ORDER BY iter, j""".stripMargin
  }

  private def v36OracleSql: String = {
    val p = logregP
    val zExpr = (0 until p).map(j => s"w.w$j * f.x$j").mkString(" + ")
    s"""WITH ${logregOracleCtes},
       |scored AS (
       |  SELECT f.y, $zExpr AS z
       |  FROM feats f CROSS JOIN w${logregIters}t w
       |)
       |SELECT CAST(y AS BIGINT) AS label_bin,
       |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred_pos,
       |  count(*) AS n,
       |  CAST(sum(CAST(floor(z * 1000000000.0) AS BIGINT)) AS BIGINT)
       |    AS sum_margin9
       |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "v35_logreg_fit" -> v35OracleSql,
    "v36_logreg_score" -> v36OracleSql,
    // BM25 with the v14 dictionary conventions: idf6 is the rounded-ln
    // integer anchor (Lucene +1 floor: positive at any df, no term
    // drop), the saturation factor repeats the Spark side's pinned
    // double expression order, and contributions floor to integers
    // BEFORE the sum so neither engine's aggregation order matters.
    "v37_bm25_topk" ->
      s"""WITH toksq AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> length(x) > 0)) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM toksq GROUP BY 1, 2
         ), dft AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), n AS (
           SELECT count(*) AS n_docs FROM documents
         ), dlt AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(dl) AS BIGINT) AS sum_dl FROM dlt
         ), wt AS (
           SELECT doc_id, term, tf, n_docs,
             CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5)
                           / (df + 0.5)) * 1e6) AS BIGINT) AS idf6
           FROM tf JOIN dft USING (term) CROSS JOIN n
         ), scored AS (
           SELECT q.doc_id AS query_id, c.doc_id,
             CAST(sum(CAST(floor(CAST(c.idf6 AS DOUBLE) *
               ((c.tf * 2.2) / (c.tf + 1.2 * (0.25 + 0.75 *
                 ((CAST(d.dl AS DOUBLE) * c.n_docs) / t.sum_dl))))
             ) AS BIGINT)) AS BIGINT) AS score6
           FROM wt q JOIN wt c USING (term)
             JOIN dlt d ON d.doc_id = c.doc_id
             CROSS JOIN tot t
           WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
           GROUP BY 1, 2
         )
         SELECT query_id, rnk, doc_id, score6 FROM (
           SELECT query_id, doc_id, score6, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY score6 DESC, doc_id) AS BIGINT)
             AS rnk
           FROM scored) WHERE rnk <= 5
         ORDER BY query_id, rnk""",
    // identical position-indexed sign packing (bit 31 max — no sign-bit
    // shifts, so overflow-checked BIGINT agrees with Spark), then
    // XOR+popcount ranking; every output column is an integer
    "v24_hamming_ann" ->
      """WITH packed AS (
           SELECT vec_id,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 1] > 0
                         THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 33] > 0
                         THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
           FROM embeddings
         ), probes AS (
           SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
           FROM packed WHERE vec_id < 10
         ), scored AS (
           SELECT query_id, vec_id,
             CAST(bit_count(xor(q0, w0)) + bit_count(xor(q1, w1)) AS BIGINT)
               AS hamming
           FROM packed, probes WHERE vec_id <> query_id
         ), ranked AS (
           SELECT query_id, vec_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming ASC, vec_id ASC) AS rnk
           FROM scored
         )
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk,
           vec_id AS neighbor_id, hamming
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // v1's scoring CTEs + the label-inequality pair filter; integer ids
    // and labels anchor the hash
    "v27_hard_negatives" ->
      s"""WITH q AS (
           SELECT vec_id AS anchor_id, embedding AS qe, label AS ql
           FROM embeddings WHERE vec_id < 10
         ), scored AS (
           SELECT anchor_id, vec_id, label,
             ${duckDot("qe", "embedding")}
               / (sqrt(${duckDot("qe", "qe")})
                * sqrt(${duckDot("embedding", "embedding")})) AS cos
           FROM embeddings, q
           WHERE vec_id <> anchor_id AND label <> ql
         ), ranked AS (
           SELECT anchor_id, vec_id, label,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM scored
         )
         SELECT anchor_id, CAST(rnk AS BIGINT) AS rnk,
           vec_id AS negative_id, CAST(label AS BIGINT) AS negative_label
         FROM ranked WHERE rnk <= 5 ORDER BY anchor_id, rnk""",
    // v24's packed coarse stage ranked to 50, then the float rerank with
    // graft_dot's accumulation order; only integers in the output
    "v26_hamming_rerank" ->
      s"""WITH packed AS (
           SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 1] > 0
                         THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 33] > 0
                         THEN (CAST(1 AS BIGINT) << i)
                         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
           FROM embeddings
         ), probes AS (
           SELECT vec_id AS query_id, embedding AS qe, w0 AS q0, w1 AS q1
           FROM packed WHERE vec_id < 10
         ), coarse AS (
           SELECT query_id, qe, vec_id, embedding AS ce,
             row_number() OVER (PARTITION BY query_id
               ORDER BY bit_count(xor(q0, w0)) + bit_count(xor(q1, w1)) ASC,
                        vec_id ASC) AS hrnk
           FROM packed, probes WHERE vec_id <> query_id
         ), rer AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY
               ${duckDot("qe", "ce")}
                 / (sqrt(${duckDot("qe", "qe")})
                  * sqrt(${duckDot("ce", "ce")})) DESC, vec_id ASC) AS rnk
           FROM coarse WHERE hrnk <= 50
         )
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS neighbor_id
         FROM rer WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // three cosine rankings off one pair frame (full / 16-prefix /
    // 32-prefix dots with graft_dot's accumulation order), top-5 sets
    // intersected per query; integer hit counts anchor the hash
    "v25_matryoshka_recall" -> {
      def ranked(n: Int): String =
        s"""r$n AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM (
             SELECT query_id, vec_id,
               ${duckDotN("qe", "ce", n)}
                 / (sqrt(${duckDotN("qe", "qe", n)})
                  * sqrt(${duckDotN("ce", "ce", n)})) AS cos
             FROM pairs)
         ), t$n AS (
           SELECT query_id, list_sort(list(vec_id)) AS s$n
           FROM r$n WHERE rnk <= 5 GROUP BY query_id
         )"""
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), pairs AS (
           SELECT query_id, qe, vec_id, embedding AS ce
           FROM embeddings, q WHERE vec_id <> query_id
         ), ${ranked(64)}, ${ranked(16)}, ${ranked(32)}
         SELECT query_id,
           CAST(len(list_intersect(s64, s16)) AS BIGINT) AS hits16,
           CAST(len(list_intersect(s64, s32)) AS BIGINT) AS hits32
         FROM t64 JOIN t16 USING (query_id) JOIN t32 USING (query_id)
         ORDER BY query_id"""
    },
    // per-dim p99 clip via the proven exact-interpolated percentile;
    // clip-then-scale in the identical op order as the zip_with lambda
    "v18_sq_calibrated" ->
      s"""WITH comp AS (
           SELECT generate_subscripts(embedding, 1) AS dim,
             abs(CAST(unnest(embedding) AS DOUBLE)) AS x
           FROM embeddings
         ), clips AS (
           SELECT dim, quantile_cont(x, 0.99) AS clip FROM comp GROUP BY dim
         ), cl AS (
           SELECT list(clip ORDER BY dim) AS cl FROM clips
         ), quant AS (
           SELECT vec_id, embedding,
             list_transform(range(1, 65), i ->
               CASE WHEN cl[i] = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(greatest(least(CAST(embedding[i] AS DOUBLE),
                           cl[i]), -cl[i]) / cl[i] * 127) AS BIGINT) END) AS q
           FROM embeddings CROSS JOIN cl
         ), qn AS (
           SELECT vec_id, embedding, q,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))) AS qn2
           FROM quant
         )
         -- zero-denominator CASE spelled out (not left to the engine's
         -- division-by-zero default, which changed across DuckDB versions):
         -- all-zero codes => NULL, exactly what the Spark side emits
         SELECT vec_id, array_to_string(q, ',') AS q_csv,
           CASE WHEN qn2 = 0 THEN NULL ELSE round(
             list_sum(list_transform(range(1, 65),
               i -> CAST(q[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
             / (sqrt(qn2)
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
           , 6) END AS cos_keep
         FROM qn ORDER BY vec_id""",
    "v17_knn_graph" -> v17Oracle,
    "v38_graph_ann" -> v38Oracle,
    "v39_index_frontier" -> v39Oracle,
    "v21_kmeans_fit" -> v21Oracle,
    // v21's fit CTEs + a per-cluster md5-ordered row_number cap — the
    // same growth-stable uniform order (t14) in both engines
    "v28_cluster_sample" ->
      s"""WITH seeds AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS centroid
         |  FROM embeddings ORDER BY vec_id LIMIT 16
         |), ${ivfAssign("seeds", "assign0")}, ${ivfUpdate("assign0", "cents1")},
         |${ivfAssign("cents1", "assign1")}, ${ivfUpdate("assign1", "cents2")},
         |${ivfAssign("cents2", "indexed")}
         |SELECT CAST(cid AS BIGINT) AS cid, CAST(rnk AS BIGINT) AS rnk,
         |  vec_id
         |FROM (
         |  SELECT cid, vec_id, row_number() OVER (PARTITION BY cid
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
         |  FROM indexed
         |) WHERE rnk <= 10 ORDER BY cid, rnk""".stripMargin,
    // v1's ranked CTE pivoted to 5 neighbor joins, the expansion as the
    // SAME left-associated double sum REAL-cast per dim, round 2 ranked
    // in graft_dot's op order; is_new from the round-1 left join
    "v32_kcenter_coreset" ->
      s"""WITH $v32KcenterCte
         |SELECT rank, vec_id FROM c8 ORDER BY rank""".stripMargin,
    // the certificate replays the selection CTE, assigns every point to
    // its nearest chosen center with the SAME (d2, rank) tie-break the
    // Spark struct-min uses, and aggregates per center
    "v33_kcenter_radius" ->
      s"""WITH $v32KcenterCte,
         |pts AS (
         |  SELECT e.vec_id AS pid, c.rank AS crank, c.vec_id AS cid,
         |         ${duckDist2("e.embedding", "c.embedding")} AS d2
         |  FROM embeddings e, c8 c
         |),
         |best AS (
         |  SELECT pid, cid, d2,
         |         row_number() OVER (PARTITION BY pid ORDER BY d2, crank) AS rn
         |  FROM pts
         |)
         |SELECT cid AS center_id, COUNT(*) AS n_assigned, MAX(d2) AS radius2
         |FROM best WHERE rn = 1
         |GROUP BY cid ORDER BY center_id""".stripMargin,
    "v34_label_noise" ->
      """WITH q AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xq
        |  FROM embeddings
        |), cent AS (
        |  SELECT label AS cand, dim, SUM(xq) AS sq, COUNT(*) AS n
        |  FROM q GROUP BY label, dim
        |), sc AS (
        |  SELECT q.vec_id, q.label, c.cand, c.n,
        |         SUM(CAST(c.n * q.xq - c.sq AS HUGEINT) *
        |             CAST(c.n * q.xq - c.sq AS HUGEINT)) AS score
        |  FROM q JOIN cent c USING (dim)
        |  GROUP BY q.vec_id, q.label, c.cand, c.n
        |), best AS (
        |  SELECT vec_id, label, cand,
        |         row_number() OVER (
        |           PARTITION BY vec_id
        |           ORDER BY CAST(score AS DOUBLE) / (CAST(n AS DOUBLE) * n), cand
        |         ) AS rn
        |  FROM sc
        |)
        |SELECT label, cand AS nearest_label, CAST(COUNT(*) AS BIGINT) AS n_points
        |FROM best WHERE rn = 1
        |GROUP BY label, cand ORDER BY label, nearest_label""".stripMargin,
    "v31_rocchio_feedback" ->
      s"""WITH r1 AS (SELECT * FROM ($v1Oracle)),
         |piv AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qe,
         |    e1.embedding AS n1, e2.embedding AS n2, e3.embedding AS n3,
         |    e4.embedding AS n4, e5.embedding AS n5
         |  FROM embeddings q
         |  JOIN r1 a1 ON a1.query_id = q.vec_id AND a1.rnk = 1
         |  JOIN embeddings e1 ON e1.vec_id = a1.neighbor_id
         |  JOIN r1 a2 ON a2.query_id = q.vec_id AND a2.rnk = 2
         |  JOIN embeddings e2 ON e2.vec_id = a2.neighbor_id
         |  JOIN r1 a3 ON a3.query_id = q.vec_id AND a3.rnk = 3
         |  JOIN embeddings e3 ON e3.vec_id = a3.neighbor_id
         |  JOIN r1 a4 ON a4.query_id = q.vec_id AND a4.rnk = 4
         |  JOIN embeddings e4 ON e4.vec_id = a4.neighbor_id
         |  JOIN r1 a5 ON a5.query_id = q.vec_id AND a5.rnk = 5
         |  JOIN embeddings e5 ON e5.vec_id = a5.neighbor_id
         |  WHERE q.vec_id < 10
         |), ex AS (
         |  SELECT query_id,
         |    list_transform(range(1, 65), i -> CAST(CAST(qe[i] AS DOUBLE)
         |      + CAST(n1[i] AS DOUBLE) / 5 + CAST(n2[i] AS DOUBLE) / 5
         |      + CAST(n3[i] AS DOUBLE) / 5 + CAST(n4[i] AS DOUBLE) / 5
         |      + CAST(n5[i] AS DOUBLE) / 5 AS REAL)) AS qx
         |  FROM piv
         |), ranked AS (
         |  SELECT ex.query_id, c.vec_id,
         |    row_number() OVER (PARTITION BY ex.query_id
         |      ORDER BY ${duckDot("ex.qx", "c.embedding")}
         |            / (sqrt(${duckDot("ex.qx", "ex.qx")})
         |             * sqrt(${duckDot("c.embedding", "c.embedding")})) DESC,
         |        c.vec_id ASC) AS rnk
         |  FROM ex JOIN embeddings c ON c.vec_id <> ex.query_id
         |)
         |SELECT r.query_id, r.rnk, r.vec_id AS neighbor_id,
         |  (o.neighbor_id IS NULL) AS is_new
         |FROM ranked r
         |LEFT JOIN r1 o
         |  ON o.query_id = r.query_id AND o.neighbor_id = r.vec_id
         |WHERE r.rnk <= 5 ORDER BY r.query_id, r.rnk""".stripMargin,
    // the plane table as literals (v3's scheme, 16 rows), per-dim sums
    // REAL-cast to match graft_project's float output (m6's convention),
    // both distances replayed in graft_dist2's index-order accumulation;
    // integer ratio floors anchor the hash
    "v30_jl_distortion" ->
      s"""WITH planes(j, plane) AS (VALUES
         |${planeValues(16)}
         |), proj AS (
         |  SELECT vec_id, list(s ORDER BY j) AS proj FROM (
         |    SELECT e.vec_id, p.j,
         |      CAST(list_sum(list_transform(range(1, 65),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) AS REAL)
         |        AS s
         |    FROM embeddings e CROSS JOIN planes p
         |  ) GROUP BY vec_id
         |), pairs AS (
         |  SELECT q.vec_id AS query_id, e.vec_id,
         |    ${duckDist2("q.embedding", "e.embedding")} AS d2,
         |    list_sum(list_transform(range(1, 17),
         |      i -> (CAST(qp.proj[i] AS DOUBLE) - CAST(cp.proj[i] AS DOUBLE))
         |         * (CAST(qp.proj[i] AS DOUBLE) - CAST(cp.proj[i] AS DOUBLE))))
         |      AS p2
         |  FROM embeddings q
         |  JOIN embeddings e ON e.vec_id <> q.vec_id
         |  JOIN proj qp ON qp.vec_id = q.vec_id
         |  JOIN proj cp ON cp.vec_id = e.vec_id
         |  WHERE q.vec_id < 10
         |), rated AS (
         |  SELECT query_id,
         |    CASE WHEN d2 > 0
         |      THEN CAST(floor(p2 * 1000000 / (d2 * 16)) AS BIGINT) END
         |      AS ratio6
         |  FROM pairs
         |)
         |SELECT query_id,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN ratio6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zero_dist,
         |  min(ratio6) AS min_ratio6,
         |  max(ratio6) AS max_ratio6,
         |  CAST(sum(ratio6) AS BIGINT) AS sum_ratio6,
         |  CAST(CAST(sum(ratio6) AS BIGINT)
         |    // greatest(count(*) - sum(CASE WHEN ratio6 IS NULL THEN 1
         |                ELSE 0 END), 1) AS BIGINT) AS avg_ratio6
         |FROM rated GROUP BY query_id ORDER BY query_id""".stripMargin,
    // composition of the factored v1 + v6 oracles with the literal
    // integer discount weights — dcg_scaled is exact, ndcg6 is the
    // identical floor division; no logarithm in either engine
    "v29_ndcg_eval" ->
      s"""WITH wts(rnk, w) AS (VALUES
         |  (1, 1000000), (2, 630930), (3, 500000), (4, 430677),
         |  (5, 386853)
         |), probed AS (SELECT * FROM ($v6Oracle)),
         |exact AS (
         |  SELECT query_id, neighbor_id, 6 - rnk AS rel FROM ($v1Oracle)
         |)
         |SELECT p.query_id,
         |  CAST(sum(COALESCE(e.rel, 0) * w.w) AS BIGINT) AS dcg_scaled,
         |  CAST(sum(CASE WHEN e.rel IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overlap,
         |  CAST((CAST(sum(COALESCE(e.rel, 0) * w.w) AS BIGINT) * 1000000)
         |    // $v29Idcg AS BIGINT) AS ndcg6
         |FROM probed p
         |JOIN wts w ON p.rnk = w.rnk
         |LEFT JOIN exact e
         |  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
         |GROUP BY p.query_id ORDER BY p.query_id""".stripMargin,
    "v22_graph_pagerank" -> v22Oracle,
    "v11_ann_pq" -> v11Oracle,
    "v5_simhash" -> v5Oracle,
    "v3_ann_lsh" -> v3Oracle,
    "v4_minhash_lsh" -> v4Oracle,
    "v10_ann_ivf_quantized" -> v10Oracle,
    "v6_ann_ivf" -> v6Oracle,
    "v20_index_upsert" -> v20Oracle,
    "v9_ann_quantized" ->
      """WITH scaled AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
           FROM embeddings
         ), quant AS (
           SELECT vec_id, embedding,
             list_transform(embedding, x ->
               CASE WHEN mx = 0 THEN 0.0
                    ELSE round(CAST(x AS DOUBLE) / (mx / 127.0)) END) AS qf
           FROM scaled
         ), norms AS (
           SELECT vec_id, embedding, qf,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> qf[i] * qf[i]))) AS qn,
             sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
               AS nrm
           FROM quant
         ), coarse AS (
           SELECT q.vec_id AS query_id, c.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> q.qf[i] * c.qf[i])) / (q.qn * c.qn) AS qcos,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE)
                  * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
           FROM norms q JOIN norms c ON c.vec_id <> q.vec_id
           WHERE q.vec_id < 10
         ), c10 AS (
           SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcos DESC, vec_id ASC) AS crn
           FROM coarse
         ), ranked AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
           FROM c10 WHERE crn <= 10
         )
         SELECT query_id, rnk, vec_id AS neighbor_id
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // quantization is deterministic integer output; cos_keep mirrors
    // graft_dot's exact double accumulation order (list_sum over
    // index-ordered double products), so 6dp rounding is stable
    "v8_embed_quantize" ->
      """WITH scaled AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
           FROM embeddings
         ), quant AS (
           SELECT vec_id, embedding,
             list_transform(embedding, x ->
               CAST(CASE WHEN mx = 0 THEN 0
                    ELSE round(CAST(x AS DOUBLE) / (mx / 127.0)) END
                 AS TINYINT)) AS q
           FROM scaled
         ), qn AS (
           SELECT vec_id, embedding, q,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))) AS qn2
           FROM quant
         )
         -- zero-denominator CASE spelled out, mirroring the Spark side's
         -- explicit NULL (reachable only for an all-zero embedding here,
         -- but the edge must be DEFINED identically in both engines)
         SELECT vec_id, array_to_string(q, ',') AS q_csv,
           CASE WHEN qn2 = 0 THEN NULL ELSE round(
             list_sum(list_transform(range(1, 65),
               i -> CAST(q[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
             / (sqrt(qn2)
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))
           , 6) END AS cos_keep
         FROM qn ORDER BY vec_id""",
    "v7_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim, count(*) AS n,
           round(avg(CAST(x AS DOUBLE)), 6) AS mean,
           round(min(CAST(x AS DOUBLE)), 6) AS min_x,
           round(max(CAST(x AS DOUBLE)), 6) AS max_x
         FROM (
           SELECT label, unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
           FROM embeddings
         )
         WHERE i <= 8 GROUP BY label, dim ORDER BY label, dim""",
    "v16_ann_filtered" ->
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), ranked AS (
           SELECT query_id, vec_id, label,
             row_number() OVER (PARTITION BY query_id
               ORDER BY ${duckDot("qe", "embedding")}
                     / (sqrt(${duckDot("qe", "qe")})
                      * sqrt(${duckDot("embedding", "embedding")})) DESC,
                 vec_id ASC) AS rnk
           FROM embeddings, q
           WHERE label IN (0, 1, 2) AND vec_id <> query_id
         )
         SELECT query_id, rnk, vec_id AS neighbor_id, label
         FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""",
    "v15_range_search" ->
      s"""WITH q AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), scored AS (
           SELECT query_id, vec_id,
             ${duckDot("qe", "embedding")}
               / (sqrt(${duckDot("qe", "qe")})
                * sqrt(${duckDot("embedding", "embedding")})) AS cos
           FROM embeddings, q WHERE vec_id <> query_id
         )
         SELECT query_id, count(*) AS n_matches,
           round(max(cos), 6) AS best_cos,
           array_to_string(list_sort(list(vec_id)), ',') AS neighbor_ids
         FROM scored WHERE cos >= 0.3
         GROUP BY query_id ORDER BY query_id""",
    // the hot-term cap's own audit: same tokenize→tf→df pipeline, counting
    // what df>N/2 removes from the dictionary and the posting lists.
    // CAST AS BIGINT: SUM(BIGINT) is HUGEINT in DuckDB → decimal128 over
    // arrow → driver hash mismatch (r7 red row); values themselves equal
    "v14b_rrf_dropped_terms" ->
      """WITH toksq AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> length(x) > 0)) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM toksq GROUP BY 1, 2
         ), dft AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), n AS (
           SELECT count(*) AS n_docs FROM documents
         )
         SELECT count(*) AS dropped_terms,
           CAST(coalesce(sum(df), 0) AS BIGINT) AS dropped_postings
         FROM dft CROSS JOIN n WHERE df > n_docs // 2""",
    "v14_hybrid_rrf" ->
      s"""WITH toksq AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> length(x) > 0)) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM toksq GROUP BY 1, 2
         ), dft AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), n AS (
           SELECT count(*) AS n_docs FROM documents
         ), wt AS (
           -- hot-term cap mirrored from the Spark side: df > N/2 terms
           -- never enter the inverted-index join
           SELECT doc_id, term, tf,
             CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT)
               AS idf6
           FROM tf JOIN dft USING (term) CROSS JOIN n
           WHERE df <= n_docs // 2
         ), lex AS (
           SELECT q.doc_id AS query_id, c.doc_id,
             CAST(sum(q.tf * c.tf * q.idf6) AS BIGINT) AS lex_score
           FROM wt q JOIN wt c USING (term)
           WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
           GROUP BY 1, 2
         ), lexrank AS (
           SELECT query_id, doc_id, r_lex FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY lex_score DESC, doc_id) AS r_lex
             FROM lex) WHERE r_lex <= 50
         ), qv AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), scored AS (
           SELECT query_id, vec_id,
             ${duckDot("qe", "embedding")}
               / (sqrt(${duckDot("qe", "qe")})
                * sqrt(${duckDot("embedding", "embedding")})) AS cos
           FROM embeddings, qv WHERE vec_id <> query_id
         ), vecrank AS (
           SELECT query_id, doc_id, r_vec FROM (
             SELECT query_id, vec_id AS doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r_vec
             FROM scored) WHERE r_vec <= 50
         ), fused AS (
           SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             coalesce(1e0 / (60 + l.r_lex), 0) +
               coalesce(1e0 / (60 + v.r_vec), 0) AS rrf_raw
           FROM lexrank l FULL JOIN vecrank v
             ON v.query_id = l.query_id AND v.doc_id = l.doc_id
         )
         SELECT query_id, rnk, doc_id, round(rrf_raw, 6) AS rrf FROM (
           SELECT query_id, doc_id, rrf_raw, CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY rrf_raw DESC, doc_id) AS BIGINT)
             AS rnk
           FROM fused) WHERE rnk <= 10
         ORDER BY query_id, rnk""",
    // MMR reproduced as a recursive CTE: one new pick per query per
    // iteration (the working table holds only the frontier rows), the
    // chosen set carried as a list, the argmax taken over the 6-dp rounded
    // score exactly as the Generator does
    "v13_mmr_rerank" ->
      s"""WITH RECURSIVE q AS (
           SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < 10
         ), scored AS (
           SELECT query_id, vec_id, embedding,
             ${duckDot("qe", "embedding")}
               / (sqrt(${duckDot("qe", "qe")})
                * sqrt(${duckDot("embedding", "embedding")})) AS cos
           FROM embeddings, q WHERE vec_id <> query_id
         ), cands AS (
           SELECT query_id, vec_id, embedding, cos
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id) AS rn FROM scored)
           WHERE rn <= 20
         ), pairsim AS (
           SELECT c1.query_id, c1.vec_id AS a, c2.vec_id AS b,
             ${duckDot("c1.embedding", "c2.embedding")}
               / (sqrt(${duckDot("c1.embedding", "c1.embedding")})
                * sqrt(${duckDot("c2.embedding", "c2.embedding")})) AS sim
           FROM cands c1 JOIN cands c2
             ON c1.query_id = c2.query_id AND c1.vec_id <> c2.vec_id
         ), sel AS (
           SELECT query_id, 1 AS rnk, vec_id AS cand_id,
             round(cos, 6) AS score, [vec_id] AS chosen
           FROM (SELECT query_id, vec_id, cos, row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
                 FROM cands)
           WHERE rn = 1
           UNION ALL
           SELECT query_id, rnk, cand_id, score,
             list_append(chosen, cand_id) AS chosen
           FROM (
             SELECT s.query_id, s.rnk + 1 AS rnk, c.vec_id AS cand_id,
               round(0.7 * c.cos - 0.3 * max(p.sim), 6) AS score, s.chosen,
               row_number() OVER (PARTITION BY s.query_id
                 ORDER BY round(0.7 * c.cos - 0.3 * max(p.sim), 6) DESC,
                          c.vec_id) AS rn
             FROM sel s
             JOIN cands c ON c.query_id = s.query_id
               AND NOT list_contains(s.chosen, c.vec_id)
             JOIN pairsim p ON p.query_id = s.query_id AND p.a = c.vec_id
               AND list_contains(s.chosen, p.b)
             WHERE s.rnk < 8
             GROUP BY s.query_id, s.rnk, c.vec_id, c.cos, s.chosen
           ) WHERE rn = 1
         )
         SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id AS neighbor_id,
           score
         FROM sel ORDER BY query_id, rnk""",
    "v1_ann_bruteforce" -> v1Oracle,
    // v6's index CTEs with probes widened to max(sweep) and the probe
    // RANK kept; each candidate replays into every sweep point with
    // n_probe >= its rank; the exact side is v1's construction verbatim.
    // Integer n_candidates/n_hits anchor the hash; the denominator is the
    // declared 10x5 sample as a literal in both engines.
    "v23_probe_sweep" -> v23OracleSql,
    // composition of the two factored oracles: recall@5 is a left join of
    // the exact result against the probed result — n_hits (a count) anchors
    // the hash, recall is a display division of it
    "v19_ann_recall_eval" ->
      s"""SELECT e.query_id, count(i.neighbor_id) AS n_hits,
         |  round(count(i.neighbor_id) / 5.0, 6) AS recall
         |FROM ($v1Oracle) e
         |LEFT JOIN ($v6Oracle) i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    "v2_embed_cosine_dedup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.45
         ORDER BY id_a, id_b""",
    // the banded scale path end to end: the 128-plane table as literals
    // (v3's scheme), 16 bands x 8 sign bits, bucket-join candidates (the
    // per-vector degree feeds the hash via n_cand), exact-cosine verify at
    // the production τ=0.9 in graft_dot's op order, recursive closure
    "v12b_semantic_clusters_banded" ->
      s"""WITH RECURSIVE planes(j, plane) AS (VALUES
         |${planeValues(128)}
         |), bits AS (
         |  SELECT e.vec_id, p.j,
         |    CASE WHEN list_sum(list_transform(range(1, 65),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
         |      THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN planes p
         |), bands AS (
         |  -- band b holds plane bits [8b, 8b+8): identical to the Spark
         |  -- side's sum of (1 << k) contributions, the bits are disjoint
         |  SELECT vec_id, j // 8 AS band,
         |    CAST(sum(bit * (1 << (j % 8))) AS BIGINT) AS bh
         |  FROM bits GROUP BY vec_id, band
         |), cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bands x JOIN bands y USING (band, bh)
         |  WHERE x.vec_id < y.vec_id
         |), degree AS (
         |  SELECT vec_id, count(*) AS n_cand FROM (
         |    SELECT id_a AS vec_id FROM cand
         |    UNION ALL
         |    SELECT id_b AS vec_id FROM cand
         |  ) GROUP BY vec_id
         |), pairs AS (
         |  SELECT cand.id_a, cand.id_b
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.id_a
         |  JOIN embeddings b ON b.vec_id = cand.id_b
         |  WHERE ${duckDot("a.embedding", "b.embedding")}
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |       * sqrt(${duckDot("b.embedding", "b.embedding")})) > 0.9
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(vec_id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.vec_id = e.dst
         |), labels AS (
         |  SELECT vec_id, min(lbl) AS cluster_id FROM reach GROUP BY vec_id
         |)
         |SELECT l.vec_id, coalesce(d.n_cand, 0) AS n_cand, l.cluster_id,
         |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         |  l.vec_id = l.cluster_id AS is_canonical
         |FROM labels l LEFT JOIN degree d ON d.vec_id = l.vec_id
         |ORDER BY l.vec_id""".stripMargin,
    // v12b under the AUTO-SOLVED geometry: the oracle re-runs bandGeometry's
    // arithmetic in SQL over count(*) (ln/acos/power on doubles — the same
    // formula, so the pick agrees with Scala's), takes planes [0, bands*bits)
    // from a 532-plane literal table (bits <= 14, enough for any verify
    // corpus up to ~13.9k vectors; sf0.01 picks 14x8, sf0.1 picks 33x13),
    // then the v12b pipeline verbatim with the band width a column instead
    // of a baked literal
    "v12c_semantic_clusters_auto" ->
      s"""WITH RECURSIVE planes(j, plane) AS (VALUES
         |${planeValues(532)}
         |), nn AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
         |), geo AS (
         |  SELECT bits, greatest(1, CAST(ceil(round(
         |      ln(0.01) / ln(1 - power(1 - acos(0.9) / pi(), bits)), 9)
         |    ) AS INTEGER)) AS bands
         |  FROM (SELECT unnest(range(8, 25)) AS bits)
         |), pick AS (
         |  SELECT bits, bands FROM geo, nn
         |  WHERE n * bands / power(2, bits) <= 32 OR bits = 24
         |  ORDER BY bits LIMIT 1
         |), bits_t AS (
         |  SELECT e.vec_id, p.j,
         |    CASE WHEN list_sum(list_transform(range(1, 65),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) >= 0
         |      THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN planes p, pick
         |  WHERE p.j < pick.bands * pick.bits
         |), bands AS (
         |  SELECT vec_id, j // bits AS band,
         |    CAST(sum(bit * (1 << (j % bits))) AS BIGINT) AS bh
         |  FROM bits_t, pick GROUP BY vec_id, j // bits
         |), cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM bands x JOIN bands y USING (band, bh)
         |  WHERE x.vec_id < y.vec_id
         |), degree AS (
         |  SELECT vec_id, count(*) AS n_cand FROM (
         |    SELECT id_a AS vec_id FROM cand
         |    UNION ALL
         |    SELECT id_b AS vec_id FROM cand
         |  ) GROUP BY vec_id
         |), pairs AS (
         |  SELECT cand.id_a, cand.id_b
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.id_a
         |  JOIN embeddings b ON b.vec_id = cand.id_b
         |  WHERE ${duckDot("a.embedding", "b.embedding")}
         |      / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |       * sqrt(${duckDot("b.embedding", "b.embedding")})) > 0.9
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |), reach(vec_id, lbl) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.vec_id = e.dst
         |), labels AS (
         |  SELECT vec_id, min(lbl) AS cluster_id FROM reach GROUP BY vec_id
         |)
         |SELECT l.vec_id, coalesce(d.n_cand, 0) AS n_cand, l.cluster_id,
         |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         |  l.vec_id = l.cluster_id AS is_canonical
         |FROM labels l LEFT JOIN degree d ON d.vec_id = l.vec_id
         |ORDER BY l.vec_id""".stripMargin,
    // v2's pair criterion + recursive-CTE transitive closure — the naive
    // form whose fixpoint the Spark-side label propagation reaches
    "v12_semantic_clusters" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.45
         ), edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL
           SELECT id_b AS src, id_a AS dst FROM pairs
         ), reach(vec_id, lbl) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.vec_id = e.dst
         ), labels AS (
           SELECT vec_id, min(lbl) AS cluster_id FROM reach GROUP BY vec_id
         )
         SELECT vec_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           vec_id = cluster_id AS is_canonical
         FROM labels ORDER BY vec_id"""
  )
}
