package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide structural pins: properties every declared query's
  * physical plan must hold for the catalog to survive a 100× scale-up.
  * Value-level correctness lives in the DuckDB oracles; these assertions
  * keep the PLANS from regressing (a query can stay hash-green while its
  * join strategy silently degrades to something that dies at scale).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no declared query plans an unbroadcast cartesian product") {
    // CartesianProductExec materializes |L|x|R| with BOTH sides shuffled —
    // never acceptable; the intentional all-pairs baselines (v1/v2) and
    // the literal-table probes must all ride BroadcastNestedLoopJoin,
    // where the small side is broadcast by design.
    // Same sweep (plans are expensive to build — one pass serves both
    // pins): no join CONDITION may carry a hash/regex expression. Catalyst
    // happily substitutes a derived column's defining expression into a
    // join condition, where it re-evaluates per COMPARISON — t33's split
    // label cost 2 md5s per probed candidate that way (2× the query)
    // until it was moved to ride the shingle generator.
    val (cartesian, hashJoins) = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // each builder's .cache() calls would otherwise pile up across the
      // sweep and re-ask to cache plans already cached (Verify's hygiene)
      val p = try plan(name) finally spark.catalog.clearCache()
      val cart = if (p.contains("CartesianProduct")) Some(name) else None
      val hash = p.linesIterator
        .filter(_.contains("Join"))
        .find(l => l.contains("md5") || l.contains("regexp") || l.contains("sha2"))
        .map(l => s"$name: ${l.trim.take(160)}")
      Seq(cart.map(Left(_)), hash.map(Right(_))).flatten
    }.partitionMap(identity)
    assert(cartesian.isEmpty, s"cartesian products in: $cartesian")
    assert(hashJoins.isEmpty, s"hash/regex exprs inside join conditions:\n${hashJoins.mkString("\n")}")
  }

  test("the suffix/graph families serve from persisted stores, never gram/graph rebuilds") {
    // t73's matrix must come from rank-group identity — gram TEXT in its
    // plan would mean the corpus-wide materialization the doubling build
    // exists to avoid crept back in
    assert(!plan("t73_source_window_overlap").contains("concat_ws"),
      "t73 materialized gram text — must ride rank groups")
    // t72's probe joins the PERSISTED gram index (arrivals-side gram
    // hashing is fine; a corpus-side rebuild is not)
    assert(plan("t72_incremental_suffix_probe").contains("graft_suffix_grams_"),
      "t72's probe must read the persisted gram index")
    // v38's \"pre-built stored artifact\" claim, structurally: the graph
    // side is a parquet scan of the warehouse store
    assert(plan("v38_graph_ann").contains("graft_knn_graph_"),
      "v38 must serve from the stored kNN graph")
  }

  test("IVF probe joins build on the broadcast probe side, never shuffling the index") {
    for (q <- Seq("v6_ann_ivf", "v10_ann_ivf_quantized")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast probe join")
      assert(!p.contains("SortMergeJoin"), s"$q index side got shuffled:\n$p")
    }
  }

  test("broadcast-side joins in the newest corpus operators never shuffle the corpus") {
    // t38: the eval shingle set meets the training stream in a broadcast
    // join — a sort-merge here would shuffle every corpus shingle on
    // content, the exact cost the operator exists to avoid. v23 inherits
    // v6's broadcast-probe contract end to end.
    for (q <- Seq("t38_contamination_score", "v23_probe_sweep")) {
      assert(!plan(q).contains("SortMergeJoin"), s"$q shuffles its corpus side")
    }
    // t40's corpus-grain joins (doc_id lang join, t20's gram-keyed model)
    // are legitimately sort-merge; the pin is that the bin→bucket map —
    // a bounded histogram — broadcasts back onto the corpus instead of
    // adding another corpus shuffle
    assert(plan("t40_perplexity_buckets").contains("BroadcastHashJoin"),
      "t40's bucket map stopped broadcasting")
  }

  test("post-aggregation metric assemblies plan with zero sort-merge joins") {
    // bounded (week, country/nation) keyspace -> every assembly join
    // must be a broadcast hash join regardless of fact-table size
    for (q <- Seq("j3_weekly_metrics", "ua_full_pipeline")) {
      assert(!plan(q).contains("SortMergeJoin"), s"$q regressed to sort-merge")
    }
    // ua_full's 8-way assembly, pinned by SHAPE: build() runs every
    // corpus-grain operator itself (one concurrent wave of six metric-arm
    // collects), joins the collected rows on the driver and returns one
    // local relation, the top-K ratio projection folded into it. So the
    // frame it returns plans as a local scan: a FileScan or an exchange
    // means an arm went back to being a lazy subplan, and a join means the
    // assembly went back to joining arms inside Spark.
    val cfg = graft.useractivity.UserActivity.Config(
      countries = graft.operators.UserActivityFull.uaCountries)
    val built = graft.useractivity.UserActivity.build(
      graft.operators.UserActivityFull.synthClients(spark, sf),
      graft.operators.UserActivityFull.synthCountryNames(spark, sf),
      graft.operators.UserActivityFull.synthBuildhub(spark, sf),
      cfg).queryExecution.executedPlan.toString
    def count(op: String) = built.linesIterator.count(_.contains(op))
    assert(built.trim.startsWith("LocalTableScan"), s"ua_full assembly is not a local scan:\n$built")
    assert(count("FileScan") == 0, s"ua_full assembly reads its inputs again:\n$built")
    assert(count("Exchange") == 0, s"ua_full assembly shuffles:\n$built")
    assert(count("Join") == 0, s"ua_full assembly joins inside Spark:\n$built")
  }

  test("rank-then-filter queries keep Spark 4's WindowGroupLimit pushdown engaged") {
    // row_number + rank<=k must plan the partial/final group-limit pair —
    // without it every partition sorts its FULL group before the filter,
    // which is the difference between top-k and global-sort cost at scale
    for (q <- Seq("a9_topk_per_group", "e10_latest_per_key", "v13_mmr_rerank",
                  "t32_source_caps", "m6_feature_ann", "v28_cluster_sample")) {
      assert(plan(q).contains("WindowGroupLimit"), s"$q lost the group-limit pushdown")
    }
    // the GLOBAL top-n plans as the even cheaper TakeOrderedAndProject
    // (per-partition heap + merge — no global sort ever materializes)
    assert(plan("w2_top_n").contains("TakeOrderedAndProject"), "w2 regressed to a global sort")
    // t34's merge-candidate top-K is the same contract: limit+order over
    // the pair aggregate must never materialize a range-partitioned sort
    assert(plan("t34_bpe_merge_stats").contains("TakeOrderedAndProject"),
      "t34 regressed to a global sort")
    // t39's vocab-frequency frontier: the only corpus-scale stage is the
    // vocab agg; the top-max(K) boundary must heap-select, never sort the
    // whole vocab across the cluster
    assert(plan("t39_vocab_coverage").contains("TakeOrderedAndProject"),
      "t39 regressed to a global vocab sort")
    // e18's top-20 paths: same contract at the session-path grain
    assert(plan("e18_session_paths").contains("TakeOrderedAndProject"),
      "e18 regressed to a global path sort")
    // t52's top-20 collocations: heap-select over the vocab-sized Dice
    // frame, never a cluster-wide sort of the bigram table
    assert(plan("t52_collocations").contains("TakeOrderedAndProject"),
      "t52 regressed to a global bigram sort")
  }

  test("j10's interval overlap joins on the bucket key, never a nested loop") {
    // a naive range-overlap predicate has no equi-key and plans as
    // BroadcastNestedLoopJoin — quadratic row-pair work. The binning
    // rewrite must keep an equi-join on bucket.
    val p = plan("j10_interval_overlap")
    assert(!p.contains("NestedLoop"), s"j10 regressed to a nested-loop join:\n$p")
    assert(p.contains("Join"), "j10 lost its join entirely")
  }

  test("t33's split labels ride the shingle generator, never re-evaluated per candidate") {
    // the candidate self-join must compare precomputed label ATTRIBUTES;
    // an md5 inside any join condition means the label's defining
    // expression was pushed into the hot comparison loop and re-runs per
    // probed candidate (2 md5+hex decodes per compare — measured 2× the
    // whole query before the generator-ride fix)
    val joins = plan("t33_split_leakage").linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.nonEmpty)
    joins.foreach(l => assert(!l.contains("md5"), s"label expr leaked into a join: $l"))
  }

  test("v14's fuse avoids sort-merge everywhere and keeps the cosine arm broadcast") {
    // the two most expensive joins in the hybrid-retrieval plan: the
    // full-outer rank fuse must ride the (sort-free) shuffled hash join,
    // and the vector arm must stay v1's broadcast-queries single scan;
    // the term joins are broadcast because the query term list is bounded
    val p = plan("v14_hybrid_rrf")
    assert(!p.contains("SortMergeJoin"), s"v14 regressed to sort-merge:\n$p")
    assert(p.contains("ShuffledHashJoin"), "v14's full-outer fuse lost the hash-join hint")
    assert(p.contains("BroadcastNestedLoopJoin"), "v14's cosine arm lost its broadcast scan")
    assert(p.contains("BroadcastHashJoin"), "v14's term join lost the broadcast query side")
  }

  test("one CC propagation round is a fixed set of keyed exchanges — nothing quadratic") {
    // t16/v12's iterative clustering: per-round cost is exactly this plan,
    // repeated (lineage cut between rounds), so the loop scales iff one
    // round does — keyed joins/aggregations over member-only state, a
    // CONSTANT number of hash exchanges, and no broadcast-dependence on
    // state size (auto-broadcast disabled to expose the true shuffle shape)
    import spark.implicits._
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      val edges = graft.operators.GraphOps.bidirectional(pairs, "id_a", "id_b")
      val labels = graft.operators.GraphOps.seedLabels(edges).localCheckpoint()
      val p = graft.operators.GraphOps
        .propagationRound(edges, labels)
        .queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 4, s"propagation round grew extra exchanges ($exchanges):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"propagation round planned an all-pairs join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("v12's banded pair stage plans keyed joins only — the all-pairs scan is gone") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.operators.VectorOps
      .cosinePairsBanded(emb, 0.45)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded pair stage planned an all-pairs join:\n$p")
  }

  test("banded self-joins (v12b, v4, v5) reuse ONE signature exchange") {
    // each banded frame is pre-shuffled on (band, bh) so the self-join's two
    // children are the identical exchange: the signature pass (128-plane
    // scan for v12b, the minhash/simhash aggs for v4/v5) runs ONCE and the
    // second side is a ReusedExchange. Losing the reuse doubles the
    // signature work — the dominant linear term of each banded plan.
    // pinned on the SCALE-shaped plan: broadcasts off, so the self-join
    // runs shuffle-to-shuffle as it would at 100 TB (at tiny scale AQE
    // broadcast-converts and the reuse hides inside shared query stages)
    graft.functions.GraftFunctions.register(spark)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = graft.sources.Tables.embeddings(spark, sf)
      val cand = graft.operators.VectorOps.bandedCandidates(emb, 16, 8)
      cand.collect() // AQE finalizes reuse only on execution
      val pc = cand.queryExecution.executedPlan.toString
      assert(pc.contains("ReusedExchange"),
        s"v12b candidate stage recomputes the signature on both join sides:\n$pc")
      // v4 is exempt: its shingle table is cached, and exchange subtrees
      // over an InMemoryRelation do not canonicalize equal, so ReuseExchange
      // cannot fire — the duplicated side reads the cache, not the corpus,
      // which is the same cost bound the reuse would give
      val df = graft.operators.VectorOps.queries("v5_simhash")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"v5_simhash recomputes its signature agg on both join sides:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("v16's metadata predicate reaches the parquet scan as a pushed filter") {
    // filtered ANN is only "pre-filtering" if the predicate prunes the
    // scan — a Filter node above a full-table scan would read every row
    // group and score nothing cheaper; at 100 TB the same column becomes
    // the partition key and this pushdown upgrades to directory pruning
    val p = plan("v16_ann_filtered")
    assert(p.contains("PushedFilters: [In(label"),
      s"v16's label predicate no longer reaches the scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "v16's query side lost its broadcast")
  }

  test("the sketch-candidate joins stay broadcast — corpus side never shuffles") {
    // a16 pass 2: the <=128 MG candidates broadcast against the token
    // explode; t29: the 256-bucket log-ratio table broadcasts against the
    // (doc, bucket) features. Either regressing to sort-merge would
    // shuffle corpus-scale data to join a constant-size table.
    for (q <- Seq("a16_heavy_hitters", "t29_dsir_importance")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$q regressed to sort-merge:\n$p")
    }
  }

  test("j9's union-window as-of plans with NO join operator at all") {
    // the entire value of the union+window form is that neither side
    // broadcasts, joins, or goes quadratic — the plan is one keyed
    // exchange feeding a running window; any join node appearing here
    // means the operator regressed to a pairing strategy
    val p = plan("j9_asof_union_window")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(j), s"j9 planned a $j:\n$p")
    val keyedExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(keyedExchanges == 1, s"j9 grew extra keyed exchanges ($keyedExchanges):\n$p")
    // j11 (nearest alignment) and e22 (last-touch attribution) are the
    // same contract: the pairing rides carry windows on ONE user-keyed
    // exchange — a join node means the range-join regression. e22 is
    // allowed its second exchange: the |types|-row revenue rollup
    // (bounded keyspace, not a pairing strategy).
    // j12 (SCD point-in-time lookup): dimension construction AND fact
    // lookup on the same one exchange — a join node means the
    // purchase⋈interval range-join regression
    // e29 (abandonment): the temporal ANTI-join on the same carry —
    // exchange #2 is the bounded day rollup
    for ((q, maxEx) <- Seq("j11_nearest_align" -> 1, "e22_last_touch" -> 2,
                           "j12_scd_lookup" -> 1, "e29_abandonment" -> 2)) {
      val pq = plan(q)
      for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!pq.contains(j), s"$q planned a $j:\n$pq")
      val ex = pq.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex <= maxEx, s"$q grew extra keyed exchanges ($ex):\n$pq")
    }
  }

  test("w8 plans Spark's native session-window merge, not a join/self-pass") {
    val p = plan("w8_session_window")
    assert(p.contains("Session"), s"w8 lost the native session-window operator:\n$p")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"w8 planned a $j:\n$p")
  }

  test("e27's burst-length agg is co-located with its window exchange") {
    // the (type, user, burst) grouping keys are a superset of the
    // (user, type) window partitioning, so the burst agg must reuse that
    // exchange; exchange #2 is the |types|-row rollup only
    val p = plan("e27_debounce")
    val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex <= 2, s"e27 grew a second corpus exchange ($ex):\n$p")
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"e27 planned a $j:\n$p")
  }

  test("v21's fit assignment plans join-free: codegen argmin, one keyed window") {
    // the whole-corpus assignment must stay the shuffle-free codegen
    // argmin (graft_pq_encode against the collected centroid literal) —
    // any join node here means the assignment regressed to the old
    // crossJoin-the-centroids shape that shuffles |corpus|×k rows
    val p = plan("v21_kmeans_fit")
    assert(!p.contains("Join"), s"v21 assignment grew a join:\n$p")
    assert(
      p.contains("Exchange hashpartitioning(cid"),
      s"v21 population window lost its cid keying:\n$p"
    )
  }

  test("v32's selection step is one shuffle-free codegen scan with a top-1 take") {
    // each greedy k-center step must stay a full scan with the chosen
    // set folded into a least(graft_dist2…) expression: a Join or an
    // Exchange here means the step regressed to a chosen-set join or a
    // global sort — either squares the k-scan contract at 100 TB
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.sources.Tables
      .embeddings(spark, sf)
      .select("vec_id", "embedding")
    val chosen = Seq((0L, Seq.fill(64)(0.0f)), (1L, Seq.fill(64)(1.0f)))
    val p = graft.operators.VectorOps
      .kcenterStep(emb, chosen)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("Join"), s"v32 step grew a join:\n$p")
    assert(!p.contains("Exchange"), s"v32 step grew a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"v32 step lost the top-1 take:\n$p")
  }

  test("v33's certificate is one join-free scan into an 8-key agg") {
    // the chosen centers fold into a single array_min(struct…) codegen
    // expression; a Join means the certificate regressed to a centers
    // join, which shuffles the corpus at 100 TB for an 8-row side
    val p = graft.operators.VectorOps
      .queries("v33_kcenter_radius")(spark, sf)
      .queryExecution
      .executedPlan
      .toString
    assert(!p.contains("Join"), s"v33 grew a join:\n$p")
  }

  test("v36 serves the trained model join-free — weights ride the scan as literals") {
    // the learned weights must compile into the margin expression (t47's
    // serving shape); a Join means the model regressed to a weight-table
    // join, which shuffles the corpus at 100 TB for an 8-row side
    val p = plan("v36_logreg_score")
    assert(!p.contains("Join"), s"v36 grew a join:\n$p")
  }

  test("the doubling-rank primitive is dedup + range exchange — no window, no join") {
    // orderIds' contract (t65/t66's inner loop): dedup the keys (skew
    // bound), range-exchange, sort within partitions, read the id off
    // monotonically_increasing_id. Any Window/Join/SinglePartition node
    // here means the primitive regressed toward the census/global-rank
    // shapes that cost 3 extra stages per doubling round — or worse, a
    // global dense_rank that funnels the corpus through one task.
    // (t65's FINAL plan hides these stages behind its localCheckpoint
    // lineage cuts, so the pin targets the primitive's own plan.)
    val df = spark.range(1000).selectExpr("id % 37 AS r", "id % 11 AS rn")
    val p = graft.operators.TextOps
      .orderIds(df, Seq("r", "rn"))
      .queryExecution
      .executedPlan
      .toString
    assert(p.contains("rangepartitioning"), s"orderIds lost its range exchange:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"orderIds grew a global funnel:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"orderIds grew extra stages:\n$p")
    assert(p.contains("monotonically_increasing_id"), s"orderIds lost its inline ids:\n$p")
  }

  test("t67's top-20 heap-selects — never a global sort of the span groups") {
    // orderBy + limit over the (r, rn) group aggregate must plan
    // TakeOrderedAndProject (per-partition heap + merge); a range-sorted
    // global ordering here would shuffle every dup group at corpus scale
    val p = plan("t67_dup_spans")
    assert(p.contains("TakeOrderedAndProject"), s"t67 regressed to a global sort:\n$p")
    // the corpus-text join must see the BOUNDED frame (threshold-pruned
    // to <= 20 + count-ties, shipped broadcast): a plan where every dup
    // group reaches the text slice re-opens the round-11 finding — on a
    // boilerplate-heavy corpus the group count is huge and text slicing
    // is the expensive part
    assert(p.contains("BroadcastHashJoin"),
      s"t67's text join lost its broadcast of the pruned groups:\n$p")
  }

  test("t70's corpus-order cumsum never funnels through one partition") {
    // the packing cumsum must stay the two-phase prefix sum (bucket
    // totals + broadcast offsets + in-bucket window) — a global
    // `ORDER BY` window here is the classic one-task corpus funnel
    val p = plan("t70_sequence_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"t70 grew a single-partition funnel:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"t70 lost its broadcast bucket offsets:\n$p")
  }

  test("t74/t70b: token-grain packing keeps the two-phase shape and serves counts from the store") {
    val p74 = plan("t74_bpe_token_shards")
    // the per-doc counts must be the PERSISTED store's parquet, never an
    // in-plan re-encode — the encode-once-per-ingest contract
    assert(p74.contains("graft_bpe_tokens_"),
      s"t74 lost its persisted count store:\n$p74")
    assert(!p74.contains("graft_bpe_encode"),
      s"t74 re-encodes the corpus inside the budget query:\n$p74")
    assert(!p74.contains("Exchange SinglePartition"),
      s"t74 grew a single-partition funnel:\n$p74")
    val p70b = plan("t70b_doc_boundary_packing")
    assert(!p70b.contains("Exchange SinglePartition"),
      s"t70b grew a single-partition funnel:\n$p70b")
    assert(p70b.contains("BroadcastExchange"),
      s"t70b lost its broadcast bucket offsets:\n$p70b")
  }

  test("t75's screen broadcasts the eval side — the corpus is never on a build side") {
    // eval band rows AND eval embeddings ride broadcasts (t10's
    // asymmetry); the training corpus must only ever stream or shuffle
    // keyed — a corpus-side broadcast would OOM the driver at scale
    val p = plan("t75_embed_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"t75 lost its broadcast eval joins:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"t75 grew a single-partition funnel:\n$p")
  }

  test("v39's graph arm serves from the persisted kNN-graph store") {
    val p = plan("v39_index_frontier")
    assert(p.contains("graft_knn_graph_"),
      s"v39 rebuilt the graph instead of reading the store:\n$p")
  }

  test("v22's edge list is built once and cached across rank iterations") {
    // three power iterations re-read the kNN edges; without the cache the
    // whole IVF fit + probe + rank pipeline (the most expensive subplan
    // in the catalog) would replay per iteration
    val p = plan("v22_graph_pagerank")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"v22 edges not cached:\n$p")
  }

  test("t36's snapshot diff is one co-partitioned full-outer merge join") {
    // both snapshots are corpus-sized by definition, so the only
    // acceptable plan is SMJ FullOuter over keyed exchanges — a nested
    // loop (or any broadcast of a snapshot) dies at scale
    val p = plan("t36_corpus_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"t36 lost its full-outer merge join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"t36 planned a nested loop:\n$p")
  }

  test("the binary/matryoshka ANN rankings broadcast probes and keep group-limit pruning") {
    // v24/v25 are v1's broadcast-probes shape: candidates must never
    // shuffle into the pair join, and every rank<=5 must plan the
    // partial/final WindowGroupLimit pair so only k rows per partition
    // reach the per-query exchange
    for (q <- Seq("v24_hamming_ann", "v25_matryoshka_recall")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q lost its broadcast probe join")
      assert(!p.contains("SortMergeJoin"), s"$q shuffled its candidate side")
      assert(p.contains("WindowGroupLimit"), s"$q lost the group-limit pushdown")
    }
  }

  test("e21's lagged activity frame is cached — status/churn/horizon share one events scan") {
    val p = plan("e21_growth_accounting")
    assert(p.contains("InMemoryTableScan"), "e21 lost its lagged-frame cache")
    // the union-agg form: one final (type, week) aggregate, no status⋈churn
    // sort-merge join anywhere
    assert(!p.contains("SortMergeJoin"), s"e21 planned a ledger join:\n$p")
  }

  test("t47 classifier inference is one codegen pass + one doc-grain aggregate — no joins") {
    // the hashing-trick serving path must stay join-free: weight lookup is
    // inline arithmetic, so any Join operator means a weight table snuck in
    val p = plan("t47_quality_classifier")
    assert(!p.contains("Join"), s"t47 planned a join:\n$p")
    assert(p.contains("HashAggregate"), "t47 lost its partial aggregate")
  }

  test("t63's encode pass is join-free — the trained merge list rides the expression") {
    // the corpus encode must stay ONE scan + a doc-grain aggregate: the
    // N merges are literal-embedded replaces, so any Join operator means
    // the merge list degraded to a broadcast table (or worse)
    val p = plan("t63_bpe_encode")
    assert(!p.contains("Join"), s"t63 planned a join:\n$p")
    assert(p.contains("HashAggregate"), "t63 lost its doc-grain partial aggregate")
    // t62's declared OUTPUT is the driver-held merge ledger (the
    // sequential-loop class: each pick is driver state by nature) — its
    // cluster work happens during construction, and the returned frame
    // must stay a local table, never a recomputation
    assert(plan("t62_bpe_train").contains("LocalTableScan"),
      "t62's ledger should be a driver-local frame")
  }

  test("t41/t55 read the persisted signature store — no per-run signature agg in the plan") {
    // The round-9 amortization, pinned structurally: the 8-permutation
    // min-agg (recognizable by the t41A hash-family constant 1103515245)
    // must never appear in the AUDIT queries' plans — signatures come from
    // the graft_minhash_sigs parquet store. The keyed scan (md5 postings)
    // legitimately remains for the exact verify.
    for (q <- Seq("t41_minhash_index_dedup", "t55_minhash_calibration")) {
      val p = plan(q)
      assert(p.contains("graft_minhash_sigs"), s"$q no longer reads the signature store:\n$p")
      assert(!p.contains("1103515245"), s"$q re-aggregates signatures per run:\n$p")
    }
  }

  test("m7b plans keyed band joins only — no cartesian, no full-stream pair distinct") {
    val p = plan("m7b_semantic_dedup_banded")
    assert(!p.contains("CartesianProduct"), s"m7b planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"m7b planned a broadcast-NL join:\n$p")
    // the only aggregate-distinct should sit ABOVE the cos filter (tiny
    // survivors), so the plan's HashAggregate count stays small — the
    // pre-verify pair-distinct form planned an extra exchange pair over
    // the full collision stream
    assert(p.contains("graft_band_hashes"), "m7b lost its fused signature expression")
  }

  test("m8 plans a broadcast panel and a partial WindowGroupLimit — corpus never sorts globally") {
    val p = plan("m8_crossmodal_search")
    assert(p.contains("WindowGroupLimit"),
      s"m8 lost its rank-limit pushdown — the full scored corpus would reach the sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"m8's query panel is no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"m8 planned a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"m8 shuffled the corpus for a join:\n$p")
  }

  test("j13 under the no-broadcast production shape gets a runtime bloom filter into the lineitem scan") {
    // at 100 TB neither side broadcasts: the selective orders slice must
    // reach lineitem as an InjectRuntimeFilter bloom probe
    // (might_contain on l_orderkey) so the fact scan drops ~96% of rows
    // before the shuffle. The thresholds below only remove the size
    // gates that keep the rule dormant at toy scale — the rewrite
    // itself is the stock optimizer's.
    val base = SparkEntry.queries("j13_runtime_filter")(spark, sf).collect().toSeq
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val df = SparkEntry.queries("j13_runtime_filter")(spark, sf)
      val rows = df.collect().toSeq
      val p = df.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter reached the fact side:\n$p")
      assert(rows == base,
        "runtime-filtered plan changed the result")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("round-9 review fixes stay fixed: single-scan and join-free shapes") {
    // collect-based scan pins: FileSourceScanExec nodes in the tree are
    // the scans that execute OUTSIDE any cache; a cached frame's one
    // build scan lives inside InMemoryRelation (not a tree child), so
    // "0 outside + InMemoryTableScan present" IS the one-raw-pass shape
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def outsideScans(p: SparkPlan, table: String): Int = {
      // descend into AQE wrappers (AdaptiveSparkPlanExec exposes its
      // plan as inputPlan, not as a tree child) but NOT into cached
      // relations — outside-the-cache is exactly what's being pinned
      var n = 0
      def walk(node: SparkPlan): Unit = node.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(table)) =>
          n += 1
        case _ =>
      }
      walk(p)
      n
    }
    try {
      // e32: ONE raw events pass (everything derives from the cached daily)
      val e32 = SparkEntry.queries("e32_autocorrelation")(spark, sf)
      val pe = e32.queryExecution.executedPlan
      assert(outsideScans(pe, "events") == 0,
        s"e32 re-reads raw events outside the cached daily frame:\n$pe")
      assert(pe.toString.contains("InMemoryTableScan"), "e32 lost its daily cache")
      // t61: ONE tokenization pass (both postings sides read the cache)
      val t61 = SparkEntry.queries("t61_phrase_search")(spark, sf)
      val pt = t61.queryExecution.executedPlan
      assert(outsideScans(pt, "documents") == 0,
        s"t61 re-tokenizes the corpus outside the cached postings:\n$pt")
      assert(pt.toString.contains("InMemoryTableScan"), "t61 lost its postings cache")
      // j10b: join-free sweep, one events scan
      val pj = SparkEntry.queries("j10b_concurrency_profile")(spark, sf)
        .queryExecution.executedPlan
      assert(!pj.toString.contains("Join"), s"j10b grew a join:\n$pj")
      assert(outsideScans(pj, "events") == 1, s"j10b scan count changed:\n$pj")
      // v34: join-free scoring scan (the centroid fit is a bounded
      // driver-side collect at build time, not part of this plan)
      val pv = SparkEntry.queries("v34_label_noise")(spark, sf)
        .queryExecution.executedPlan
      assert(!pv.toString.contains("Join"), s"v34 grew a join:\n$pv")
      assert(outsideScans(pv, "embeddings") == 1, s"v34 scan count changed:\n$pv")
    } finally spark.catalog.clearCache()
  }

  test("the fused weekly-stats pass aggregates mau/wau/intensity/npr in one shuffle") {
    // one aggregation pass for the four CTEs: a per-client level, then the
    // per-(week, country) level that names all four measures, two
    // exchanges in all (the name's "one shuffle" is the one pass; it is
    // kept so the test's history stays comparable). build() collects this pass into the assembly's
    // local relation, so the ASSEMBLY's returned plan no longer contains
    // it — the fused pass's own plan is asserted directly (it is exactly
    // what build() executes once at construction).
    val cfg = graft.useractivity.UserActivity.Config(
      countries = graft.operators.UserActivityFull.uaCountries)
    val smp = graft.useractivity.UserActivity.sample(
      graft.operators.UserActivityFull.synthClients(spark, sf),
      graft.operators.UserActivityFull.synthCountryNames(spark, sf),
      cfg)
    val p = graft.useractivity.UserActivity
      .weeklyStats(smp).queryExecution.executedPlan.toString
    val fusedAggs = p.linesIterator
      .filter(l => l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
      .count(l => l.contains("mau") && l.contains("intensity") && l.contains("new_profile_rate"))
    assert(fusedAggs >= 1, s"fused weekly aggregate missing:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2,
      s"fused weekly aggregate is not one per-client and one per-group shuffle:\n$p")
    // the distinct counts of weeklyStats and hasAddon are two plain
    // aggregations: countDistinct over two columns would plan an Expand
    // that triples every row before the first shuffle
    val hasAddon = graft.useractivity.UserActivity
      .hasAddon(graft.useractivity.UserActivity.sampleAddons(smp))
      .queryExecution.executedPlan.toString
    for ((name, arm) <- Seq("weeklyStats" -> p, "hasAddon" -> hasAddon))
      assert(!arm.contains("Expand"), s"$name plans an Expand:\n$arm")
    // and the assembly must consume it as a local relation, not recompute
    // it: no countDistinct-bearing aggregate may remain in the full plan
    val ua = plan("ua_full_pipeline")
    val residualFused = ua.linesIterator
      .filter(l => l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
      .count(l => l.contains("mau") && l.contains("intensity") && l.contains("new_profile_rate"))
    assert(residualFused == 0,
      s"assembly recomputes the weekly-stats pass it should have collected:\n$ua")
  }
}
