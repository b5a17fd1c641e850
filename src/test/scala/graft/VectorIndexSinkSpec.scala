package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.operators.{IvfAnn, VectorIndexStore}
import graft.sources.Tables

/** E2E pin for the materialized IVF index: build-once-probe-many must
  * (a) lay the inverted lists out as one directory per list, (b) plan the
  * probe as partition pruning + a broadcast join — the index side never
  * shuffles and unprobed lists are never opened — and (c) return exactly
  * what the inline v10 serving query returns on the same data, proving
  * the persisted index is the same index. */
class VectorIndexSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("IVF index writes one directory per list and probes via partition pruning") {
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_index_t")
    try {
      // layout: cid=<list> directories under the table root
      val loc = spark
        .sql("DESCRIBE TABLE EXTENDED ivf_index_t")
        .filter(col("col_name") === "Location")
        .head()
        .getString(1)
        .stripPrefix("file:")
      val lists = new java.io.File(loc)
        .listFiles()
        .filter(_.isDirectory)
        .map(_.getName)
        .count(_.startsWith("cid="))
      assert(lists > 0 && lists <= IvfAnn.k, s"unexpected list layout: $lists dirs")

      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      val result = VectorIndexStore.probe(spark, "ivf_index_t", queries)

      val p = result.queryExecution.executedPlan.toString
      // probed lists are pruned at the directory level, not scan-filtered
      assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(p).isDefined,
        s"probe lost partition pruning:\n$p")
      // the index side joins against the broadcast probe set — a
      // sort-merge here would reshuffle every stored list
      assert(p.contains("BroadcastHashJoin"), s"probe join lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"index side got shuffled:\n$p")

      // the materialized index answers exactly like the inline build
      val expected = IvfAnn.queryQuantized(spark, sf).collect().toSeq
      assert(result.collect().toSeq == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_index_t")
      spark.sql("DROP TABLE IF EXISTS ivf_index_t_centroids")
    }
  }

  test("store upsert appends arrivals to their lists; table matches v20's ledger") {
    val emb = Tables.embeddings(spark, sf)
    val existing = emb.filter(col("vec_id") % 10 =!= 0)
    val increment = emb.filter(col("vec_id") % 10 === 0)
    VectorIndexStore.write(existing, "ivf_upsert_t")
    try {
      val centsBefore = spark
        .table("ivf_upsert_t_centroids")
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1))
        .sortBy(_._1)
        .toSeq
      VectorIndexStore.upsert(spark, "ivf_upsert_t", increment)
      // the durable store after an upsert IS v20's declared ledger: the
      // per-list row counts equal new_size exactly (cross-module parity
      // between the sink and the oracle-checked query)
      val stored = spark
        .table("ivf_upsert_t")
        .groupBy("cid")
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0).toLong -> r.getLong(1))
        .toMap
      val ledger = IvfAnn
        .upsert(spark, sf)
        .collect()
        .map(r => r.getLong(0) -> r.getLong(3))
        .toMap
      assert(stored == ledger)
      // retry safety: re-delivering the same batch is a no-op (the
      // anti-join guard drops already-seated vec_ids)
      VectorIndexStore.upsert(spark, "ivf_upsert_t", increment)
      val retried = spark
        .table("ivf_upsert_t")
        .groupBy("cid")
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0).toLong -> r.getLong(1))
        .toMap
      assert(retried == stored, "a retried upsert duplicated rows")
      // refit never happened: the persisted centroids are byte-identical
      val centsAfter = spark
        .table("ivf_upsert_t_centroids")
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1))
        .sortBy(_._1)
        .toSeq
      assert(centsAfter == centsBefore)
      // arrivals are servable by the next probe (increment ids appear
      // among the neighbors — deterministic on this fixture)
      val res = VectorIndexStore
        .probe(spark, "ivf_upsert_t", emb.filter(col("vec_id") < 10))
        .collect()
      assert(res.length == 50)
      assert(res.exists(_.getLong(2) % 10 == 0), "no upserted row was ever served")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_upsert_t")
      spark.sql("DROP TABLE IF EXISTS ivf_upsert_t_centroids")
    }
  }

  test("a re-delivered id with a CHANGED embedding never seats in a second list") {
    // the round-9 review's scenario: the old copy lives in list A, the
    // re-delivery argmins to list B — a touched-lists-only residency
    // guard would miss the copy in A and the id would be served at two
    // ranks forever; the guard must read vec_id index-wide
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_dup_t")
    try {
      val victim = 7L
      val other = emb
        .filter(col("vec_id") =!= victim)
        .orderBy(col("vec_id").desc)
        .select("embedding")
        .as[Seq[Float]]
        .head // a different point's embedding => (almost surely) a different list
      VectorIndexStore.upsert(
        spark,
        "ivf_dup_t",
        Seq((victim, other)).toDF("vec_id", "embedding")
      )
      val copies = spark.table("ivf_dup_t").filter(col("vec_id") === victim).count()
      assert(copies == 1L, s"changed-embedding re-delivery duplicated the id: $copies copies")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_dup_t")
      spark.sql("DROP TABLE IF EXISTS ivf_dup_t_centroids")
    }
  }

  test("v20 upsert ledger conserves both sides and never invents a list") {
    val emb = Tables.embeddings(spark, sf)
    val nExisting = emb.filter(col("vec_id") % 10 =!= 0).count()
    val nIncrement = emb.filter(col("vec_id") % 10 === 0).count()
    val rows = IvfAnn
      .upsert(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every existing vector is in exactly one list, every arrival lands in
    // exactly one EXISTING list (an upsert must never mint a new cid), and
    // the after-count is the arithmetic of the other two columns
    assert(rows.map(_._2).sum == nExisting)
    assert(rows.map(_._3).sum == nIncrement)
    rows.foreach { case (cid, old, add, nw) =>
      assert(nw == old + add, s"list $cid ledger broken")
      assert(old + add >= 1, s"list $cid is empty on both sides")
    }
    assert(rows.length <= IvfAnn.k)
  }

  test("delete tombstones neighbors out of probes; purge makes it physical; probes agree") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_del_t")
    try {
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      val before = VectorIndexStore.probe(spark, "ivf_del_t", queries).collect().toSeq
      // tombstone every served neighbor of query 0 — replacements must
      // fill the freed top-k slots, not shrink the answer
      val victims = before.filter(_.getLong(0) == 0L).map(_.getLong(2))
      assert(victims.size == 5, s"fixture must serve 5 neighbors, got $victims")
      VectorIndexStore.delete(spark, "ivf_del_t", victims.toDF("vec_id"))
      // re-delete + unknown id: harmless by contract
      VectorIndexStore.delete(spark, "ivf_del_t", Seq(victims.head, 999999L).toDF("vec_id"))

      val afterDelete = VectorIndexStore.probe(spark, "ivf_del_t", queries).collect().toSeq
      val served0 = afterDelete.filter(_.getLong(0) == 0L).map(_.getLong(2))
      assert(served0.size == 5, s"top-k slots must refill after delete: $served0")
      assert(served0.toSet.intersect(victims.toSet).isEmpty,
        s"tombstoned ids still served: $served0")

      val rowsBefore = spark.table("ivf_del_t").count()
      VectorIndexStore.purge(spark, "ivf_del_t", Seq.empty)
      assert(spark.table("ivf_del_t").count() == rowsBefore - victims.size,
        "purge must physically remove exactly the tombstoned rows")
      // suppression-driven retirement (round-9 review): with no
      // registered delta the unknown id is resident NOWHERE, so its
      // tombstone retires too — surviving forever would permanently
      // block the id's future insert (delete of an unknown id must be a
      // no-op once purged, not a curse). Delta-resident survival is the
      // NEXT test's subject, exercised through deltaDirs.
      val leftover = spark.table("ivf_del_t_tombstones").as[Long].collect().toSet
      assert(leftover == Set.empty[Long],
        s"purge must retire every tombstone with nothing left to suppress, left $leftover")
      val afterPurge = VectorIndexStore.probe(spark, "ivf_del_t", queries).collect().toSeq
      assert(afterPurge == afterDelete,
        "purge changed probe answers — it must only move the delete into the layout")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_del_t")
      spark.sql("DROP TABLE IF EXISTS ivf_del_t_tombstones")
    }
  }

  test("a tombstone for a delta-resident id survives purge and keeps suppressing the row") {
    // The base∧delta split purge must respect: an id deleted while it
    // still sits in an un-compacted delta keeps its tombstone (retiring
    // it would resurrect the delta copy in probeWithDelta); after compact
    // moves it into the base, the next purge folds it physically.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 10 === 0)
    VectorIndexStore.write(base, "ivf_dd_t")
    val deltaDir = java.nio.file.Files.createTempDirectory("graft-dd").toString
    try {
      VectorIndexStore.writeDelta(arrivals, "ivf_dd_t", deltaDir, epoch = 0L)
      val victim = arrivals.select("vec_id").as[Long].head()
      VectorIndexStore.delete(spark, "ivf_dd_t", Seq(victim).toDF("vec_id"))
      VectorIndexStore.purge(spark, "ivf_dd_t", deltaDirs = Seq(deltaDir))
      val tombs = spark.table("ivf_dd_t_tombstones").as[Long].collect().toSet
      assert(tombs == Set(victim), s"delta-resident tombstone must survive purge: $tombs")
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      val served = VectorIndexStore
        .probeWithDelta(spark, "ivf_dd_t", deltaDir, queries)
        .collect()
        .map(_.getLong(2))
        .toSet
      assert(!served.contains(victim), "purge retired a tombstone whose row still serves")
      // compact moves the delta into the base; the next purge folds
      VectorIndexStore.compact(spark, "ivf_dd_t", deltaDir)
      VectorIndexStore.purge(spark, "ivf_dd_t", deltaDirs = Seq(deltaDir))
      assert(spark.table("ivf_dd_t_tombstones").isEmpty, "post-compact purge must fold")
      assert(spark.table("ivf_dd_t").filter(col("vec_id") === victim).count() == 0,
        "folded id still physical after post-compact purge")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_dd_t")
      spark.sql("DROP TABLE IF EXISTS ivf_dd_t_tombstones")
    }
  }

  test("delete-then-reinsert: dropped while the tombstone stands, lands after purge") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_ri_t")
    try {
      val victim = emb.select("vec_id").as[Long].head()
      val victimRow = emb.filter(col("vec_id") === victim)
      VectorIndexStore.delete(spark, "ivf_ri_t", Seq(victim).toDF("vec_id"))
      // re-insert while the tombstone stands: DROPPED (deterministically,
      // per delete()'s contract), not deferred — no second physical copy
      VectorIndexStore.upsert(spark, "ivf_ri_t", victimRow)
      assert(spark.table("ivf_ri_t").filter(col("vec_id") === victim).count() == 1,
        "tombstoned re-insert must not add a second physical copy")
      VectorIndexStore.purge(spark, "ivf_ri_t", Seq.empty)
      assert(spark.table("ivf_ri_t").filter(col("vec_id") === victim).count() == 0)
      // purge cleared the tombstone: a fresh upsert lands and serves
      VectorIndexStore.upsert(spark, "ivf_ri_t", victimRow)
      assert(spark.table("ivf_ri_t").filter(col("vec_id") === victim).count() == 1,
        "post-purge re-insert must land")
      val queries = emb.filter(col("vec_id") === victim).select("vec_id", "embedding")
      val res = VectorIndexStore.probe(spark, "ivf_ri_t", queries)
      assert(res.count() > 0, "re-inserted id must probe")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_ri_t")
      spark.sql("DROP TABLE IF EXISTS ivf_ri_t_tombstones")
    }
  }

  test("bulk delete: purging half the index folds in one pass and probes stay consistent") {
    // VERDICT r8 #3: no per-id driver collect in purge — the survivor
    // frame is staged as DataFrame joins, so a mass (GDPR-style) delete
    // is the same one-pass verb as a single delete. Behavioral pin at
    // fixture scale; the plan never materializes an id set on the driver.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_bulk_t")
    try {
      val n = emb.count()
      val victims = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
      VectorIndexStore.delete(spark, "ivf_bulk_t", victims)
      VectorIndexStore.purge(spark, "ivf_bulk_t", Seq.empty)
      assert(spark.table("ivf_bulk_t").count() == n - victims.count(),
        "bulk purge must remove exactly the tombstoned rows")
      assert(spark.table("ivf_bulk_t_tombstones").isEmpty,
        "all bulk tombstones were resident — all must fold")
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      val served = VectorIndexStore
        .probe(spark, "ivf_bulk_t", queries)
        .collect()
        .map(_.getLong(2))
      assert(served.nonEmpty && served.forall(_ % 2 != 0),
        s"purged ids still served: ${served.filter(_ % 2 == 0).toSeq}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_bulk_t")
      spark.sql("DROP TABLE IF EXISTS ivf_bulk_t_tombstones")
    }
  }

  test("purging an entire list leaves no stale rows behind the dropped partition") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_empty_t")
    try {
      // empty one whole list: dynamic overwrite writes nothing for an
      // empty partition, so purge must drop the partition explicitly
      val base = spark.table("ivf_empty_t")
      val someCid = base.select("cid").head().getInt(0)
      val listIds = base.filter(col("cid") === someCid).select("vec_id").as[Long].collect()
      assert(listIds.nonEmpty)
      VectorIndexStore.delete(spark, "ivf_empty_t", listIds.toSeq.toDF("vec_id"))
      VectorIndexStore.purge(spark, "ivf_empty_t", Seq.empty)
      assert(spark.table("ivf_empty_t").filter(col("cid") === someCid).count() == 0,
        s"stale rows survived in emptied list $someCid")
      val total = spark.table("ivf_empty_t").count()
      assert(total == emb.count() - listIds.length, s"wrong surviving count $total")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_empty_t")
      spark.sql("DROP TABLE IF EXISTS ivf_empty_t_tombstones")
    }
  }

  test("a duplicate arrival re-delivered in a later epoch seats once: delta, probe, and fold") {
    // The orchestrator-retry threat writeDelta's base guard names, aimed
    // at the DELTA: the same arrival file lands in epoch 0 and again in
    // epoch 5. The second delivery must be dropped at ingest (earlier-
    // epoch residency), probeWithDelta must serve the id at most once,
    // and compact must seat exactly one base row — while a REPLAY of the
    // same epoch still replaces itself (the idempotence contract).
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 10 === 0)
    VectorIndexStore.write(base, "ivf_dup_t")
    val deltaDir = java.nio.file.Files.createTempDirectory("graft-dup").toString
    try {
      VectorIndexStore.writeDelta(arrivals, "ivf_dup_t", deltaDir, epoch = 0L)
      // same-epoch replay: replaces its own partitions, still one copy
      VectorIndexStore.writeDelta(arrivals, "ivf_dup_t", deltaDir, epoch = 0L)
      // cross-epoch duplicate delivery: dropped by the delta residency guard
      VectorIndexStore.writeDelta(arrivals, "ivf_dup_t", deltaDir, epoch = 5L)
      val deltaIds = spark.read.parquet(deltaDir).groupBy("vec_id").count()
      assert(deltaIds.filter(col("count") > 1).isEmpty,
        "an id sits in more than one delta epoch after a duplicate delivery")
      // probe from BASE vectors (probeIndex excludes self-matches, so the
      // duplicate id itself can't be the query): no arrival id may occupy
      // two result slots for any query — the defect's serving symptom
      val queries = base.limit(20).select("vec_id", "embedding")
      val doubleServed = VectorIndexStore
        .probeWithDelta(spark, "ivf_dup_t", deltaDir, queries)
        .groupBy(col("query_id"), col("neighbor_id"))
        .count()
        .filter(col("count") > 1)
      assert(doubleServed.isEmpty, "probeWithDelta served a duplicate id twice for one query")
      VectorIndexStore.compact(spark, "ivf_dup_t", deltaDir)
      val seated = spark.table("ivf_dup_t").groupBy("vec_id").count()
      assert(seated.filter(col("count") > 1).isEmpty,
        "compact seated a vec_id twice in the base")
      val dupId = arrivals.select("vec_id").as[Long].head()
      assert(spark.table("ivf_dup_t").filter(col("vec_id") === dupId).count() == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_dup_t")
      spark.sql("DROP TABLE IF EXISTS ivf_dup_t_tombstones")
    }
  }

  test("rebalance splits a hot list in place: set preserved, lists grow, recall holds") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // deterministic skew: 300 jittered copies of the lowest-id vector —
    // a tight cluster that Lloyd seats in one list, dwarfing the median
    val seed = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0)
    val jittered = (0 until 300).map { i =>
      (100000L + i, seed.toArray.clone().updated(0, seed(0) + i * 0.001f).toSeq)
    }.toDF("vec_id", "embedding").withColumn("embedding", col("embedding").cast("array<float>"))
    val corpus = emb.unionByName(jittered)
    VectorIndexStore.write(corpus, "ivf_rb_t")
    try {
      val before = spark.table("ivf_rb_t")
      val nBefore = before.count()
      val listsBefore = before.select("cid").distinct().count()
      val maxBefore = before.groupBy("cid").count().agg(max("count")).head.getLong(0)
      val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      def recall(): Double = {
        // exact top-5 by cosine over the full corpus vs probed top-5
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id").asc)
        val exact = queries
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(corpus)
          .filter(col("vec_id") =!= col("qid"))
          .withColumn(
            "cos",
            call_function("graft_dot", col("qe"), col("embedding")) /
              (sqrt(call_function("graft_dot", col("qe"), col("qe"))) *
                sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
          )
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        val served = VectorIndexStore
          .probe(spark, "ivf_rb_t", queries)
          .select(col("query_id"), col("neighbor_id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        (exact & served).size.toDouble / exact.size
      }
      val recallBefore = recall()
      val splits = VectorIndexStore.rebalance(spark, "ivf_rb_t", maxListFactor = 4.0)
      assert(splits.nonEmpty, "the skewed fixture must trigger at least one split")
      val after = spark.table("ivf_rb_t")
      // indexed set preserved exactly: same ids, no duplicates
      assert(after.count() == nBefore, "rebalance changed the row count")
      assert(after.groupBy("vec_id").count().filter(col("count") > 1).isEmpty,
        "rebalance duplicated a vec_id")
      assert(after.select("cid").distinct().count() == listsBefore + splits.size,
        "list count must grow by exactly the number of splits")
      val maxAfter = after.groupBy("cid").count().agg(max("count")).head.getLong(0)
      assert(maxAfter < maxBefore, s"hot list did not shrink: $maxBefore -> $maxAfter")
      // centroid table matches the lists one-for-one
      val cids = after.select("cid").distinct().as[Int].collect().toSet
      val centCids = spark.table("ivf_rb_t_centroids").select("cid").as[Int].collect().toSet
      assert(cids.subsetOf(centCids), s"lists without centroids: ${cids -- centCids}")
      // probe quality must not degrade on the fixture
      val recallAfter = recall()
      assert(recallAfter >= recallBefore - 1e-9,
        s"recall degraded: $recallBefore -> $recallAfter")
      // idempotence: a second pass finds no remaining skew at this factor
      assert(VectorIndexStore.rebalance(spark, "ivf_rb_t", maxListFactor = 4.0).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_rb_t")
      spark.sql("DROP TABLE IF EXISTS ivf_rb_t_tombstones")
    }
  }

  test("rebalance leaves a degenerate all-identical hot list untouched and terminates") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // 300 EXACT copies of one vector: a hot list no 2-means can split —
    // the documented duplication-not-skew case. The loop must classify
    // it degenerate on the first pass and return, not spin to the cap.
    val seed = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0)
    val dups = (0 until 300)
      .map(i => (200000L + i, seed))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    VectorIndexStore.write(emb.unionByName(dups), "ivf_rbd_t")
    try {
      val before = spark.table("ivf_rbd_t").select("vec_id", "cid")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(VectorIndexStore.rebalance(spark, "ivf_rbd_t", maxListFactor = 4.0).isEmpty)
      val after = spark.table("ivf_rbd_t").select("vec_id", "cid")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(after == before, "a degenerate rebalance must not move any row")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_rbd_t")
      spark.sql("DROP TABLE IF EXISTS ivf_rbd_t_tombstones")
    }
  }

  test("purge and rebalance leave the session conf alone and the untouched lists' rows in place") {
    // both verbs overwrite through the table's own dynamic overwrite mode,
    // never the session's; every list a verb does not rewrite keeps its rows
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val seed = emb.orderBy("vec_id").select("embedding").head.getSeq[Float](0)
    val jittered = (0 until 300).map { i =>
      (400000L + i, seed.toArray.clone().updated(0, seed(0) + i * 0.001f).toSeq)
    }.toDF("vec_id", "embedding").withColumn("embedding", col("embedding").cast("array<float>"))
    VectorIndexStore.write(emb.unionByName(jittered), "ivf_conf_t")
    def lists(): Map[Int, Set[Long]] = spark.table("ivf_conf_t").select("cid", "vec_id")
      .collect().groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).toSet }
    try {
      val conf = spark.conf.getAll
      // a verb must leave the conf as it found it, and must not change it
      // while it runs either: each job carries the SQL confs it ran under
      def runsUnderCallersConf(verb: String)(body: => Unit): Unit = {
        val jobs = TestSpark.jobStarts(body)
        assert(jobs.nonEmpty)
        jobs.foreach { j =>
          val sqlConfs = Option(j.properties).map(_.asScala.toMap).getOrElse(Map.empty)
            .filter { case (k, _) => k.startsWith("spark.sql.") && !k.startsWith("spark.sql.execution.") }
          assert(sqlConfs.toSet.subsetOf(conf.toSet),
            s"$verb ran a job under ${sqlConfs.toSet -- conf.toSet}")
        }
        assert(spark.conf.getAll == conf, s"$verb changed the session conf")
      }
      val before = lists()
      val victim = before.toSeq.sortBy(_._1).head
      VectorIndexStore.delete(spark, "ivf_conf_t", Seq(victim._2.min).toDF("vec_id"))
      runsUnderCallersConf("purge")(VectorIndexStore.purge(spark, "ivf_conf_t", Seq.empty))
      val purged = lists()
      assert(purged - victim._1 == before - victim._1, "purge moved rows of untouched lists")
      assert(purged(victim._1) == victim._2 - victim._2.min)
      var splits = Seq.empty[(Int, Int)]
      runsUnderCallersConf("rebalance") {
        splits = VectorIndexStore.rebalance(spark, "ivf_conf_t", maxListFactor = 4.0)
      }
      assert(splits.nonEmpty, "the skewed fixture must trigger a split")
      val moved = splits.flatMap { case (o, n) => Seq(o, n) }.toSet
      assert(lists().filter(l => !moved(l._1)) == purged.filter(l => !moved(l._1)),
        "rebalance moved rows of lists it did not split")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_conf_t")
      spark.sql("DROP TABLE IF EXISTS ivf_conf_t_tombstones")
      spark.sql("DROP TABLE IF EXISTS ivf_conf_t_centroids")
    }
  }

  test("purge and rebalance refuse an index table without dynamic overwrite") {
    // a static overwrite would drop every list the verb does not rewrite
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    VectorIndexStore.write(emb, "ivf_src_t")
    try {
      spark.table("ivf_src_t").write.partitionBy("cid").saveAsTable("ivf_static_t")
      VectorIndexStore.delete(spark, "ivf_static_t", Seq(0L).toDF("vec_id"))
      val rows = spark.table("ivf_static_t").count()
      intercept[IllegalArgumentException](VectorIndexStore.purge(spark, "ivf_static_t", Seq.empty))
      intercept[IllegalArgumentException](VectorIndexStore.rebalance(spark, "ivf_static_t"))
      assert(spark.table("ivf_static_t").count() == rows)
    } finally {
      Seq("ivf_src_t", "ivf_src_t_centroids", "ivf_static_t", "ivf_static_t_tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("a split after purge never re-allocates an emptied list's cid") {
    // The round-10 review scenario: purge drops an emptied list's DATA
    // partition but leaves its _centroids row (by design — the list can
    // refill from future arrivals). A later split that allocated new cids
    // from max(cid) over the data table alone would re-issue the emptied
    // list's id and seat two _centroids rows under one cid, corrupting
    // probe list selection. Real-verb flow: delete+purge the max-cid
    // list, make another list hot, rebalance, assert cid uniqueness.
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    VectorIndexStore.write(emb, "ivf_rbp_t")
    try {
      val maxCid = spark.table("ivf_rbp_t_centroids").agg(max("cid")).head.getInt(0)
      val emptiedIds = spark.table("ivf_rbp_t")
        .filter(col("cid") === maxCid).select("vec_id").as[Long].collect()
      assert(emptiedIds.nonEmpty)
      VectorIndexStore.delete(spark, "ivf_rbp_t", emptiedIds.toSeq.toDF("vec_id"))
      VectorIndexStore.purge(spark, "ivf_rbp_t", Seq.empty)
      assert(spark.table("ivf_rbp_t").filter(col("cid") === maxCid).count() == 0)
      assert(spark.table("ivf_rbp_t_centroids").filter(col("cid") === maxCid).count() == 1,
        "purge must keep the emptied list's centroid row — the state under test")
      // heat a SURVIVING list: 300 jittered copies of one of its vectors
      val seed = spark.table("ivf_rbp_t")
        .filter(col("cid") =!= maxCid)
        .orderBy("vec_id").select("embedding").head.getSeq[Float](0)
      val jittered = (0 until 300).map { i =>
        (300000L + i, seed.toArray.clone().updated(0, seed(0) + i * 0.001f).toSeq)
      }.toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>"))
      VectorIndexStore.upsert(spark, "ivf_rbp_t", jittered)
      val splits = VectorIndexStore.rebalance(spark, "ivf_rbp_t", maxListFactor = 4.0)
      assert(splits.nonEmpty, "the jittered fixture must trigger a split")
      assert(splits.map(_._2).forall(_ > maxCid),
        s"a new list id collided with the emptied centroid $maxCid: $splits")
      val dupCents = spark.table("ivf_rbp_t_centroids")
        .groupBy("cid").count().filter(col("count") > 1)
      assert(dupCents.isEmpty, "duplicate _centroids rows for one cid after the split")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_rbp_t")
      spark.sql("DROP TABLE IF EXISTS ivf_rbp_t_tombstones")
      spark.sql("DROP TABLE IF EXISTS ivf_rbp_t_centroids")
    }
  }
}
