package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.stores.WarehouseStore

/** Unit + differential coverage for the prefix-doubling suffix-rank
  * family (t65/t66) beyond the value-level oracle: hand-computed span
  * geometry on a crafted corpus (cross-doc repeats, in-doc repeats,
  * overlap coverage, short docs, whitespace docs), the doubling-vs-
  * direct-gram equivalence at position grain on the sf0.001 fixture,
  * and the orderIds primitive's order-consistency contract.
  */
class SuffixArraySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-suffix").toString
    rows
      .map { case (id, text) => (id, text, "en", "synthetic", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t65/t66 span geometry on a crafted corpus") {
    val s = (1 to 20).map(i => s"s$i") // the 20-token run shared by A and B
    val docA = ((1 to 4).map(i => s"p$i") ++ s ++ (1 to 6).map(i => s"q$i")).mkString(" ")
    val docB = (s ++ (1 to 10).map(i => s"r$i")).mkString(" ")
    val docC = (1 to 10).map(i => s"c$i").mkString(" ") // shorter than L
    val t = (1 to 16).map(i => s"t$i")
    val docD = (t ++ Seq("z") ++ t).mkString(" ") // in-doc repeat, 33 tokens
    val dir = writeDocs(Seq(0L -> docA, 1L -> docB, 2L -> docC, 3L -> docD, 4L -> "   "))

    val t65 = TextOps
      .queries("t65_suffix_ranks")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    // A and B share S (20 tokens): 5 full 16-windows inside S each side
    assert(t65(0L).getLong(1) == 30 && t65(0L).getLong(2) == 15 && t65(0L).getLong(3) == 5)
    assert(t65(1L).getLong(1) == 30 && t65(1L).getLong(2) == 15 && t65(1L).getLong(3) == 5)
    // C is shorter than the window: no full positions, NULL ratio
    assert(t65(2L).getLong(2) == 0 && t65(2L).getLong(3) == 0 && t65(2L).isNullAt(4))
    // D repeats its 16-token block at pos 1 and 18: exactly those 2 starts
    assert(t65(3L).getLong(1) == 33 && t65(3L).getLong(2) == 18 && t65(3L).getLong(3) == 2)
    // whitespace-only doc is present with zeros, not silently dropped
    assert(t65(4L).getLong(1) == 0 && t65(4L).getLong(2) == 0)

    val t66 = TextOps
      .queries("t66_repeated_spans")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    // A: starts 5..9 merge into ONE maximal span covering exactly S
    assert(t66(0L).getLong(2) == 20 && t66(0L).getLong(3) == 1 && t66(0L).getLong(4) == 10)
    // B: starts 1..5 cover tokens 1..20
    assert(t66(1L).getLong(2) == 20 && t66(1L).getLong(3) == 1 && t66(1L).getLong(4) == 10)
    // C: untouched
    assert(t66(2L).getLong(2) == 0 && t66(2L).getLong(3) == 0 && t66(2L).getLong(4) == 10)
    // D: two disjoint spans (1..16 and 18..33) leave only the separator
    assert(t66(3L).getLong(2) == 32 && t66(3L).getLong(3) == 2 && t66(3L).getLong(4) == 1)
    // the whitespace doc has no token rows, so it is absent here — same
    // as the oracle's generate_series(1, 0) emptiness
    assert(!t66.contains(4L))

    // t67 report: A/B's shared 20-token run yields 5 sliding dup windows
    // (each twice, across 2 docs); D's block repeats within ONE doc
    val t67 = TextOps
      .queries("t67_dup_spans")(spark, dir)
      .collect()
      .map(r => r.getString(2) -> (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    assert(t67.size == 6)
    val dSpan = t.mkString(" ")
    assert(t67(dSpan) == ((2L, 1L, 3L, 1L))) // twice, one doc, first at (3,1)
    val sSpan = (1 to 16).map(i => s"s$i").mkString(" ")
    // the S-prefix window: first occurrence is docA pos 5 (A lists S from pos 5)
    assert(t67(sSpan) == ((2L, 2L, 0L, 5L)))
  }

  test("doubling ranks and direct 16-gram grouping agree at position grain (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val L = TextOps.suffixSpanL
    val rt = TextOps.suffixRankTable(spark, d)
    val full = rt.filter(col("pos") + (L - 1) <= col("n_tokens"))
    val byRank = full
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("r", "rn")))
      .filter(col("grp") >= 2)
      .select("doc_id", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val words = graft.sources.Tables
      .documents(spark, d)
      .select(col("doc_id"), graft.functions.F.wsTokens(col("text")).as("w"))
    val grams = words
      .filter(size(col("w")) >= L)
      .withColumn("p", explode(sequence(lit(1), size(col("w")) - (L - 1))))
      .select(
        col("doc_id"),
        col("p").cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), col("p"), lit(L))).as("g")
      )
    val dupG = grams
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("grp") >= 2)
      .select("doc_id", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(byRank.nonEmpty, "fixture should contain at least one repeated span")
    assert(byRank == dupG)
  }

  test("arbitrary (non-power-of-two) spans: L=20 pair identity equals direct 20-grams") {
    // the overlapping-window theorem at Lee et al.'s kind of span length:
    // rounds stop at depth 16, the final pair reads offsets (0, 4), and
    // the dup-position set must equal direct 20-gram grouping exactly
    val d = "/root/testdata/sf0.001"
    val L = 20
    val rt = TextOps.suffixRankTable(spark, d, spanL = L)
    val byRank = rt
      .filter(col("pos") + (L - 1) <= col("n_tokens"))
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("r", "rn")))
      .filter(col("grp") >= 2)
      .select("doc_id", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val words = graft.sources.Tables
      .documents(spark, d)
      .select(col("doc_id"), graft.functions.F.wsTokens(col("text")).as("w"))
    val dupG = words
      .filter(size(col("w")) >= L)
      .withColumn("p", explode(sequence(lit(1), size(col("w")) - (L - 1))))
      .select(
        col("doc_id"),
        col("p").cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), col("p"), lit(L))).as("g")
      )
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("grp") >= 2)
      .select("doc_id", "pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(dupG.nonEmpty, "fixture should contain a repeated 20-token span")
    assert(byRank == dupG)
  }

  test("orderIds order-consistency holds on randomized multisets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816)
    (1 to 5).foreach { _ =>
      val n = 50 + rnd.nextInt(400)
      val keys = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(7).toLong))
      val ids = TextOps
        .orderIds(keys.toDF("r", "rn"), Seq("r", "rn"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val distinctSorted = keys.distinct.sorted
      assert(ids.keySet == distinctSorted.toSet)
      assert(ids.values.forall(_ >= 1L))
      // strictly increasing along the sorted distinct keys — the full
      // order-consistency contract, not just pairwise spot checks
      distinctSorted.sliding(2).foreach {
        case Seq(a, b) => assert(ids(a) < ids(b), s"$a/$b order violated")
        case _         =>
      }
    }
  }

  test("t68 rewrite drops exactly the covered tokens and reassembles in order") {
    val s = (1 to 20).map(i => s"s$i")
    val docA = ((1 to 4).map(i => s"p$i") ++ s ++ (1 to 6).map(i => s"q$i")).mkString(" ")
    val docB = (s ++ (1 to 10).map(i => s"r$i")).mkString(" ")
    val docC = (1 to 10).map(i => s"c$i").mkString(" ")
    val t = (1 to 16).map(i => s"t$i")
    val docD = (t ++ Seq("z") ++ t).mkString(" ")
    val dir = writeDocs(Seq(0L -> docA, 1L -> docB, 2L -> docC, 3L -> docD, 4L -> "   "))
    val got = TextOps
      .queries("t68_exactsubstr_rewrite")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), Option(r.get(3))))
      .toMap
    assert(got(0L) == ((30L, 10L,
      Some(((1 to 4).map(i => s"p$i") ++ (1 to 6).map(i => s"q$i")).mkString(" ")))))
    assert(got(1L) == ((30L, 10L, Some((1 to 10).map(i => s"r$i").mkString(" ")))))
    // untouched doc: clean text IS the original tokenization
    assert(got(2L) == ((10L, 10L, Some(docC))))
    // in-doc repeat: both 16-blocks go, only the separator survives
    assert(got(3L) == ((33L, 1L, Some("z"))))
    // zero surviving tokens (here: zero tokens at all) → NULL, not ""
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("t69 catches NEW duplicates minted by stitching survivors across removed gaps") {
    // d0 = P S Q, d1 = P T Q with S ≠ T but each duplicated elsewhere
    // (d2 = S, d3 = T): one removal pass deletes S/T from d0/d1, whose
    // residues then AGREE on a fresh 16-token window — the
    // non-convergence case the audit exists to quantify
    val P = (1 to 8).map(i => s"p$i"); val Q = (1 to 8).map(i => s"q$i")
    val S = (1 to 16).map(i => s"s$i"); val T = (1 to 16).map(i => s"u$i")
    val dir = writeDocs(Seq(
      0L -> (P ++ S ++ Q).mkString(" "),
      1L -> (P ++ T ++ Q).mkString(" "),
      2L -> S.mkString(" "),
      3L -> T.mkString(" ")
    ))
    val got = TextOps
      .queries("t69_residual_dup_audit")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // before: exactly the S window (d0 pos 9 == d2 pos 1) and T window;
    // after: d0/d1 residues are both "p1..p8 q1..q8" — a NEW dup pair
    assert(got(0L) == ((32L, 16L, 1L, 1L)))
    assert(got(1L) == ((32L, 16L, 1L, 1L)))
    assert(got(2L) == ((16L, 0L, 1L, 0L)))
    assert(got(3L) == ((16L, 0L, 1L, 0L)))
  }

  test("the persisted rank store serves a NEW session without rebuilding") {
    // session-hash memo misses (different session object) but the
    // parquet store hits: same verdicts out, and the store's files are
    // untouched — a rebuild would overwrite them (mtime/name churn)
    val rows = Seq(
      0L -> ((1 to 20).map(i => s"a$i") ++ (1 to 20).map(i => s"s$i")).mkString(" "),
      1L -> ((1 to 20).map(i => s"s$i") ++ (1 to 4).map(i => s"b$i")).mkString(" ")
    )
    val dir = writeDocs(rows)
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def stores(): Set[String] =
      Option(warehouse.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_suffix_ranks_"))
        .map(_.getName).toSet
    val before = stores()
    val first = TextOps.queries("t65_suffix_ranks")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val created = stores() -- before
    assert(created.nonEmpty, "build did not persist a rank store")
    def sig(name: String): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(warehouse, name))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    }
    val fingerprint = created.toSeq.sorted.map(sig)
    val fresh = spark.newSession()
    val second = TextOps.queries("t65_suffix_ranks")(fresh, dir)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "store-served session diverged from the builder")
    assert(created.toSeq.sorted.map(sig) == fingerprint,
      "new session REBUILT the store instead of reading it")
  }

  test("t71 drives the stitching fixture to convergence at pass 2, with an exact ledger") {
    // t69's fixture: one pass removes S from d0/d2 and T from d1/d3,
    // and the d0/d1 residues (P ++ Q) then AGREE on a fresh 16-token
    // window — the fixed point must run a SECOND pass and stop at
    // residual 0
    val P = (1 to 8).map(i => s"p$i"); val Q = (1 to 8).map(i => s"q$i")
    val S = (1 to 16).map(i => s"s$i"); val T = (1 to 16).map(i => s"u$i")
    val dir = writeDocs(Seq(
      0L -> (P ++ S ++ Q).mkString(" "),
      1L -> (P ++ T ++ Q).mkString(" "),
      2L -> S.mkString(" "),
      3L -> T.mkString(" ")
    ))
    val rows = TextOps
      .queries("t71_exactsubstr_converge")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // pass 1: 4 dup starts (S in d0/d2, T in d1/d3), 16 tokens removed
    // from each of the 4 docs, residual 2 (the minted P++Q window pair);
    // pass 2: removes both residues entirely, residual 0 — converged
    assert(rows == Seq(
      (1L, 4L, 4L, 64L, 2L),
      (2L, 2L, 2L, 32L, 0L)
    ), s"unexpected ledger: $rows")
  }

  test("t71 reports one all-zero row on an already-clean corpus") {
    val dir = writeDocs(Seq(
      0L -> (1 to 20).map(i => s"a$i").mkString(" "),
      1L -> (1 to 20).map(i => s"b$i").mkString(" ")
    ))
    val rows = TextOps
      .queries("t71_exactsubstr_converge")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(rows == Seq((1L, 0L, 0L, 0L, 0L)), s"unexpected ledger: $rows")
  }

  test("suffix store purge removes listed stores; rebuild restores") {
    // the key format itself is pinned for every family in WarehouseStoreSpec
    val dir = writeDocs(Seq(
      0L -> ((1 to 20).map(i => s"x$i") ++ (1 to 20).map(i => s"y$i")).mkString(" "),
      1L -> ((1 to 20).map(i => s"y$i") ++ (1 to 4).map(i => s"w$i")).mkString(" ")
    ))
    val first = TextOps.queries("t65_suffix_ranks")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val listed = WarehouseStore.list(spark, "graft_suffix_").map(_._1)
    assert(listed.exists(_.startsWith("graft_suffix_ranks_")),
      "lifecycle list missed the store the build just wrote")
    assert(WarehouseStore.list(spark, "graft_suffix_").forall(_._2 > 0L), "store sizes not reported")
    // purge everything, then a FRESH session (the memo would otherwise
    // mask the deletion) must rebuild and agree
    val removed = WarehouseStore.purge(spark, prefix = "graft_suffix_")
    assert(removed.toSet == listed.toSet, "purge removed a different set than listed")
    assert(WarehouseStore.list(spark, "graft_suffix_").isEmpty)
    val again = TextOps.queries("t65_suffix_ranks")(spark.newSession(), dir)
      .collect().map(_.toSeq).toSeq
    assert(again == first, "post-purge rebuild diverged")
    // keep-set is honored
    val keepOne = WarehouseStore.list(spark, "graft_suffix_").map(_._1).take(1).toSet
    val removed2 = WarehouseStore.purge(spark, keepOne, "graft_suffix_")
    assert(removed2.toSet.intersect(keepOne).isEmpty)
    assert(WarehouseStore.list(spark, "graft_suffix_").map(_._1).toSet == keepOne)
  }

  test("a torn store directory (no _SUCCESS) is rebuilt, not served") {
    val dir = writeDocs(Seq(
      0L -> ((1 to 20).map(i => s"m$i") ++ (1 to 20).map(i => s"n$i")).mkString(" "),
      1L -> ((1 to 20).map(i => s"n$i") ++ (1 to 4).map(i => s"o$i")).mkString(" ")
    ))
    val expect = TextOps.queries("t65_suffix_ranks")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val stores = Option(warehouse.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_suffix_ranks_"))
    assert(stores.nonEmpty)
    // tear every store: delete its _SUCCESS marker (the crashed-writer
    // shape the atomic rename makes impossible going forward, and the
    // completeness check must still refuse to serve)
    stores.foreach(st => new java.io.File(st, "_SUCCESS").delete())
    val again = TextOps.queries("t65_suffix_ranks")(spark.newSession(), dir)
      .collect().map(_.toSeq).toSeq
    assert(again == expect, "torn store was served or rebuilt wrong")
    WarehouseStore.purge(spark, prefix = "graft_suffix_")
  }

  test("orderIds ids stay below the 2^59 round-tag ceiling across many range partitions") {
    import spark.implicits._
    // adversarial shape for the id space: enough distinct keys that the
    // range exchange uses multiple partitions, so ids carry non-zero
    // partition-index bits (bit 33 up) — the exact bits that collided
    // with the old depth<<48 tag at >=2^15 partitions
    val keys = (0 until 5000).map(i => f"k$i%05d")
    // AQE coalesces a 5000-row exchange to one partition — exactly what
    // a 100 TB exchange never gets; pin coalescing off so the ids carry
    // real partition-index bits
    val ids =
      try {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        TextOps.orderIds(keys.toDF("k"), Seq("k")).collect().map(_.getLong(1))
      } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert(ids.length == 5000)
    assert(ids.forall(id => id >= 1L && id < TextOps.orderIdCeiling))
    assert(ids.exists(_ >= (1L << 33)), "expected ids from a second range partition")
    // round tags sit above every untagged id and never alias across rounds
    val base = ids.toSet
    val tagged = (0 to 6).map(r => ids.map(_ + TextOps.suffixRoundTag(1 << r)).toSet)
    tagged.foreach(t => assert(t.intersect(base).isEmpty, "tagged id aliased an untagged id"))
    tagged.combinations(2).foreach {
      case Seq(a, b) => assert(a.intersect(b).isEmpty, "two rounds' tags aliased")
      case _         =>
    }
  }

  test("orderIds refuses a shuffle-partition ceiling that could breach the tag space") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", (1 << 26).toString)
      val e = intercept[IllegalArgumentException] {
        TextOps.orderIds(Seq("a", "b").toDF("k"), Seq("k"))
      }
      assert(e.getMessage.contains("2^59"), s"wrong guard message: ${e.getMessage}")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("reliable checkpoint mode writes round tables to the conf'd dir, same verdicts") {
    // a SparkContext checkpoint directory (spark.checkpoint.dir on a
    // cluster) swaps localCheckpoint for a reliable checkpoint() at the
    // SAME branch points — the cluster durability mode. Same corpus bytes
    // in a second fixture dir (cache keys carry the content snapshot, so
    // this forces a fresh build in that mode), identical t65 rows out,
    // and the checkpoint dir must actually hold RDD files.
    val s16 = (1 to 20).map(i => s"s$i")
    val rows = Seq(
      0L -> ((1 to 4).map(i => s"p$i") ++ s16).mkString(" "),
      1L -> (s16 ++ (1 to 6).map(i => s"r$i")).mkString(" "),
      2L -> (1 to 30).map(i => s"u$i").mkString(" ")
    )
    val dirA = writeDocs(rows)
    val dirB = writeDocs(rows)
    val expected = TextOps
      .queries("t65_suffix_ranks")(spark, dirA)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val ck = java.nio.file.Files.createTempDirectory("graft-suffix-ck").toString
    try {
      spark.sparkContext.setCheckpointDir(ck)
      val got = TextOps
        .queries("t65_suffix_ranks")(spark, dirB)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == expected, "reliable-mode t65 diverged from localCheckpoint mode")
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
      assert(files(new java.io.File(ck)).nonEmpty,
        "reliable mode set but no checkpoint files were written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("orderIds assigns order-consistent unique ids ≥ 1 without a global window") {
    import spark.implicits._
    val df = Seq("b", "a", "b", "c", "a", "bb").toDF("k")
    val ids = TextOps
      .orderIds(df, Seq("k"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    // one id per distinct key, every id ≥ 1 (0 stays free as the doc-end
    // sentinel), and ids strictly increase with key order — dense values
    // are NOT promised (partition-index gaps are the design)
    assert(ids.keySet == Set("a", "b", "bb", "c"))
    assert(ids.values.toSeq.distinct.size == 4 && ids.values.forall(_ >= 1L))
    assert(ids("a") < ids("b") && ids("b") < ids("bb") && ids("bb") < ids("c"))
    // two-column form: lexicographic over (r, rn)
    val df2 = Seq((2L, 0L), (1L, 5L), (2L, 0L), (1L, 3L)).toDF("r", "rn")
    val ids2 = TextOps
      .orderIds(df2, Seq("r", "rn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(ids2.keySet == Set((1L, 3L), (1L, 5L), (2L, 0L)))
    assert(ids2((1L, 3L)) < ids2((1L, 5L)) && ids2((1L, 5L)) < ids2((2L, 0L)))
    assert(ids2.values.forall(_ >= 1L))
  }
}
