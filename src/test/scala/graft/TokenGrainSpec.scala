package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.stores.WarehouseStore

/** The round-14 token-grain family (t74/t74b: budgets denominated in
  * trained-BPE tokens; t70b: document-boundary-respecting packing) and
  * the store-metadata/TTL lifecycle (round-13 verdict asks #1, #4, #5).
  */
class TokenGrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("t74's BPE token total ties exactly to t63's corpus symbol total") {
    // the consistency the ask names: the persisted per-doc counts are
    // t63/t64's encode doc-by-doc, so their sum IS the corpus token
    // budget under the trained tokenizer — one number, two routes
    val viaShards = TextOps
      .queries("t74_bpe_token_shards")(spark, sf)
      .agg(sum("n_bpe_tokens"))
      .head()
      .getLong(0)
    val viaEncode = TextOps
      .queries("t63_bpe_encode")(spark, sf)
      .agg(sum("n_symbols"))
      .head()
      .getLong(0)
    assert(viaShards == viaEncode, s"t74 total $viaShards != t63 total $viaEncode")
    assert(viaShards > 0L)
  }

  test("t74 rides a persisted graft_bpe_tokens store with provenance meta") {
    TextOps.queries("t74_bpe_token_shards")(spark, sf).count()
    val metas = WarehouseStore.meta(spark, "graft_bpe_tokens_")
    assert(metas.nonEmpty, "no bpe-tokens store published")
    val m = metas.head
    assert(m.bytes > 0L)
    assert(m.builder.contains("bpe_tokens"), s"builder meta wrong: ${m.builder}")
    assert(m.sourceMd5.exists(_.length == 32), s"source meta wrong: ${m.sourceMd5}")
    val age = System.currentTimeMillis - m.createdAtMs.getOrElse(0L)
    assert(age >= 0L && age < 24L * 3600 * 1000, s"created-at implausible: ${m.createdAtMs}")
    // a fresh session must SERVE the store, not rebuild: same rows back
    val a = TextOps
      .queries("t74_bpe_token_shards")(spark, sf)
      .collect()
      .map(_.toSeq)
      .toSeq
    val b = TextOps
      .queries("t74_bpe_token_shards")(spark.newSession(), sf)
      .collect()
      .map(_.toSeq)
      .toSeq
    assert(a == b, "store readback diverged from build")
  }

  test("t74b's inventory is the per-language rollup of t63's symbols, and the plan rules hold") {
    val t74b = TextOps.queries("t74b_bpe_temperature_mixture")(spark, sf).collect()
    val indep = TextOps
      .queries("t63_bpe_encode")(spark, sf)
      .join(
        spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang"),
        "doc_id"
      )
      .groupBy("lang")
      .agg(sum("n_symbols").as("tokens"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(t74b.nonEmpty)
    t74b.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("tokens") == indep(lang), s"$lang inventory drifted")
      assert(r.getAs[Long]("take_tokens") <= r.getAs[Long]("tokens"))
      assert(r.getAs[Double]("acceptance") <= 1.0)
    }
    // the min-inventory language anchors acceptance 1.0 (t49's rule)
    val anchor = t74b.minBy(r => (r.getAs[Long]("tokens"), r.getAs[String]("lang")))
    assert(anchor.getAs[Double]("acceptance") == 1.0)
  }

  test("t74c executes exactly t74b's plan: anchor lang all-accepted, inventories tie") {
    val rows = TextOps.queries("t74c_bpe_temperature_execute")(spark, sf).collect()
    val plan = TextOps
      .queries("t74b_bpe_temperature_mixture")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("tokens"), r.getAs[Double]("acceptance")))
      .toMap
    assert(rows.nonEmpty)
    // per-language executed inventory == the plan's inventory
    val execInv = rows
      .groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.map(_.getAs[Long]("doc_bpe_tokens")).sum)
    execInv.foreach { case (lang, tot) =>
      assert(tot == plan(lang)._1, s"$lang executed inventory drifted")
    }
    // the acceptance-1.0 anchor language accepts EVERY document
    // (u16 < 65536 always; take == tokens there)
    val anchorLang = plan.minBy { case (l, (t, _)) => (t, l) }._1
    rows.filter(_.getAs[String]("lang") == anchorLang).foreach { r =>
      assert(r.getAs[Boolean]("accepted"), s"anchor-lang doc rejected: $r")
    }
    rows.foreach { r =>
      val u = r.getAs[Long]("u16")
      assert(u >= 0L && u < 65536L)
    }
    // at least one rejection somewhere, or the sampler proved nothing
    assert(rows.exists(!_.getAs[Boolean]("accepted")))
  }

  test("t44c's shard ledger ties to the clean set's BPE token total") {
    val shards = TextOps.queries("t44c_clean_shards_bpe")(spark, sf).collect()
    val indep = TextOps
      .t44CleanSet(spark, sf)
      .select("doc_id")
      .join(TextOps.bpeTokenCounts(spark, sf), "doc_id")
      .agg(sum("n_bpe_tokens"))
      .head()
      .getLong(0)
    assert(shards.map(_.getAs[Long]("shard_tokens")).sum == indep,
      "BPE tokens lost or invented between the clean set and the shard report")
    assert(shards.length > 1, "fixture too small to exercise shard boundaries")
  }

  test("t70b: boundary-respecting examples, surfaced waste, and t70's exposure side by side") {
    val B = 512L
    val rows = TextOps.queries("t70b_doc_boundary_packing")(spark, sf).collect()
    val t70 = TextOps
      .queries("t70_sequence_packing")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r)
      .toMap
    assert(rows.nonEmpty)
    var cursor = 0L
    rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val ex = r.getAs[Long]("n_examples")
      assert(ex == (n + B - 1) / B, "example count is not ceil(n/B)")
      assert(r.getAs[Long]("pad_waste") == ex * B - n, "waste not surfaced exactly")
      if (n > 0) {
        // consecutive example ranges: no doc shares an example with
        // another doc — the boundary-respecting contract itself
        assert(r.getAs[Long]("example_first") == cursor, "example ranges overlap or gap")
        assert(r.getAs[Long]("example_last") == cursor + ex - 1)
        cursor += ex
        // the ledger column reproduces t70's truncation exposure
        assert(
          r.getAs[Int]("crosses_t70") == t70(r.getAs[Long]("doc_id")).getAs[Int]("crosses"),
          "crosses_t70 drifted from t70"
        )
      } else {
        assert(r.isNullAt(r.fieldIndex("example_first")))
        assert(r.getAs[Long]("pad_waste") == 0L)
      }
    }
    // the trade is real on this fixture: boundary packing pays waste,
    // t70 pays crossings — both sides nonzero, or the ledger proves
    // nothing
    assert(rows.map(_.getAs[Long]("pad_waste")).sum > 0L)
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("crosses_t70")) && r.getAs[Int]("crosses_t70") == 1))
  }

  test("TTL purge: dead key and temp orphan age out, keep-set and young stores survive") {
    val now = System.currentTimeMillis
    val day = 24L * 3600 * 1000
    val warehouse = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def mk(name: String, createdAt: Option[Long]): java.io.File = {
      val d = new java.io.File(warehouse, name)
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-0").toPath,
        "x".getBytes("UTF-8"))
      createdAt.foreach { ts =>
        java.nio.file.Files.write(
          new java.io.File(d, "_meta.json").toPath,
          s"""{"name":"$name","created_at_ms":$ts,"builder":"fake","source_md5":""}"""
            .getBytes("UTF-8"))
      }
      d
    }
    mk("graft_fakefam_dead", Some(now - 10 * day))
    mk("graft_fakefam_keep", Some(now - 10 * day))
    mk("graft_fakefam_young", Some(now))
    // a crashed builder's dot-temp: no meta — ages by directory mtime
    val orphan = mk(".graft_fakefam_tmp_orphan", None)
    orphan.setLastModified(now - 10 * day)
    val removed = WarehouseStore.purgeOlderThan(
      spark,
      olderThanMs = 5 * day,
      keep = Set("graft_fakefam_keep"),
      prefix = "graft_fakefam_",
      nowMs = now
    )
    assert(
      removed.toSet == Set("graft_fakefam_dead", ".graft_fakefam_tmp_orphan"),
      s"purged wrong set: $removed")
    val left = WarehouseStore.list(spark, "graft_fakefam_").map(_._1).toSet
    assert(left == Set("graft_fakefam_keep", "graft_fakefam_young"), s"survivors wrong: $left")
    // cleanup so reruns in one JVM start fresh
    WarehouseStore.purge(spark, prefix = "graft_fakefam_")
  }
}
