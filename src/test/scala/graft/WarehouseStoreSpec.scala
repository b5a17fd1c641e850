package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IvfAnn, TextOps, VectorOps}
import graft.stores.WarehouseStore
import graft.stores.WarehouseStore.Key

/** The one store-key discipline, table-driven over every store family
  * (plus a fake one standing for the next family to be added): names
  * are `graft_<family>_` + a full 32-hex md5, every key field reaches
  * the name, and a version bump misses instead of serving a store built
  * by older code.
  */
class WarehouseStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (family, the version its builder declares). */
  private val families = Seq(
    "minhash_sigs" -> TextOps.minhashStoreVersion,
    "suffix_ranks" -> TextOps.suffixStoreVersion,
    "suffix_grams" -> TextOps.suffixStoreVersion,
    "knn_graph" -> VectorOps.knnGraphStoreVersion,
    "ivf_cents" -> IvfAnn.centStoreVersion,
    "bpe_tokens" -> TextOps.bpeTokensStoreVersion,
    "fakefam" -> 1
  )

  for ((family, version) <- families) {
    val key = Key(family, version, "snapshot-a", Seq("16", "emb"))

    test(s"$family: name is graft_${family}_ + 32 lowercase hex") {
      assert(key.name.matches(s"graft_${family}_[0-9a-f]{32}"), key.name)
    }

    test(s"$family: changing version, snapshot or any param changes the name") {
      val variants = Seq(
        key.copy(version = version + 1),
        key.copy(snapshot = "snapshot-b"),
        key.copy(params = Seq("50", "emb")),
        key.copy(params = Seq("16", "tag")),
        key.copy(params = Seq("16")),
        // the same characters split differently across fields
        key.copy(params = Seq("16emb")),
        key.copy(snapshot = "snapshot-a16", params = Seq("emb"))
      )
      val names = (key +: variants).map(_.name)
      assert(names.distinct.size == names.size, s"two keys share a name: $names")
    }

    test(s"$family: a bumped version misses and builds beside the old store") {
      val v1 = Key(family, version, s"spec-${java.util.UUID.randomUUID}", Nil)
      val v2 = v1.copy(version = version + 1)
      var builds = 0
      def build(n: Long) = { builds += 1; spark.range(n).toDF("id") }
      try {
        assert(WarehouseStore.storedOrBuilt(spark, v1)(build(3)).count() == 3L)
        assert(WarehouseStore.storedOrBuilt(spark, v1)(build(7)).count() == 3L)
        assert(builds == 1, "an unchanged key rebuilt instead of reading its store")
        assert(WarehouseStore.storedOrBuilt(spark, v2)(build(5)).count() == 5L)
        assert(builds == 2, "a bumped version served the old store")
        val names = WarehouseStore.list(spark, s"graft_${family}_").map(_._1).toSet
        assert(names(v1.name) && names(v2.name), s"both versions should stay on disk: $names")
        assert(WarehouseStore.storedOrBuilt(spark, v1)(build(7)).count() == 3L && builds == 2,
          "the old version's store was disturbed")
        val m = WarehouseStore.meta(spark, v2.name)
        assert(m.map(x => (x.name, x.builder, x.sourceMd5)) ==
          Seq((v2.name, Some(family), Some(WarehouseStore.md5Hex(v2.snapshot)))))
      } finally Seq(v1, v2).foreach(k => WarehouseStore.purge(spark, prefix = k.name))
    }
  }
}
