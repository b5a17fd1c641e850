package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.IvfAnn
import graft.sources.Tables
import graft.stores.WarehouseStore

/** Store-parity gate for the persisted IVF centroid store (r14 verdict
  * ask #2): the stored fit must be BIT-IDENTICAL to a fresh fit — floats
  * round-trip parquet exactly and the fit is deterministic — so every
  * consumer's declared output is unchanged whether it hits a cold or a
  * warm store. Also pins the key discipline: a different nLists or a
  * different featurization tag is a different store. */
class IvfCentStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("stored centroids == fresh fit, bit for bit, cold and warm") {
    val emb = Tables.embeddings(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    val fresh = IvfAnn.collectCents(IvfAnn.centroids(emb))
    val cold = IvfAnn.storedEmbCents(spark, sf) // first call: builds + publishes
    val warm = IvfAnn.storedEmbCents(spark, sf) // second call: reads the store
    for ((got, name) <- Seq((cold, "cold"), (warm, "warm"))) {
      assert(got.length == fresh.length, s"$name store lost lists")
      fresh.zip(got).foreach { case ((fc, fv), (gc, gv)) =>
        assert(fc == gc, s"$name cid drifted: $fc vs $gc")
        // exact float equality, elementwise — parity means BITS
        assert(fv == gv, s"$name centroid $fc drifted")
      }
    }
  }

  test("store key separates nLists and featurization tags") {
    val snap = WarehouseStore.fixtureSnapshot(sf, "embeddings.parquet")
    val emb = Tables.embeddings(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    val k8 = IvfAnn.storedCentroids(spark, snap, "emb", 8)(IvfAnn.centroids(emb, 8))
    val k16 = IvfAnn.storedEmbCents(spark, sf)
    assert(k8.length != k16.length, "nLists must key distinct stores")
    // a distinct tag over the same fixture+nLists builds its own store
    // (the builder frame proves which store served the read)
    val tagged = IvfAnn.storedCentroids(spark, snap, "spec-tag", 8)(
      IvfAnn.centroids(emb.filter(col("vec_id") < 20), 8)
    )
    assert(tagged.map(_._1).toSeq != k8.map(_._1).toSeq ||
      tagged.map(_._2).toSeq != k8.map(_._2).toSeq,
      "tag must key distinct stores")
  }
}
