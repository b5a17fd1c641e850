package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("payload bytes survive the binary column round-trip") {
    val docs = Seq((1L, "hello"), (2L, "wörld")).toDF("doc_id", "text")
    val out = Multimodal
      .withPayload(docs)
      .as[(Long, Array[Byte])]
      .collect()
      .toMap
    assert(new String(out(1L), "UTF-8") == "hello")
    assert(out(2L).length == 6) // ö is 2 bytes in UTF-8
  }

  test("batched decode emits one MediaMeta per payload with stub features") {
    val docs = (0 until 200).map(i => (i.toLong, "x" * (i + 1))).toDF("doc_id", "text")
    val metas = Multimodal.decode(Multimodal.withPayload(docs)).collect()
    assert(metas.length == 200)
    val m = metas.find(_.mediaId == 9L).get
    assert(m.nBytes == 10L)
    assert(m.width == 64 + 10 % 64)
    assert(m.height == 64 + ('x'.toInt % 64))
    assert(m.nFrames == 1 + 10 % 8)
    assert(m.format == "fake/even")
  }

  test("frame sampling slices the right byte ranges with every-2nd-frame stride") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-m2").toString
    // "abcdefghij": 10 bytes -> n_frames = 1 + 10%8 = 3, frame_size = 3,
    // sampled frame_idx {0, 2} -> frames "abc" (a=97) and "ghi" (g=103)
    Seq((1L, "abcdefghij", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Multimodal.frameSampleQuery(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Int]("n_frames") == 3)
    assert(row.getAs[Long]("n_sampled") == 2L)
    assert(row.getAs[Long]("sampled_bytes") == 6L)
    assert(row.getAs[Long]("first_byte_sum") == 97L + 103L)
  }

  test("ASCII-corpus assumption behind the byte/char oracle equivalence holds") {
    // m1/m2's DuckDB oracles use char-based ascii()/substr() while the
    // Spark side counts raw BYTES of the binary payload; the two agree only
    // on a pure-ASCII corpus. Guard the assumption at both driver scale
    // factors so a future corpus change fails HERE, not as a silent
    // oracle divergence.
    import org.apache.spark.sql.functions._
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val nonAscii = spark.read
        .parquet(s"$sf/documents.parquet")
        .filter(!col("text").rlike("^[\\x00-\\x7F]*$"))
        .count()
      assert(nonAscii == 0L, s"non-ASCII documents in $sf")
    }
  }

  test("metadata-only aggregation never touches payload bytes (column pruning)") {
    val plan = Multimodal
      .metaQuery(spark, "/root/testdata/sf0.001")
      .queryExecution
      .executedPlan
      .toString
    // the scan feeding decode() must read doc_id + text only
    assert(!plan.contains("lang") && !plan.contains("source"))
  }

  test("m4 chunk dedup finds exact copies, embedded copies, and ignores disjoint blobs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // chunk-aligned fixtures (chunkSize=8 for readability):
    //  1,2: exact copies                      -> ratio 1.0
    //  3:   blob 1 embedded at a chunk boundary inside noise
    //       -> containment 1.0 on the smaller side
    //  4:   shares exactly half its chunks with 3's noise  -> ratio 0.5
    //  5:   disjoint                          -> no pair
    val b1 = "AAAAAAAABBBBBBBB" // chunks {A8, B8}
    val noise = "CCCCCCCCDDDDDDDD"
    val media = Seq(
      (1L, b1),
      (2L, b1),
      (3L, b1 + noise), // {A8, B8, C8, D8}
      (4L, noise),      // {C8, D8} -> vs 3: shared 2, least nch 2 -> 1.0
      (5L, "EEEEEEEEFFFFFFFF")
    ).toDF("media_id", "payload_s")
      .select(col("media_id"), col("payload_s").cast("binary").as("payload"))
    val got = graft.multimodal.MultimodalOps
      .chunkPairs(media, chunkSize = 8, dfCap = 32, minRatio = 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got((1L, 2L)) == ((2L, 1.0)), "exact copy pair")
    assert(got((1L, 3L)) == ((2L, 1.0)), "embedded copy containment")
    assert(got((2L, 3L)) == ((2L, 1.0)))
    assert(got((3L, 4L)) == ((2L, 1.0)), "suffix containment")
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L), "disjoint blob paired")
  }

  test("m5 frame dedup pairs media by sampled-frame overlap, blind to unsampled frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 128-byte payloads on the 32-byte raster: 4 frames, SAMPLED idx {0, 2}
    // -> byte ranges [0,32) and [64,96).
    // Media 2 copies 1 exactly -> 2/2 sampled frames shared, ratio 1.0.
    // Media 3 differs inside sampled frame 2 (byte 70) -> 1/2 = 0.5.
    // Media 4 differs inside UNSAMPLED frame 1 (byte 40) -> still 2/2: the
    // stride trades that blindness for 2x less hash work, by design.
    // Media 5 is disjoint -> no pair.
    // Period-94 content so no two 32-byte frames collide.
    val base = (0 until 128).map(i => (33 + i % 94).toChar).mkString
    val m3 = base.updated(70, ' ')
    val m4 = base.updated(40, ' ')
    val docs = Seq(
      (1L, base), (2L, base), (3L, m3), (4L, m4),
      (5L, base.reverse)
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-m5").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.multimodal.MultimodalOps
      .queries("m5_frame_dedup")(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got((1L, 2L)) == ((2L, 1.0)), "exact copy at frame grain")
    assert(got((1L, 3L)) == ((1L, 0.5)), "one sampled frame changed")
    assert(got((1L, 4L)) == ((2L, 1.0)), "unsampled-frame change is invisible")
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L), "disjoint media paired")
  }

  test("m7b banded semantic dedup equals the exact pair criterion at both driver SFs") {
    // The certification m7's Scaladoc promises: on a separable embedding
    // geometry (graft_gram_embed — near-dup payloads ≥ ~0.89 cosine,
    // background ≤ ~0.62), bandedCandidates in front of the exact verify
    // reproduces the exact all-pairs result EXACTLY. Deterministic planes +
    // deterministic data: if this holds here it holds in the driver run.
    import graft.multimodal.MultimodalOps
    graft.functions.GraftFunctions.register(spark)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val emb = MultimodalOps.gramEmbeddings(docs).cache()
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
      val exact = a
        .crossJoin(broadcast(b))
        .filter(col("id_a") < col("id_b"))
        .withColumn(
          "cos",
          call_function("graft_dot", col("ea"), col("eb")) / (col("na") * col("nb"))
        )
        .filter(col("cos") > 0.8)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val banded = MultimodalOps
        .semanticDedupBandedQuery(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(exact.nonEmpty, s"no true pairs at $sf — the gate would be vacuous")
      assert(banded == exact, s"banded != exact at $sf")
      emb.unpersist()
    }
  }

  test("m7c ivf-pruned dedup equals m7b (and therefore the exact criterion) at both driver SFs") {
    // The round-9 lever composition: top-2 multi-probe means a true pair
    // COULD split across coarse clusters, so cluster pruning earns its
    // declaration only by reproducing the banded (== exact, gated above)
    // pair set exactly. Deterministic centroids + deterministic data: if
    // this holds here it holds in the driver run, where the oracle is
    // the same exact criterion SQL.
    import graft.multimodal.MultimodalOps
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val banded = MultimodalOps
        .semanticDedupBandedQuery(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val ivf = MultimodalOps
        .semanticDedupIvfQuery(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(banded.nonEmpty, s"no pairs at $sf — the gate would be vacuous")
      assert(ivf == banded,
        s"ivf != banded at $sf: missed=${banded -- ivf} extra=${ivf -- banded}")
    }
  }

  test("assigned-banding primitive equals the exploded-frame keyed form (r15 m7c shape)") {
    // m7c now bands each vector ONCE and joins the (cid, vec_id)
    // multi-probe assignment onto the banded rows; the candidate SET
    // must equal the previous shape's (banding the exploded probed
    // frame) at any probe fan-out — same (cid, band, bh) keyspace.
    import graft.multimodal.MultimodalOps
    import graft.operators.{IvfAnn, VectorOps}
    graft.functions.GraftFunctions.register(spark)
    val emb = MultimodalOps.gramEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    val cents = IvfAnn.collectCents(
      IvfAnn.centroids(emb.select(col("vec_id"), col("embedding")), 8)
    )
    val probed = IvfAnn.withProbedCids(cents, "embedding", probes = 3)(
      emb.select("vec_id", "embedding", "nrm")
    )
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keyed = pairs(
      VectorOps.bandedCandidateStreamKeyed(
        probed.select("cid", "vec_id", "embedding"),
        extraKeys = Seq("cid"), nBands = 12, bandBits = 6
      )
    )
    val assigned = pairs(
      VectorOps.bandedCandidateStreamAssigned(
        emb.select("vec_id", "embedding"),
        probed.select("cid", "vec_id"),
        extraKeys = Seq("cid"), nBands = 12, bandBits = 6
      )
    )
    assert(keyed.nonEmpty, "vacuous gate — no banded collisions at this geometry")
    assert(assigned == keyed,
      s"assigned != keyed: missed=${keyed -- assigned} extra=${assigned -- keyed}")
  }

  test("m7e band-sharded dedup equals one-shot m7b at both driver SFs, at uneven shard counts") {
    // Exactness-by-construction still deserves a gate: the union over
    // band GROUPS must reproduce the one-shot pair set including pairs
    // that collide in bands of DIFFERENT groups (the closing distinct's
    // job), and the last group being narrower than the rest (nBands not
    // divisible by shards) must not drop a band. shards=3 exercises both
    // at these SFs' solved geometries.
    import graft.multimodal.MultimodalOps
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val oneShot = MultimodalOps
        .semanticDedupBandedQuery(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val sharded = MultimodalOps
        .semanticDedupBandedSharded(spark, sf, shards = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(oneShot.nonEmpty, s"no pairs at $sf — the gate would be vacuous")
      assert(sharded == oneShot,
        s"sharded != one-shot at $sf: missed=${oneShot -- sharded} extra=${sharded -- oneShot}")
    }
  }

  test("m7b plan has no all-pairs stage (no cartesian/broadcast-NL join)") {
    val plan = graft.multimodal.MultimodalOps
      .semanticDedupBandedQuery(spark, "/root/testdata/sf0.001")
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("CartesianProduct"), "cartesian in m7b plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "broadcast-NL in m7b plan")
  }

  test("m7c plan has no all-pairs stage and keys its candidate join on (cid, band, bh)") {
    val plan = graft.multimodal.MultimodalOps
      .semanticDedupIvfQuery(spark, "/root/testdata/sf0.001")
      .queryExecution
      .executedPlan
      .toString
    assert(!plan.contains("CartesianProduct"), "cartesian in m7c plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "broadcast-NL in m7c plan")
    assert(plan.contains("graft_band_hashes"), "m7c lost its fused signature expression")
    // the collision join must carry the cluster key — without it the
    // plan degrades to m7b's corpus-wide buckets and the in-list solve
    // is meaningless
    // any equi-join keyed on cid qualifies (tiny SFs broadcast the
    // banded side; scale plans sort-merge — the key is the invariant)
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid#".r.findFirstIn(plan).isDefined,
      s"m7c candidate join no longer keyed on cid:\n$plan"
    )
  }
}
