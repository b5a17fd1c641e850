package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.sources.Tables
import graft.stores.WarehouseStore

/** IVF (inverted-file) approximate nearest neighbor — the indexed scale
  * path for similarity search (v1 brute force is the correctness baseline;
  * v3 hyperplane LSH the hash path).
  *
  * Build: k coarse centroids via distributed Lloyd iterations (seeds =
  * deterministic id-sampled vectors — no RNG, reproducible anywhere), then
  * one pass assigning every vector to its nearest centroid (the "inverted
  * list"). Query: score only the `nProbe` nearest lists per query.
  *
  * At 100 TB: centroids come from an id-sampled subset (here: all rows —
  * same code path), assignment is one broadcast-join pass, and queries
  * touch nProbe/k of the data. Everything is DataFrame ops + the native
  * dot expression: no driver-side math except collecting k centroid
  * vectors (k is small by construction).
  */
object IvfAnn {

  val k = 16
  val nProbe = 4
  val lloydIters = 2

  /** Collected centroid table — k × dims floats, tiny by construction
    * (this is the ONE driver-side transfer the IVF design allows). */
  private[graft] def collectCents(centroids: DataFrame): Array[(Int, Seq[Float])] =
    centroids
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .sortBy(_._1)

  /** (dist2, cid) struct per centroid as pure column expressions over the
    * collected table. Struct ordering compares fields in declaration
    * order, so array_min/array_sort over these IS the deterministic
    * "dist2 asc, cid asc" tie-break — identical to the previous windowed
    * row_number form and to the DuckDB oracle. */
  private[operators] def distStructs(cents: Array[(Int, Seq[Float])], v: org.apache.spark.sql.Column) =
    cents.map { case (cid, vec) =>
      struct(
        call_function("graft_dist2", v, typedlit(vec)).as("d"),
        lit(cid).as("cid")
      )
    }

  /** Nearest-centroid id as a single per-row expression — squared L2 as
    * Σ(v_i − c_i)² in index order (same algebraic form as the DuckDB
    * oracle, so near-equidistant assignments tie-break identically on
    * both engines). No crossJoin, no window, NO SHUFFLE: the k-way argmin
    * runs inside whole-stage codegen while the scan streams. This is the
    * 100 TB assignment plan — the previous crossJoin + per-vector
    * row_number window shuffled every (vector × centroid) row.
    *
    * The argmin itself is [[graft.functions.PqEncode]] with ONE subspace
    * spanning the whole vector (same "dist2 asc, cid asc" tie-break as
    * the previous array_min-over-structs form, bit-identical math): a
    * 3-node expression tree instead of k unrolled dist2 nodes, so the
    * janino source stays small no matter how large k grows. */
  private[operators] def assignTo(cents: Array[(Int, Seq[Float])])(df: DataFrame): DataFrame =
    df.withColumn(
      "cid",
      element_at(
        call_function(
          "graft_pq_encode",
          col("embedding"),
          typedlit(Seq(cents.map(_._2).toSeq)),
          typedlit(Seq(cents.map(_._1).toSeq))
        ),
        1
      )
    )

  /** Append each row's `probes` nearest-list ids (by squared L2 of the
    * `vecCol` vector to the collected centroids) as an exploded `cid`
    * column — the shared probe stage of [[query]]/[[queryQuantized]],
    * [[VectorIndexStore.probe]] and the v17 k-NN graph. Pure per-row
    * expressions (array_sort over (dist2, cid) structs + slice): no
    * crossJoin, no window, no shuffle. */
  private[graft] def withProbedCids(
      cents: Array[(Int, Seq[Float])],
      vecCol: String,
      probes: Int = nProbe
  )(df: DataFrame): DataFrame =
    df.select(
        col("*"),
        explode(
          slice(array_sort(array(distStructs(cents, col(vecCol)): _*)), 1, probes)
        ).as("p")
      )
      .withColumn("cid", col("p.cid"))
      .drop("p")

  /** Deterministic k-means-lite: seed with the k lowest vec_ids, run a few
    * Lloyd iterations (assign + per-cluster mean), all as DataFrame ops.
    *
    * `nLists` is the IVF scale knob (SCALING.md): list size ≈ n/nLists, and
    * every consumer's probe cost is proportional to list size, so holding
    * nLists fixed while the corpus grows makes probed work grow linearly
    * per query (quadratic for all-nodes consumers like the v17 graph). The
    * production rule is nLists ∝ n / target-list-size; the default stays
    * [[k]] = 16, the geometry every declared oracle unrolls. */
  def centroids(emb: DataFrame, nLists: Int = k): DataFrame = {
    val spark = emb.sparkSession
    // Seed ids are the seeds' own vec_ids, not a row_number: the mapping
    // vec_id -> rank over the k lowest ids is order-preserving, so every
    // downstream "ties break on cid asc" is unchanged — and there is no
    // unpartitioned numbering window (which would single-partition the plan
    // and WARN on every run if the limit were ever lifted).
    var cents = emb
      .orderBy("vec_id")
      .limit(nLists)
      .select(
        col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<float>").as("centroid")
      )
    (0 until lloydIters).foreach { _ =>
      val assigned = assignTo(collectCents(cents))(emb)
      cents = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(avg("x").as("mean"))
        .groupBy("cid")
        .agg(
          transform(
            array_sort(collect_list(struct(col("dim"), col("mean")))),
            e => e.getField("mean").cast("float")
          ).as("centroid")
        )
    }
    cents
  }

  /** Code version of the `graft_ivf_cents_` store (see
    * [[WarehouseStore.Key]]). */
  private[graft] val centStoreVersion = 1

  /** PERSISTED centroid store — the IVF fit as a content-keyed warehouse
    * artifact (the minhash-signature / kNN-graph store discipline applied
    * to the one provably serial stage of every IVF consumer: each Lloyd
    * fit is 2 driver-blocking action cascades per execution, and
    * v6/v10/v23/v38/v39/m7c/m7d each re-ran the IDENTICAL deterministic
    * fit per run — r14 verdict ask #2). The store holds exactly
    * `centroids(emb, nLists)` — nLists rows of (cid, float32 centroid);
    * floats round-trip parquet bit-exactly and the fit is deterministic
    * (id-seeded, no RNG), so stored == fresh bits (IvfCentStoreSpec pins
    * elementwise equality) and every consumer's declared output hash is
    * unchanged — the driver's CORRECTNESS rows certify exactly that.
    * Key = snapshot of the source fixture, featurization tag and nLists
    * (a regenerated corpus MISSES rather than serving a stale fit);
    * publish is [[WarehouseStore.storedOrBuilt]]'s atomic temp+rename.
    * v21_kmeans_fit deliberately keeps the FRESH fit: it is the declared
    * training-stage certificate (its output hash-checks every assignment
    * against the unrolled-Lloyd oracle each round), so the cold fit path
    * stays an oracle-checked declared query — the store can never drift
    * from the fit unobserved. */
  private[graft] def storedCentroids(
      s: SparkSession,
      snapshot: String,
      tag: String,
      nLists: Int
  )(fit: => DataFrame): Array[(Int, Seq[Float])] =
    collectCents(
      WarehouseStore.storedOrBuilt(
        s,
        WarehouseStore.Key("ivf_cents", centStoreVersion, snapshot, Seq(tag, nLists.toString))
      )(fit)
    )

  /** [[storedCentroids]] for the embeddings fixture — the store every
    * Tables.embeddings-fitting consumer shares (one fit per (corpus
    * content, nLists), however many queries probe it). */
  private[graft] def storedEmbCents(
      s: SparkSession,
      d: String,
      nLists: Int = k
  ): Array[(Int, Seq[Float])] =
    storedCentroids(
      s,
      WarehouseStore.fixtureSnapshot(d, "embeddings.parquet"),
      "emb",
      nLists
    )(centroids(Tables.embeddings(s, d), nLists))

  /** Declared query: IVF top-5 neighbors for queries vec_id < 10, probing
    * the nProbe nearest lists. The build is hash-free and deterministic, so
    * unlike the LSH family this IS oracle-checked (unrolled-Lloyd DuckDB
    * SQL, `VectorOps.oracles("v6_ann_ivf")`); recall vs v1 is additionally
    * gated in ScalaTest. */
  def query(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val centArr = storedEmbCents(s, d)
    val indexed = assignTo(centArr)(emb) // (vec_id, embedding, cid)

    val queries = emb.filter(col("vec_id") < 10)
    val probes = withProbedCids(centArr, "qe")(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    )

    // score only vectors in probed lists
    val wr = Window
      .partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    // the probe set is queries x nProbe — broadcast it so the INDEX side
    // never shuffles (at scale the inverted lists are the 100 TB side and
    // a sort-merge join on cid would reshuffle all of them)
    // norms hoisted to ONCE PER ROW on each side before the join (v1's
    // pattern): inside the join condition each sqrt(dot) re-ran its
    // 64-mult fold per PAIR — a candidate probed by k queries paid its
    // norm k times (round-10 review). sqrt(a)·sqrt(b) is the identical
    // double op sequence, so cos is bit-for-bit unchanged.
    broadcast(probes.withColumn("qn", sqrt(call_function("graft_dot", col("qe"), col("qe")))))
      .join(
        indexed.withColumn("cn", sqrt(call_function("graft_dot", col("embedding"), col("embedding")))),
        Seq("cid")
      )
      .filter(col("vec_id") =!= col("qid"))
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) / (col("qn") * col("cn"))
      )
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid").as("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** The composed production serving plan (v10 = v6 × v8 × v9's tail): IVF
    * inverted lists stored int8-QUANTIZED, probes scored with the quantized
    * cosine (the scan that reads 4× fewer bytes per probed list at scale),
    * exact full-precision re-rank of only the top-10 coarse survivors per
    * query. Deterministic end to end (id-seeded Lloyd + half-away-from-zero
    * quantization), so fully oracle-checked by composing the v6 and v9
    * oracle constructions; recall vs v1 is gated in ScalaTest alongside
    * v6's.
    *
    * At 100 TB: the index at rest is (cid, vec_id, qf, qn) — a quarter of
    * the float32 footprint; the full-precision vectors are touched only for
    * the ≤10 survivors per query (a point-lookup-sized read), and every
    * stage is a broadcast join or a partitioned window keyed by query. */
  def queryQuantized(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val centArr = storedEmbCents(s, d)
    // index at rest: inverted lists with int8 codes + their norm
    val indexed = assignTo(centArr)(emb)
      .withColumn(
        "qf",
        call_function("graft_quantize_int8", col("embedding")).cast("array<float>")
      )
      .withColumn("qn", sqrt(call_function("graft_dot", col("qf"), col("qf"))))

    val queries = emb
      .filter(col("vec_id") < 10)
      .withColumn(
        "query_qf",
        call_function("graft_quantize_int8", col("embedding")).cast("array<float>")
      )
      .withColumn(
        "query_qn",
        sqrt(call_function("graft_dot", col("query_qf"), col("query_qf")))
      )
      .select(
        col("vec_id").as("qid"),
        col("embedding").as("qe"),
        col("query_qf"),
        col("query_qn")
      )

    val probes = withProbedCids(centArr, "qe")(queries)

    val wc = Window.partitionBy("qid").orderBy(col("qcos").desc, col("vec_id").asc)
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    // the probe set is queries x nProbe — broadcast it so the INDEX side
    // never shuffles (at scale the inverted lists are the 100 TB side and
    // a sort-merge join on cid would reshuffle all of them)
    broadcast(probes)
      .join(indexed, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      // coarse pass touches ONLY the quantized codes
      .withColumn(
        "qcos",
        call_function("graft_dot", col("query_qf"), col("qf")) /
          (col("query_qn") * col("qn"))
      )
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= 10)
      // exact re-rank touches only the 10 survivors per query; norms
      // stay inline HERE by design — hoisting the full-precision
      // embedding norm onto the index side would compute it for every
      // probed row when only <=10 survivors per query ever need it
      // (the coarse pass reads the stored qn; this is the one site
      // where per-pair is the cheaper side of the trade)
      .withColumn(
        "cos",
        call_function("graft_dot", col("qe"), col("embedding")) /
          (sqrt(call_function("graft_dot", col("qe"), col("qe"))) *
            sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
      )
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid").as("query_id"), col("rnk"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rnk")
  }

  /** Incremental index upsert (v20) — t23's incremental-dedup contract
    * applied to the vector index: when a new embedding batch arrives, a
    * serving index is NOT refit (that would invalidate every stored list
    * assignment and force a full rebuild); the increment is assigned to
    * the EXISTING centroids and appended to their lists. Output is the
    * index-maintenance ledger: per list, its size before, the arrivals,
    * its size after, and the growth ratio — the signal an index operator
    * watches to decide when drift has earned a refit.
    *
    * Fixture split: vec_id % 10 == 0 is the arriving batch; the rest is
    * the corpus the index was built on.
    *
    * Scale shape: the fit sees only the existing corpus (one bounded
    * centroid collect, the IVF contract); BOTH assignment passes are the
    * shuffle-free codegen argmin over broadcast centroids, so the
    * increment never shuffles and the ledger aggregates straight to k
    * rows. At 100 TB the old_size column comes from the persisted index's
    * list metadata ([[VectorIndexStore]]) instead of the rescan this
    * test-scale form runs — the increment-side plan (the part that runs
    * per batch) is identical. */
  def upsert(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
    val existing = emb.filter(col("vec_id") % 10 =!= 0)
    val increment = emb.filter(col("vec_id") % 10 === 0)
    val centArr = collectCents(centroids(existing))
    val oldSizes = assignTo(centArr)(existing)
      .groupBy("cid")
      .agg(count(lit(1)).as("old_size"))
    val added = assignTo(centArr)(increment)
      .groupBy("cid")
      .agg(count(lit(1)).as("added"))
    // FULL outer: a list can be all-arrivals (its residents migrated away
    // in the fit's last Lloyd pass) — a left join would silently drop its
    // arrivals from the ledger and break conservation. Growth over an
    // empty list is NULL (defined identically in the oracle), not ∞.
    oldSizes
      .join(added, Seq("cid"), "full")
      .withColumn("added", coalesce(col("added"), lit(0L)))
      .withColumn("old_size", coalesce(col("old_size"), lit(0L)))
      .select(
        col("cid").cast("long").as("cid"),
        col("old_size"),
        col("added"),
        (col("old_size") + col("added")).as("new_size"),
        when(col("old_size") === 0, lit(null).cast("double"))
          .otherwise(round(col("added") / col("old_size"), 6))
          .as("growth")
      )
      .orderBy("cid")
  }
}
