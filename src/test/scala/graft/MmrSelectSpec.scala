package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** Behavioral gates for the MMR Generator: the whole point of the operator
  * is that it does NOT return the pure relevance ranking when the top
  * candidates are redundant — pinned here on a constructed fixture, since
  * the driver's embeddings corpus has no near-duplicate vectors.
  */
class MmrSelectSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** (id, rel, vec): ids 1 and 2 are near-identical vectors with the two
    * highest relevances; id 3 is orthogonal with lower relevance. Pure
    * top-k would return (1, 2, 3); MMR must demote the near-copy. */
  private def fixture = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 0.90, Array(1.0f, 0.0f, 0.0f)),
      (2L, 0.89, Array(0.999f, 0.01f, 0.0f)),
      (3L, 0.50, Array(0.0f, 1.0f, 0.0f)),
      (4L, 0.40, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "rel", "embedding")
  }

  private def run(df: org.apache.spark.sql.DataFrame) = {
    GraftFunctions.register(spark)
    df.groupBy(lit(0).as("g"))
      .agg(collect_list(struct(col("vec_id"), col("rel"), col("embedding"))).as("cands"))
      .selectExpr("graft_mmr(cands) AS (rnk, neighbor_id, score)")
      .orderBy("rnk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  test("pick 1 is the raw-relevance argmax") {
    val out = run(fixture)
    assert(out.head == ((1L, 1L, 0.9)))
  }

  test("near-duplicate of the top pick is demoted below diverse candidates") {
    val out = run(fixture)
    val order = out.map(_._2).toSeq
    // cos(1,2) ~ 1.0 -> id 2's MMR score ~ 0.7*0.89 - 0.3*1.0 ~ 0.323,
    // below id 3 (0.7*0.5 - 0.3*0 = 0.35): diversity beats raw relevance
    assert(order.indexOf(3L) < order.indexOf(2L), s"got $order")
    assert(order.take(2) == Seq(1L, 3L), s"got $order")
  }

  test("scores are monotonically non-increasing after the first MMR pick") {
    val out = run(fixture).drop(1)
    val scores = out.map(_._3).toSeq
    assert(scores == scores.sorted.reverse, s"got $scores")
  }

  test("fewer candidates than k emits all candidates exactly once") {
    val out = run(fixture)
    assert(out.length == 4)
    assert(out.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  // ---- properties, via direct Catalyst eval (no Spark job per trial) ----

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types._
  import graft.functions.MmrSelect

  private val candType = ArrayType(
    StructType(
      Seq(
        StructField("vec_id", LongType),
        StructField("rel", DoubleType),
        StructField("embedding", ArrayType(FloatType))
      )
    )
  )

  private def evalMmr(
      cands: Seq[(Long, Double, Array[Float])],
      k: Int,
      lam: Double
  ): Seq[(Long, Long, Double)] = {
    val av = new GenericArrayData(
      cands.map { case (id, rel, v) =>
        InternalRow(id, rel, new GenericArrayData(v.map(x => x: Any)))
      }.toArray[Any]
    )
    MmrSelect(Literal(av, candType), k, lam)
      .eval(InternalRow.empty)
      .iterator
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
  }

  private def randomCands(rnd: scala.util.Random, n: Int) =
    (0 until n).map { i =>
      // rels on a 1e-3 grid, all distinct -> 6-dp rounding cannot reorder
      (i.toLong, (rnd.shuffle((1 to 500).toList).head + i * 500) * 0.001,
        Array.fill(8)(rnd.nextFloat() - 0.3f))
    }

  test("property: picks are distinct, within the candidate set, min(k,n) long") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val n = 3 + rnd.nextInt(8)
      val cands = randomCands(rnd, n)
      val out = evalMmr(cands, 5, 0.7)
      assert(out.length == math.min(5, n))
      assert(out.map(_._2).distinct.length == out.length)
      assert(out.map(_._2).toSet.subsetOf(cands.map(_._1).toSet))
      assert(out.map(_._1) == (1 to out.length).map(_.toLong))
    }
  }

  test("property: output is invariant under candidate input order") {
    val rnd = new scala.util.Random(23)
    for (_ <- 1 to 50) {
      val cands = randomCands(rnd, 3 + rnd.nextInt(8))
      val out = evalMmr(cands, 5, 0.7)
      assert(evalMmr(rnd.shuffle(cands), 5, 0.7) == out)
    }
  }

  test("property: lambda=1 degenerates to the pure relevance ranking") {
    val rnd = new scala.util.Random(37)
    for (_ <- 1 to 50) {
      val cands = randomCands(rnd, 3 + rnd.nextInt(8))
      val out = evalMmr(cands, 5, 1.0)
      val byRel = cands.sortBy { case (id, rel, _) => (-rel, id) }.map(_._1)
      assert(out.map(_._2) == byRel.take(out.length))
    }
  }
}
