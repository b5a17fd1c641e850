package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.F

/** Unit + property tests for the column-function library. The os_arch truth
  * table and GPU vendor cases are ported 1:1 from the reference's
  * tests/test_hardware_report.py:23-49.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def evalOsArch(arch: String, os: String, wow64: Boolean): String =
    Seq((arch, os, wow64))
      .toDF("browser_arch", "os", "is_wow64")
      .select(F.osArch(col("browser_arch"), col("os"), col("is_wow64")))
      .head()
      .getString(0)

  test("osArch truth table (reference tests/test_hardware_report.py:25-40)") {
    assert(evalOsArch("x86", "Windows_NT", false) == "x86")
    assert(evalOsArch("x86", "Windows_NT", true) == "x86-64")
    assert(evalOsArch("x86", "Darwin", true) == "x86")
    assert(evalOsArch("x86-64", "Darwin", true) == "x86-64")
    assert(evalOsArch("x86-64", "Windows_NT", false) == "x86-64")
    assert(evalOsArch("aarch64", "Darwin", false) == "aarch64")
  }

  test("gpuVendorName known/unknown (reference :42-49)") {
    val out = Seq("0x1013", "0xfeee", "0x10de")
      .toDF("v")
      .select(F.gpuVendorName(col("v")))
      .as[String]
      .collect()
    assert(out.sameElements(Array("Cirrus Logic", "Other", "NVIDIA")))
  }

  test("bit function identities (property)") {
    val cases = (0 until 63).map(k => 1L << k) ++
      Seq(0L, 127L, 128L, 255L, Long.MaxValue, 0x5555555555555555L)
    val df = cases.toDF("bits").select(
      col("bits"),
      F.posOfTrailingSetBit(col("bits")).as("pos"),
      F.bitcountLowest7(col("bits")).as("low7")
    )
    df.collect().foreach { r =>
      val bits = r.getLong(0)
      val pos = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val low7 = r.getInt(2)
      assert(low7 == java.lang.Long.bitCount(bits & 127L))
      if (bits == 0L) assert(pos.isEmpty)
      else assert(pos.contains(java.lang.Long.numberOfTrailingZeros(bits)))
    }
  }

  test("truncateVersionMajor") {
    val out = Seq("72.0.1", "71.0", "beta", "100", "9a", "")
      .toDF("v")
      .select(F.truncateVersionMajor(col("v")))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.sameElements(Array(Some(72L), Some(71L), None, Some(100L), Some(9L), None)))
  }

  test("wordShingles") {
    val out = Seq("a b c d", "a b", "").toDF("t")
      .select(F.wordShingles(F.wsTokens(col("t")), 3).as("s"))
      .as[Seq[String]]
      .collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq.empty)
  }

  test("native DotProductFloat matches the fold-based dot bit-for-bit") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0 until 50).map { i =>
      (Array.tabulate(64)(k => (math.sin(i * 64 + k) * 3).toFloat),
       Array.tabulate(64)(k => (math.cos(i * 64 + k) * 3).toFloat))
    }
    val df = vecs.toDF("a", "b")
    val out = df
      .select(
        F.dot(col("a"), col("b")).as("fold"),
        call_function("graft_dot", col("a"), col("b")).as("native")
      )
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("QuantizeInt8: known values, rounding rule, zero vector, scale bounds") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Seq(
      // absmax 2.0 -> scale 2/127; 1.0f -> 63.5 -> 64 (half away from zero)
      Array(2.0f, 1.0f, -1.0f, 0.0f),
      Array(0.0f, 0.0f, 0.0f, 0.0f), // all-zero -> all zeros, no div-by-0
      Array(-3.0f, 1.5f, 3.0f, -1.5f) // negative absmax; -1.5f -> -63.5 -> -64
    ).toDF("v")
    val out = vecs
      .select(call_function("graft_quantize_int8", col("v")).as("q"))
      .collect()
      .map(_.getSeq[Byte](0))
    assert(out(0) == Seq[Byte](127, 64, -64, 0))
    assert(out(1) == Seq[Byte](0, 0, 0, 0))
    assert(out(2) == Seq[Byte](-127, 64, 127, -64))
    // every component is within the int8 range by construction
    out.foreach(q => q.foreach(b => assert(b >= -127 && b <= 127)))
  }

  test("quantized embeddings keep cosine structure on real vectors") {
    graft.functions.GraftFunctions.register(spark)
    val out = graft.operators.VectorOps
      .queries("v8_embed_quantize")(spark, "/root/testdata/sf0.001")
      .select("cos_keep")
      .collect()
      .map(_.getDouble(0))
    // int8 symmetric quantization of 64-dim vectors: cosine with the
    // original should survive almost unchanged for every vector
    assert(out.nonEmpty)
    assert(out.forall(_ > 0.995), s"worst=${out.min}")
  }

  test("dot/cosine in double precision") {
    val out = Seq((Array(1.0f, 2.0f), Array(2.0f, 3.0f)))
      .toDF("a", "b")
      .select(F.cosine(col("a"), col("b")))
      .head()
      .getDouble(0)
    assert(math.abs(out - 8.0 / math.sqrt(5.0 * 13.0)) < 1e-15)
  }

  test("graft functions register once per session registry, and again when one is missing") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.functions.GraftFunctions
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val dot = FunctionIdentifier("graft_dot")
    assert(!registry.functionExists(dot))
    GraftFunctions.register(fresh)
    assert(GraftFunctions.builders.forall { case (n, _, _) => registry.functionExists(FunctionIdentifier(n)) })
    // a second call leaves the registered builders in place (re-registering
    // logs "replaced a previously registered function" per name)
    val before = registry.lookupFunctionBuilder(dot)
    GraftFunctions.register(fresh)
    assert(registry.lookupFunctionBuilder(dot).get eq before.get)
    registry.dropFunction(dot)
    GraftFunctions.register(fresh)
    assert(fresh.sql("SELECT graft_dot(CAST(array(1, 2) AS array<float>), CAST(array(3, 4) AS array<float>))").head().getDouble(0) == 11.0)
  }
}
