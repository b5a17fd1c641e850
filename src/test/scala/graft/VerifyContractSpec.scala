package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Guards the driver contract around Verify's outputs: oracle_sql.json is
  * built by a hand-rolled escaper and consumed by the driver's json.load —
  * a single malformed oracle string would fail that parse and silently
  * zero a round's correctness (it has no other error channel). Every
  * oracle is round-tripped through a strict JSON parser here, and every
  * declared query is required to carry one (the zero-rows-only invariant
  * the catalog reached in round 6).
  */
class VerifyContractSpec extends AnyFunSuite {

  test("oracle_sql.json parses strictly and round-trips every oracle verbatim") {
    val mapper = new ObjectMapper()
    val node = mapper.readTree(Verify.oracleJson) // throws on malformed JSON
    assert(node.isObject)
    val keys = {
      val it = node.fieldNames()
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(keys.toSet == SparkEntry.oracleSql.keySet)
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(node.get(k).asText() == sql, s"oracle $k did not round-trip")
    }
  }

  test("every declared query carries an oracle — no silent rows-only rows") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }

  /** The r7 (4 rows) / r9 (1 row) red class: a declared query whose FINAL
    * select carries DecimalType hash-diverges under the driver's decimal
    * canonicalization even when every value equals the DuckDB HUGEINT
    * side cell-for-cell. Decimals are fine INSIDE a plan (e32 still
    * accumulates in decimal(38,0)); they may never reach the output —
    * anchor as BIGINT inside the ±9.2e18 envelope, as VARCHAR beyond it.
    */
  test("no declared query emits a DecimalType output column, at any nesting depth") {
    import org.apache.spark.sql.types._
    def decimalPaths(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType     => Seq(path)
      case a: ArrayType       => decimalPaths(a.elementType, s"$path[]")
      case m: MapType         => decimalPaths(m.keyType, s"$path.key") ++
                                   decimalPaths(m.valueType, s"$path.value")
      case s: StructType      => s.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
      case _                  => Nil
    }
    val spark = TestSpark.spark
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try decimalPaths(q(spark, sf).schema, name)
      finally spark.catalog.clearCache() // as Verify does between queries
    }
    assert(offenders.isEmpty, s"DecimalType output columns (driver hash-red risk): $offenders")
  }

  test("_manifest.json parses strictly: one entry per query, failures included") {
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("verify-manifest").toString
    val outcomes = Verify.run(spark, "unused", out, Seq(
      "three_rows" -> ((s: org.apache.spark.sql.SparkSession, _: String) => s.range(3).toDF()),
      "broken" -> ((_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("a \"quoted\"\nmessage\tand a \\ backslash"))
    ))
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/_manifest.json"))
    val node = new ObjectMapper().readTree(text) // throws on malformed JSON
    assert(node.isArray && node.size == 2)
    val ok = node.get(0)
    assert(ok.get("name").asText == "three_rows" && ok.get("status").asText == "ok")
    assert(ok.get("rows").asLong == 3 && ok.get("error").isNull && ok.get("seconds").asDouble > 0)
    val bad = node.get(1)
    assert(bad.get("name").asText == "broken" && bad.get("status").asText == "failed")
    assert(bad.get("rows").isNull)
    assert(bad.get("error").asText == "a \"quoted\"\nmessage\tand a \\ backslash")
    assert(outcomes.map(_.error.isEmpty) == Seq(true, false))
  }
}
