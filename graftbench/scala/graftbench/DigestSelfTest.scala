package graftbench

import org.apache.spark.sql.Row

/** Self-test of [[Digest]], runnable without a Spark session:
  *
  *   java -cp <classpath> graftbench.DigestSelfTest
  *
  * Prints one line per failed property and exits non-zero if any failed. */
object DigestSelfTest {
  def main(args: Array[String]): Unit = {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, -2.0))
    val checks = Seq(
      "row order does not matter" -> (Digest.ofRows(rows) == Digest.ofRows(rows.reverse)),
      "a changed value changes the digest" ->
        (Digest.ofRows(rows) != Digest.ofRows(rows.updated(1, Row(2L, "b", 1.26)))),
      "a duplicated row changes the digest" -> (Digest.ofRows(rows) != Digest.ofRows(rows :+ rows.head)),
      "the row count leads the digest" -> Digest.ofRows(rows).startsWith("3:"),
      "reassociated sums agree" -> (Digest.ofRows(Seq(Row(0.1 + 0.2))) == Digest.ofRows(Seq(Row(0.3)))),
      "negative zero equals zero" -> (Digest.canonical(-0.0) == Digest.canonical(0.0)),
      "cancellation residue is zero" -> (Digest.canonical(1e-17) == Digest.canonical(0.0)),
      "six significant digits are kept" -> (Digest.canonical(1.23456) != Digest.canonical(1.23457)),
      "floats and doubles agree" -> (Digest.canonical(0.5f) == Digest.canonical(0.5)),
      "NaN is stable" -> (Digest.canonical(Double.NaN) == "NaN"),
      "array element order does not matter" ->
        (Digest.ofRows(Seq(Row(Seq(1, 2, 3)))) == Digest.ofRows(Seq(Row(Seq(3, 1, 2))))),
      "array contents matter" -> (Digest.ofRows(Seq(Row(Seq(1, 2)))) != Digest.ofRows(Seq(Row(Seq(1, 3))))),
      "map entry order does not matter" ->
        (Digest.canonical(scala.collection.immutable.ListMap("a" -> 1, "b" -> 2)) ==
          Digest.canonical(scala.collection.immutable.ListMap("b" -> 2, "a" -> 1))),
      "nested rows are rendered in full" ->
        (Digest.canonical(Row(1, Row("x", 2.0))) == "(1,(x,2.00000e+00))"),
      "null differs from the string null" -> (Digest.ofRows(Seq(Row(null))) != Digest.ofRows(Seq(Row("nil")))),
      "empty result" -> (Digest.ofRows(Nil) == "0:0000000000000000")
    )
    val failed = checks.filterNot(_._2).map(_._1)
    failed.foreach(f => println(s"FAILED: $f"))
    println(s"${checks.size - failed.size}/${checks.size} digest properties hold")
    if (failed.nonEmpty) sys.exit(1)
  }
}
