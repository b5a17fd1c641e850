package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.annotations.Annotations

class AnnotationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def buildhub = {
    val schema = StructType(
      Seq(
        StructField(
          "build",
          StructType(
            Seq(
              StructField(
                "target",
                StructType(
                  Seq(
                    StructField("version", StringType),
                    StructField("channel", StringType)
                  )
                )
              ),
              StructField(
                "build",
                StructType(Seq(StructField("date", TimestampType)))
              )
            )
          )
        )
      )
    )
    val rows = Seq(
      Row(Row(Row("64.0", "release"), Row(java.sql.Timestamp.valueOf("2018-12-11 10:00:00")))),
      Row(Row(Row("65.0", "release"), Row(java.sql.Timestamp.valueOf("2019-01-29 10:00:00")))),
      Row(Row(Row("66.0a1", "nightly"), Row(java.sql.Timestamp.valueOf("2019-02-15 10:00:00"))))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  test("versionReleaseDays: min spine day per latest version") {
    val out = Annotations
      .versionReleaseDays(spark, buildhub, java.sql.Date.valueOf("2019-03-04"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // spine Mondays from 2018-12-31; 64.0 latest until 2019-01-29 ->
    // first spine day 2018-12-31; 65.0 latest from the 2019-02-04 Monday.
    // Unordered: the fan-out orders the rows (next test).
    assert(out.sortBy(_._1).toSeq == Seq((64L, "2018-12-31"), (65L, "2019-02-04")))
  }

  test("country fan-out + default merge") {
    val vd = Annotations
      .versionReleaseDays(spark, buildhub, java.sql.Date.valueOf("2019-03-04"))
    // fed day-ascending, the series still comes out day-desc
    val fx = Annotations.fxhealthAnnotations(vd.orderBy("day"), Seq("Germany", "Worldwide"))
    assert(fx.keySet == Set("Germany", "Worldwide"))
    assert(fx("Germany").map(_._1) == Seq("2019-02-04", "2018-12-31"))
    assert(fx("Germany").map(_._2("pct_latest_version")) == Seq("FF65", "FF64"))
    val merged = Annotations.usageAnnotations(
      Map("Germany" -> Seq("2018-01-01" -> Map("foo" -> "bar"))),
      Seq("Germany", "France")
    )
    assert(merged("Germany").size == 3)
    assert(merged("France").size == 2)
  }
}
