package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("SQL surface: tables + native functions usable from spark.sql") {
    GraftCatalog.register(spark, "/root/testdata/sf0.001")
    val agg = spark
      .sql("""SELECT l_returnflag, sum(CAST(l_quantity AS BIGINT)) AS q
              FROM lineitem GROUP BY 1 ORDER BY 1""")
      .collect()
    assert(agg.length == 3)
    val dot = spark
      .sql("""SELECT graft_dot(embedding, embedding) AS n2
              FROM embeddings WHERE vec_id = 0""")
      .head()
      .getDouble(0)
    assert(dot > 0.0)
    val q8 = spark
      .sql("""SELECT graft_quantize_int8(embedding) AS q
              FROM embeddings WHERE vec_id = 0""")
      .head()
      .getSeq[Byte](0)
    assert(q8.length == 64 && q8.exists(_ != 0))
    // joined SQL across registered views
    val n = spark
      .sql("""SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey""")
      .head()
      .getLong(0)
    assert(n > 0)
  }

  test("the session recipe: UTC, no UI, no codegen fallback, one shuffle partition per thread") {
    assert(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get(SQLConf.CODEGEN_FALLBACK.key) == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "4")
    // a job that needs dynamic overwrite asks for it on its own write
    assert(
      spark.conf.get(SQLConf.PARTITION_OVERWRITE_MODE.key) ==
        SQLConf.PARTITION_OVERWRITE_MODE.defaultValueString
    )
  }

  test("GraftSession is the only code that builds a session") {
    val chain = """SparkSession\s*\.\s*builder|\.builder\(\)""".r
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => chain.findFirstIn(Files.readString(p)).nonEmpty)
        .map(_.getFileName.toString)
    }
    assert(hits == Seq("GraftSession.scala"))
  }
}
