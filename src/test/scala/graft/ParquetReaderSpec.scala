package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.Tables

/** `Tables.parquet` learns a schema from one footer on the driver: it must
  * give `spark.read.parquet`'s schema (or error) and run no Spark job. */
class ParquetReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Under `conf`, the reader's schema equals Spark's inferred one (or
    * both fail with one error class), and the reader runs no job. */
  private def assertReadsLikeSpark(path: String, conf: Map[String, String] = Map.empty): Unit = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def outcome(read: => StructType): Either[String, StructType] =
        try Right(read)
        catch { case e: AnalysisException => Left(s"${e.getCondition}: ${e.getMessage}") }
      var ours: Either[String, StructType] = null
      val jobs = TestSpark.jobStarts { ours = outcome(Tables.parquet(spark, path).schema) }.size
      val theirs = outcome(spark.read.parquet(path).schema)
      assert(ours == theirs, s"$path under $conf")
      assert(jobs == 0, s"reading $path ran $jobs Spark jobs")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** An `events.parquet` whose `ts` is TIMESTAMP(NANOS), the shape older
    * testdata generations shipped, written with parquet-hadoop directly
    * (Spark writes no NANOS timestamps). Returns the fixture directory. */
  private def writeNanosEvents(nanos: Seq[Long]): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val dir = Files.createTempDirectory("graft-nanos").toString
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(schema)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()
    dir
  }

  test("every testdata table reads with Spark's schema and no Spark job") {
    val dir = Paths.get("/root/testdata/sf0.001")
    val tables = Files.list(dir).iterator().asScala.map(_.toString).toSeq.sorted
    assert(tables.size >= 10)
    tables.foreach(assertReadsLikeSpark(_))
    val nanosEvents = s"${writeNanosEvents(Seq(1704067200123456789L))}/events.parquet"
    for (file <- Seq(s"$dir/events.parquet", nanosEvents); nanos <- Seq("true", "false"))
      assertReadsLikeSpark(file, Map("spark.sql.legacy.parquet.nanosAsLong" -> nanos))
  }

  test("Tables.events reads TIMESTAMP(NANOS) under the recipe without changing the session") {
    // the recipe reads NANOS as a long; events floors it to micros
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val nanos = Seq(1704067200123456789L, 1704153600000000999L, 1706745599999999000L)
    val dir = writeNanosEvents(nanos)
    val before = spark.conf.getAll
    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType == TimestampType)
    val micros = events.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
    assert(micros.toSeq == nanos.map(_ / 1000))
    assert(spark.conf.getAll == before)
  }

  test("Spark-written nested, partitioned and empty tables read like spark.read.parquet") {
    val tmp = Files.createTempDirectory("graft-reader").toString
    val nested = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("items", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("score", DoubleType))))),
      StructField("build", StructType(Seq(
        StructField("target", StructType(Seq(
          StructField("channel", StringType), StructField("version", StringType)))),
        StructField("when", TimestampType)))),
      StructField("tags", MapType(StringType, IntegerType))
    ))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq(Row("a", 0.5)), Row(Row("release", "65.0"),
          java.sql.Timestamp.valueOf("2019-01-29 10:00:00")), Map("x" -> 1)),
        Row(2L, Seq.empty, null, null)), 2),
      nested
    ).write.parquet(s"$tmp/nested")
    spark.range(20).selectExpr("id", "cast(id % 3 as int) AS part", "date_add(date'2020-01-06', cast(id % 2 as int) * 7) AS day")
      .write.partitionBy("day", "part").parquet(s"$tmp/partitioned")
    Files.createDirectories(Paths.get(s"$tmp/empty"))
    Seq("nested", "partitioned", "empty", "missing").foreach(t => assertReadsLikeSpark(s"$tmp/$t"))
    // the rows come back too, partition columns typed from the directory names
    assert(Tables.parquet(spark, s"$tmp/partitioned").schema.map(_.dataType) ==
      Seq(LongType, DateType, IntegerType))
    assert(Tables.parquet(spark, s"$tmp/nested").orderBy("id").collect().toSeq ==
      spark.read.parquet(s"$tmp/nested").orderBy("id").collect().toSeq)
  }

  test("src/main sets no session conf or checkpoint dir, and reads only the two IVF confs") {
    val write = """\.conf\.(set|unset)\(|setCheckpointDir\(""".r
    val graftConf = """spark\.graft\.[A-Za-z0-9.]+""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
      .toSeq
    val writes = sources.flatMap { case (f, text) =>
      text.linesIterator.filter(write.findFirstIn(_).nonEmpty).map(l => s"$f: ${l.trim}")
    }
    assert(writes.isEmpty, s"session writes:\n${writes.mkString("\n")}")
    val confs = sources.flatMap { case (_, text) => graftConf.findAllIn(text) }.toSet
    assert(confs == Set("spark.graft.ivf.auto", "spark.graft.ivf.lists"))
  }

  test("spark.read.parquet appears in src/main only inside the reader") {
    val read = """\.read\s*\.parquet\(""".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => read.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
      .toSeq
    assert(hits == Seq("Tables.scala"))
  }
}
