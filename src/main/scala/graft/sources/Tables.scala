package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and the
  * one parquet reader every read in graft goes through.
  *
  * Reads still plan through Spark's parquet source, so Catalyst gives us
  * vectorized scans, predicate pushdown, and column pruning for free —
  * every query should show `PushedFilters`/narrow `ReadSchema` in
  * `.explain("formatted")`.
  */
object Tables {

  /** `spark.read.parquet(path)` without its schema job. Spark infers a
    * parquet schema (`ParquetUtils.inferSchema`, no merging) from ONE
    * footer, but reads it in a one-task Spark job
    * (`mergeSchemasInParallel`). Here the driver picks the same file,
    * reads its footer as that job does (`ParquetFooterReader`, row groups
    * skipped) and converts it with Spark's own converter under the
    * session's SQL conf (`nanosAsLong`, `binaryAsString` and Spark's
    * row-metadata schema behave as before), and hands the schema to the
    * reader. Spark still lists the files and discovers partition columns
    * from the directory names.
    *
    * A directory without a data file fails as Spark fails it
    * (`UNABLE_TO_INFER_SCHEMA`). A path that is not there (or a glob) and
    * a session that merges schemas (`spark.sql.parquet.mergeSchema`, which
    * needs every footer) go through Spark's own inference.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled || !fs.exists(root))
      spark.read.parquet(path)
    else {
      val file = schemaFile(leafFiles(fs, fs.getFileStatus(root))).getOrElse(
        throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The file Spark's non-merging inference reads: of the leaf files in
    * path order, `_common_metadata`, else `_metadata`, else the first data
    * file. */
  private def schemaFile(leaves: Seq[FileStatus]): Option[FileStatus] = {
    val summaries =
      Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val sorted = leaves.sortBy(_.getPath.toString)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** Spark's file-index name filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * hidden (`.`) and underscore names are skipped, except partition
    * directories (`_x=1`) and the two parquet summary files. */
  private def skipped(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
  }

  /** Leaf files under `st`, descending into (partition) directories; a
    * file is its own leaf. As in Spark, the name filter applies to what a
    * listing finds, not to the path asked for. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory)
      fs.listStatus(st.getPath).toSeq
        .filterNot(c => skipped(c.getPath.getName))
        .flatMap(leafFiles(fs, _))
    else Seq(st)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical shapes across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as a raw nanosecond long via
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[graft.GraftSession]]'s
    * recipe sets, and floor-divide to micros; `div`, not `/`, because
    * epoch-nanos ~1.7e18 exceed double's 53-bit mantissa) and plain
    * timestamp[us] without timezone (read as TIMESTAMP_NTZ). Normalize BOTH
    * to TimestampType: all sessions here run with
    * `spark.sql.session.timeZone=UTC`, so the NTZ wall clock maps to the
    * same epoch micros DuckDB's `epoch_us(ts)` reports — the oracle
    * contract every events query depends on. The caller's session is read,
    * never changed: a session without `nanosAsLong` gets Spark's own
    * illegal-Parquet-type error on the NANOS shape.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
