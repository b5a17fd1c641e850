package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas for every input table (SURVEY §1.3: the reference's
  * schemas are implicit — column names scattered through SQL strings and
  * dict keys; ours are declared once and validated on read).
  *
  * [[Tables]] stays the permissive loader; `Schemas.validated` is the
  * strict one: it fails fast with a readable diff when a producer changes a
  * column, instead of a mid-pipeline AnalysisException three stages later.
  */
object Schemas {

  val clientsLastSeen: StructType = StructType(
    Seq(
      StructField("submission_date", DateType),
      StructField("days_since_seen", IntegerType),
      StructField("country", StringType),
      StructField("subsession_hours_sum", DoubleType),
      StructField("days_seen_bits", LongType),
      StructField("days_created_profile_bits", LongType),
      StructField("client_id", StringType),
      StructField("app_version", StringType),
      StructField("locale", StringType),
      StructField("sample_id", IntegerType),
      StructField(
        "active_addons",
        ArrayType(
          StructType(
            Seq(
              StructField("is_system", BooleanType),
              StructField("foreign_install", BooleanType),
              StructField("addon_id", StringType),
              StructField("name", StringType)
            )
          )
        )
      )
    )
  )

  val countryNames: StructType = StructType(
    Seq(StructField("code", StringType), StructField("name", StringType))
  )

  val hardwareInput: StructType = StructType(
    Seq(
      StructField("date_from", DateType),
      StructField("date_to", DateType),
      StructField("os", StringType),
      StructField("browser_arch", StringType),
      StructField("cpu_cores", IntegerType),
      StructField("cpu_vendor", StringType),
      StructField("cpu_speed", StringType),
      StructField("resolution", StringType),
      StructField("memory_gb", IntegerType),
      StructField("has_flash", BooleanType),
      StructField("is_wow64", BooleanType),
      StructField("gfx0_vendor_id", StringType),
      StructField("gfx0_device_id", StringType),
      StructField("client_count", LongType)
    )
  )

  val documents: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)
    )
  )

  val embeddings: StructType = StructType(
    Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)
    )
  )

  /** Read parquet and verify the columns the pipeline depends on exist with
    * compatible types; extra columns are tolerated (schema evolution),
    * missing/mistyped ones fail with a full diff. */
  def validated(spark: SparkSession, path: String, expected: StructType): DataFrame = {
    val df = Tables.parquet(spark, path)
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    val problems = expected.flatMap { f =>
      actual.get(f.name) match {
        case None => Some(s"missing column ${f.name}: ${f.dataType.simpleString}")
        case Some(t) if t != f.dataType =>
          Some(s"column ${f.name}: expected ${f.dataType.simpleString}, found ${t.simpleString}")
        case _ => None
      }
    }
    require(
      problems.isEmpty,
      s"schema mismatch reading $path:\n  ${problems.mkString("\n  ")}"
    )
    df
  }
}
