package graftbench

import org.apache.spark.sql.SparkSession

/** A benchmark workload: named ops that one pass runs once each, and the
  * set-up that makes their inputs. */
trait Workload {
  def ops: Seq[String]
  def family(op: String): String

  /** Warm passes an untraced run times at the least; the same in every
    * run, so that every run medians the same number of samples. */
  def timedPasses: Int = 2

  /** Makes the inputs (and any warehouse stores) under `dir`; later ops
    * read the inputs of the most recent set-up. */
  def setup(dir: String): Unit

  /** Seconds the most recent set-up spent building warehouse stores. */
  def storeBuildSeconds: Double = 0.0

  /** Runs one op; outputs that land on disk go under `passDir`. Returns
    * the construction time in seconds when the op has a separate
    * construction step. */
  def run(op: String, passDir: String): Option[Double]

  /** Output digest of one op, computed outside the timed window. */
  def digest(op: String): Option[String]
}

object Workloads {
  /** Seed of the catalog tables. The catalog inputs are fixed; the run
    * seed only orders the ops. */
  val CatalogDataSeed = 42L

  /** One or two queries per family; v6 reads a warehouse store. */
  val catalogFixedOps: Seq[String] = Seq(
    "a14_percentiles", "j4_asof_join", "e4_funnel", "t17_tfidf", "v1_ann_bruteforce", "v6_ann_ivf"
  )

  /** Ops whose construction builds a warehouse store. */
  val storeOps: Set[String] = Set("v6_ann_ivf")

  def family(op: String): String = op.takeWhile(_ != '_').takeWhile(_.isLetter) match {
    case "e" => "event"
    case "t" => "text"
    case "v" | "m" => "vector"
    case _ => "relational"
  }

  /** Session settings of a workload beyond the common ones. In production
    * each report job runs in a process of its own; here the three share
    * one JVM for every pass, and with Spark's default 100-entry codegen
    * cache each warm pass recompiled 145 to 180 plans evicted by the other
    * jobs, work no CLI invocation does twice. A cold pass compiles the
    * same 200 plans with either size. */
  def sessionConf(name: String): Map[String, String] = name match {
    case "report_jobs" => Map("spark.sql.codegen.cache.maxEntries" -> "1000")
    case _ => Map.empty
  }

  def apply(name: String, spark: SparkSession, seed: Long): Workload =
    name match {
      case "catalog_fixed" => new Catalog(spark, catalogFixedOps, sf = 0.01)
      case "report_jobs" => new ReportJobs(spark, seed, ReportJobs.ops)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Catalog queries from `graft.SparkEntry.queries` over the catalog tables
  * at scale factor `sf`, each materialized in full through Spark's `noop`
  * sink. */
final class Catalog(spark: SparkSession, val ops: Seq[String], sf: Double) extends Workload {
  /** A sub-second op varies by up to a third from pass to pass; the median
    * of three passes is not moved by one slow pass, and the op percentiles
    * are taken over these medians. */
  override def timedPasses: Int = 3
  private val queries = graft.SparkEntry.queries
  ops.foreach(op => require(queries.contains(op), s"unknown catalog query $op"))
  private var dataDir: String = ""
  private var storeSeconds = 0.0

  def family(op: String): String = Workloads.family(op)

  override def storeBuildSeconds: Double = storeSeconds

  def setup(dir: String): Unit = {
    dataDir = s"$dir/data"
    new DataGen(spark, Workloads.CatalogDataSeed).catalogTables(dataDir, sf)
    // constructing a store reader builds the warehouse store it reads, so
    // the timed passes only ever read stores
    val t0 = System.nanoTime()
    ops.filter(Workloads.storeOps).foreach(op => queries(op)(spark, dataDir))
    storeSeconds = (System.nanoTime() - t0) / 1e9
  }

  def run(op: String, passDir: String): Option[Double] = {
    val t0 = System.nanoTime()
    val df = queries(op)(spark, dataDir)
    val construct = (System.nanoTime() - t0) / 1e9
    df.write.format("noop").mode("overwrite").save()
    Some(construct)
  }

  def digest(op: String): Option[String] = Some(Digest.of(queries(op)(spark, dataDir)))
}

/** The three reference jobs through their CLI entry points, over inputs
  * generated from the run seed. */
final class ReportJobs(spark: SparkSession, seed: Long, val ops: Seq[String]) extends Workload {
  import ReportJobs._
  private var inputs: String = ""

  def family(op: String): String = op

  def setup(dir: String): Unit = {
    inputs = s"$dir/inputs"
    new DataGen(spark, seed).reportInputs(inputs, HardwareRows, ClientRows, LastWeek, Weeks,
      graft.useractivity.CountryList.userActivityCountryList)
  }

  def run(op: String, passDir: String): Option[Double] = {
    val out = s"$passDir/$op"
    op match {
      case "hardware" => graft.cli.Main.hardwareReport(spark, Map(
        "input" -> s"$inputs/hardware", "date_from" -> LastWeek,
        "past_weeks" -> (Weeks - 1).toString, "output" -> out, "archive_date" -> ArchiveDate))
      case "useractivity" => graft.cli.Main.userActivity(spark, Map(
        "clients" -> s"$inputs/clients", "country_names" -> s"$inputs/country_names",
        "buildhub" -> s"$inputs/buildhub", "output" -> out, "archive_date" -> ArchiveDate))
      case "annotations" => graft.cli.Main.annotations(spark, Map(
        "buildhub" -> s"$inputs/buildhub", "date_to" -> AnnotationsDateTo, "output" -> out,
        "archive_date" -> ArchiveDate))
    }
    None
  }

  def digest(op: String): Option[String] = None
}

object ReportJobs {
  val ops: Seq[String] = Seq("hardware", "useractivity", "annotations")
  val HardwareRows = 60000L
  val ClientRows = 30000L
  val Weeks = 3
  val LastWeek = "2020-02-24"
  val AnnotationsDateTo = "2019-03-04"
  val ArchiveDate = "2020-03-02"
}
