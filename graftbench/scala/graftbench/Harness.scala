package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Runs one workload in one JVM and writes every raw sample as JSON.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --workdir DIR
  *           --threads T --setups K --out FILE
  *
  * Phases: K set-ups into fresh directories (the last one's inputs are
  * used), a cold first pass, timed warm passes until S seconds have
  * passed (at least the workload's `timedPasses`), then the output
  * checks. Op order in every pass is shuffled from the seed. Between ops,
  * outside the timing, the cache is cleared and the heap collected. With
  * `--trace 1` every second timed pass runs with the listeners registered
  * and records spans and per-layer totals. */
object Harness {

  final class Opts(m: Map[String, String]) {
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val workdir: String = new File(m("workdir")).getAbsolutePath
    val threads: Int = m("threads").toInt
    val setups: Int = m("setups").toInt
    val out: String = m("out")
  }

  private def now(): Double = System.nanoTime() / 1e9
  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileSeconds(): Double = CodeGenerator.compileTime / 1e9

  /** Warehouse stores on disk: name -> bytes (published `graft_*` dirs). */
  def stores(warehouse: String): Map[String, Long] = {
    def size(f: File): Long = if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum else f.length
    Option(new File(warehouse).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(f => f.getName -> size(f)).toMap
  }

  def dirBytes(f: File, suffix: String = ""): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes(_, suffix)).sum
    else if (f.getName.endsWith(suffix) && !f.getName.startsWith(".")) f.length
    else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def sha256(f: File): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map(b => f"${b & 0xff}%02x").mkString

  /** JSON artifacts a pass wrote: "job/file.json" -> SHA-256. */
  def artifacts(passDir: File): Map[String, String] =
    Option(passDir.listFiles).toSeq.flatten.flatMap { jobDir =>
      Option(jobDir.listFiles).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".json"))
        .map(f => s"${jobDir.getName}/${f.getName}" -> sha256(f))
    }.toMap

  def main(args: Array[String]): Unit = {
    val o = new Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val warehouse = s"${o.workdir}/warehouse"
    val builder = SparkSession.builder()
      .master(s"local[${o.threads}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", s"${o.workdir}/local")
      .config("spark.sql.shuffle.partitions", (2 * o.threads).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
    val spark = Workloads.sessionConf(o.workload)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startup = System.currentTimeMillis() / 1000.0 - jvmStart
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "threads" -> o.threads, "startup_s" -> startup)
    val errors = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0L
    val wl = Workloads(o.workload, spark, o.seed)
    def order(pass: Int): Seq[String] = new scala.util.Random(o.seed * 1000003L + pass).shuffle(wl.ops)

    // set-up: K repetitions into fresh directories; the median is the
    // set-up cost, the last one's inputs and stores serve the passes
    val setupTimes = mutable.ArrayBuffer[Double]()
    val storeTimes = mutable.ArrayBuffer[Double]()
    var storeBuilds = Map.empty[String, Long]
    for (rep <- 0 until o.setups) {
      val dir = s"${o.workdir}/setup-$rep"
      val before = stores(warehouse)
      val t0 = now()
      wl.setup(dir)
      setupTimes += now() - t0
      storeTimes += wl.storeBuildSeconds
      storeBuilds = stores(warehouse) -- before.keySet
      if (rep > 0) deleteTree(new File(s"${o.workdir}/setup-${rep - 1}"))
    }
    result("setup_reps_s") = setupTimes.toSeq
    result("store_build_reps_s") = storeTimes.toSeq
    result("store_builds") = storeBuilds.size
    result("store_bytes") = storeBuilds.values.sum

    val passRoot = s"${o.workdir}/passes"
    val heaps = mutable.ArrayBuffer[Double]()
    val baseMs = System.currentTimeMillis().toDouble
    val baseNs = System.nanoTime()
    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
    def hygiene(): Unit = { spark.catalog.clearCache(); System.gc() }
    // one op with hygiene around it; returns (start ns, end ns, construct
    // seconds) or None if it threw. The heap is sampled after every op of
    // the first timed pass, so every run samples the same work.
    def runOp(op: String, passDir: String, pass: Int): Option[(Long, Long, Option[Double])] = {
      hygiene()
      attempted += 1
      val t0 = System.nanoTime()
      val r = try {
        val c = wl.run(op, passDir)
        Some((t0, System.nanoTime(), c))
      } catch {
        case e: Throwable =>
          errors += Map("op" -> op, "pass" -> pass, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
          None
      }
      if (pass == 0) { hygiene(); heaps += heapMb() }
      r
    }

    // cold first pass: pays class loading, JIT and first codegen, and
    // builds any store the set-up did not
    val firstDir = s"$passRoot/first"
    val firstStores = stores(warehouse)
    val c0 = compiles()
    val cs0 = compileSeconds()
    val firstOps = order(-1).map(op => op -> runOp(op, firstDir, -1))
    result("first_pass_s") = firstOps.flatMap(_._2.map(r => (r._2 - r._1) / 1e9)).sum
    result("first_pass_compiles") = compiles() - c0
    result("first_pass_compile_s") = compileSeconds() - cs0
    result("first_pass_store_builds") = (stores(warehouse).keySet -- firstStores.keySet).size
    result("first_pass_artifacts") = artifacts(new File(firstDir))

    // timed passes
    val tracer = new Tracer(warehouse)
    var spanId = 0L
    val nextId = () => { spanId += 1; spanId }
    val allSpans = mutable.ArrayBuffer[Span]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val t0Window = now()
    var pass = 0
    // at least the workload's passes, so every run medians the same number
    // of samples; a traced run times a traced pass between two untraced ones
    val minPasses = if (o.trace) 3 else wl.timedPasses
    while (pass < minPasses || now() - t0Window < o.seconds) {
      val traced = o.trace && pass % 2 == 1
      val passDir = s"$passRoot/pass-$pass"
      val layer = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = layer(k) = layer(k) + v
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val before = stores(warehouse)
      val pc0 = compiles()
      val pcs0 = compileSeconds()
      val opTimes = mutable.LinkedHashMap[String, Double]()
      order(pass).foreach { op =>
        if (traced) { org.apache.spark.BenchBus.drain(spark.sparkContext); tracer.take() }
        runOp(op, passDir, pass).foreach { case (startNs, endNs, construct) =>
          val wall = (endNs - startNs) / 1e9
          opTimes(op) = wall
          if (traced) {
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            val ev = tracer.take()
            val constructEnd = construct.map(c => epochMs(startNs + (c * 1e9).toLong))
            val spans = Tracer.spans(op, epochMs(startNs), epochMs(endNs), constructEnd, ev, nextId)
            allSpans ++= spans
            val self = Tracer.selfTimes(spans)
            val opSpan = spans.head
            val sqlSpans = spans.filter(_.kind == "sql")
            val actionS = Tracer.unionLength(sqlSpans.map(s => (s.start, s.end))) / 1000.0
            construct.foreach(c => add("operators.construct_s", c))
            val constructJobs = constructEnd.map(ce => ev.jobs.values.count(_._1 <= ce.toLong)).getOrElse(0)
            add("operators.construct_jobs", constructJobs)
            add("spark.plan_s", ev.planMs / 1000.0)
            add("spark.jobs", ev.jobs.size)
            add("spark.stages", ev.stages.size)
            val totals = ev.stageTotals.values
            add("spark.tasks", totals.map(_.tasks).sum)
            add("spark.sched_delay_s", totals.map(_.schedMs).sum / 1000.0)
            add("spark.task_cpu_s", totals.map(_.cpuNs).sum / 1e9)
            add("spark.task_run_s", totals.map(_.runMs).sum / 1000.0)
            add("spark.gc_s", totals.map(_.gcMs).sum / 1000.0)
            add("spark.shuffle_write_mb", totals.map(_.shuffleWrite).sum / 1e6)
            add("spark.shuffle_read_mb", totals.map(_.shuffleRead).sum / 1e6)
            add("spark.spill_mb", totals.map(_.spill).sum / 1e6)
            add("sources.input_mb", totals.map(_.inputBytes).sum / 1e6)
            add("sources.input_rows", totals.map(_.inputRows).sum)
            add("stores.hits", ev.storeReads.size)
            add("trace.failed_queries", ev.failedQueries)
            if (wl.family(op) == op) {
              add(s"$op.actions", sqlSpans.size)
              add(s"$op.action_s", actionS)
              add(s"$op.driver_s", wall - actionS)
            }
            spans.groupBy(_.kind).foreach { case (k, ss) => add(s"trace.self_${k}_s", ss.map(s => self(s.id)).sum / 1000.0) }
            val coverage = if (opSpan.dur > 0) 1.0 - self(opSpan.id) / opSpan.dur else 1.0
            layer("trace.span_coverage_min") =
              if (layer.contains("trace.span_coverage_min")) math.min(layer("trace.span_coverage_min"), coverage)
              else coverage
          }
        }
      }
      if (traced) {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        tracer.take()
      }
      val wall = opTimes.values.sum
      val passDirFile = new File(passDir)
      if (traced) {
        layer("spark.codegen_compiles") = (compiles() - pc0).toDouble
        layer("spark.codegen_compile_s") = compileSeconds() - pcs0
        layer("spark.busy_cores") = if (wall > 0) layer("spark.task_run_s") / wall else 0.0
        layer("export.artifact_bytes") = dirBytes(passDirFile, ".json").toDouble
        layer("hardware.parquet_write_mb") = dirBytes(new File(passDirFile, "hardware/hardware_aggregates"), ".parquet") / 1e6
      }
      passes += Map(
        "traced" -> traced,
        "wall_s" -> wall,
        "ops" -> opTimes.toMap,
        "compiles" -> (compiles() - pc0),
        "store_builds" -> (stores(warehouse).keySet -- before.keySet).size,
        "artifacts" -> artifacts(passDirFile),
        "layers" -> layer.toMap
      )
      // keep the first timed pass's outputs for the checks; drop the rest
      if (pass > 0) deleteTree(passDirFile)
      pass += 1
    }
    result("passes") = passes.toSeq
    result("heap_live_mb") = heaps.toSeq
    deleteTree(new File(firstDir))

    // output checks, outside every timed window
    val digests = wl.ops.flatMap { op =>
      try {
        val d = wl.digest(op)
        if (d.isDefined) attempted += 1
        d.map(op -> _)
      } catch {
        case e: Throwable =>
          attempted += 1
          errors += Map("op" -> op, "pass" -> "digest", "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
          None
      }
    }.toMap
    result("digests") = digests
    result("artifact_dir") = s"$passRoot/pass-0"
    result("allowlist") = graft.useractivity.CountryList.userActivityCountryList
    result("families") = wl.ops.map(op => op -> wl.family(op)).toMap
    result("attempted") = attempted
    result("errors") = errors.toSeq
    if (o.trace) {
      result("spans") = allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)).toSeq
    }
    Files.write(Path.of(o.out), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result.toMap).getBytes(UTF_8))
    spark.stop()
  }
}
