package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch milliseconds, the
  * clock Spark's listener events carry. */
final case class Span(id: Long, parent: Long, kind: String, name: String, start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Per-stage task totals, summed from task-end events. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var schedMs = 0.0
  var shuffleWrite = 0.0
  var shuffleRead = 0.0
  var spill = 0.0
  var inputBytes = 0.0
  var inputRows = 0.0
}

/** What the listeners saw during one op. */
final class OpEvents {
  val sqlStart = mutable.LinkedHashMap[Long, Long]()
  val sqlEnd = mutable.Map[Long, Long]()
  val jobs = mutable.LinkedHashMap[Int, (Long, Long, Option[Long], Seq[Int])]() // start, end, sql id, stages
  val stages = mutable.LinkedHashMap[Int, (Long, Long)]()
  val stageTotals = mutable.Map[Int, StageTotals]()
  var planMs = 0.0
  var failedQueries = 0
  val storeReads = mutable.Set[String]()
}

/** A `SparkListener` and a `QueryExecutionListener` that record, per op,
  * SQL executions, jobs, stages and task metrics, plus the planning phase
  * times and warehouse-store reads of every query execution. The harness
  * registers it only for traced passes and drains the listener bus after
  * each op, so every event of an op is attributed to that op. */
final class Tracer(warehouse: String) extends SparkListener with QueryExecutionListener {
  private var cur = new OpEvents

  def take(): OpEvents = synchronized { val c = cur; cur = new OpEvents; c }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => cur.sqlStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd => cur.sqlEnd(e.executionId) = e.time
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    cur.jobs(e.jobId) = (e.time, e.time, sqlId, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.get(e.jobId).foreach { case (s, _, q, st) => cur.jobs(e.jobId) = (s, e.time, q, st) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime) cur.stages(info.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = cur.stageTotals.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.spill += m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRows += m.inputMetrics.recordsRead
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      t.schedMs += math.max(0L, delay)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val reads = storeRoots(qe)
    synchronized {
      cur.planMs += phases
      cur.storeReads ++= reads
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { cur.failedQueries += 1 }

  /** Warehouse-store directories a query reads: the file relations of its
    * optimized plan whose root lies under the run's warehouse. */
  private def storeRoots(qe: QueryExecution): Seq[String] =
    try {
      qe.optimizedPlan.collectWithSubqueries {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }
        .flatten
        .flatMap { p =>
          val i = p.indexOf(warehouse)
          if (i < 0) None
          else p.substring(i + warehouse.length).split('/').find(_.nonEmpty)
        }
        .filter(_.startsWith("graft_"))
    } catch { case _: Throwable => Nil }
}

object Tracer {

  /** Total length of the union of intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter(iv => iv._2 > iv._1).sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Builds the span tree of one op: op, construct, sql, job and stage
    * spans, each pointing at its parent. */
  def spans(opName: String, opStart: Double, opEnd: Double, constructEnd: Option[Double],
      ev: OpEvents, nextId: () => Long): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    val op = Span(nextId(), 0L, "op", opName, opStart, opEnd)
    out += op
    val construct = constructEnd.map(c => Span(nextId(), op.id, "construct", opName, opStart, c))
    out ++= construct
    def enclosing(start: Double): Long =
      construct.filter(c => start >= c.start && start <= c.end).map(_.id).getOrElse(op.id)
    val sqlSpans = ev.sqlStart.toSeq.map { case (sid, s) =>
      val e = ev.sqlEnd.getOrElse(sid, opEnd.toLong)
      sid -> Span(nextId(), enclosing(s.toDouble), "sql", s"execution $sid", s.toDouble, e.toDouble)
    }.toMap
    out ++= sqlSpans.values.toSeq.sortBy(_.start)
    ev.jobs.foreach { case (jid, (s, e, sqlId, stageIds)) =>
      val parent = sqlId.flatMap(sqlSpans.get).map(_.id).getOrElse(enclosing(s.toDouble))
      val job = Span(nextId(), parent, "job", s"job $jid", s.toDouble, e.toDouble)
      out += job
      stageIds.flatMap(sid => ev.stages.get(sid).map(sid -> _)).foreach { case (sid, (ss, se)) =>
        out += Span(nextId(), job.id, "stage", s"stage $sid", ss.toDouble, se.toDouble)
      }
    }
    out.toSeq
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals, clipped to the span. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> math.max(0.0, s.dur - unionLength(kids))
    }.toMap
  }
}
