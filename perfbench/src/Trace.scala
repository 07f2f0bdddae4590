package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution

/** Minimal JSON writer: Map/Seq/String/Boolean/numbers/null/Option. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case n: java.lang.Number => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      xs.foreach { x => if (!first) sb += ','; first = false; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Clock shared by every record of a run: nanoTime offsets from `t0`, and
  * the wall-clock epoch (ms) that Spark listener timestamps are relative to.
  */
object Clock {
  val t0: Long = System.nanoTime()
  val epochMs0: Double = System.currentTimeMillis().toDouble
  /** ms since run start. */
  def now(): Double = (System.nanoTime() - t0) / 1e6
  /** A Spark listener epoch-ms timestamp on the run clock. */
  def fromEpoch(ms: Long): Double = ms - epochMs0
  /** A run-clock time as epoch ms. */
  def toEpoch(t: Double): Long = (epochMs0 + t).toLong
}

/** One span: a call the benchmark made into one layer, for request `rid`.
  * Times are ms on [[Clock]]; `parent` is the enclosing span's id or -1.
  */
final case class Span(id: Long, rid: Long, name: String, parent: Long,
                      start: Double, end: Double)

/** In-memory span recorder. When disabled, `span` only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](rid: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1L)
      stack.set(id :: stack.get)
      val s = Clock.now()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, rid, name, parent, s, Clock.now()))
      }
    }

  /** A span whose interval was measured elsewhere (e.g. a Catalyst phase),
    * recorded under the current span of this thread. */
  def record(rid: Long, name: String, start: Double, end: Double): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), rid, name,
        stack.get.headOption.getOrElse(-1L), start, end))

  def toJson: Seq[Map[String, Any]] = spans.asScala.toSeq.map(s =>
    Map("id" -> s.id, "rid" -> s.rid, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end))
}

/** Spark jobs with their job group, interval and summed task metrics. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Double,
                  val stages: Seq[Int]) {
    @volatile var end: Double = Double.NaN
    var tasks, runMs, cpuMs, gcMs, shuffleW, shuffleR, spill, inputRows = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, Clock.fromEpoch(e.time), e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromEpoch(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1000000L
        j.gcMs += m.jvmGCTime
        j.shuffleW += m.shuffleWriteMetrics.bytesWritten
        j.shuffleR += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
      "stages" -> j.stages.size, "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleW,
      "shuffle_read_bytes" -> j.shuffleR, "spill_bytes" -> j.spill,
      "input_rows" -> j.inputRows))
  }
}

/** What one executed query reports about its planning and its scans. */
object QueryFacts {
  private val PlanRulePrefix = "graft.plans."

  def apply(qe: QueryExecution): Map[String, Any] = {
    val ruleNs = qe.tracker.rules.collect {
      case (k, r) if k.startsWith(PlanRulePrefix) => r.totalTimeNs
    }.sum
    Map("plan_rules_ms" -> ruleNs / 1e6) ++ scans(qe)
  }

  /** Scan-node SQL metrics summed over the executed plan (the final
    * adaptive plan when AQE ran). */
  private def scans(qe: QueryExecution): Map[String, Any] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val fs = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil).collect {
      case s: FileSourceScanExec => s
    }
    def metric(s: SparkPlan, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    var partsRead, partsTotal = 0L
    fs.foreach { s =>
      if (s.relation.partitionSchema.nonEmpty) {
        partsRead += metric(s, "numPartitions")
        partsTotal += scala.util.Try(
          s.relation.location.inputFiles.map(f =>
            f.substring(0, f.lastIndexOf('/'))).distinct.length.toLong)
          .getOrElse(0L)
      }
    }
    Map("files_read" -> fs.map(metric(_, "numFiles")).sum,
      "scan_metadata_ms" -> fs.map(metric(_, "metadataTime")).sum,
      "partitions_read" -> partsRead, "partitions_total" -> partsTotal)
  }
}
