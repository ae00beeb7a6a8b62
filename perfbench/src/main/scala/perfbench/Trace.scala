package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Tracer for `--trace 1` runs.
  *
  * Spans come from two sources:
  *  - the benchmark's own calls into a layer's public function (timed here);
  *  - Spark: a listener registered by the benchmark collects per job group
  *    the jobs, stages and task metrics, and per SQL execution the
  *    `QueryExecution.tracker` phases (analysis, optimization, planning).
  *
  * Spark work is attributed to a request by its job group: the benchmark sets
  * one on its own threads, and the HTTP server's query gate sets one per
  * served query (`graft-query-N`, described by the query text), which
  * [[bindServed]] maps back to the request that was in flight. */
final class Trace(spark: SparkSession, spanFile: String) {
  import Trace._

  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  /** wall clock in µs, monotone within the run */
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, name: String, startUs: Long, endUs: Long, parent: Long, req: String): Unit =
    spans.add(Span(id, name, startUs, endUs, parent, req))

  /** run `body` as span `name`; returns its result and duration in ms */
  def timed[T](name: String, parent: Long, req: String, id: Long = 0L)(body: => T): (T, Double) = {
    val sid = if (id == 0L) newId() else id
    val s = nowUs()
    val r = body
    val e = nowUs()
    add(sid, name, s, e, parent, req)
    (r, (e - s) / 1000.0)
  }

  // ---------- Spark side ----------

  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val execGroup = mutable.Map.empty[Long, String]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val groupDesc = mutable.Map.empty[String, String]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = groupOf(e.properties)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .foreach(d => groupDesc.getOrElseUpdate(g, d))
      val j = JobRec(e.jobId, g, e.time, -1L)
      jobs += j; jobById(e.jobId) = j
      stats(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach { j =>
        j.endMs = e.time
        stats(j.group).jobWallMs += math.max(0L, e.time - j.startMs)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val g = groupOf(e.properties)
      stageGroup(e.stageInfo.stageId) = g
      stats(g).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stats(stageGroup.getOrElse(e.stageId, ""))
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case st: SparkListenerSQLExecutionStart =>
          execGroup(st.executionId) = st.jobGroupId.getOrElse("")
        case en: SparkListenerSQLExecutionEnd =>
          val g = execGroup.getOrElse(en.executionId, "")
          val ph = PerfbenchAccess.queryExecution(en).map(_.tracker.phases.map {
            case (k, v) => k -> ((v.startTimeMs, v.endTimeMs))
          }).getOrElse(Map.empty)
          execs += ExecRec(g, ph)
          val s = stats(g)
          ph.get("analysis").foreach { case (a, b) => s.analysisMs += b - a }
          ph.get("optimization").foreach { case (a, b) => s.optimizationMs += b - a }
          ph.get("planning").foreach { case (a, b) => s.planningMs += b - a }
        case _ => ()
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** wait until the listener has seen every event posted so far */
  def drain(): Unit = PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** summed Spark statistics of the job groups accepted by `p` */
  def sparkStats(p: String => Boolean): GroupStats = {
    drain()
    synchronized {
      val out = new GroupStats
      groups.foreach { case (g, s) => if (p(g)) out.add(s) }
      out
    }
  }

  /** group → (parent span id, request id) for Spark-side spans */
  private val bound = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  def bind(group: String, parent: Long, req: String): Unit = bound.put(group, (parent, req))

  /** Bind the server's per-query job groups to the requests that were in
    * flight: a group belongs to the request with the same query text whose
    * HTTP span contains the group's first job. Returns the number bound. */
  def bindServed(requests: Seq[HttpSpan]): Int = {
    drain()
    val served = synchronized {
      jobs.filter(_.group.startsWith("graft-query-")).groupBy(_.group).toSeq
        .map { case (g, js) => (g, groupDesc.getOrElse(g, ""), js.map(_.startMs).min) }
    }.sortBy(_._3)
    val taken = mutable.Set.empty[Long]
    var n = 0
    served.foreach { case (g, desc, t) =>
      val tUs = t * 1000L
      requests.filter(r => !taken(r.spanId) && r.query.take(200) == desc &&
          r.startUs - ClockSlackUs <= tUs && tUs <= r.endUs + ClockSlackUs)
        .sortBy(_.startUs).headOption.foreach { r =>
          taken += r.spanId; bind(g, r.spanId, r.req); n += 1
        }
    }
    n
  }

  /** Spark-derived spans (jobs and planner phases) for bound groups; their
    * times come from Spark's millisecond clock and are clamped into the
    * parent within [[ClockSlackUs]] */
  private def sparkSpans(): Seq[Span] = {
    drain()
    val byId = spans.asScala.map(s => s.id -> s).toMap
    def clamp(name: String, s: Long, e: Long, parent: Long, req: String): Option[Span] =
      byId.get(parent).map { p =>
        val within = s >= p.startUs - ClockSlackUs && e <= p.endUs + ClockSlackUs
        if (!within) Span(newId(), name, s, e, parent, req) // left for the nesting check
        else Span(newId(), name, math.max(s, p.startUs), math.min(e, p.endUs), parent, req)
      }
    synchronized {
      val js = jobs.toSeq.flatMap { j =>
        Option(bound.get(j.group)).filter(_ => j.endMs >= 0).flatMap { case (p, r) =>
          clamp("exec.job", j.startMs * 1000L, j.endMs * 1000L, p, r)
        }
      }
      val ps = execs.toSeq.flatMap { x =>
        Option(bound.get(x.group)).toSeq.flatMap { case (p, r) =>
          x.phases.toSeq.flatMap { case (k, (a, b)) =>
            clamp(s"catalyst.$k", a * 1000L, b * 1000L, p, r)
          }
        }
      }
      js ++ ps
    }
  }

  /** all spans, sorted by start */
  def allSpans(): Seq[Span] = (spans.asScala.toSeq ++ sparkSpans()).sortBy(s => (s.startUs, s.id))

  /** per span name: (count, total ms, self ms = total minus time in children) */
  def selfTimes(all: Seq[Span]): Map[String, (Long, Double, Double)] = {
    val childUs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childUs(s.parent) += s.endUs - s.startUs)
    all.groupBy(_.name).map { case (n, ss) =>
      val tot = ss.map(s => s.endUs - s.startUs).sum
      val self = ss.map(s => math.max(0L, s.endUs - s.startUs - childUs(s.id))).sum
      n -> ((ss.size.toLong, tot / 1000.0, self / 1000.0))
    }
  }

  def writeSpans(all: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(spanFile))
    try all.foreach { s =>
      w.write(Json.render(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "req" -> s.req)))
      w.write('\n')
    } finally w.close()
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  /** Spark stamps jobs and phases in whole milliseconds */
  val ClockSlackUs = 2000L

  final case class Span(id: Long, name: String, startUs: Long, endUs: Long, parent: Long,
      req: String)
  final case class HttpSpan(spanId: Long, req: String, query: String, startUs: Long, endUs: Long)
  final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long)
  final case class ExecRec(group: String, phases: Map[String, (Long, Long)])

  final class GroupStats {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, jobWallMs = 0L
    var shuffleRead, shuffleWrite, spill, inputRows = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    def add(o: GroupStats): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; jobWallMs += o.jobWallMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      inputRows += o.inputRows
      analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    }
  }

  /** spans whose interval lies outside their parent's (the self-test's
    * nesting check) */
  def misnested(all: Seq[Span]): Seq[Span] = {
    val byId = all.map(s => s.id -> s).toMap
    all.filter { s =>
      s.endUs < s.startUs || (s.parent != 0L && byId.get(s.parent).forall(p =>
        s.startUs < p.startUs || s.endUs > p.endUs))
    }
  }
}
