package perfbench

import graft.promql.{Engine, MatrixVal, QueryLimits, ScalarVal, VectorVal}
import graft.web.{HttpApi, SampleStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at}

import scala.collection.mutable

/** A served `query_range` request as the HTTP workloads issue it, plus its
  * traced replay through the engine's public functions. */
object Served {

  /** the server's default sample budget (--query.max-samples 5e7) */
  val limits: QueryLimits = QueryLimits(maxSamples = 50000000L)

  /** write samples (labels, t, v) in the `Ingest.sink` layout: the `__sg`
    * series signature, the `metric` column and 2 h `block` partitions */
  def writeBlockLayout(samples: DataFrame, dir: String): Unit =
    Engine.withSeriesSig(samples)
      .withColumn("metric", element_at(col("labels"), "__name__"))
      .withColumn("block", (col("t") / BlockMs).cast("long") * BlockMs)
      .write.mode("overwrite").partitionBy("block").parquet(dir)

  /** the block duration of the sink layout */
  val BlockMs: Long = graft.streaming.Ingest.blockMs

  def startServer(spark: SparkSession, store: SampleStore): HttpApi = {
    val api = new HttpApi(spark, store, port = 0, limits = limits)
    api.start()
    api
  }

  final case class Result(req: String, query: String, latMs: Double, bytes: Long, points: Long,
      series: Int, error: Option[String], digest: String)

  /** per-request figures of the traced replay; no collect when the store
    * grows between the request and its replay (the figure would not match) */
  final case class Replay(parseMs: Double, planMs: Double, budgetMs: Double, budgetJobs: Long,
      collectMs: Option[Double], httpMs: Double)

  /** Send one request and check its body with `check` (None = correct).
    * With a tracer, also replay the same query in-process: Engine.parse,
    * Engine.rangeQuery (plan, a lazy frame), Engine.rangeQueryWithStats
    * (plan plus the eager sample-budget jobs) and, if `collect`, a collect of
    * its result. */
  def request(spark: SparkSession, port: Int, store: SampleStore, req: String, q: String,
      startMs: Long, endMs: Long, stepMs: Long, check: Seq[Http.Series] => Option[String],
      keepDigest: Boolean, trace: Option[Trace], replays: mutable.Buffer[Replay],
      httpSpans: mutable.Buffer[Trace.HttpSpan], collect: Boolean): Result = {
    val rootId = trace.map(_.newId()).getOrElse(0L)
    val rootStart = trace.map(_.nowUs()).getOrElse(0L)
    val httpId = trace.map(_.newId()).getOrElse(0L)
    val uri = Http.queryRangeUri(port, q, startMs, endMs, stepMs)
    val t0 = System.nanoTime()
    val sendUs = trace.map(_.nowUs()).getOrElse(0L)
    val reply = try Right(Http.get(uri)) catch { case e: Exception => Left(e.toString) }
    val latMs = (System.nanoTime() - t0) / 1e6
    trace.foreach { t =>
      val e = t.nowUs()
      t.add(httpId, "web.http", sendUs, e, rootId, req)
      httpSpans.synchronized { httpSpans += Trace.HttpSpan(httpId, req, q, sendUs, e) }
    }
    def checked: (Option[String], Long, Int, String) = reply match {
      case Left(e) => (Some(e), 0L, 0, "")
      case Right(r) if r.status != 200 =>
        (Some(s"HTTP ${r.status}: ${new String(r.body, "UTF-8").take(300)}"), 0L, 0, "")
      case Right(r) => Http.parseMatrix(r.body) match {
        case Left(e) => (Some(e), 0L, 0, "")
        case Right(ss) =>
          (check(ss), ss.map(_.ts.length.toLong).sum, ss.size,
            if (keepDigest) Http.digest(ss) else "")
      }
    }
    val (err, points, series, dig) = trace match {
      case Some(t) => t.timed("bench.check", rootId, req)(checked)._1
      case None => checked
    }
    trace.foreach { t =>
      val rid = t.newId()
      val rs = t.nowUs()
      replays.synchronized { replays += replay(spark, store, t, rid, req, q, startMs, endMs,
        stepMs, latMs, collect) }
      t.add(rid, "bench.replay", rs, t.nowUs(), rootId, req)
      t.add(rootId, "request", rootStart, t.nowUs(), 0L, req)
    }
    Result(req, q, latMs, reply.map(_.body.length.toLong).getOrElse(0L), points, series, err, dig)
  }

  private def replay(spark: SparkSession, store: SampleStore, t: Trace, parent: Long, req: String,
      q: String, startMs: Long, endMs: Long, stepMs: Long, httpMs: Double,
      collect: Boolean): Replay = {
    val sc = spark.sparkContext
    def grouped[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, q.take(200))
      try body finally sc.clearJobGroup()
    }
    val samples = store.samples
    val (_, parseMs) = t.timed("promql.parse", parent, req)(
      Engine.parse(q, stepMs, endMs - startMs))
    val planG = s"perfbench-plan-$req"
    val budgetG = s"perfbench-budget-$req"
    val collectG = s"perfbench-collect-$req"
    val (_, planMs) = t.timed("promql.plan", parent, req)(grouped(planG)(
      Engine.rangeQuery(spark, samples, q, startMs, endMs, stepMs)))
    val (v, withStatsMs) = t.timed("promql.budget", parent, req)(grouped(budgetG)(
      Engine.rangeQueryWithStats(spark, samples, q, startMs, endMs, stepMs,
        maxSamples = limits.maxSamples)._1))
    val df: DataFrame = v match {
      case VectorVal(d) => d
      case MatrixVal(d) => d
      case ScalarVal(d, _) => d
      case other => throw new IllegalStateException(s"unexpected range result $other")
    }
    val collectMs = Option.when(collect)(
      t.timed("exec.collect", parent, req)(grouped(collectG)(df.collect()))._2)
    val jobs = t.sparkStats(_ == budgetG).jobs - t.sparkStats(_ == planG).jobs
    Replay(parseMs, planMs, math.max(0.0, withStatsMs - planMs), math.max(0L, jobs), collectMs,
      httpMs)
  }

  /** per-layer metrics of the served requests in a traced run */
  def layerMetrics(t: Trace, results: Seq[Result], replays: Seq[Replay],
      httpSpans: Seq[Trace.HttpSpan], wallMs: Double, cores: Int): Map[String, Double] = {
    t.bindServed(httpSpans)
    val served = t.sparkStats(_.startsWith("graft-query-"))
    val n = results.size.toLong
    Layers.execMetrics(served, n, results.map(_.points).sum, wallMs, cores) ++ Map(
      "promql.parse_ms" -> Layers.mean(replays.map(_.parseMs)),
      "promql.plan_ms" -> Layers.mean(replays.map(_.planMs)),
      "promql.budget_ms" -> Layers.mean(replays.map(_.budgetMs)),
      "promql.budget_jobs" -> Layers.mean(replays.map(_.budgetJobs.toDouble)),
      "web.query_p50_ms" -> Main.median(results.map(_.latMs)),
      "web.render_ms" -> Layers.mean(replays.flatMap(r => r.collectMs.map(c =>
        math.max(0.0, r.httpMs - r.planMs - r.budgetMs - c)))),
      "web.response_bytes" -> Layers.mean(results.map(_.bytes.toDouble)))
  }
}
