package perfbench

import graft.web.{HttpApi, SampleStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `dashboard_range`: closed-loop clients sending `GET /api/v1/query_range`
  * against an on-disk store in the block-sink layout.
  *
  * The store has the series shape of the reference engine's range-query
  * benchmark: `a_<scale>{l}`, `b_<scale>{l}` and `h_<scale>{l,le}` with 11
  * `le` buckets, one sample every 10 s whose value is
  * `sampleIndex + seriesIndex / seriesCount` (so every series is a counter
  * growing 0.1/s). It is written once per set-up with the `__sg` series
  * signature, the `metric` column and 2 h `block` partitions, and served as
  * `new SampleStore(spark, spark.read.parquet(dir))` with no cache. */
object Dashboard {

  final case class Sizes(scale: Int, spanS: Long, steps: Int, clients: Int)
  object Sizes {
    val bench: Sizes = Sizes(scale = 10, spanS = 4 * 3600L, steps = 1000, clients = 2)
    val tiny: Sizes = Sizes(scale = 2, spanS = 3 * 3600L, steps = 60, clients = 2)
  }

  val IntervalMs = 10000L
  val StepMs = 10000L
  /** start of the stored data, on a 2 h block boundary */
  val T0: Long = 1699999200000L
  val LeValues: Seq[String] = (0 until 10).map(_.toString) :+ "+Inf"

  def scaleName(scale: Int): String = scale match {
    case 1 => "one"; case 10 => "ten"; case 100 => "hundred"; case n => s"x$n"
  }

  /** (labels, index) in the generator's order */
  def seriesOf(scale: Int): Seq[Map[String, String]] = {
    val s = scaleName(scale)
    (0 until scale).flatMap { i =>
      Seq(Map("__name__" -> s"a_$s", "l" -> i.toString),
        Map("__name__" -> s"b_$s", "l" -> i.toString)) ++
        LeValues.map(le => Map("__name__" -> s"h_$s", "l" -> i.toString, "le" -> le))
    }
  }

  /** The 8 query shapes and, per shape, the expected series count and the
    * closed-form value every point must have (if one exists). */
  final case class Shape(query: String, series: Int, value: Option[Double])
  def shapes(scale: Int): Seq[Shape] = {
    val s = scaleName(scale)
    Seq(
      Shape(s"a_$s", scale, None),
      Shape(s"rate(a_$s[1m])", scale, Some(0.1)),
      Shape(s"sum by (le)(rate(h_$s[5m]))", 11, Some(0.1 * scale)),
      Shape(s"histogram_quantile(0.9, sum by (le)(rate(h_$s[5m])))", 1, None),
      Shape(s"topk(5, a_$s)", math.min(5, scale), None),
      Shape(s"sum(rate(a_$s[1m])) / sum(rate(b_$s[1m]))", 1, Some(1.0)),
      Shape(s"sum_over_time(h_$s[1h])", 11 * scale, None),
      Shape(s"a_$s - on(l) b_$s", scale, None))
  }

  /** write the store in the block-sink layout */
  def writeStore(spark: SparkSession, sz: Sizes, dir: String): Long = {
    val series = seriesOf(sz.scale)
    val n = series.size
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(series.zipWithIndex.map { case (l, i) => Row(l, i) }, 1),
      StructType(Seq(StructField("labels", MapType(StringType, StringType, false), false),
        StructField("idx", IntegerType, false))))
    val nSamples = sz.spanS * 1000L / IntervalMs
    val samples = spark.range(0L, nSamples, 1L, 4).toDF("s").crossJoin(broadcast(sdf))
      .select(col("labels"), (lit(T0) + col("s") * IntervalMs).as("t"),
        (col("s").cast("double") + col("idx").cast("double") / n).as("v"))
    Served.writeBlockLayout(samples, dir)
    nSamples * n
  }

  /** check one response against the generator: series count, a point at
    * every step, closed-form values */
  def check(shape: Shape, steps: Int, startMs: Long)(ss: Seq[Http.Series]): Option[String] = {
    val want = (0 until steps).map(i => startMs + i * StepMs)
    if (ss.size != shape.series) Some(s"${shape.query}: ${ss.size} series, want ${shape.series}")
    else ss.collectFirst {
      case s if !s.ts.sameElements(want) =>
        s"${shape.query}: ${s.labels} has ${s.ts.length} points, want $steps on the step grid"
      case s if shape.value.exists(w => s.vs.exists(v => !Http.close(v, w))) =>
        s"${shape.query}: ${s.labels} value ${s.vs.find(v => !Http.close(v, shape.value.get)).get}" +
          s", want ${shape.value.get}"
    }
  }

  /** window end for a request: seeded, whole seconds, leaving one hour of
    * data before the window start */
  def drawEnd(r: java.util.Random, sz: Sizes): Long = {
    val lo = T0 + 3600 * 1000L + (sz.steps - 1) * StepMs
    val hi = T0 + sz.spanS * 1000L
    (lo + (r.nextDouble() * (hi - lo)).toLong) / 1000L * 1000L
  }

  final case class Env(store: SampleStore, api: HttpApi, dir: String, rows: Long)

  /** last full window of the data */
  def lastWindow(sz: Sizes): (Long, Long) = {
    val end = T0 + sz.spanS * 1000L
    (end - (sz.steps - 1) * StepMs, end)
  }

  def get(port: Int, q: String, w: (Long, Long)): Unit = {
    val r = Http.get(Http.queryRangeUri(port, q, w._1, w._2, StepMs))
    if (r.status != 200) throw new IllegalStateException(s"warm-up $q: HTTP ${r.status}")
  }

  /** one set-up: write the store, open it, start the server and answer a
    * first query */
  def setUp(spark: SparkSession, sz: Sizes, dir: String): Env = {
    val rows = writeStore(spark, sz, dir)
    val store = new SampleStore(spark, spark.read.parquet(dir))
    val api = Served.startServer(spark, store)
    get(api.boundPort, shapes(sz.scale).head.query, lastWindow(sz))
    Env(store, api, dir, rows)
  }

  /** warm-up after the set-ups: every shape once, four at a time */
  def warmUp(env: Env, sz: Sizes): Unit = {
    val shp = shapes(sz.scale)
    val ts = (0 until 4).map(c => new Thread(() =>
      shp.indices.filter(_ % 4 == c).foreach(i => get(env.api.boundPort, shp(i).query, lastWindow(sz)))))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  def tearDown(env: Env): Unit = {
    env.api.stop()
    Main.deleteTree(new java.io.File(env.dir))
  }

  def run(spark: SparkSession, a: Main.Args, sz: Sizes, trace: Option[Trace],
      keepDigests: Boolean = false): Main.Outcome = {
    var prev: Option[Env] = None
    val (setupS, env) = Main.timedSetup(Main.SetupReps) { i =>
      prev.foreach(tearDown)
      val e = setUp(spark, sz, s"${a.work}/dashboard-$i")
      prev = Some(e)
      e
    }
    val w0 = System.nanoTime()
    warmUp(env, sz)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val shp = shapes(sz.scale)
    val results = mutable.ArrayBuffer.empty[Served.Result]
    val replays = mutable.ArrayBuffer.empty[Served.Replay]
    val httpSpans = mutable.ArrayBuffer.empty[Trace.HttpSpan]
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    val clients = (0 until sz.clients).map { c =>
      new Thread(() => {
        val r = new java.util.Random(a.seed * 1000003L + c)
        var k = 0
        while (System.nanoTime() < deadline) {
          // the clients walk the shapes out of phase with each other
          val sh = shp((k + c * shp.size / sz.clients) % shp.size)
          val end = drawEnd(r, sz)
          val start = end - (sz.steps - 1) * StepMs
          val res = Served.request(spark, env.api.boundPort, env.store, s"c$c-$k", sh.query,
            start, end, StepMs, check(sh, sz.steps, start), keepDigests, trace, replays,
            httpSpans, collect = true)
          results.synchronized { results += res }
          k += 1
        }
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wallMs = (System.nanoTime() - t0) / 1e6
    val heap = Main.retainedHeapMb()
    val lat = results.map(_.latMs).toSeq
    val failed = results.count(_.error.nonEmpty)
    val layers = trace.map { t =>
      val m = Served.layerMetrics(t, results.toSeq, replays.toSeq, httpSpans.toSeq, wallMs,
        a.cpus)
      val all = t.allSpans()
      t.writeSpans(all)
      (m, all)
    }
    tearDown(env)
    val byShape = results.groupBy(_.query).map { case (q, rs) =>
      q -> Map("n" -> rs.size, "p50_ms" -> Main.median(rs.map(_.latMs).toSeq),
        "bytes" -> rs.map(_.bytes).max, "points" -> rs.map(_.points).max)
    }
    Main.Outcome(
      attempted = results.size.toLong, failed = failed.toLong,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_mean_ms" -> (Layers.mean(lat), "ms"),
        "op_tail_ms" -> (Main.percentile(lat, TailPct), "ms"),
        "retained_heap_mb" -> (heap, "MB")),
      layers = layers.map(l => Layers.complete(l._1)).getOrElse(Map.empty),
      info = Map("sizes" -> Map("scale" -> sz.scale, "series" -> seriesOf(sz.scale).size,
          "stored_samples" -> env.rows, "span_s" -> sz.spanS, "steps" -> sz.steps,
          "step_s" -> StepMs / 1000, "clients" -> sz.clients),
        "tail_percentile" -> TailPct, "measured_s" -> wallMs / 1000.0, "warmup_s" -> warmupS,
        "ops_per_s" -> results.size / (wallMs / 1000.0),
        "query_p50_ms" -> Main.median(lat), "by_shape" -> byShape,
        "errors" -> results.flatMap(_.error).take(5).toSeq) ++
        layers.map(l => "self_ms" -> trace.get.selfTimes(l._2).map { case (k, (n, tot, self)) =>
          k -> Map("count" -> n, "total_ms" -> tot, "self_ms" -> self) }).toMap,
      digests = if (keepDigests) results.sortBy(_.req).map(r => s"${r.req} ${r.digest}").toSeq
        else Nil)
  }

  /** `op_tail_ms` percentile of the request latencies */
  val TailPct = 90.0
}
