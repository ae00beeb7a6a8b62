package graft.web

import com.sun.net.httpserver.HttpServer
import graft.promql.{Engine, LabelMatcher, MatchOp, VectorVal}
import graft.streaming.{OpenMetrics, Relabel, ScrapeManager}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Serving/ingest breadth: OpenMetrics parsing (+metadata/exemplars),
  * scrape poller with report series + metric relabeling, remote-read
  * server/client round-trip, fanout across two stores, Alertmanager
  * notification sink, and the metadata / query_exemplars endpoints. */
class ServingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val client = java.net.http.HttpClient.newHttpClient()

  private def get(port: Int, pq: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$pq")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def emptyStore(): SampleStore = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1), Engine.samplesSchema)
    new SampleStore(spark, df)
  }

  test("OpenMetrics: samples, seconds timestamps, metadata, exemplars, attachMeta") {
    val text = Seq(
      "# TYPE http_requests counter",
      "# UNIT http_requests requests",
      "# HELP http_requests Total requests.",
      "http_requests_total{path=\"/\"} 100 5.5",
      "http_requests_total{path=\"/api\"} 7 # {trace_id=\"abc\"} 0.5 5.2",
      "# TYPE temp gauge",
      "temp 21.5",
      "# EOF")
    import spark.implicits._
    val parsed = OpenMetrics.parseAll(text.toDF("value"), 9000L)
    val samples = OpenMetrics.samplesOf(parsed).collect()
      .map(r => (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2),
        Option(r.get(5)))).toSeq
    assert(samples.size == 3)
    val byPath = samples.collect {
      case (l, t, v, ex) if l.get("path").isDefined => l("path") -> ((t, v, ex))
    }.toMap
    assert(byPath("/") == ((5500L, 100.0, None)))        // seconds → ms
    assert(byPath("/api")._1 == 9000L)                   // default ts
    assert(byPath("/api")._3.isDefined)                  // exemplar captured
    assert(samples.exists { case (l, t, v, _) =>
      l("__name__") == "temp" && t == 9000L && v == 21.5 })

    val meta = OpenMetrics.metadataOf(parsed).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(meta("http_requests") == (("counter", "requests", "Total requests.")))
    assert(meta("temp")._1 == "gauge")

    // __type__/__unit__ attachment by family (suffix-stripped)
    val attached = OpenMetrics.attachMeta(
      OpenMetrics.samplesOf(parsed), OpenMetrics.metadataOf(parsed))
    val att = attached.collect().map(r => r.getMap[String, String](0).toMap).toSeq
    val reqRow = att.find(_.get("path").contains("/")).get
    assert(reqRow("__type__") == "counter" && reqRow("__unit__") == "requests")

    // exemplar rows land in the store and serve via /api/v1/query_exemplars
    val store = emptyStore()
    store.append(OpenMetrics.samplesOf(parsed).drop("exemplar"))
    store.appendExemplars(OpenMetrics.samplesOf(parsed))
    store.mergeMetadata(OpenMetrics.metadataOf(parsed))
    val api = new HttpApi(spark, store, 0, () => 10000L)
    api.start()
    try {
      val (c1, b1) = get(api.boundPort,
        "/api/v1/query_exemplars?query=http_requests_total&start=0&end=10")
      assert(c1 == 200 && b1.contains("\"trace_id\":\"abc\"") &&
        b1.contains("\"timestamp\":5.200"))
      val (c2, b2) = get(api.boundPort, "/api/v1/metadata")
      assert(c2 == 200 && b2.contains("\"http_requests\"") &&
        b2.contains("\"type\":\"counter\"") && b2.contains("\"unit\":\"requests\""))
    } finally api.stop()
  }

  test("scrape poller: exposition fetch, report series, metric relabeling") {
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      val body = "reqs_total{code=\"200\"} 10\nreqs_total{code=\"500\"} 2\ndropme 1\n"
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.start()
    try {
      val store = emptyStore()
      val mgr = new ScrapeManager(spark, store,
        Seq(ScrapeManager.ScrapeTarget(
          s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
          job = "t", instance = "i1")),
        metricRelabel = Seq(Relabel.Rule(Relabel.Drop,
          sourceLabels = Seq("__name__"), regex = "dropme")),
        nowMs = () => 60000L)
      val n = mgr.scrapeOnce()
      assert(n == 8L) // 3 scraped + 5 report (dropme dropped AFTER count)
      val rows = store.samples.collect().map(r =>
        (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2))).toSeq
      assert(rows.exists { case (l, t, v) =>
        l("__name__") == "reqs_total" && l("code") == "200" &&
          l("instance") == "i1" && l("job") == "t" && t == 60000L && v == 10.0 })
      assert(!rows.exists(_._1("__name__") == "dropme")) // relabel-dropped
      assert(rows.exists { case (l, _, v) => l("__name__") == "up" && v == 1.0 })
      assert(rows.exists(_._1("__name__") == "scrape_samples_scraped"))

      // down target → up 0
      val store2 = emptyStore()
      val mgr2 = new ScrapeManager(spark, store2,
        Seq(ScrapeManager.ScrapeTarget("http://127.0.0.1:1/metrics", "t", "dead")),
        nowMs = () => 60000L)
      mgr2.scrapeOnce()
      val up = store2.samples.collect().map(r =>
        (r.getMap[String, String](0).toMap, r.getDouble(2))).toSeq
      assert(up.exists { case (l, v) => l("__name__") == "up" && v == 0.0 })
    } finally server.stop(0)
  }

  test("scrape-time exemplar ingestion: OpenMetrics exemplars serve via query_exemplars") {
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      val body = Seq(
        "# TYPE http_requests counter",
        "http_requests_total{path=\"/\"} 100",
        "http_requests_total{path=\"/api\"} 7 # {trace_id=\"abc\"} 0.5 5.2",
        "dropme_total 1 # {trace_id=\"gone\"} 1.0 5.0",
        "# EOF", "").mkString("\n").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "application/openmetrics-text; version=1.0.0")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.start()
    try {
      val store = emptyStore()
      def tgt(inst: String) = ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
        job = "t", instance = inst, openMetrics = true)
      val mgr = new ScrapeManager(spark, store, Seq(tgt("i1"), tgt("i2")),
        metricRelabel = Seq(Relabel.Rule(Relabel.Drop,
          sourceLabels = Seq("__name__"), regex = "dropme_total")),
        nowMs = () => 60000L)
      mgr.scrapeOnce()
      // both targets' exemplars ride ONE append for the whole pool cycle
      assert(store.exemplarAppendCalls == 1L)
      assert(store.exemplars.get.count() == 2L) // one per instance
      // the exemplar landed against the DECORATED series (instance/job) and
      // serves through the API (ref: scrape.go exemplar append →
      // web/api/v1 queryExemplars)
      val api = new HttpApi(spark, store, 0, () => 100000L)
      api.start()
      try {
        val q = java.net.URLEncoder.encode("http_requests_total{instance=\"i1\"}", "UTF-8")
        val (c, b) = get(api.boundPort,
          s"/api/v1/query_exemplars?query=$q&start=0&end=100")
        assert(c == 200 && b.contains("\"trace_id\":\"abc\"") &&
          b.contains("\"timestamp\":5.200"), b.take(400))
        // an exemplar of a metric-relabel-dropped series is dropped with it
        val (c2, b2) = get(api.boundPort,
          "/api/v1/query_exemplars?query=dropme_total&start=0&end=100")
        assert(c2 == 200 && !b2.contains("gone"), b2.take(200))
      } finally api.stop()
    } finally server.stop(0)
  }

  test("protobuf exposition scrape: counter, summary, classic + native histogram, metadata") {
    // hand-encoded io.prometheus.client.MetricFamily delimited stream
    val o = new java.io.ByteArrayOutputStream()
    def vint(out: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def delim(out: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(out, (tag << 3) | 2); vint(out, body.length); out.write(body)
    }
    def dbl(out: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
      vint(out, (tag << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    def varintF(out: java.io.ByteArrayOutputStream, tag: Int, v: Long): Unit = {
      vint(out, tag << 3); vint(out, v)
    }
    def bytesOf(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); f(b); b.toByteArray
    }
    def strF(out: java.io.ByteArrayOutputStream, tag: Int, s: String): Unit =
      delim(out, tag, s.getBytes("UTF-8"))
    def lp(n: String, v: String) = bytesOf { b => strF(b, 1, n); strF(b, 2, v) }
    def exMsg(traceId: String, v: Double, tsSec: Option[Long]) = bytesOf { e =>
      delim(e, 1, lp("trace_id", traceId)); dbl(e, 2, v)
      tsSec.foreach(s => delim(e, 3, bytesOf(t => varintF(t, 1, s))))
    }
    // family 1: counter reqs{m="a"} 41 with an exemplar (metrics.proto:53
    // Counter.exemplar; ts present)
    val fam1 = bytesOf { f =>
      strF(f, 1, "reqs"); varintF(f, 3, 0)
      delim(f, 4, bytesOf { m =>
        delim(m, 1, lp("m", "a"))
        delim(m, 3, bytesOf { c =>
          dbl(c, 1, 41.0); delim(c, 2, exMsg("t1", 0.7, Some(5L))) })
      })
    }
    // family 2: summary lat: count 5, sum 12.5, q0.5=2.0
    val fam2 = bytesOf { f =>
      strF(f, 1, "lat"); varintF(f, 3, 2); strF(f, 5, "seconds")
      delim(f, 4, bytesOf { m =>
        delim(m, 4, bytesOf { s =>
          varintF(s, 1, 5); dbl(s, 2, 12.5)
          delim(s, 3, bytesOf { q => dbl(q, 1, 0.5); dbl(q, 2, 2.0) })
        })
      })
    }
    // family 3: classic histogram chist: count 3, sum 6.0, buckets le=1:1,
    // le=+Inf:3; the le=1 bucket carries a TS-LESS exemplar (allowed for
    // classic buckets, metrics.proto:123; scrape stamps it)
    val fam3 = bytesOf { f =>
      strF(f, 1, "chist"); varintF(f, 3, 4)
      delim(f, 4, bytesOf { m =>
        delim(m, 7, bytesOf { h =>
          varintF(h, 1, 3); dbl(h, 2, 6.0)
          delim(h, 3, bytesOf { b =>
            varintF(b, 1, 1); dbl(b, 2, 1.0)
            delim(b, 3, exMsg("c1", 0.4, None)) })
          delim(h, 3, bytesOf { b => varintF(b, 1, 3); dbl(b, 2, Double.PositiveInfinity) })
        })
      })
    }
    // family 4: native histogram nhist: schema 0, count 4, sum 10, one positive
    // span (offset 0 len 2) deltas [3, -2] => buckets [3, 1]
    val fam4 = bytesOf { f =>
      strF(f, 1, "nhist"); varintF(f, 3, 4)
      delim(f, 4, bytesOf { m =>
        delim(m, 7, bytesOf { h =>
          varintF(h, 1, 4); dbl(h, 2, 10.0)
          vint(h, (5 << 3)); vint(h, 0) // schema sint32 0 (zigzag 0)
          delim(h, 12, bytesOf { s => vint(s, 1 << 3); vint(s, 0); varintF(s, 2, 2) })
          delim(h, 13, bytesOf { d => vint(d, 6); vint(d, 3) }) // packed sint64 [3,-2]
          // Histogram.exemplars=16 (native): one WITH ts (kept), one
          // without (MUST be dropped — protobufparse.go:377)
          delim(h, 16, exMsg("n1", 2.5, Some(6L)))
          delim(h, 16, exMsg("n2", 3.5, None))
        })
      })
    }
    Seq(fam1, fam2, fam3, fam4).foreach { fam => vint(o, fam.length); o.write(fam) }
    val stream = o.toByteArray

    // parser-level checks
    val parsed = ProtoExposition.parse(stream, 7000L)
    val byName = parsed.samples.groupBy(_.labels("__name__"))
    assert(byName("reqs").head.v == 41.0 && byName("reqs").head.labels("m") == "a")
    assert(byName("lat_count").head.v == 5.0 && byName("lat_sum").head.v == 12.5)
    assert(byName("lat").head.labels("quantile") == "0.5" && byName("lat").head.v == 2.0)
    assert(byName("chist_count").head.v == 3.0)
    assert(byName("chist_bucket").map(s => s.labels("le") -> s.v).toMap ==
      Map("1" -> 1.0, "+Inf" -> 3.0))
    val nh = byName("nhist").head.h.get
    assert(nh.cnt == 4.0 && nh.sum == 10.0 && nh.pcnt == Seq(3.0, 1.0))
    assert(parsed.meta("lat") == (("summary", "seconds", "")))
    // exemplars: counter (with ts), classic bucket (ts-less → NoTs
    // sentinel), native histogram (ts-less one dropped)
    val exByName = parsed.exemplars.groupBy(_._1("__name__"))
    assert(exByName("reqs").map(_._2) ==
      Seq(OpenMetrics.Exemplar(Map("trace_id" -> "t1"), 0.7, 5000L)))
    val (cl, ce) = exByName("chist_bucket").head
    assert(cl("le") == "1" && ce.labels == Map("trace_id" -> "c1") &&
      ce.v == 0.4 && ce.t == ProtoExposition.NoTs)
    assert(exByName("nhist").map(_._2) ==
      Seq(OpenMetrics.Exemplar(Map("trace_id" -> "n1"), 2.5, 6000L)))
    // always_scrape_classic_histograms: the native family ALSO expands its
    // classic section (_count/_sum here; fam4 has no classic buckets)
    val withClassic = ProtoExposition.parse(stream, 7000L, alwaysClassic = true)
    val cByName = withClassic.samples.groupBy(_.labels("__name__"))
    assert(cByName("nhist_count").head.v == 4.0 && cByName("nhist_sum").head.v == 10.0)
    assert(cByName.contains("nhist")) // native still emitted
    assert(!byName.contains("nhist_count")) // and not without the flag

    // end-to-end scrape through an HTTP server with proto negotiation
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      assert(Option(ex.getRequestHeaders.getFirst("Accept"))
        .exists(_.contains("io.prometheus.client.MetricFamily")))
      ex.sendResponseHeaders(200, stream.length)
      ex.getResponseBody.write(stream); ex.getResponseBody.close()
    })
    server.start()
    try {
      val store = emptyStore()
      val mgr = new ScrapeManager(spark, store,
        Seq(ScrapeManager.ScrapeTarget(
          s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
          job = "pj", instance = "pi", proto = true)),
        nowMs = () => 80000L)
      val n = mgr.scrapeOnce()
      assert(n == 14L) // 9 scraped + 5 report
      val rows = store.samples.collect().map(r =>
        (r.getMap[String, String](0).toMap, r.getLong(1), r.getDouble(2), Option(r.get(4)))).toSeq
      assert(rows.exists { case (l, t, v, _) =>
        l("__name__") == "reqs" && l("job") == "pj" && t == 80000L && v == 41.0 })
      assert(rows.exists { case (l, _, _, h) => l("__name__") == "nhist" && h.isDefined })
      assert(rows.exists { case (l, _, v, _) => l("__name__") == "up" && v == 1.0 })
      assert(store.metadata.exists { case (fam, (t, u, _)) =>
        fam == "lat" && t == "summary" && u == "seconds" })
      // protobuf-scrape exemplars land against the decorated series and
      // serve via /api/v1/query_exemplars; the ts-less classic-bucket one
      // is stamped with the scrape time (80s)
      assert(store.exemplarAppendCalls == 1L) // one batch for the whole cycle
      val api = new HttpApi(spark, store, 0, () => 100000L)
      api.start()
      try {
        val (c1, b1) = get(api.boundPort,
          "/api/v1/query_exemplars?query=reqs&start=0&end=100")
        assert(c1 == 200 && b1.contains("\"trace_id\":\"t1\"") &&
          b1.contains("\"timestamp\":5}"), b1.take(400))
        val (c2, b2) = get(api.boundPort,
          "/api/v1/query_exemplars?query=nhist&start=0&end=100")
        assert(c2 == 200 && b2.contains("\"trace_id\":\"n1\"") &&
          !b2.contains("n2"), b2.take(400))
        val q3 = java.net.URLEncoder.encode("chist_bucket{le=\"1\"}", "UTF-8")
        val (c3, b3) = get(api.boundPort,
          s"/api/v1/query_exemplars?query=$q3&start=0&end=100")
        assert(c3 == 200 && b3.contains("\"trace_id\":\"c1\"") &&
          b3.contains("\"timestamp\":80}"), b3.take(400))
      } finally api.stop()
    } finally server.stop(0)
  }

  test("st-synthesis on the proto path: counters without created_timestamp synthesize") {
    // one counter family whose value changes between scrapes, plus one
    // gauge that must pass through untouched
    @volatile var counterVal = 5.0
    @volatile var histCnt = 4; @volatile var histSum = 10.0
    @volatile var histB1 = 3L; @volatile var histB2 = 1L
    @volatile var clock = 10000L
    def body(counterVal: Double): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      def vint(out: java.io.ByteArrayOutputStream, x0: Long): Unit = {
        var x = x0
        while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
        out.write(x.toInt)
      }
      def delim(out: java.io.ByteArrayOutputStream, tag: Int, b: Array[Byte]): Unit = {
        vint(out, (tag << 3) | 2); vint(out, b.length); out.write(b)
      }
      def dbl(out: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
        vint(out, (tag << 3) | 1)
        val bits = java.lang.Double.doubleToLongBits(v)
        (0 until 8).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
      }
      def varintF(out: java.io.ByteArrayOutputStream, tag: Int, v: Long): Unit = {
        vint(out, tag << 3); vint(out, v)
      }
      def bytesOf(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream(); f(b); b.toByteArray
      }
      def strF(out: java.io.ByteArrayOutputStream, tag: Int, s: String): Unit =
        delim(out, tag, s.getBytes("UTF-8"))
      val ctr = bytesOf { f =>
        strF(f, 1, "reqs_total"); varintF(f, 3, 0) // COUNTER, no created_timestamp
        delim(f, 4, bytesOf(m => delim(m, 3, bytesOf(c => dbl(c, 1, counterVal)))))
      }
      val gauge = bytesOf { f =>
        strF(f, 1, "temp"); varintF(f, 3, 1) // GAUGE
        delim(f, 4, bytesOf(m => delim(m, 2, bytesOf(g => dbl(g, 1, 21.5)))))
      }
      // native histogram: schema 0, one positive span (offset 0, len 2),
      // absolute buckets (hb1, hb2) delta-encoded as zigzag sint64
      def zig(n: Long): Long = (n << 1) ^ (n >> 63)
      val nh = bytesOf { f =>
        strF(f, 1, "nh"); varintF(f, 3, 4) // HISTOGRAM
        delim(f, 4, bytesOf { m =>
          delim(m, 7, bytesOf { h =>
            varintF(h, 1, histCnt.toLong); dbl(h, 2, histSum)
            vint(h, 5 << 3); vint(h, 0) // schema sint32 0
            delim(h, 12, bytesOf { s => vint(s, 1 << 3); vint(s, 0); varintF(s, 2, 2) })
            delim(h, 13, bytesOf { d =>
              vint(d, zig(histB1)); vint(d, zig(histB2 - histB1)) })
          })
        })
      }
      Seq(ctr, gauge, nh).foreach { fam => vint(o, fam.length); o.write(fam) }
      o.toByteArray
    }
    @volatile var failScrape = false
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      if (failScrape) { ex.sendResponseHeaders(500, -1); ex.close() }
      else {
        val b = body(counterVal)
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.getResponseBody.close()
      }
    })
    server.start()
    try {
      val store = emptyStore()
      val mgr = new ScrapeManager(spark, store,
        Seq(ScrapeManager.ScrapeTarget(
          s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
          job = "pj", instance = "pi", proto = true)),
        nowMs = () => clock, stSynthesis = true)
      def rows(name: String): Seq[(Long, Double, Long)] =
        store.samples.collect().toSeq
          .filter(_.getMap[String, String](0)("__name__") == name)
          .map(r => (r.getLong(1), r.getDouble(2), r.getLong(5))).sortBy(_._1)
      def hists(name: String): Seq[(Long, Long, (Double, Double, Seq[Double]))] =
        store.samples.collect().toSeq
          .filter(r => r.getMap[String, String](0)("__name__") == name &&
            !r.isNullAt(4))
          .map { r =>
            val h = graft.promql.FHist.fromRow(r.getStruct(4))
            (r.getLong(1), r.getLong(5), (h.cnt, h.sum, h.pcnt.toSeq))
          }.sortBy(_._1)
      mgr.scrapeOnce() // anchor @10s: counter + native hist dropped, gauge kept
      assert(rows("reqs_total").isEmpty)
      assert(hists("nh").isEmpty)
      assert(rows("temp") == Seq((10000L, 21.5, 0L)))
      clock = 20000L; counterVal = 9.0
      histCnt = 6; histSum = 15.0; histB1 = 4L; histB2 = 2L
      mgr.scrapeOnce() // rebased: float 9−5=4; hist subtracts the anchor
      assert(rows("reqs_total") == Seq((20000L, 4.0, 10000L)))
      assert(hists("nh") == Seq((20000L, 10000L, (2.0, 5.0, Seq(1.0, 1.0)))))
      // native reset (count drop): emitted unadjusted with st = t−1
      clock = 30000L
      histCnt = 2; histSum = 2.0; histB1 = 1L; histB2 = 1L
      mgr.scrapeOnce()
      assert(hists("nh").last == ((30000L, 29999L, (2.0, 2.0, Seq(1.0, 1.0)))))
      // a FAILED scrape must not wipe synthesis anchors: the next good
      // scrape rebases against the surviving state instead of re-anchoring
      // (dropping) everything
      clock = 40000L; failScrape = true
      mgr.scrapeOnce()
      clock = 50000L; failScrape = false; counterVal = 12.0
      mgr.scrapeOnce()
      // the float anchor (5.0 @10s; no float reset happened — only the
      // histogram reset above) survived the outage: 12−5=7 appended with
      // the original st, NOT re-anchored-and-dropped
      assert(rows("reqs_total").last == ((50000L, 7.0, 10000L)))
    } finally server.stop(0)
  }

  test("scrape HTTP config: params, basic_auth, scrape_timeout, __param_ relabel") {
    @volatile var seenAuth: String = null
    @volatile var seenQuery: String = null
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/probe", ex => {
      seenAuth = ex.getRequestHeaders.getFirst("Authorization")
      seenQuery = ex.getRequestURI.getRawQuery
      val body = "probe_success 1\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.createContext("/slow", ex => {
      Thread.sleep(3000)
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      // config-level: params become the metrics path query + __param_ labels,
      // basic_auth renders the header, scrape_timeout parses
      val cfg = graft.streaming.Config.parse(
        s"""scrape_configs:
           |  - job_name: blackbox
           |    metrics_path: /probe
           |    scrape_timeout: 2s
           |    params:
           |      module: [http_2xx]
           |      extra: [a, b]
           |    basic_auth:
           |      username: user
           |      password: pass
           |    static_configs:
           |      - targets: ['127.0.0.1:$port']
           |    relabel_configs:
           |      - target_label: __param_module
           |        replacement: icmp
           |""".stripMargin)
      val job = cfg.scrapeJobs.head
      assert(job.timeoutMs == 2000L)
      assert(job.authHeader.contains(
        "Basic " + java.util.Base64.getEncoder.encodeToString("user:pass".getBytes)))
      val tgt0 = job.staticTargets.head
      assert(tgt0.url == s"http://127.0.0.1:$port/probe?module=http_2xx&extra=a&extra=b")
      // discovery labels expose __param_module; relabel overrides the FIRST
      // value of module, keeps extra's both values
      val lbls = ScrapeManager.discoveryLabelSet(tgt0)
      assert(lbls("__param_module") == "http_2xx" && lbls("__param_extra") == "a")
      val tgt = ScrapeManager.relabelTarget(tgt0, job.relabel).get
      assert(tgt.url == s"http://127.0.0.1:$port/probe?module=icmp&extra=a&extra=b")

      val store = emptyStore()
      val mgr = new ScrapeManager(spark, store, Seq(tgt), nowMs = () => 50000L,
        timeoutMs = job.timeoutMs, authHeader = job.authHeader)
      mgr.scrapeOnce()
      assert(seenAuth == job.authHeader.get)
      assert(seenQuery == "module=icmp&extra=a&extra=b")
      val rows = store.samples.collect().map(r =>
        (r.getMap[String, String](0).toMap, r.getDouble(2)))
      assert(rows.exists { case (l, v) => l("__name__") == "probe_success" && v == 1.0 })
      assert(rows.exists { case (l, v) => l("__name__") == "up" && v == 1.0 })

      // a hung exporter reports up=0 after scrape_timeout instead of wedging
      val slow = ScrapeManager.ScrapeTarget(
        s"http://127.0.0.1:$port/slow", job = "slow", instance = "s1")
      val mgr2 = new ScrapeManager(spark, store, Seq(slow), nowMs = () => 60000L,
        timeoutMs = 300L)
      val t0 = System.nanoTime()
      mgr2.scrapeOnce()
      assert((System.nanoTime() - t0) / 1e6 < 2500.0)
      val up0 = store.samples.collect().exists { r =>
        val l = r.getMap[String, String](0)
        l("__name__") == "up" && l("job") == "slow" && r.getDouble(2) == 0.0
      }
      assert(up0)
    } finally server.stop(0)
  }

  test("native_histogram_bucket_limit reduces resolution then fails; min_bucket_factor caps schema") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.{ScrapeLimits, ScrapeTarget}
    // pickSchema (ref scrape.go): factor ≤ 1.00271 → 8; 4.0 → −1; huge → −4
    assert(ScrapeManager.pickSchema(1.001) == 8)
    assert(ScrapeManager.pickSchema(4.0) == -1)
    assert(ScrapeManager.pickSchema(1e9) == -4)
    // hand-encoded MetricFamily: native histogram, schema 2, positive
    // buckets at idx 1 and idx 65 (two spans) counts [3, 2]
    val o = new java.io.ByteArrayOutputStream()
    def vint(out: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def delim(out: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(out, (tag << 3) | 2); vint(out, body.length); out.write(body)
    }
    def dbl(out: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
      vint(out, (tag << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    def bytesOf(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); f(b); b.toByteArray
    }
    val fam = bytesOf { f =>
      delim(f, 1, "nh".getBytes("UTF-8")); vint(f, 3 << 3); vint(f, 4) // HISTOGRAM
      delim(f, 4, bytesOf { m =>
        delim(m, 7, bytesOf { h =>
          vint(h, 1 << 3); vint(h, 5); dbl(h, 2, 10.0)
          vint(h, 5 << 3); vint(h, 4) // schema 2 (zigzag 4)
          delim(h, 12, bytesOf { sp => vint(sp, 1 << 3); vint(sp, 2); vint(sp, 2 << 3); vint(sp, 1) })
          delim(h, 12, bytesOf { sp => vint(sp, 1 << 3); vint(sp, 126); vint(sp, 2 << 3); vint(sp, 1) })
          delim(h, 13, bytesOf { d => vint(d, 6); vint(d, 1) }) // deltas [3,-1]
        })
      })
    }
    vint(o, fam.length); o.write(fam)
    val stream = o.toByteArray
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      ex.getResponseHeaders.set("Content-Type",
        "application/vnd.google.protobuf;proto=io.prometheus.client.MetricFamily;encodings=delimited")
      ex.sendResponseHeaders(200, stream.length)
      ex.getResponseBody.write(stream); ex.getResponseBody.close()
    })
    server.start()
    val tgt = ScrapeTarget(
      s"http://127.0.0.1:${server.getAddress.getPort}/metrics", "nhj", "i1",
      proto = true)
    def histOf(store: SampleStore): Option[graft.promql.FHist] =
      store.samples.collect().collectFirst {
        case r if r.getMap[String, String](0)("__name__") == "nh" && !r.isNullAt(4) =>
          graft.promql.FHist.fromRow(r.getStruct(4))
      }
    def upOf2(store: SampleStore): Double = store.samples.collect().collectFirst {
      case r if r.getMap[String, String](0)("__name__") == "up" => r.getDouble(2)
    }.get
    try {
      // no limits: schema 2, both buckets survive
      val s0 = emptyStore()
      new ScrapeManager(spark, s0, Seq(tgt), nowMs = () => 50000L).scrapeOnce()
      assert(histOf(s0).exists(h => h.schema == 2 && h.pcnt == Seq(3.0, 2.0)))
      // bucket_limit=1: reduction runs out at schema −4 with 2 buckets left
      // → the WHOLE scrape fails (up=0, nothing appended)
      val s1 = emptyStore()
      new ScrapeManager(spark, s1, Seq(tgt), nowMs = () => 50000L,
        limits = ScrapeLimits(nativeHistogramBucketLimit = 1L)).scrapeOnce()
      assert(upOf2(s1) == 0.0 && histOf(s1).isEmpty)
      // bucket_limit=2 at two spread-out buckets: already ≤ limit → intact
      val s2 = emptyStore()
      new ScrapeManager(spark, s2, Seq(tgt), nowMs = () => 50000L,
        limits = ScrapeLimits(nativeHistogramBucketLimit = 2L)).scrapeOnce()
      assert(upOf2(s2) == 1.0 && histOf(s2).exists(_.schema == 2))
      // min_bucket_factor=4 → schema capped at −1; counts preserved
      val s3 = emptyStore()
      new ScrapeManager(spark, s3, Seq(tgt), nowMs = () => 50000L,
        limits = ScrapeLimits(nativeHistogramMinBucketFactor = 4.0)).scrapeOnce()
      assert(histOf(s3).exists(h => h.schema == -1 && h.pcnt.sum == 5.0),
        histOf(s3).toString)
      // config parse carries both fields
      val cfg = graft.streaming.Config.parse(
        """scrape_configs:
          |  - job_name: j
          |    native_histogram_bucket_limit: 160
          |    native_histogram_min_bucket_factor: 1.1
          |""".stripMargin)
      assert(cfg.scrapeJobs.head.limits.nativeHistogramBucketLimit == 160L)
      assert(cfg.scrapeJobs.head.limits.nativeHistogramMinBucketFactor == 1.1)
    } finally server.stop(0)
  }

  test("scrape http_headers: values/secrets/files merge, multi-value, reserved rejected") {
    @volatile var seen = Map.empty[String, Seq[String]]
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      val b = Map.newBuilder[String, Seq[String]]
      ex.getRequestHeaders.forEach((k, v) => b += (k -> {
        val buf = Seq.newBuilder[String]; v.forEach(buf += _); buf.result() }))
      seen = b.result()
      val body = "m 1\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.start()
    val dir = java.nio.file.Files.createTempDirectory("hh")
    try {
      java.nio.file.Files.write(dir.resolve("tenant.txt"), "t-42\n".getBytes("UTF-8"))
      val cfg = graft.streaming.Config.parse(
        s"""scrape_configs:
           |  - job_name: hh
           |    http_headers:
           |      X-Multi:
           |        values: [one, two]
           |      X-Secret:
           |        secrets: [shh]
           |      X-Tenant:
           |        files: [tenant.txt]
           |    static_configs:
           |      - targets: ['127.0.0.1:${server.getAddress.getPort}']
           |""".stripMargin, dir.toString)
      val job = cfg.scrapeJobs.head
      assert(job.httpHeaders == Map(
        "X-Multi" -> Seq("one", "two"), "X-Secret" -> Seq("shh"),
        "X-Tenant" -> Seq("t-42")))
      val mgr = new ScrapeManager(spark, emptyStore(), job.staticTargets,
        nowMs = () => 50000L, httpHeaders = job.httpHeaders)
      mgr.scrapeOnce()
      assert(seen("X-multi") == Seq("one", "two") ||
        seen.getOrElse("X-Multi", Nil) == Seq("one", "two"), seen.toString)
      assert(seen.getOrElse("X-secret", seen.getOrElse("X-Secret", Nil)) == Seq("shh"))
      assert(seen.getOrElse("X-tenant", seen.getOrElse("X-Tenant", Nil)) == Seq("t-42"))
      // checker: reserved header names + unknown sub-fields fail
      val bad = dir.resolve("bad.yml")
      java.nio.file.Files.write(bad,
        """scrape_configs:
          |  - job_name: j
          |    http_headers:
          |      Authorization:
          |        values: [sneaky]
          |      X-Ok:
          |        value: [typo]
          |""".stripMargin.getBytes("UTF-8"))
      val errs = graft.streaming.ConfigCheck.checkConfig(bad.toString).errors
      assert(errs.exists(_.contains("setting header \"Authorization\" is not allowed")), errs)
      assert(errs.exists(_.contains("field value not found")), errs)
    } finally server.stop(0)
  }

  test("scrape staleness: disappeared series get markers; explicit ts gated; failure stales all") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.ScrapeTarget
    @volatile var body = "a 1\nb 2\nc 3 1234\n" // c carries an EXPLICIT ts
    @volatile var fail = false
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      if (fail) { ex.sendResponseHeaders(500, -1); ex.close() }
      else {
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.getResponseBody.close()
      }
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/metrics"
    def staleNames(store: SampleStore): Seq[(String, Long)] =
      store.samples.collect().filter(_.getBoolean(3))
        .map(r => (r.getMap[String, String](0)("__name__"), r.getLong(1))).toSeq
    try {
      // default (track_timestamps_staleness=false): b vanishing → marker at
      // the second scrape's time; c (explicit ts) vanishing → NO marker
      val s1 = emptyStore()
      @volatile var clock = 50000L
      val m1 = new ScrapeManager(spark, s1, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => clock)
      m1.scrapeOnce()
      assert(staleNames(s1).isEmpty)
      body = "a 1\n"; clock = 60000L
      m1.scrapeOnce()
      assert(staleNames(s1) == Seq(("b", 60000L)), staleNames(s1).toString)
      // track_timestamps_staleness=true: the explicit-ts series is tracked
      val s2 = emptyStore()
      body = "a 1\nc 3 1234\n"; clock = 50000L
      val m2 = new ScrapeManager(spark, s2, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => clock, trackTimestampsStaleness = true)
      m2.scrapeOnce()
      body = "a 1\n"; clock = 60000L
      m2.scrapeOnce()
      assert(staleNames(s2) == Seq(("c", 60000L)), staleNames(s2).toString)
      // a failed scrape stales the WHOLE cache once (not again while down);
      // recovery re-counts every series as added
      val s3 = emptyStore()
      body = "a 1\nb 2\n"; clock = 50000L
      val m3 = new ScrapeManager(spark, s3, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => clock)
      m3.scrapeOnce()
      fail = true; clock = 60000L
      m3.scrapeOnce()
      assert(staleNames(s3).map(_._1).sorted == Seq("a", "b"), staleNames(s3).toString)
      clock = 70000L
      m3.scrapeOnce() // still down: no duplicate markers
      assert(staleNames(s3).size == 2)
      fail = false; clock = 80000L
      m3.scrapeOnce()
      val added = s3.samples.collect().filter { r =>
        r.getMap[String, String](0)("__name__") == "scrape_series_added" &&
          r.getLong(1) == 80000L }.map(_.getDouble(2))
      assert(added.toSeq == Seq(2.0), added.toSeq.toString)
      // a target dropped from the pool stales its series on the next cycle
      val s4 = emptyStore()
      @volatile var tgts = Seq(ScrapeTarget(url, "j", "i1"))
      val m4 = new ScrapeManager(spark, s4, Nil, nowMs = () => clock)
      m4.setTargetProvider(() => tgts)
      body = "a 1\n"; clock = 50000L
      m4.scrapeOnce()
      tgts = Nil; clock = 60000L
      m4.scrapeOnce()
      assert(staleNames(s4) == Seq(("a", 60000L)), staleNames(s4).toString)
    } finally server.stop(0)
  }

  test("scrape_failure_log_file records failed scrapes as JSON lines") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.{ScrapeLimits, ScrapeTarget}
    val log = java.nio.file.Files.createTempFile("sfl", ".log")
    java.nio.file.Files.deleteIfExists(log)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      val body = "a 1\nb 2\nc 3\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.start()
    try {
      // connection refused → one failure line with pool + target
      new ScrapeManager(spark, emptyStore(),
        Seq(ScrapeTarget("http://127.0.0.1:1/metrics", "downj", "d1")),
        nowMs = () => 50000L, timeoutMs = 300L,
        failureLogFile = Some(log.toString)).scrapeOnce()
      val lines1 = new String(java.nio.file.Files.readAllBytes(log), "UTF-8")
        .trim.split("\n")
      assert(lines1.length == 1, lines1.toSeq.toString)
      assert(lines1(0).contains("\"scrape_pool\":\"downj\"") &&
        lines1(0).contains("127.0.0.1:1") && lines1(0).contains("\"ERROR\""), lines1(0))
      // sample_limit violation logs the reason; a healthy scrape logs nothing
      new ScrapeManager(spark, emptyStore(),
        Seq(ScrapeTarget(s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
          "limj", "l1")),
        nowMs = () => 50000L, limits = ScrapeLimits(sampleLimit = 2L),
        failureLogFile = Some(log.toString)).scrapeOnce()
      new ScrapeManager(spark, emptyStore(),
        Seq(ScrapeTarget(s"http://127.0.0.1:${server.getAddress.getPort}/metrics",
          "okj", "o1")),
        nowMs = () => 50000L, failureLogFile = Some(log.toString)).scrapeOnce()
      val lines2 = new String(java.nio.file.Files.readAllBytes(log), "UTF-8")
        .trim.split("\n")
      assert(lines2.length == 2, lines2.toSeq.toString)
      assert(lines2(1).contains("sample_limit exceeded") &&
        lines2(1).contains("\"scrape_pool\":\"limj\""), lines2(1))
      // config: per-job path resolves against the config dir, global fallback
      val cfg = graft.streaming.Config.parse(
        """global:
          |  scrape_failure_log_file: global.log
          |scrape_configs:
          |  - job_name: a
          |  - job_name: b
          |    scrape_failure_log_file: job.log
          |""".stripMargin, "/cfg")
      assert(cfg.scrapeJobs(0).failureLogFile.contains("/cfg/global.log"))
      assert(cfg.scrapeJobs(1).failureLogFile.contains("/cfg/job.log"))
    } finally { server.stop(0); java.nio.file.Files.deleteIfExists(log) }
  }

  test("scrape limits: body_size_limit, target_limit, honor_timestamps=false") {
    import graft.streaming.ScrapeManager.{parseBytes, ScrapeLimits, ScrapeTarget}
    // Go units strings (SI and IEC) parse like the reference's
    assert(parseBytes("10240") == 10240L && parseBytes("512B") == 512L)
    assert(parseBytes("10KB") == 10000L && parseBytes("64KiB") == 65536L)
    assert(parseBytes("2MB") == 2000000L && parseBytes("1MiB") == 1048576L)

    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      val body = ("big_metric 1 7000\n" + ("# padding padding padding\n" * 50))
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/metrics"
    try {
      def upOf(store: SampleStore, job: String): Seq[(String, Double)] =
        store.samples.collect().toSeq.map { r =>
          (r.getMap[String, String](0)("__name__"), r.getDouble(2))
        }.filter(_._1 == "up")
      // over the body limit: the scrape fails whole, up=0, no samples
      val s1 = emptyStore()
      new ScrapeManager(spark, s1, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => 50000L, limits = ScrapeLimits(bodySizeLimit = 100L))
        .scrapeOnce()
      assert(upOf(s1, "j") == Seq(("up", 0.0)))
      assert(!s1.samples.collect().exists(
        _.getMap[String, String](0)("__name__") == "big_metric"))
      // under the limit: scrape passes
      val s2 = emptyStore()
      new ScrapeManager(spark, s2, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => 50000L, limits = ScrapeLimits(bodySizeLimit = 1000000L))
        .scrapeOnce()
      assert(upOf(s2, "j") == Seq(("up", 1.0)))
      // target_limit: 2 targets > 1 → EVERY target fails the cycle
      val s3 = emptyStore()
      new ScrapeManager(spark, s3,
        Seq(ScrapeTarget(url, "j", "i1"), ScrapeTarget(url, "j", "i2")),
        nowMs = () => 50000L, limits = ScrapeLimits(targetLimit = 1L))
        .scrapeOnce()
      assert(upOf(s3, "j") == Seq(("up", 0.0), ("up", 0.0)))
      // honor_timestamps=false stamps samples with the scrape time, not the
      // exposed 7000 (ref: scrape.go honorTimestamps)
      val s4 = emptyStore()
      new ScrapeManager(spark, s4, Seq(ScrapeTarget(url, "j", "i1")),
        honorTimestamps = false, nowMs = () => 50000L).scrapeOnce()
      val bm = s4.samples.collect().filter(
        _.getMap[String, String](0)("__name__") == "big_metric")
      assert(bm.length == 1 && bm.head.getLong(1) == 50000L)
    } finally server.stop(0)
  }

  test("scrape client config: proxy_url routes, tls_config trusts") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.ScrapeTarget
    def upOf(store: SampleStore): Double =
      store.samples.collect().collectFirst {
        case r if r.getMap[String, String](0)("__name__") == "up" => r.getDouble(2)
      }.get

    // ---- proxy_url: the client sends the target's absolute URI to the proxy
    val proxy = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    proxy.createContext("/", ex => {
      val host = Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("")
      val body = s"""via_proxy{upstream="$host"} 1\n""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    proxy.start()
    try {
      val client = ScrapeManager.buildClient(
        proxyUrl = s"http://127.0.0.1:${proxy.getAddress.getPort}")
      val store = emptyStore()
      new ScrapeManager(spark, store,
        Seq(ScrapeTarget("http://graft-proxy-test.invalid/metrics", "pj", "p1")),
        client = client, nowMs = () => 50000L).scrapeOnce()
      assert(upOf(store) == 1.0)
      val viaProxy = store.samples.collect().find(
        _.getMap[String, String](0)("__name__") == "via_proxy").get
      assert(viaProxy.getMap[String, String](0)("upstream")
        .startsWith("graft-proxy-test.invalid"))
    } finally proxy.stop(0)

    // ---- tls_config: self-signed HTTPS target (SAN=IP:127.0.0.1)
    val dir = java.nio.file.Files.createTempDirectory("graft_tls")
    val ksPath = dir.resolve("ks.p12").toString
    val caPem = dir.resolve("ca.pem").toString
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, out)
    }
    run("-genkeypair", "-alias", "t", "-keyalg", "RSA", "-keysize", "2048",
      "-storetype", "PKCS12", "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1", "-validity", "2")
    run("-exportcert", "-rfc", "-alias", "t", "-keystore", ksPath,
      "-storepass", "changeit", "-file", caPem)
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ksPath)
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val sctx = javax.net.ssl.SSLContext.getInstance("TLS")
    sctx.init(kmf.getKeyManagers, null, null)
    val https = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    https.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(sctx))
    https.createContext("/metrics", ex => {
      val body = "tls_metric 1\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    https.start()
    val url = s"https://127.0.0.1:${https.getAddress.getPort}/metrics"
    try {
      // default trust store: the self-signed chain is rejected → up=0
      val s0 = emptyStore()
      new ScrapeManager(spark, s0, Seq(ScrapeTarget(url, "tj", "t1")),
        nowMs = () => 50000L).scrapeOnce()
      assert(upOf(s0) == 0.0)
      // insecure_skip_verify trusts anything → up=1
      val s1 = emptyStore()
      new ScrapeManager(spark, s1, Seq(ScrapeTarget(url, "tj", "t1")),
        client = ScrapeManager.buildClient(tlsInsecureSkipVerify = true),
        nowMs = () => 50000L).scrapeOnce()
      assert(upOf(s1) == 1.0)
      // ca_file pins the custom CA → up=1 without trusting everything
      val s2 = emptyStore()
      new ScrapeManager(spark, s2, Seq(ScrapeTarget(url, "tj", "t1")),
        client = ScrapeManager.buildClient(tlsCaFile = caPem),
        nowMs = () => 50000L).scrapeOnce()
      assert(upOf(s2) == 1.0)
      assert(s2.samples.collect().exists(
        _.getMap[String, String](0)("__name__") == "tls_metric"))
    } finally https.stop(0)

    // config plumbing: proxy_url + tls_config parse per job
    val cfg = graft.streaming.Config.parse(
      s"""scrape_configs:
         |  - job_name: secure
         |    proxy_url: http://proxy.local:3128
         |    tls_config:
         |      ca_file: ca.pem
         |      insecure_skip_verify: false
         |    static_configs:
         |      - targets: ['example.com:443']
         |""".stripMargin, dir.toString)
    val j = cfg.scrapeJobs.head
    assert(j.proxyUrl == "http://proxy.local:3128")
    assert(j.tlsCaFile == caPem && !j.tlsInsecureSkipVerify)
  }

  test("scrape protocol negotiation: content-type dispatch, proto-first, fallback") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.ScrapeTarget
    @volatile var seenAccept: String = null
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    // an OpenMetrics endpoint that declares itself via Content-Type only
    server.createContext("/om", ex => {
      seenAccept = ex.getRequestHeaders.getFirst("Accept")
      val body = ("omx_total 1 # {trace_id=\"ct\"} 0.5 5.0\n# EOF\n").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "application/openmetrics-text; version=1.0.0; charset=utf-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.getResponseBody.close()
    })
    // a proto endpoint: replies 200 empty (enough to prove the proto path ran)
    @volatile var seenProtoAccept: String = null
    server.createContext("/proto", ex => {
      seenProtoAccept = ex.getRequestHeaders.getFirst("Accept")
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      // the default Accept header advertises the reference's protocol order
      val s1 = emptyStore()
      new ScrapeManager(spark, s1,
        Seq(ScrapeTarget(s"http://127.0.0.1:$port/om", "j", "i1")),
        nowMs = () => 50000L).scrapeOnce()
      assert(seenAccept.startsWith(
        "application/openmetrics-text;version=1.0.0;q=0.6," +
        "application/openmetrics-text;version=0.0.1;q=0.5"), seenAccept)
      assert(seenAccept.endsWith("*/*;q=0.2"), seenAccept)
      // the OpenMetrics parser ran WITHOUT the per-target flag — the
      // response Content-Type selected it (exemplar ingested proves it)
      assert(s1.exemplars.isDefined && s1.exemplars.get.count() == 1L)
      assert(s1.samples.collect().exists { r =>
        val l = r.getMap[String, String](0)
        l("__name__") == "omx_total" && r.getDouble(2) == 1.0 })
      // PrometheusProto first in scrape_protocols → protobuf negotiation
      val s2 = emptyStore()
      new ScrapeManager(spark, s2,
        Seq(ScrapeTarget(s"http://127.0.0.1:$port/proto", "j", "i1")),
        nowMs = () => 50000L,
        scrapeProtocols = Seq("PrometheusProto", "PrometheusText0.0.4"))
        .scrapeOnce()
      assert(seenProtoAccept != null &&
        seenProtoAccept.contains("io.prometheus.client.MetricFamily"))
      assert(s2.samples.collect().exists { r =>
        r.getMap[String, String](0)("__name__") == "up" && r.getDouble(2) == 1.0 })
      // config: unknown protocol values fail promtool-style validation
      val dir = java.nio.file.Files.createTempDirectory("graft_proto")
      val bad = dir.resolve("bad.yml")
      java.nio.file.Files.writeString(bad,
        """scrape_configs:
          |  - job_name: x
          |    scrape_protocols: [PrometheusProto, NotAProtocol]
          |    static_configs: [{targets: ['a:1']}]
          |""".stripMargin)
      val res = graft.streaming.ConfigCheck.checkConfig(bad.toString)
      assert(res.exitCode == 1 &&
        res.errors.exists(_.contains("unknown scrape protocol NotAProtocol")))
    } finally server.stop(0)
  }

  test("scrape gzip compression and classic->NHCB conversion") {
    import graft.streaming.ScrapeManager
    import graft.streaming.ScrapeManager.ScrapeTarget
    @volatile var lastEncoding: String = "unset"
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/metrics", ex => {
      lastEncoding = ex.getRequestHeaders.getFirst("Accept-Encoding")
      val text = Seq(
        "hx_bucket{le=\"1\"} 2", "hx_bucket{le=\"+Inf\"} 5",
        "hx_count 5", "hx_sum 12.5", "plain_count 3", "").mkString("\n")
      val raw = text.getBytes("UTF-8")
      if (lastEncoding != null && lastEncoding.contains("gzip")) {
        val bo = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write(raw); gz.close()
        val body = bo.toByteArray
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } else {
        ex.sendResponseHeaders(200, raw.length)
        ex.getResponseBody.write(raw)
      }
      ex.getResponseBody.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/metrics"
    try {
      // default: Accept-Encoding gzip sent, gzipped body inflated, NHCB on
      val s1 = emptyStore()
      new ScrapeManager(spark, s1, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => 50000L, convertNhcb = true).scrapeOnce()
      assert(lastEncoding != null && lastEncoding.contains("gzip"))
      val rows = s1.samples.collect().map(r =>
        (r.getMap[String, String](0).toMap, r.getDouble(2), Option(r.get(4))))
      assert(rows.exists { case (l, v, _) => l("__name__") == "up" && v == 1.0 })
      // the classic series survive AND a native NHCB sample appears under
      // the base name with count=5
      assert(rows.exists { case (l, _, _) => l("__name__") == "hx_bucket" })
      val nhcb = rows.filter { case (l, _, h) => l("__name__") == "hx" && h.isDefined }
      assert(nhcb.length == 1)
      // a bare *_count with no sibling _bucket is NOT converted
      assert(!rows.exists { case (l, _, h) => l("__name__") == "plain" && h.isDefined })
      // enable_compression=false: no Accept-Encoding header
      val s2 = emptyStore()
      new ScrapeManager(spark, s2, Seq(ScrapeTarget(url, "j", "i1")),
        nowMs = () => 50000L, enableCompression = false).scrapeOnce()
      assert(lastEncoding == null, s"unexpected Accept-Encoding: $lastEncoding")
    } finally server.stop(0)
  }

  test("bounded exemplar storage: appends past max_exemplars evict oldest") {
    import org.apache.spark.sql.Row
    val store = emptyStore()
    store.maxExemplars = 3L
    def batch(ids: Long*) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i =>
        Row(Map("__name__" -> "m", "i" -> i.toString),
          Row(Map("trace_id" -> s"t$i"), i.toDouble, i * 1000L))), 1),
      OpenMetrics.exemplarBatchSchema)
    store.appendExemplars(batch(1L, 2L))
    assert(store.exemplars.get.count() == 2L)
    store.appendExemplars(batch(3L, 4L, 5L))
    // cap 3: oldest (1, 2) evicted, newest (3, 4, 5) survive
    val kept = store.exemplars.get.collect()
      .map(_.getStruct(1).getMap[String, String](0)("trace_id")).sorted
    assert(kept.toSeq == Seq("t3", "t4", "t5"))
    // the endpoint reflects the bound
    val api = new HttpApi(spark, store, 0, () => 100000L)
    api.start()
    try {
      val (c, b) = get(api.boundPort,
        "/api/v1/query_exemplars?query=m&start=0&end=100")
      assert(c == 200 && !b.contains("t1\"") && b.contains("t5"), b.take(400))
    } finally api.stop()
    // max_exemplars <= 0 disables the storage (runtime-reloadable semantics)
    store.maxExemplars = 0L
    store.appendExemplars(batch(6L))
    assert(store.exemplars.isEmpty)
  }

  test("exemplar OOO/duplicate rejection: re-appends are no-ops, older arrivals drop, same-ts advances by (value, hash)") {
    import org.apache.spark.sql.Row
    val store = emptyStore()
    def one(trace: String, v: Double, t: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "m"), Row(Map("trace_id" -> trace), v, t))), 1),
      OpenMetrics.exemplarBatchSchema)
    def traces() = store.exemplars.get.collect()
      .map(_.getStruct(1).getMap[String, String](0)("trace_id")).sorted.toSeq
    store.appendExemplars(one("t1", 1.0, 1000L))
    // the exporter exposes the same exemplar until new events: a re-append
    // is a NO-OP (ref exemplar.go validateExemplar ErrDuplicateExemplar)
    store.appendExemplars(one("t1", 1.0, 1000L))
    assert(store.exemplars.get.count() == 1L)
    // older than the series' newest: out-of-order drop
    store.appendExemplars(one("t0", 9.0, 500L))
    assert(traces() == Seq("t1"))
    // equal ts but LARGER value orders after the newest: admitted (the
    // reference's multi-bucket-native-histogram allowance)
    store.appendExemplars(one("t2", 2.0, 1000L))
    assert(traces() == Seq("t1", "t2"))
    // equal ts, smaller value: rejected
    store.appendExemplars(one("t3", 0.5, 1000L))
    assert(traces() == Seq("t1", "t2"))
    // newer ts always admitted; a DIFFERENT series is independent
    store.appendExemplars(one("t4", 0.1, 2000L))
    assert(traces() == Seq("t1", "t2", "t4"))
    store.appendExemplars(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "other"), Row(Map("trace_id" -> "o1"), 1.0, 100L))), 1),
      OpenMetrics.exemplarBatchSchema))
    assert(traces() == Seq("o1", "t1", "t2", "t4"))
  }

  test("exemplar eviction fairness: a one-series burst cannot evict another series' last exemplar") {
    import org.apache.spark.sql.Row
    val store = emptyStore()
    store.maxExemplars = 10L
    def batchFor(series: String, ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i =>
        Row(Map("__name__" -> series),
          Row(Map("trace_id" -> s"$series-$i"), i.toDouble, i * 1000L))), 1),
      OpenMetrics.exemplarBatchSchema)
    // series B writes one exemplar, then series A bursts 1000 (ref
    // exemplar.go per-series index semantics: each live series keeps its
    // newest exemplar while the series count fits the cap)
    store.appendExemplars(batchFor("b", Seq(1L)))
    store.appendExemplars(batchFor("a", 1L to 1000L))
    val kept = store.exemplars.get.collect()
      .map(_.getStruct(1).getMap[String, String](0)("trace_id")).toSeq
    assert(kept.size == 10)
    assert(kept.contains("b-1"), kept.toString) // B's last exemplar survives
    // the remaining slots hold A's NEWEST — its own oldest evicted first
    assert(kept.filter(_.startsWith("a-")).map(_.stripPrefix("a-").toLong)
      .sorted == (992L to 1000L))
  }

  test("remote read: streamed chunks — XOR codec, multi-frame stream, SAMPLES fallback") {
    // XOR chunk codec round-trip (ref tsdb/chunkenc/xor.go): counter-ish,
    // irregular deltas, repeats, NaN and negatives all survive bit-exact
    val pts = Seq(
      0L -> 1.5, 1000L -> 1.5, 2000L -> 2.25, 3100L -> -7.125, 3101L -> 0.0,
      60000L -> 1e300, 61000L -> Double.NaN, 62000L -> 5.0, 63000L -> 5.0)
    val dec = XorChunk.decode(XorChunk.encode(pts))
    assert(dec.map(_._1) == pts.map(_._1))
    assert(dec.zip(pts).forall { case ((_, a), (_, b)) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })

    // framing round-trip incl. CRC
    val f1 = RemoteRead.frame(Array[Byte](1, 2, 3))
    val f2 = RemoteRead.frame(Array[Byte](9))
    assert(RemoteRead.deframe(f1 ++ f2).map(_.toSeq) == Seq(Seq[Byte](1, 2, 3), Seq[Byte](9)))
    val corrupted = f1.clone(); corrupted(corrupted.length - 1) = 99
    intercept[IllegalArgumentException](RemoteRead.deframe(corrupted))

    // end-to-end: 2 series × 150 samples each → multi-frame stream with
    // 120-sample chunk cuts; old clients (no accepted types) get SAMPLES
    val rows = for (s <- Seq("a", "b"); k <- 0 until 150) yield
      Row(Map("__name__" -> "m", "src" -> s), k * 1000L, s.length * 100.0 + k,
        false, null, 0L)
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Engine.samplesSchema))
    val api = new HttpApi(spark, store, 0, () => 150000L)
    api.start()
    try {
      val url = s"http://127.0.0.1:${api.boundPort}/api/v1/read"
      val q = RemoteRead.Query(0L, 150000L, List(LabelMatcher("__name__", MatchOp.Eq, "m")))
      val streamed = new RemoteReadClient(url).read(q, streamed = true)
      assert(streamed.size == 2)
      streamed.foreach { s =>
        assert(s.samples.size == 150)
        assert(s.samples == (0 until 150).map(k =>
          (k * 1000L, s.labels("src").length * 100.0 + k)))
      }
      // raw wire: streamed content type + >1 frame, each with >1 chunk
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            RemoteRead.encodeRequest(Seq(q), Seq(RemoteRead.RespStreamedXorChunks))))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .contains("ChunkedReadResponse"))
      val frames = RemoteRead.deframe(resp.body())
      assert(frames.size == 2)
      val (qi0, series0) = RemoteRead.decodeChunkedBody(frames.head)
      assert(qi0 == 0L && series0.head._2.size == 2) // 150 samples → 2 chunks
      assert(series0.head._2.head.encoding == 1)

      // fallback: a request without accepted_response_types gets SAMPLES
      val old = new RemoteReadClient(url).read(q)
      assert(old.size == 2 && old.forall(_.samples.size == 150))
    } finally api.stop()
  }

  test("remote read streamed: frames written per partition, not one driver collect") {
    // many series spread across the 4 shuffle partitions; the streamed
    // branch must iterate the grouped result per partition
    // (toLocalIterator → one Spark job per result partition) instead of
    // one .collect() (exactly one job materializing every series at once —
    // the O(matched series × samples) driver OOM at a 1-day 10k-series read).
    val rows = for (s <- 0 until 40; k <- 0 until 30) yield
      Row(Map("__name__" -> "big", "src" -> s"s$s"), k * 1000L, s * 1000.0 + k,
        false, null, 0L)
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Engine.samplesSchema))
    val api = new HttpApi(spark, store, 0, () => 30000L)
    api.start()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE would coalesce this tiny shuffle to one partition, hiding the
    // per-partition iteration; at a real large read the partitions stay >1
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val url = s"http://127.0.0.1:${api.boundPort}/api/v1/read"
      val q = RemoteRead.Query(0L, 30000L, List(LabelMatcher("__name__", MatchOp.Eq, "big")))
      val streamed = new RemoteReadClient(url).read(q, streamed = true)
      assert(streamed.size == 40)
      assert(streamed.forall(_.samples.size == 30))
      val sBySrc = streamed.map(s => s.labels("src") -> s.samples).toMap
      assert(sBySrc("s7") == (0 until 30).map(k => (k * 1000L, 7000.0 + k)))
      // ≥3 jobs ⇒ per-partition iteration (a single collect would be 1);
      // the listener bus is async, so poll briefly
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get() < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(jobs.get() >= 3, s"expected per-partition jobs, saw ${jobs.get()}")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.sparkContext.removeSparkListener(listener)
      api.stop()
    }
  }

  test("remote read: wire round-trip, server endpoint, client, fanout query") {
    // request codec round-trip
    val q = RemoteRead.Query(1000L, 9000L, List(
      LabelMatcher("__name__", MatchOp.Eq, "m"),
      LabelMatcher("dc", MatchOp.Re, "us-.*")))
    assert(RemoteRead.decodeRequest(RemoteRead.encodeRequest(Seq(q))) == Seq(q))

    // store A holds series {src=a}; store B holds {src=b}
    def storeWith(src: String, v0: Double): SampleStore = {
      val rows = (0 to 5).map(k =>
        Row(Map("__name__" -> "m", "src" -> src), k * 1000L, v0 + k, false, null, 0L))
      new SampleStore(spark,
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Engine.samplesSchema))
    }
    val apiA = new HttpApi(spark, storeWith("a", 10.0), 0, () => 5000L)
    apiA.start()
    try {
      val url = s"http://127.0.0.1:${apiA.boundPort}/api/v1/read"
      val got = new RemoteReadClient(url)
        .read(RemoteRead.Query(0L, 5000L, List(LabelMatcher("__name__", MatchOp.Eq, "m"))))
      assert(got.size == 1)
      assert(got.head.labels == Map("__name__" -> "m", "src" -> "a"))
      assert(got.head.samples == (0 to 5).map(k => (k * 1000L, 10.0 + k)))

      // fanout: local store B + remote store A; engine queries the union
      // (read_recent=true — the reference default FALSE would clip the
      // remote window to pre-local history, tested below)
      val fan = new FanoutStore(spark, storeWith("b", 20.0),
        Seq(FanoutStore.Secondary(new RemoteReadClient(url), readRecent = true)))
      val df = fan.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      Engine.instantQuery(spark, df, "sum by (src) (m)", 5000L) match {
        case VectorVal(r) =>
          val out = r.collect().map(x =>
            x.getMap[String, String](0).toMap.getOrElse("src", "") -> x.getDouble(2)).toMap
          assert(out == Map("a" -> 15.0, "b" -> 25.0))
        case other => fail(other.toString)
      }

      // failing secondary degrades to local-only
      val fan2 = new FanoutStore(spark, storeWith("b", 20.0),
        Seq(FanoutStore.Secondary(
          new RemoteReadClient("http://127.0.0.1:1/api/v1/read"),
          readRecent = true)))
      val df2 = fan2.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      assert(df2.collect().length == 6)

      // read_recent=false (the reference default): the remote hop serves
      // only history BEFORE the local store's first sample. Local store C
      // holds t >= 3000 only; remote store A (t=0..5000) contributes its
      // pre-3000 points and nothing newer (ref remote/read.go ReadRecent)
      val rowsC = (3 to 5).map(k =>
        Row(Map("__name__" -> "m", "src" -> "c"), k * 1000L, 30.0 + k, false, null, 0L))
      val storeC = new SampleStore(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(rowsC, 1), Engine.samplesSchema))
      val fan3 = new FanoutStore(spark, storeC,
        Seq(FanoutStore.Secondary(new RemoteReadClient(url))))
      val df3 = fan3.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      val bySrc = df3.collect().groupBy(_.getMap[String, String](0)("src"))
      assert(bySrc("c").length == 3)
      assert(bySrc("a").map(_.getLong(1)).sorted.toSeq == Seq(0L, 1000L, 2000L),
        bySrc("a").map(_.getLong(1)).toSeq.toString) // clipped at local start
      // …and a query fully covered locally never hits the remote
      val df3b = fan3.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 3000L, 5000L)
      assert(df3b.collect().forall(_.getMap[String, String](0)("src") == "c"))

      // required_matchers: the secondary answers only selectors carrying
      // the equality pair (ref remote/read.go requiredMatchersQuerier)
      val fan4 = new FanoutStore(spark, storeWith("b", 20.0),
        Seq(FanoutStore.Secondary(new RemoteReadClient(url), readRecent = true,
          requiredMatchers = Map("src" -> "a"))))
      val un = fan4.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      assert(un.collect().forall(_.getMap[String, String](0)("src") == "b")) // not routed
      val routed = fan4.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m"),
        LabelMatcher("src", MatchOp.Eq, "a")), 0L, 5000L)
      assert(routed.collect().exists(_.getMap[String, String](0)("src") == "a"))

      // filter_external_labels: externals join the outgoing selector (the
      // remote side filters on them) and the added names are stripped from
      // results (ref remote/read.go externalLabelsQuerier). Store A has no
      // site label → an added site=eu1 matcher matches nothing remote.
      val fan5 = new FanoutStore(spark, storeWith("b", 20.0),
        Seq(FanoutStore.Secondary(new RemoteReadClient(url), readRecent = true)),
        externalLabels = Map("site" -> "eu1"))
      val df5 = fan5.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      assert(df5.collect().forall(_.getMap[String, String](0)("src") == "b"))
      // with filtering off the remote series come back unfiltered
      val fan6 = new FanoutStore(spark, storeWith("b", 20.0),
        Seq(FanoutStore.Secondary(new RemoteReadClient(url), readRecent = true,
          filterExternalLabels = false)),
        externalLabels = Map("site" -> "eu1"))
      val df6 = fan6.fetch(List(LabelMatcher("__name__", MatchOp.Eq, "m")), 0L, 5000L)
      assert(df6.collect().exists(_.getMap[String, String](0)("src") == "a"))
    } finally apiA.stop()
  }

  test("remote write decodes native histograms (spans/deltas) and v2 metadata") {
    // hand-encode PRW 1.0: one TimeSeries with a delta-encoded int histogram
    val bo = new java.io.ByteArrayOutputStream()
    def vint(o: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def zig(v: Long): Long = (v << 1) ^ (v >> 63)
    def delim(o: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(o, (tag << 3) | 2); vint(o, body.length); o.write(body)
    }
    def f64(o: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
      vint(o, (tag << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    val ho = new java.io.ByteArrayOutputStream()
    vint(ho, 1 << 3); vint(ho, 6L)            // count_int = 6
    f64(ho, 3, 10.5)                          // sum
    vint(ho, 4 << 3); vint(ho, zig(0L))       // schema = 0
    f64(ho, 5, 0.001)                         // zero_threshold
    vint(ho, 6 << 3); vint(ho, 1L)            // zero_count_int = 1
    val sp = new java.io.ByteArrayOutputStream()
    vint(sp, 1 << 3); vint(sp, zig(0L)); vint(sp, 2 << 3); vint(sp, 2L)
    delim(ho, 11, sp.toByteArray)             // positive span (0, 2)
    val pd = new java.io.ByteArrayOutputStream()
    vint(pd, zig(2L)); vint(pd, zig(1L))      // deltas 2,+1 → counts 2,3
    delim(ho, 12, pd.toByteArray)
    vint(ho, 15 << 3); vint(ho, 7000L)        // timestamp
    val lo = new java.io.ByteArrayOutputStream()
    delim(lo, 1, "__name__".getBytes("UTF-8")); delim(lo, 2, "nh".getBytes("UTF-8"))
    val tso = new java.io.ByteArrayOutputStream()
    delim(tso, 1, lo.toByteArray)
    delim(tso, 4, ho.toByteArray)             // histograms = field 4
    delim(bo, 1, tso.toByteArray)
    val payload = org.xerial.snappy.Snappy.compress(bo.toByteArray)

    val decoded = RemoteWrite.decode(payload, isV2 = false)
    assert(decoded.size == 1)
    val h = decoded.head.h.get
    assert(h.cnt == 6.0 && h.sum == 10.5 && h.zc == 1.0)
    assert(h.pidx == Seq(0, 1) && h.pcnt == Seq(2.0, 3.0))

    // through the receiver: histogram functions work on the written series
    val store = emptyStore()
    val api = new HttpApi(spark, store, 0, () => 7000L)
    api.start()
    try {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1/write"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 204)
      val (c1, b1) = get(api.boundPort, "/api/v1/query?query=histogram_count(nh)&time=7")
      assert(c1 == 200 && b1.contains("[7,\"6\"]"))
      val (c2, b2) = get(api.boundPort, "/api/v1/query?query=histogram_sum(nh)&time=7")
      assert(c2 == 200 && b2.contains("[7,\"10.5\"]"))
    } finally api.stop()

    // PRW 2.0 metadata: type/unit/help via symbol refs
    val v2 = new java.io.ByteArrayOutputStream()
    Seq("", "__name__", "m2", "reqs", "Total reqs.").foreach(s =>
      delim(v2, 4, s.getBytes("UTF-8")))
    val ts2 = new java.io.ByteArrayOutputStream()
    val refs = new java.io.ByteArrayOutputStream()
    Seq(1, 2).foreach(i => vint(refs, i))
    delim(ts2, 1, refs.toByteArray)
    val so = new java.io.ByteArrayOutputStream()
    f64(so, 1, 1.0); vint(so, 2 << 3); vint(so, 1000L)
    delim(ts2, 2, so.toByteArray)
    val mo = new java.io.ByteArrayOutputStream()
    vint(mo, 1 << 3); vint(mo, 1L)   // type counter
    vint(mo, 3 << 3); vint(mo, 4L)   // help_ref
    vint(mo, 4 << 3); vint(mo, 3L)   // unit_ref
    delim(ts2, 5, mo.toByteArray)
    delim(v2, 5, ts2.toByteArray)
    val (s2, meta2) = RemoteWrite.decodeV2Full(v2.toByteArray)
    assert(s2.size == 1 && s2.head.labels == Map("__name__" -> "m2"))
    assert(meta2 == Map("m2" -> (("counter", "reqs", "Total reqs."))))
  }

  test("OTLP resource-attribute promotion: promote list, promote-all/ignore, keep-identifying") {
    def vint(o: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def delim(o: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(o, (tag << 3) | 2); vint(o, body.length); o.write(body)
    }
    def f64(o: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
      vint(o, (tag << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    def fx64(o: java.io.ByteArrayOutputStream, tag: Int, v: Long): Unit = {
      vint(o, (tag << 3) | 1)
      (0 until 8).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
    }
    def kv(k: String, v: String): Array[Byte] = {
      val any = new java.io.ByteArrayOutputStream()
      delim(any, 1, v.getBytes("UTF-8"))
      val o = new java.io.ByteArrayOutputStream()
      delim(o, 1, k.getBytes("UTF-8")); delim(o, 2, any.toByteArray)
      o.toByteArray
    }
    def payload(): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      delim(dp, 7, kv("env", "point-wins")) // datapoint attr shadows promotion
      fx64(dp, 3, 8L * 1000000000L); f64(dp, 4, 5.5)
      val g = new java.io.ByteArrayOutputStream(); delim(g, 1, dp.toByteArray)
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, "mem_usage".getBytes("UTF-8")); delim(m, 5, g.toByteArray)
      val sm = new java.io.ByteArrayOutputStream(); delim(sm, 2, m.toByteArray)
      val res = new java.io.ByteArrayOutputStream()
      Seq(kv("service.name", "svc"), kv("service.instance.id", "i9"),
        kv("env", "prod"), kv("k8s.cluster.name", "c1"),
        kv("noisy.attr", "x")).foreach(delim(res, 1, _))
      val rm = new java.io.ByteArrayOutputStream()
      delim(rm, 1, res.toByteArray); delim(rm, 2, sm.toByteArray)
      val bo = new java.io.ByteArrayOutputStream()
      delim(bo, 1, rm.toByteArray)
      bo.toByteArray
    }
    def sampleOf(cfg: Otlp.OtlpCfg): Map[String, String] =
      Otlp.decode(payload(), cfg = cfg).samples
        .find(_.labels("__name__") == "mem_usage").get.labels
    // default: nothing promoted
    val base = sampleOf(Otlp.OtlpCfg())
    assert(!base.contains("k8s_cluster_name") && base("env") == "point-wins")
    // promote list: sanitized names land on the sample; the datapoint's
    // own label still wins a collision
    val prom = sampleOf(Otlp.OtlpCfg(
      promote = Seq("k8s.cluster.name", "env")))
    assert(prom("k8s_cluster_name") == "c1")
    assert(prom("env") == "point-wins") // not overwritten
    assert(!prom.contains("noisy_attr"))
    // promote-all minus ignore
    val all = sampleOf(Otlp.OtlpCfg(promoteAll = true, ignore = Seq("noisy.attr")))
    assert(all("k8s_cluster_name") == "c1" && !all.contains("noisy_attr"))
    // keep_identifying_resource_attributes: target_info keeps service.*
    val ti = Otlp.decode(payload(),
      cfg = Otlp.OtlpCfg(keepIdentifying = true)).samples
      .find(_.labels("__name__") == "target_info").get.labels
    assert(ti("service_name") == "svc" && ti("service_instance_id") == "i9", ti.toString)
    val tiDefault = Otlp.decode(payload()).samples
      .find(_.labels("__name__") == "target_info").get.labels
    assert(!tiDefault.contains("service_name"))
    // convert_histograms_to_nhcb: an explicit-bounds histogram point
    // becomes ONE custom-bounds native histogram (bounds → cv, per-bucket
    // counts → the NHCB bucket vector) instead of classic series
    def histPayload(): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      fx64(dp, 3, 8L * 1000000000L); fx64(dp, 4, 7L); f64(dp, 5, 21.0)
      def bc(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
        vint(o, (6 << 3) | 1)
        (0 until 8).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
      }
      bc(dp, 2L); bc(dp, 3L); bc(dp, 2L) // per-bucket counts
      f64(dp, 7, 1.0); f64(dp, 7, 5.0)   // explicit bounds
      val h = new java.io.ByteArrayOutputStream()
      delim(h, 1, dp.toByteArray)
      vint(h, 2 << 3); vint(h, 2L) // cumulative
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, "lat.ms".getBytes("UTF-8")); delim(m, 9, h.toByteArray)
      val sm = new java.io.ByteArrayOutputStream(); delim(sm, 2, m.toByteArray)
      val res = new java.io.ByteArrayOutputStream()
      delim(res, 1, kv("service.name", "svc"))
      val rm = new java.io.ByteArrayOutputStream()
      delim(rm, 1, res.toByteArray); delim(rm, 2, sm.toByteArray)
      val bo = new java.io.ByteArrayOutputStream(); delim(bo, 1, rm.toByteArray)
      bo.toByteArray
    }
    val classic = Otlp.decode(histPayload()).samples
    assert(classic.exists(_.labels("__name__") == "lat_ms_bucket"))
    val nhcb = Otlp.decode(histPayload(),
      cfg = Otlp.OtlpCfg(convertHistogramsToNhcb = true)).samples
    assert(!nhcb.exists(_.labels("__name__").startsWith("lat_ms_")), nhcb.map(_.labels))
    val hs = nhcb.find(_.labels("__name__") == "lat_ms").get.h.get
    assert(hs.isCustom && hs.cv == Seq(1.0, 5.0), hs.toString)
    assert(hs.pcnt == Seq(2.0, 3.0, 2.0) && hs.cnt == 7.0 && hs.sum == 21.0, hs.toString)
    // promote_scope_metadata: scope name/version/attrs/schema-url become
    // otel_scope_* labels on the scope's samples
    def scopedPayload(): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      fx64(dp, 3, 8L * 1000000000L); f64(dp, 4, 1.0)
      val g = new java.io.ByteArrayOutputStream(); delim(g, 1, dp.toByteArray)
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, "scoped_m".getBytes("UTF-8")); delim(m, 5, g.toByteArray)
      val scope = new java.io.ByteArrayOutputStream()
      delim(scope, 1, "my.lib".getBytes("UTF-8"))
      delim(scope, 2, "1.2.3".getBytes("UTF-8"))
      delim(scope, 3, kv("tier", "gold"))
      val sm = new java.io.ByteArrayOutputStream()
      delim(sm, 1, scope.toByteArray); delim(sm, 2, m.toByteArray)
      delim(sm, 3, "https://schema/v9".getBytes("UTF-8"))
      val rm = new java.io.ByteArrayOutputStream()
      delim(rm, 2, sm.toByteArray)
      val bo = new java.io.ByteArrayOutputStream(); delim(bo, 1, rm.toByteArray)
      bo.toByteArray
    }
    val scoped = Otlp.decode(scopedPayload(),
      cfg = Otlp.OtlpCfg(promoteScopeMetadata = true)).samples
      .find(_.labels("__name__") == "scoped_m").get.labels
    assert(scoped("otel_scope_name") == "my.lib" &&
      scoped("otel_scope_version") == "1.2.3" &&
      scoped("otel_scope_tier") == "gold" &&
      scoped("otel_scope_schema_url") == "https://schema/v9", scoped.toString)
    val unscoped = Otlp.decode(scopedPayload()).samples
      .find(_.labels("__name__") == "scoped_m").get.labels
    assert(!unscoped.keys.exists(_.startsWith("otel_scope_")), unscoped.toString)
    // checker: the upstream exclusivity and attribute-sanity rules
    val dir = java.nio.file.Files.createTempDirectory("otlpcfg")
    def check(body: String): graft.streaming.ConfigCheck.Result = {
      val f = java.nio.file.Files.createTempFile(dir, "c", ".yml")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      graft.streaming.ConfigCheck.checkConfig(f.toString)
    }
    assert(check(
      """otlp:
        |  promote_all_resource_attributes: true
        |  promote_resource_attributes: [a]
        |""".stripMargin).errors.exists(_.contains("cannot be configured simultaneously")))
    assert(check(
      "otlp:\n  ignore_resource_attributes: [a]\n").errors.exists(_.contains(
      "unless 'promote_all_resource_attributes' is true")))
    assert(check(
      "otlp:\n  promote_resource_attributes: [a, a]\n").errors.exists(_.contains(
      "duplicated promoted")))
    assert(check(
      "otlp:\n  translation_strategy: NoTranslation\n").errors.exists(_.contains(
      "not supported")))
    assert(check(
      """otlp:
        |  promote_resource_attributes: [k8s.cluster.name]
        |  translation_strategy: UnderscoreEscapingWithSuffixes
        |""".stripMargin).exitCode == 0)
    // config parse reaches the server-facing OtlpCfg
    val cfg = graft.streaming.Config.parse(
      """otlp:
        |  promote_resource_attributes: [k8s.cluster.name]
        |  keep_identifying_resource_attributes: true
        |""".stripMargin, "/tmp")
    assert(cfg.otlp == Otlp.OtlpCfg(promote = Seq("k8s.cluster.name"),
      keepIdentifying = true))
  }

  test("OTLP receiver: gauge, counter sum, explicit + exponential histograms, target_info") {
    val bo = new java.io.ByteArrayOutputStream()
    def vint(o: java.io.ByteArrayOutputStream, x0: Long): Unit = {
      var x = x0
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def zig(v: Long): Long = (v << 1) ^ (v >> 63)
    def delim(o: java.io.ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
      vint(o, (tag << 3) | 2); vint(o, body.length); o.write(body)
    }
    def f64(o: java.io.ByteArrayOutputStream, tag: Int, v: Double): Unit = {
      vint(o, (tag << 3) | 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    def fx64(o: java.io.ByteArrayOutputStream, tag: Int, v: Long): Unit = {
      vint(o, (tag << 3) | 1)
      (0 until 8).foreach(i => o.write(((v >> (8 * i)) & 0xff).toInt))
    }
    def kv(k: String, v: String): Array[Byte] = {
      val any = new java.io.ByteArrayOutputStream()
      delim(any, 1, v.getBytes("UTF-8"))
      val o = new java.io.ByteArrayOutputStream()
      delim(o, 1, k.getBytes("UTF-8")); delim(o, 2, any.toByteArray)
      o.toByteArray
    }
    val tNano = 8L * 1000000000L // t = 8s

    def gaugeMetric(name: String, v: Double): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      delim(dp, 7, kv("k8s.pod", "p1"))
      fx64(dp, 3, tNano); f64(dp, 4, v)
      val g = new java.io.ByteArrayOutputStream(); delim(g, 1, dp.toByteArray)
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, name.getBytes("UTF-8")); delim(m, 5, g.toByteArray)
      m.toByteArray
    }
    def sumMetric(name: String, v: Double): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      fx64(dp, 3, tNano); f64(dp, 4, v)
      val s = new java.io.ByteArrayOutputStream()
      delim(s, 1, dp.toByteArray)
      vint(s, 2 << 3); vint(s, 2L) // cumulative
      vint(s, 3 << 3); vint(s, 1L) // monotonic
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, name.getBytes("UTF-8")); delim(m, 7, s.toByteArray)
      m.toByteArray
    }
    def histMetric(name: String): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      fx64(dp, 3, tNano); fx64(dp, 4, 7L); f64(dp, 5, 21.0)
      val bc = new java.io.ByteArrayOutputStream()
      Seq(2L, 3L, 2L).foreach(c => (0 until 8).foreach(i => bc.write(((c >> (8 * i)) & 0xff).toInt)))
      delim(dp, 6, bc.toByteArray) // bucket_counts packed fixed64
      val eb = new java.io.ByteArrayOutputStream()
      Seq(1.0, 5.0).foreach { d =>
        val bits = java.lang.Double.doubleToLongBits(d)
        (0 until 8).foreach(i => eb.write(((bits >> (8 * i)) & 0xff).toInt))
      }
      delim(dp, 7, eb.toByteArray) // explicit_bounds packed double
      val h = new java.io.ByteArrayOutputStream()
      delim(h, 1, dp.toByteArray)
      vint(h, 2 << 3); vint(h, 2L) // cumulative
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, name.getBytes("UTF-8")); delim(m, 9, h.toByteArray)
      m.toByteArray
    }
    def expMetric(name: String): Array[Byte] = {
      val dp = new java.io.ByteArrayOutputStream()
      fx64(dp, 3, tNano); fx64(dp, 4, 6L); f64(dp, 5, 12.0)
      vint(dp, 6 << 3); vint(dp, zig(0L)) // scale 0
      fx64(dp, 7, 1L)                     // zero_count
      val pb = new java.io.ByteArrayOutputStream()
      vint(pb, 1 << 3); vint(pb, zig(0L)) // offset 0
      val pc = new java.io.ByteArrayOutputStream()
      Seq(2L, 3L).foreach(c => vint(pc, c))
      delim(pb, 2, pc.toByteArray)
      delim(dp, 8, pb.toByteArray)        // positive buckets
      val h = new java.io.ByteArrayOutputStream()
      delim(h, 1, dp.toByteArray)
      vint(h, 2 << 3); vint(h, 2L)
      val m = new java.io.ByteArrayOutputStream()
      delim(m, 1, name.getBytes("UTF-8")); delim(m, 10, h.toByteArray)
      m.toByteArray
    }

    val sm = new java.io.ByteArrayOutputStream()
    Seq(gaugeMetric("mem.usage", 5.5), sumMetric("req.count", 42.0),
      histMetric("lat.ms"), expMetric("size.bytes")).foreach(delim(sm, 2, _))
    val res = new java.io.ByteArrayOutputStream()
    Seq(kv("service.name", "svc"), kv("service.instance.id", "i9"),
      kv("deployment.environment", "prod")).foreach(delim(res, 1, _))
    val rm = new java.io.ByteArrayOutputStream()
    delim(rm, 1, res.toByteArray); delim(rm, 2, sm.toByteArray)
    delim(bo, 1, rm.toByteArray)

    val dec = Otlp.decode(bo.toByteArray)
    val byName = dec.samples.groupBy(_.labels("__name__"))
    // names sanitized; counter gets _total; job/instance from service.*
    val g = byName("mem_usage").head
    assert(g.v == 5.5 && g.t == 8000L &&
      g.labels("job") == "svc" && g.labels("instance") == "i9" &&
      g.labels("k8s_pod") == "p1")
    assert(byName("req_count_total").head.v == 42.0)
    val buckets = byName("lat_ms_bucket").map(s => s.labels("le") -> s.v).toMap
    assert(buckets == Map("1" -> 2.0, "5" -> 5.0, "+Inf" -> 7.0)) // cumulative
    assert(byName("lat_ms_sum").head.v == 21.0 && byName("lat_ms_count").head.v == 7.0)
    val eh = byName("size_bytes").head.h.get
    assert(eh.cnt == 6.0 && eh.sum == 12.0 && eh.zc == 1.0)
    assert(eh.pidx == Seq(1, 2) && eh.pcnt == Seq(2.0, 3.0)) // otlp off+1
    val ti = byName("target_info").head
    assert(ti.v == 1.0 && ti.labels("deployment_environment") == "prod" &&
      ti.labels("job") == "svc")
    assert(dec.metadata("req_count_total")._1 == "counter")

    // through the HTTP route, then query it
    val store = emptyStore()
    val api = new HttpApi(spark, store, 0, () => 8000L)
    api.start()
    try {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1/otlp/v1/metrics"))
          .header("Content-Type", "application/x-protobuf")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(bo.toByteArray)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val (c1, b1) = get(api.boundPort,
        "/api/v1/query?query=histogram_quantile(0.5,%20lat_ms_bucket)&time=8")
      assert(c1 == 200 && b1.contains("\"value\""))
      val (c2, b2) = get(api.boundPort, "/api/v1/query?query=histogram_count(size_bytes)&time=8")
      assert(c2 == 200 && b2.contains("[8,\"6\"]"))
    } finally api.stop()
  }

  test("remote-write forwarding ships partitions to a downstream receiver; snapshot") {
    // downstream = a second HttpApi with its own store
    val downstream = emptyStore()
    val api = new HttpApi(spark, downstream, 0, () => 10000L)
    api.start()
    try {
      val rows = (0 until 50).map(k =>
        Row(Map("__name__" -> "fwd", "k" -> (k % 5).toString), k * 100L, k.toDouble,
          false, null, 0L))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), Engine.samplesSchema)
      val fwd = new RemoteWriteForwarder(
        s"http://127.0.0.1:${api.boundPort}/api/v1/write", maxBatch = 16)
      assert(fwd.forward(df) == 50L)
      assert(downstream.samples.count() == 50L)
      val (c1, b1) = get(api.boundPort, "/api/v1/query?query=count(fwd)&time=10")
      assert(c1 == 200 && b1.contains("\"5\""))

      // snapshot endpoint persists parquet and returns the name
      val snapDir = java.nio.file.Files.createTempDirectory("graft_snap").toString
      System.setProperty("graft.snapshot.dir", snapDir)
      try {
        val (c2, b2) = get(api.boundPort, "/api/v1/admin/tsdb/snapshot")
        assert(c2 == 200 && b2.contains("\"name\""))
        val name = b2.split("\"name\":\"")(1).split("\"")(0)
        assert(spark.read.parquet(s"$snapDir/$name").count() == 50L)
      } finally System.clearProperty("graft.snapshot.dir")
    } finally api.stop()
  }

  test("status/rules/alerts/targets endpoints render registry state") {
    val store = emptyStore()
    store.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "m1", "job" -> "a"), 1000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "m1", "job" -> "b"), 1000L, 2.0, false, null, 0L),
        Row(Map("__name__" -> "m2", "job" -> "a"), 2000L, 3.0, false, null, 0L)), 1),
      Engine.samplesSchema))
    val api = new HttpApi(spark, store, 0, () => 99000L)
    api.ruleGroups = Seq(graft.streaming.Rules.Group("g1", 60000L,
      recording = Seq(graft.streaming.Rules.RecordingRule("rec:m1", "sum(m1)")),
      alerting = Seq(graft.streaming.Rules.AlertingRule("HighM1", "m1 > 10", forMs = 60000L))))
    api.alertState = Map("g1" -> Map(
      "sig1" -> graft.streaming.Rules.AlertState(50000L, 70000L, 90000L,
        Map("alertname" -> "HighM1", "job" -> "a"))))
    api.scrapeTargets = Seq(graft.streaming.ScrapeManager.ScrapeTarget(
      "http://x:1/metrics", "j1", "i1"))
    api.start()
    try {
      val (c1, b1) = get(api.boundPort, "/api/v1/status/tsdb")
      assert(c1 == 200 && b1.contains("\"numSeries\":3") &&
        b1.contains("\"seriesCountByMetricName\""))
      // limit= bounds each statistic; memory/pair stats are populated
      assert(b1.contains("\"memoryInBytesByLabelName\":[{") &&
        b1.contains("\"seriesCountByLabelValuePair\":[{"), b1)
      val (c1b, b1b) = get(api.boundPort, "/api/v1/status/tsdb?limit=1")
      assert(c1b == 200 &&
        b1b.split("\"seriesCountByLabelValuePair\":\\[")(1).split("\\}").length <= 3, b1b)
      assert(get(api.boundPort, "/api/v1/status/tsdb?limit=0")._1 == 400)
      assert(get(api.boundPort, "/api/v1/status/tsdb?limit=99999")._1 == 400)
      val (c2, b2) = get(api.boundPort, "/api/v1/rules")
      assert(c2 == 200 && b2.contains("\"name\":\"g1\"") &&
        b2.contains("\"type\":\"recording\"") && b2.contains("\"state\":\"firing\""))
      val (c3, b3) = get(api.boundPort, "/api/v1/alerts")
      assert(c3 == 200 && b3.contains("\"alertname\":\"HighM1\"") &&
        b3.contains("\"state\":\"firing\""))
      val (c4, b4) = get(api.boundPort, "/api/v1/targets")
      // never-scraped target: health "unknown" like the reference's initial
      // TargetHealth (real health now derives from the up report series)
      assert(c4 == 200 && b4.contains("\"scrapePool\":\"j1\"") &&
        b4.contains("\"health\":\"unknown\""))
      val (c5, b5) = get(api.boundPort, "/api/v1/status/runtimeinfo")
      assert(c5 == 200 && b5.contains("startTime"))
      val (c6, _) = get(api.boundPort, "/api/v1/status/flags")
      assert(c6 == 200)
      val (c7, b7) = get(api.boundPort, "/api/v1/status/config")
      assert(c7 == 200 && b7.contains("yaml"))
    } finally api.stop()
  }

  test("limit parameter truncates results with a warning") {
    val store = emptyStore()
    store.append(spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 6).map(i =>
        Row(Map("__name__" -> "lm", "k" -> i.toString), 1000L, i.toDouble,
          false, null, 0L)), 1),
      Engine.samplesSchema))
    val api = new HttpApi(spark, store, 0, () => 2000L)
    api.start()
    try {
      val (c1, b1) = get(api.boundPort, "/api/v1/query?query=lm&time=2&limit=3")
      assert(c1 == 200 && b1.contains("results truncated due to limit"))
      assert(b1.sliding(8).count(_ == "\"metric\"") == 3)
      val (c2, b2) = get(api.boundPort, "/api/v1/query?query=lm&time=2")
      assert(c2 == 200 && !b2.contains("warnings"))
      assert(b2.sliding(8).count(_ == "\"metric\"") == 6)
      val (c3, b3) = get(api.boundPort,
        "/api/v1/label/k/values?match[]=lm&limit=2")
      assert(c3 == 200 && b3.contains("truncated") && b3.contains("\"0\",\"1\"]"))
      // lookback_delta: samples at t=1s are outside a 1s lookback at t=300s
      val (c4, b4) = get(api.boundPort, "/api/v1/query?query=lm&time=300&lookback_delta=1s")
      assert(c4 == 200 && b4.contains("\"result\":[]"))
      val (c5, b5) = get(api.boundPort, "/api/v1/query?query=lm&time=300&lookback_delta=10m")
      assert(c5 == 200 && b5.sliding(8).count(_ == "\"metric\"") == 6)
    } finally api.stop()
  }

  test("format_query and parse_query endpoints") {
    val api = new HttpApi(spark, emptyStore(), 0, () => 1000L)
    api.start()
    try {
      val q = java.net.URLEncoder.encode(
        "sum by(job) (rate(http_requests_total{code=\"200\"}[5m]))", "UTF-8")
      val (c1, b1) = get(api.boundPort, s"/api/v1/format_query?query=$q")
      assert(c1 == 200 &&
        b1.contains("sum by (job) (rate(http_requests_total{code=\\\"200\\\"}[5m]))"))
      val (c2, b2) = get(api.boundPort, s"/api/v1/parse_query?query=$q")
      assert(c2 == 200 && b2.contains("\"type\":\"aggregation\"") &&
        b2.contains("\"type\":\"call\"") && b2.contains("\"type\":\"matrixSelector\"") &&
        b2.contains("\"range\":300000") && b2.contains("\"name\":\"code\""))
      // round-trip: formatted output reparses to the same formatted output
      val q2 = java.net.URLEncoder.encode(
        "a / on(x) group_left (y) fill (0) b[1h:5m] offset 1m", "UTF-8")
      val (c3, b3) = get(api.boundPort, s"/api/v1/format_query?query=$q2")
      assert(c3 == 200)
      val formatted = b3.split("\"data\":\"")(1).dropRight(2).replace("\\\"", "\"")
      val (c4, b4) = get(api.boundPort,
        s"/api/v1/format_query?query=${java.net.URLEncoder.encode(formatted, "UTF-8")}")
      assert(c4 == 200 && b4 == b3)
      val (c5, _) = get(api.boundPort, "/api/v1/parse_query?query=sum(")
      assert(c5 == 400)
    } finally api.stop()
  }

  test("notifier posts firing alerts to alertmanagers") {
    @volatile var received: String = null
    val am = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    am.createContext("/api/v2/alerts", ex => {
      received = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    am.start()
    try {
      val n = new Notifier(Seq(s"http://127.0.0.1:${am.getAddress.getPort}"))
      val rule = graft.streaming.Rules.AlertingRule("HighErr", "errs > 1",
        annotations = Map("summary" -> "too many"))
      val state = Map(
        "k1" -> graft.streaming.Rules.AlertState(1000L, firingSinceMs = 2000L,
          lastTrueMs = 3000L, labels = Map("alertname" -> "HighErr", "dc" -> "x")),
        "k2" -> graft.streaming.Rules.AlertState(1000L, firingSinceMs = -1L,
          lastTrueMs = 3000L, labels = Map("alertname" -> "HighErr", "dc" -> "pend")))
      val oks = n.sendFromState(rule, state, 3000L)
      assert(oks == Seq(true))
      assert(received != null)
      assert(received.contains("\"alertname\":\"HighErr\""))
      assert(received.contains("\"dc\":\"x\""))
      assert(!received.contains("\"dc\":\"pend\"")) // pending not notified
      assert(received.contains("\"summary\":\"too many\""))
      assert(received.contains("1970-01-01T00:00:02Z")) // startsAt = firingSince

      // unreachable AM reports failure without throwing
      val bad = new Notifier(Seq("http://127.0.0.1:1"))
      assert(bad.sendFromState(rule, state, 3000L) == Seq(false))
    } finally am.stop(0)
  }

  test("built-in UI: / redirects to /graph, page serves with its API hooks") {
    val api = new HttpApi(spark, emptyStore(), 0, () => 10000L)
    api.start()
    try {
      val noRedirect = java.net.http.HttpClient.newBuilder()
        .followRedirects(java.net.http.HttpClient.Redirect.NEVER).build()
      val root = noRedirect.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(root.statusCode() == 302)
      assert(root.headers().firstValue("Location").orElse("") == "/graph")
      val (gc, gb) = get(api.boundPort, "/graph")
      assert(gc == 200)
      // the page drives the public v1 API only
      Seq("/api/v1/query_range", "/api/v1/targets", "/api/v1/rules",
        "/api/v1/alerts", "/api/v1/status/tsdb", "/api/v1/label/__name__/values")
        .foreach(p => assert(gb.contains(p), p))
      // unknown paths still 404
      assert(get(api.boundPort, "/nope")._1 == 404)
    } finally api.stop()
  }

  test("remote read SAMPLES: an over-limit read 422s instead of materializing") {
    val rows = for (s <- 0 until 4; k <- 0 until 100) yield
      Row(Map("__name__" -> "m", "src" -> s"s$s"), k * 1000L, s + k * 1.0,
        false, null, 0L)
    val store = new SampleStore(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Engine.samplesSchema))
    // 400 samples in range, cap at 100 → the SAMPLES envelope must refuse
    val api = new HttpApi(spark, store, 0, () => 100000L,
      graft.promql.QueryLimits(maxSamples = 100L))
    api.start()
    try {
      val url = s"http://127.0.0.1:${api.boundPort}/api/v1/read"
      val q = RemoteRead.Query(0L, 100000L, List(LabelMatcher("__name__", MatchOp.Eq, "m")))
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
            RemoteRead.encodeRequest(Seq(q), Nil))) // no accepted types = SAMPLES
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 422)
      assert(resp.body().contains("STREAMED_XOR_CHUNKS"))
      // the streamed path is NOT capped — it is the bounded-memory escape
      val streamed = new RemoteReadClient(url).read(q, streamed = true)
      assert(streamed.map(_.samples.size).sum == 400)
    } finally api.stop()
  }

  test("/metrics counts the samples and series remote write appended to the head") {
    val api = new HttpApi(spark, emptyStore(), 0, () => 100000L)
    api.start()
    try {
      val h = graft.promql.FHist(0, 0.0, 1.0, 3.0, 1.5, Seq(0), Seq(2.0), Nil, Nil, Nil, 0)
      val writes = 3
      (0 until writes).foreach { k =>
        val body = RemoteWrite.encodeV2(Seq(
          RemoteWrite.Sample(Map("__name__" -> "a", "i" -> "0"), k * 1000L, 1.0),
          RemoteWrite.Sample(Map("__name__" -> "a", "i" -> "1"), k * 1000L, 2.0),
          RemoteWrite.Sample(Map("__name__" -> "hh"), k * 1000L, 0.0, h = Some(h))))
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1/write"))
            .header("Content-Encoding", "snappy")
            .header("Content-Type", "application/x-protobuf;proto=io.prometheus.write.v2.Request")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 204, resp.body())
      }
      val (c, b) = get(api.boundPort, "/metrics")
      assert(c == 200)
      assert(b.contains("# TYPE prometheus_tsdb_head_samples_appended_total counter\n"))
      assert(b.contains(
        s"prometheus_tsdb_head_samples_appended_total{type=\"float\"} ${2 * writes}\n"), b)
      assert(b.contains(
        s"prometheus_tsdb_head_samples_appended_total{type=\"histogram\"} $writes\n"), b)
      assert(b.contains("prometheus_tsdb_head_series 3\n"), b)
    } finally api.stop()
  }

  private def remoteWrite(port: Int, samples: Seq[RemoteWrite.Sample], v2: Boolean): Unit = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/api/v1/write"))
        .header("Content-Encoding", "snappy")
        .header("Content-Type",
          if (v2) "application/x-protobuf;proto=io.prometheus.write.v2.Request"
          else "application/x-protobuf")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(
          if (v2) RemoteWrite.encodeV2(samples) else RemoteWrite.encodeV1(samples))).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 204, resp.body())
  }

  test("a remote-written StaleNaN ends its series, over PRW 1.0 and 2.0") {
    val api = new HttpApi(spark, emptyStore(), 0, () => 2030000L)
    api.start()
    try {
      val staleNaN = java.lang.Double.longBitsToDouble(RemoteWrite.StaleNaNBits)
      Seq(false -> "m1", true -> "m2").foreach { case (v2, name) =>
        val labels = Map("__name__" -> name)
        remoteWrite(api.boundPort, Seq(
          RemoteWrite.Sample(labels, 2000000L, 1.0), RemoteWrite.Sample(labels, 2015000L, staleNaN)), v2)
        // ref: the instant selector ends at the marker, and range functions
        // skip it (promql/engine.go value.IsStaleNaN)
        val (c, b) = get(api.boundPort, s"/api/v1/query?query=$name&time=2030")
        assert(c == 200 && b.contains("\"result\":[]"), b)
        val (c2, b2) = get(api.boundPort, s"/api/v1/query?query=count_over_time($name%5B1m%5D)&time=2030")
        assert(c2 == 200 && b2.contains("[2030,\"1\"]"), b2)
      }
    } finally api.stop()
  }

  test("a histogram or start timestamp written into a float-only store reaches the planner") {
    // opened without h and stt, which the planner reads as store-absent
    val opened = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Map("__name__" -> "f"), 1000L, 1.0)), 1),
      org.apache.spark.sql.types.StructType(Engine.samplesSchema.fields.take(3)))
    val api = new HttpApi(spark, new SampleStore(spark, opened), 0, () => 60000L)
    api.start()
    try {
      val (_, f) = get(api.boundPort, "/api/v1/query?query=f&time=60")
      assert(f.contains("[60,\"1\"]"), f)
      val h = graft.promql.FHist(0, 0.0, 1.0, 3.0, 1.5, Seq(0), Seq(2.0), Nil, Nil, Nil, 0)
      remoteWrite(api.boundPort,
        Seq(RemoteWrite.Sample(Map("__name__" -> "hh"), 50000L, 0.0, h = Some(h))), v2 = true)
      val (c, b) = get(api.boundPort, "/api/v1/query?query=histogram_count(hh)&time=60")
      assert(c == 200 && b.contains("[60,\"3\"]"), b)
      remoteWrite(api.boundPort,
        Seq(RemoteWrite.Sample(Map("__name__" -> "c_total"), 50000L, 5.0, stt = 20000L)), v2 = true)
      val (c2, b2) = get(api.boundPort, "/api/v1/query?query=start_timestamp(c_total)&time=60")
      assert(c2 == 200 && b2.contains("[60,\"20\"]"), b2)
    } finally api.stop()
  }

  test("/metrics reports the head's time bounds") {
    val api = new HttpApi(spark, emptyStore(), 0, () => 100000L)
    api.start()
    try {
      // an empty head reports the reference's sentinels (math.MaxInt64/MinInt64)
      val (_, empty) = get(api.boundPort, "/metrics")
      assert(empty.contains("# TYPE prometheus_tsdb_head_min_time gauge\n"), empty)
      assert(empty.contains(
        s"prometheus_tsdb_head_min_time ${Json.goFloat(Long.MaxValue.toDouble)}\n"), empty)
      assert(empty.contains(
        s"prometheus_tsdb_head_max_time ${Json.goFloat(Long.MinValue.toDouble)}\n"), empty)
      remoteWrite(api.boundPort, Seq(
        RemoteWrite.Sample(Map("__name__" -> "a"), 3000L, 1.0),
        RemoteWrite.Sample(Map("__name__" -> "a"), 1000L, 1.0),
        RemoteWrite.Sample(Map("__name__" -> "b"), 7000L, 1.0)), v2 = false)
      val (c, b) = get(api.boundPort, "/metrics")
      assert(c == 200)
      assert(b.contains("prometheus_tsdb_head_min_time 1000\n"), b)
      assert(b.contains("prometheus_tsdb_head_max_time 7000\n"), b)
    } finally api.stop()
  }
}
