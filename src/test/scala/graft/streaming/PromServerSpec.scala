package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

/** Whole-server assembly: config load, hot-reload lifecycle, rule
  * evaluation ticks, and agent mode (ingest+forward, query surface
  * blocked) — ref cmd/prometheus/main.go wiring, web/web.go:584 reload,
  * api.go wrapAgent, tsdb/agent. */
class PromServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def get(port: Int, pq: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pq")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(port: Int, pq: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pq"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def writeFile(dir: java.nio.file.Path, name: String, text: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  test("config load, rule ticks, hot reload; bad reload keeps old state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srv")
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: g1
        |    rules:
        |      - record: job:up:count
        |        expr: count(up)
        |      - alert: Down
        |        expr: up == 0
        |        for: 0s
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      """global:
        |  scrape_interval: 15s
        |  evaluation_interval: 30s
        |rule_files:
        |  - rules.yml
        |alerting:
        |  alertmanagers:
        |    - static_configs:
        |        - targets: ['am1:9093']
        |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      val port = srv.api.boundPort
      assert(srv.config.exists(_.evaluationIntervalMs == 30000L))
      assert(srv.currentRuleGroups.map(_.name) == Seq("g1"))
      assert(srv.currentRuleGroups.head.recording.head.record == "job:up:count")

      // ingest two up series, tick the rules, query the recorded series
      import org.apache.spark.sql.Row
      srv.store.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "up", "job" -> "a"), 10000L, 1.0, false, null, 0L),
          Row(Map("__name__" -> "up", "job" -> "b"), 10000L, 0.0, false, null, 0L)), 1),
        graft.promql.Engine.samplesSchema))
      srv.evalRulesOnce(15000L)
      val (c1, b1) = get(port, "/api/v1/query?query=job%3Aup%3Acount&time=15")
      assert(c1 == 200 && b1.contains("\"2\""), b1)
      val (c2, b2) = get(port, "/api/v1/query?query=ALERTS&time=15")
      assert(c2 == 200 && b2.contains("\"alertname\":\"Down\""), b2)

      // rules endpoint: type filter + eval stats from the tick above
      val (cr1, br1) = get(port, "/api/v1/rules?type=record")
      assert(cr1 == 200 && br1.contains("job:up:count") && !br1.contains("\"alerting\""), br1)
      val (cr2, br2) = get(port, "/api/v1/rules?type=alert")
      assert(cr2 == 200 && br2.contains("\"alerting\"") && !br2.contains("\"recording\""), br2)
      assert(br2.contains("\"lastEvaluation\":\"1970-01-01T00:00:15Z\""), br2)
      assert(get(port, "/api/v1/rules?type=bogus")._1 == 400)

      // rule_name[]/rule_group[]/exclude_alerts/match[]/pagination filters
      // (ref: api.go rules handler)
      val (_, bn1) = get(port, "/api/v1/rules?rule_name%5B%5D=Down")
      assert(bn1.contains("\"Down\"") && !bn1.contains("job:up:count"), bn1)
      val (_, bn2) = get(port, "/api/v1/rules?rule_name%5B%5D=nosuch")
      assert(bn2.contains("\"groups\":[]"), bn2) // empty groups are skipped
      val (_, bg1) = get(port, "/api/v1/rules?rule_group%5B%5D=g1")
      assert(bg1.contains("job:up:count"), bg1)
      val (_, bg2) = get(port, "/api/v1/rules?rule_group%5B%5D=other")
      assert(bg2.contains("\"groups\":[]"), bg2)
      val (_, bx) = get(port, "/api/v1/rules?type=alert&exclude_alerts=true")
      assert(bx.contains("\"alerts\":[]"), bx)
      assert(get(port, "/api/v1/rules?exclude_alerts=maybe")._1 == 400)
      // pagination: limit 1 group — all rules fit in g1, so no next token
      val (_, bp) = get(port, "/api/v1/rules?group_limit=1")
      assert(bp.contains("job:up:count") && !bp.contains("groupNextToken"), bp)
      assert(get(port, "/api/v1/rules?group_limit=0")._1 == 400)
      assert(get(port, "/api/v1/rules?group_next_token=abc")._1 == 400)
      assert(get(port,
        "/api/v1/rules?group_limit=1&group_next_token=bogus")._1 == 400)

      // /api/v1/status/config serves the live yaml; alertmanagers listed
      val (c3, b3) = get(port, "/api/v1/status/config")
      assert(c3 == 200 && b3.contains("evaluation_interval"), b3)
      assert(get(port, "/api/v1/alertmanagers")._2.contains("am1:9093"))

      // hot reload: new rule file content applies
      writeFile(dir, "rules.yml",
        """groups:
          |  - name: g2
          |    rules:
          |      - record: j2
          |        expr: sum(up)
          |""".stripMargin)
      val (cr, _) = post(port, "/-/reload")
      assert(cr == 200)
      assert(srv.currentRuleGroups.map(_.name) == Seq("g2"))

      // a BROKEN config 500s and leaves the old one running
      writeFile(dir, "rules.yml", "groups:\n  - name: bad\n    rules:\n      - record: r\n        expr: 'sum('\n")
      val (cb, bb) = post(port, "/-/reload")
      assert(cb == 500 && bb.contains("failed to reload config"), bb)
      assert(srv.currentRuleGroups.map(_.name) == Seq("g2")) // unchanged

      // GET /-/reload is method-not-allowed (ref web.go:600)
      assert(get(port, "/-/reload")._1 == 405)
      // healthy/ready
      assert(get(port, "/-/healthy")._1 == 200 && get(port, "/-/ready")._1 == 200)
    } finally { srv.stop(); }
  }

  test("config.auto-reload: config AND watched rule-file changes apply without /-/reload") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auto")
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: g1
        |    rules:
        |      - record: r1
        |        expr: count(up)
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      """global:
        |  evaluation_interval: 30s
        |rule_files:
        |  - rules.yml
        |""".stripMargin)
    val srv = new PromServer(spark, cfgPath, autoReloadMs = 50L)
    srv.start()
    try {
      def eventually(timeoutMs: Long = 5000)(cond: => Boolean): Unit = {
        val dl = System.currentTimeMillis() + timeoutMs
        while (!cond && System.currentTimeMillis() < dl) Thread.sleep(20)
        assert(cond)
      }
      assert(srv.config.exists(_.evaluationIntervalMs == 30000L))
      // 1. config-file change picked up by checksum, no /-/reload call
      writeFile(dir, "prometheus.yml",
        """global:
          |  evaluation_interval: 45s
          |rule_files:
          |  - rules.yml
          |""".stripMargin)
      eventually()(srv.config.exists(_.evaluationIntervalMs == 45000L))
      // 2. a WATCHED file (rule file) change also triggers — the checksum
      // covers referenced files like the reference's GenerateChecksum
      writeFile(dir, "rules.yml",
        """groups:
          |  - name: g1
          |    rules:
          |      - record: r2
          |        expr: count(up)
          |""".stripMargin)
      eventually()(srv.currentRuleGroups.headOption
        .exists(_.recording.head.record == "r2"))
      // 3. a BROKEN watched file doesn't wedge the loop: the failed reload
      // keeps the old state serving, and the next valid write applies
      // (same unparseable-rule breakage the /-/reload test uses)
      writeFile(dir, "rules.yml",
        "groups:\n  - name: g1\n    rules:\n      - record: r3\n        expr: 'sum('\n")
      Thread.sleep(300)
      assert(srv.currentRuleGroups.headOption
        .exists(_.recording.head.record == "r2")) // old rules still serving
      writeFile(dir, "prometheus.yml",
        """global:
          |  evaluation_interval: 60s
          |rule_files:
          |  - rules.yml
          |""".stripMargin)
      writeFile(dir, "rules.yml",
        """groups:
          |  - name: g1
          |    rules:
          |      - record: r4
          |        expr: count(up)
          |""".stripMargin)
      eventually()(srv.config.exists(_.evaluationIntervalMs == 60000L) &&
        srv.currentRuleGroups.headOption.exists(_.recording.head.record == "r4"))
    } finally srv.stop()
  }

  test("rule group query_offset evaluates (and stamps) at ts - offset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qoff")
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: off
        |    query_offset: 5s
        |    rules:
        |      - record: off:count
        |        expr: count(up)
        |  - name: inh
        |    rules:
        |      - record: inh:count
        |        expr: count(up)
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      """global:
        |  evaluation_interval: 30s
        |  rule_query_offset: 3s
        |rule_files:
        |  - rules.yml
        |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      val port = srv.api.boundPort
      // per-group query_offset wins; groups without inherit the global
      assert(srv.currentRuleGroups.map(g => g.name -> g.queryOffsetMs).toMap ==
        Map("off" -> 5000L, "inh" -> 3000L))
      import org.apache.spark.sql.Row
      srv.store.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "up", "job" -> "a"), 10000L, 1.0, false, null, 0L),
          Row(Map("__name__" -> "up", "job" -> "b"), 10000L, 0.0, false, null, 0L)), 1),
        graft.promql.Engine.samplesSchema))
      srv.evalRulesOnce(20000L)
      // offset 5s → the output sample sits at t=15s, visible at time=15
      // (were the offset ignored it would sit at t=20s and time=15 is empty)
      val (c1, b1) = get(port, "/api/v1/query?query=off%3Acount&time=15")
      assert(c1 == 200 && b1.contains("\"2\""), b1)
      val (c2, b2) = get(port, "/api/v1/query?query=inh%3Acount&time=17")
      assert(c2 == 200 && b2.contains("\"2\""), b2)
      // nothing at the un-offset timestamps... (lookback makes later times
      // see them; assert the exact stamps instead)
      val ts = srv.store.samples.collect()
        .filter(r => r.getMap[String, String](0)("__name__").endsWith(":count"))
        .map(r => r.getMap[String, String](0)("__name__") -> r.getLong(1)).toMap
      assert(ts == Map("off:count" -> 15000L, "inh:count" -> 17000L))
    } finally srv.stop()
  }

  test("query logging: query_log_file lines + active-query crash forensics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qlog")
    val logPath = dir.resolve("query.log")
    writeFile(dir, "prom.yml",
      s"""global:
         |  scrape_interval: 15s
         |  query_log_file: query.log
         |""".stripMargin)
    val dataDir = dir.resolve("data").toString
    val srv = new PromServer(spark, dir.resolve("prom.yml").toString,
      nowMs = () => 10000L, dataDir = Some(dataDir))
    srv.start()
    try {
      assert(srv.unfinishedQueries.isEmpty)
      val (c1, _) = get(srv.api.boundPort, "/api/v1/query?query=1%2B1&time=10")
      assert(c1 == 200)
      val (c2, _) = get(srv.api.boundPort,
        "/api/v1/query_range?query=vector(1)&start=0&end=10&step=1")
      assert(c2 == 200)
      val lines = new String(java.nio.file.Files.readAllBytes(logPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
      assert(lines.size == 2, lines)
      assert(lines.head.contains("\"query\":\"1+1\"") && lines.head.contains("\"time\":\"10.0\""))
      assert(lines.head.contains("execTotalTime") && lines.head.contains("execQueueTime"))
      assert(lines(1).contains("\"query\":\"vector(1)\"") &&
        lines(1).contains("\"step\":\"1.0\"") && lines(1).contains("\"start\":\"0.0\""))
      // a failing query logs an error field
      val (c3, _) = get(srv.api.boundPort, "/api/v1/query?query=rate(up)&time=10")
      assert(c3 == 422)
      val lines2 = new String(java.nio.file.Files.readAllBytes(logPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
      assert(lines2.size == 3 && lines2(2).contains("\"error\":"), lines2)
    } finally srv.stop()

    // crash forensics: a slot written but never zeroed (process death
    // between insert and delete) surfaces on the NEXT construction
    // (ref query_logger.go logUnfinishedQueries)
    val t1 = new graft.promql.ActiveQueryTracker(dataDir, 4, () => 99L)
    t1.insert("sum(rate(crashy[5m]))")
    val doneSlot = t1.insert("finished_fine")
    t1.delete(doneSlot)
    t1.close() // close WITHOUT deleting the first slot = crash
    val t2 = new graft.promql.ActiveQueryTracker(dataDir, 4)
    assert(t2.unfinishedQueries == Seq("sum(rate(crashy[5m]))"))
    t2.insert("still running at crash")
    t2.close() // crash again, this time with the query in flight
    // a server over the same data dir surfaces the crashed-run queries
    val srv2 = new PromServer(spark, dir.resolve("prom.yml").toString,
      nowMs = () => 10000L, dataDir = Some(dataDir))
    assert(srv2.unfinishedQueries == Seq("still running at crash"))
    srv2.stop()
  }

  test("console templates: query/params/libs render; traversal 404s") {
    import org.apache.spark.sql.Row
    val samples = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "up", "job" -> "api"), 590000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "up", "job" -> "db"), 590000L, 0.0, false, null, 0L)), 2),
      graft.promql.Engine.samplesSchema)
    val store = new graft.web.SampleStore(spark, samples)
    val dir = java.nio.file.Files.createTempDirectory("graft-consoles")
    val libDir = java.nio.file.Files.createTempDirectory("graft-console-libs")
    writeFile(dir, "targets.html",
      """{{define "head"}}<title>{{ .Params.title }}</title>{{end}}""" +
        """{{template "head" .}}""" +
        """{{ range query "up" | sortByLabel "job" }}""" +
        """<tr><td>{{ .Labels.job }}</td><td>{{ .Value | humanize }}</td></tr>""" +
        """{{ end }}up={{ query "sum(up)" | first | value }}""")
    writeFile(libDir, "prom.lib", """{{define "tick"}}&#x2714;{{end}}""")
    // `tick` exercises a console-library define invoked via template/tmpl
    writeFile(dir, "uses_lib.html", """{{template "tick"}}""")
    val api = new graft.web.HttpApi(spark, store, 0, () => 600000L)
    api.consoleTemplatesPath = Some(dir.toString)
    api.consoleLibrariesPath = Some(libDir.toString)
    api.externalUrl = java.net.URI.create("http://example:9090/prom")
    api.start()
    try {
      val port = api.boundPort
      val (c1, b1) = get(port, "/consoles/targets.html?title=T%26Co")
      assert(c1 == 200, b1)
      // html escaping applies to interpolations (T&Co -> T&amp;Co)
      assert(b1.contains("<title>T&amp;Co</title>"), b1)
      assert(b1.contains("<tr><td>api</td><td>1</td></tr>"), b1)
      assert(b1.contains("<tr><td>db</td><td>0</td></tr>"), b1)
      assert(b1.contains("up=1"), b1)
      val (c2, b2) = get(port, "/consoles/uses_lib.html")
      assert(c2 == 200 && b2 == "&#x2714;", s"$c2 $b2")
      assert(get(port, "/consoles/nope.html")._1 == 404)
      assert(get(port, "/consoles/..%2F..%2Fetc%2Fpasswd")._1 == 404)
    } finally api.stop()
  }

  test("scrape_pools, features, tsdb blocks, relabel_steps, search endpoints") {
    import org.apache.spark.sql.Row
    val samples = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "http_requests_total", "job" -> "api"), 590000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "http_errors_total", "job" -> "api"), 590000L, 2.0, false, null, 0L),
        Row(Map("__name__" -> "node_cpu_seconds", "job" -> "node"), 7500000L, 3.0, false, null, 0L)), 2),
      graft.promql.Engine.samplesSchema)
    val store = new graft.web.SampleStore(spark, samples)
    val api = new graft.web.HttpApi(spark, store, 0, () => 7800000L)
    api.scrapePoolConfigs = Map("api" -> Seq(
      Relabel.Rule(Relabel.Replace, sourceLabels = Seq("job"),
        regex = "(.*)", targetLabel = "pool", replacement = "${1}-pool"),
      Relabel.Rule(Relabel.Drop, sourceLabels = Seq("job"), regex = "secret")))
    api.start()
    try {
      val port = api.boundPort
      val (c1, b1) = get(port, "/api/v1/scrape_pools")
      assert(c1 == 200 && b1.contains("\"scrapePools\":[\"api\"]"), b1)
      val (c2, b2) = get(port, "/api/v1/features")
      assert(c2 == 200 && b2.contains("templating_functions") &&
        b2.contains("\"humanize\":true"), b2)
      // blocks: samples span two 2h ingest blocks
      val (c3, b3) = get(port, "/api/v1/status/tsdb/blocks")
      assert(c3 == 200 && b3.contains("\"numSamples\":2") &&
        b3.contains("\"numSamples\":1"), b3)
      // relabel_steps: Go ${1} replacement works, drop rule keeps (no match)
      val lbl = java.net.URLEncoder.encode("""{"job":"api"}""", "UTF-8")
      val (c4, b4) = get(port, s"/api/v1/targets/relabel_steps?scrapePool=api&labels=$lbl")
      assert(c4 == 200 && b4.contains("\"pool\":\"api-pool\"") &&
        b4.contains("\"keep\":true"), b4)
      assert(get(port, "/api/v1/targets/relabel_steps?scrapePool=api")._1 == 400)
      // search: NDJSON batches + trailer; subsequence default accepts prefix
      val (c5, b5) = get(port,
        "/api/v1/search/metric_names?search%5B%5D=http&include_score=true&start=0")
      assert(c5 == 200, b5)
      val lines = b5.trim.split("\n")
      assert(lines.last.contains("\"status\":\"success\"") &&
        lines.last.contains("\"has_more\":false"), b5)
      assert(lines.head.contains("http_errors_total") &&
        lines.head.contains("http_requests_total") &&
        !lines.head.contains("node_cpu"), b5)
      assert(lines.head.contains("\"score\":1"), b5) // prefix match = 1.0
      // label_values with limit probe -> has_more
      val (c6, b6) = get(port,
        "/api/v1/search/label_values?label=__name__&limit=2&start=0")
      assert(c6 == 200 && b6.contains("\"has_more\":true"), b6)
      // fuzzy jarowinkler fallback above threshold
      val (c7, b7) = get(port,
        "/api/v1/search/label_values?label=job&search%5B%5D=napi&fuzz_alg=jarowinkler&fuzz_threshold=70&start=0")
      assert(c7 == 200 && b7.contains("\"value\":\"api\""), b7)
      // validation error shape
      assert(get(port, "/api/v1/search/metric_names?fuzz_threshold=101")._1 == 400)
    } finally api.stop()
  }

  test("targets: state/scrapePool filters, dropped targets with counts") {
    import org.apache.spark.sql.Row
    val samples = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(Map("__name__" -> "up"), 0L, 1.0, false, null, 0L)), 1),
      graft.promql.Engine.samplesSchema)
    val api = new graft.web.HttpApi(spark,
      new graft.web.SampleStore(spark, samples), 0, () => 600000L)
    api.scrapeTargets = Seq(
      ScrapeManager.ScrapeTarget("http://a:9100/metrics", "node", "a:9100"),
      ScrapeManager.ScrapeTarget("http://b:8080/metrics", "api", "b:8080"))
    api.droppedTargets = Seq(
      "node" -> Map("__address__" -> "c:9100", "__meta_dns_name" -> "x"),
      "node" -> Map("__address__" -> "d:9100"))
    api.start()
    try {
      val port = api.boundPort
      val (_, b1) = get(port, "/api/v1/targets")
      assert(b1.contains("a:9100") && b1.contains("c:9100"))
      assert(b1.contains("\"droppedTargetCounts\":{\"node\":2}"), b1)
      val (_, b2) = get(port, "/api/v1/targets?state=active")
      assert(b2.contains("a:9100") && !b2.contains("c:9100") &&
        !b2.contains("droppedTargetCounts"), b2)
      val (_, b3) = get(port, "/api/v1/targets?state=dropped")
      assert(!b3.contains("a:9100") && b3.contains("c:9100") &&
        b3.contains("__meta_dns_name"), b3)
      val (_, b4) = get(port, "/api/v1/targets?scrapePool=api")
      // droppedTargetCounts stays UNFILTERED by pool (ref: res.
      // DroppedTargetCounts is set from TargetsDroppedCounts unconditionally)
      assert(b4.contains("b:8080") && !b4.contains("a:9100") &&
        b4.contains("\"droppedTargetCounts\":{\"node\":2}"), b4)
    } finally api.stop()
  }

  test("notifications, /metrics exposition, self_metrics") {
    val store = new graft.web.SampleStore(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.promql.Engine.samplesSchema))
    val api = new graft.web.HttpApi(spark, store, 0, () => 600000L)
    api.start()
    try {
      val port = api.boundPort
      // notification add/resolve + subscriber fan-out
      assert(get(port, "/api/v1/notifications")._2 == """{"status":"success","data":[]}""")
      api.notifications.add(graft.web.Notifications.ConfigurationUnsuccessful)
      val (_, b1) = get(port, "/api/v1/notifications")
      assert(b1.contains("Configuration reload has failed.") &&
        b1.contains("\"active\":true"), b1)
      val Some((q, unsub)) = api.notifications.subscribe()
      api.notifications.delete(graft.web.Notifications.ConfigurationUnsuccessful)
      val ev = q.poll(2, java.util.concurrent.TimeUnit.SECONDS)
      assert(ev != null && !ev.active && ev.text.contains("failed"))
      unsub()
      assert(get(port, "/api/v1/notifications")._2.endsWith(""":[]}"""))
      // /metrics: text exposition with request counters
      val (c2, b2) = get(port, "/metrics")
      assert(c2 == 200, b2)
      assert(b2.contains("# TYPE prometheus_http_requests_total counter"), b2)
      assert(b2.contains("""prometheus_http_requests_total{handler="/api/v1/notifications"} 3"""), b2)
      assert(b2.contains("""prometheus_build_info{goversion="n/a",version="graft-spark"} 1"""), b2)
      // self_metrics JSON with anchored name filter
      val (c3, b3) = get(port, "/api/v1/status/self_metrics?metric_name_pattern=prometheus_http.%2B")
      assert(c3 == 200 && b3.contains("\"type\":\"COUNTER\"") &&
        !b3.contains("build_info"), b3)

      // SSE live stream end-to-end: the connection must stay OPEN after the
      // handler returns (the stream runs on its own thread; a previous
      // regression closed the exchange immediately), deliver the initial
      // snapshot, then a subsequent add exactly once
      api.notifications.add("banner one")
      val conn = new java.net.URL(
        s"http://127.0.0.1:$port/api/v1/notifications/live")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(5000)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
      def nextData(): String = {
        var line = in.readLine()
        while (line != null && !line.startsWith("data: ")) line = in.readLine()
        assert(line != null, "SSE stream ended prematurely")
        line.stripPrefix("data: ")
      }
      val first = nextData()
      assert(first.contains("banner one") && first.contains("\"active\":true"), first)
      api.notifications.add("banner two")
      val second = nextData()
      assert(second.contains("banner two"), second)
      conn.disconnect()
    } finally api.stop()
  }

  test("lifecycle API disabled without a hook (plain HttpApi): 403") {
    val store = new graft.web.SampleStore(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.promql.Engine.samplesSchema))
    val api = new graft.web.HttpApi(spark, store, 0, () => 0L)
    api.start()
    try {
      val (c, b) = post(api.boundPort, "/-/reload")
      assert(c == 403 && b.contains("Lifecycle API is not enabled."), b)
    } finally api.stop()
  }

  test("agent mode: query surface blocked, ingest + forward path works") {
    val dir = java.nio.file.Files.createTempDirectory("graft-agent")
    // downstream receiver = a full server's remote-write endpoint
    val downStore = new graft.web.SampleStore(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.promql.Engine.samplesSchema))
    val down = new graft.web.HttpApi(spark, downStore, 0, () => 600000L)
    down.start()
    val cfgPath = writeFile(dir, "prometheus.yml",
      s"""remote_write:
         |  - url: http://127.0.0.1:${down.boundPort}/api/v1/write
         |""".stripMargin)
    val agent = new PromServer(spark, cfgPath, agentMode = true)
    agent.start()
    try {
      val port = agent.api.boundPort
      // the query surface answers with the reference's agent error
      for (pq <- Seq("/api/v1/query?query=up", "/api/v1/query_range?query=up&start=0&end=60&step=15",
          "/api/v1/series?match%5B%5D=up", "/api/v1/labels", "/api/v1/rules")) {
        val (c, b) = get(port, pq)
        assert(c == 422 && b.contains("unavailable with Prometheus Agent"), s"$pq -> $c $b")
      }
      // the ingest path stays: remote-write receive works in agent mode
      val payload = graft.web.RemoteWrite.encodeV1(Seq(
        graft.web.RemoteWrite.Sample(Map("__name__" -> "m", "src" -> "agent"), 5000L, 2.5)))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 204 || resp.statusCode() == 200)
      // forward the agent's store downstream (the agent's send half),
      // then query it THROUGH the downstream server
      new graft.web.RemoteWriteForwarder(
        s"http://127.0.0.1:${down.boundPort}/api/v1/write")
        .forward(agent.store.samples)
      val (cq, bq) = get(down.boundPort, "/api/v1/query?query=m&time=10")
      assert(cq == 200 && bq.contains("\"2.5\""), bq)
    } finally { agent.stop(); down.stop() }
  }

  test("oauth2 end to end: scrape pool and remote_write fetch, cache and attach bearer tokens") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // fake token endpoint — counts fetches, echoes endpoint_params back in
    val tokenCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val tokenForms = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val tokenSrv = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    tokenSrv.createContext("/", (ex: HttpExchange) => {
      tokenForms.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      val b = s"""{"access_token":"tok${tokenCalls.incrementAndGet()}","expires_in":3600}"""
        .getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    tokenSrv.start()
    // fake scrape target — captures the Authorization header per scrape
    val scrapeAuths = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val target = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    target.createContext("/metrics", (ex: HttpExchange) => {
      scrapeAuths.add(ex.getRequestHeaders.getFirst("Authorization"))
      val b = "m1 7\n".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    target.start()
    // fake PRW receiver — captures the Authorization header per batch
    val rwAuths = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val rw = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    rw.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      rwAuths.add(ex.getRequestHeaders.getFirst("Authorization"))
      ex.sendResponseHeaders(204, -1); ex.close()
    })
    rw.start()
    val dir = java.nio.file.Files.createTempDirectory("graft-oauth2")
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: g
        |    rules:
        |      - record: m1:copy
        |        expr: m1
        |""".stripMargin)
    val tokenUrl = s"http://127.0.0.1:${tokenSrv.getAddress.getPort}/token"
    val cfgPath = writeFile(dir, "prometheus.yml",
      s"""global:
         |  scrape_interval: 15s
         |rule_files:
         |  - rules.yml
         |scrape_configs:
         |  - job_name: api
         |    oauth2:
         |      client_id: scrape-cid
         |      client_secret: ss
         |      token_url: $tokenUrl
         |      scopes: [metrics.read]
         |      endpoint_params:
         |        audience: https://scrape
         |    static_configs:
         |      - targets: ['127.0.0.1:${target.getAddress.getPort}']
         |remote_write:
         |  - url: http://127.0.0.1:${rw.getAddress.getPort}/api/v1/write
         |    oauth2:
         |      client_id: rw-cid
         |      client_secret: rs
         |      token_url: $tokenUrl
         |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      // two scrapes: the pool fetched ONE token and attached it to both
      srv.scrapeOnce()
      srv.scrapeOnce()
      assert(scrapeAuths.size() == 2)
      val first = scrapeAuths.get(0)
      assert(first != null && first.startsWith("Bearer tok"), first)
      assert(scrapeAuths.get(1) == first) // cached, not re-fetched
      // scopes + endpoint_params reached the token endpoint
      val scrapeForm = {
        var f = ""; tokenForms.forEach(x => if (x.contains("scrape-cid")) f = x); f
      }
      assert(scrapeForm.contains("scope=metrics.read"), scrapeForm)
      assert(scrapeForm.contains("audience=https%3A%2F%2Fscrape"), scrapeForm)
      // two rule ticks over store-time samples (scraped rows carry
      // wall-clock stamps outside the tick's lookback): the forwarder
      // fetched ONE token for both batches
      import org.apache.spark.sql.Row
      srv.store.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "m1", "job" -> "x"), 10000L, 7.0, false, null, 0L)), 1),
        graft.promql.Engine.samplesSchema))
      srv.evalRulesOnce(15000L)
      srv.evalRulesOnce(30000L)
      assert(rwAuths.size() >= 2)
      val rwTok = rwAuths.get(0)
      assert(rwTok != null && rwTok.startsWith("Bearer tok"), rwTok)
      rwAuths.forEach(a => assert(a == rwTok))
      assert(rwTok != first) // two entries, two independent providers
      // grand total: exactly TWO token fetches (one per oauth2 block)
      assert(tokenCalls.get() == 2, s"token fetches: ${tokenCalls.get()}")
    } finally { srv.stop(); tokenSrv.stop(0); target.stop(0); rw.stop(0) }
  }

  test("write_relabel_configs filter forwarded batches; local store keeps everything") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wrl")
    val downStore = new graft.web.SampleStore(spark, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.promql.Engine.samplesSchema))
    val down = new graft.web.HttpApi(spark, downStore, 0, () => 600000L)
    down.start()
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: g
        |    rules:
        |      - record: up:copy
        |        expr: up
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      s"""global:
         |  scrape_interval: 15s
         |rule_files:
         |  - rules.yml
         |remote_write:
         |  - url: http://127.0.0.1:${down.boundPort}/api/v1/write
         |    write_relabel_configs:
         |      - source_labels: [job]
         |        regex: b
         |        action: drop
         |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      import org.apache.spark.sql.Row
      srv.store.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "up", "job" -> "a"), 10000L, 1.0, false, null, 0L),
          Row(Map("__name__" -> "up", "job" -> "b"), 10000L, 1.0, false, null, 0L)), 1),
        graft.promql.Engine.samplesSchema))
      srv.evalRulesOnce(15000L)
      // the local store keeps BOTH rule-output series…
      val local = srv.store.samples.collect()
        .filter(_.getMap[String, String](0)("__name__") == "up:copy")
        .map(_.getMap[String, String](0)("job")).sorted.toSeq
      assert(local == Seq("a", "b"))
      // …while the forwarded batch dropped job=b before the send (ref:
      // queue_manager.go relabel.Process on every outgoing batch)
      val fwd = downStore.samples.collect()
        .filter(_.getMap[String, String](0)("__name__") == "up:copy")
        .map(_.getMap[String, String](0)("job")).toSeq
      assert(fwd == Seq("a"), fwd.toString)
    } finally { srv.stop(); down.stop() }
  }

  test("rule group limit: violating rule drops output and reports health=err; /targets carries the full field set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-limit")
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: capped
        |    limit: 1
        |    rules:
        |      - record: up:copy
        |        expr: up
        |      - record: up:count
        |        expr: count(up)
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      """global:
        |  scrape_interval: 15s
        |rule_files:
        |  - rules.yml
        |scrape_configs:
        |  - job_name: api
        |    scrape_timeout: 7s
        |    static_configs:
        |      - targets: ['localhost:19999']
        |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      val port = srv.api.boundPort
      import org.apache.spark.sql.Row
      srv.store.append(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(Map("__name__" -> "up", "job" -> "a"), 10000L, 1.0, false, null, 0L),
          Row(Map("__name__" -> "up", "job" -> "b"), 10000L, 1.0, false, null, 0L)), 1),
        graft.promql.Engine.samplesSchema))
      srv.evalRulesOnce(15000L)
      // up:copy yields 2 series > limit 1 -> output dropped, health err;
      // up:count yields 1 series -> recorded fine
      val (cq, bq) = get(port, "/api/v1/query?query=up%3Acopy&time=15")
      assert(cq == 200 && bq.contains("\"result\":[]"), bq)
      val (cq2, bq2) = get(port, "/api/v1/query?query=up%3Acount&time=15")
      assert(cq2 == 200 && bq2.contains("\"2\""), bq2)
      val (cr, br) = get(port, "/api/v1/rules")
      assert(cr == 200, br)
      // group-level limit field renders (ref api.go RuleGroup.Limit)
      assert(br.contains("\"limit\":1"), br)
      assert(br.contains("\"health\":\"err\""), br)
      assert(br.contains("exceeded limit of 1 with 2 series"), br)
      assert(br.contains("\"health\":\"ok\""), br)
      // a later healthy pass clears the error: relax the store to 1 series
      srv.store.deleteSeries(List(graft.promql.LabelMatcher("job",
        graft.promql.MatchOp.Eq, "b")), Long.MinValue / 2, Long.MaxValue / 2)
      srv.evalRulesOnce(45000L)
      val (_, br2) = get(port, "/api/v1/rules")
      assert(!br2.contains("\"health\":\"err\""), br2)

      // /targets: full reference Target field set (api.go Target struct)
      srv.scrapeOnce() // target is down (nothing listens) -> up=0 recorded
      val (ct, bt) = get(port, "/api/v1/targets?state=active")
      assert(ct == 200, bt)
      for (k <- Seq("discoveredLabels", "labels", "scrapePool", "scrapeUrl",
          "globalUrl", "lastError", "lastScrape", "lastScrapeDuration",
          "health", "scrapeInterval", "scrapeTimeout"))
        assert(bt.contains("\"" + k + "\":"), s"missing $k in $bt")
      assert(bt.contains("\"health\":\"down\""), bt)
      assert(bt.contains("\"scrapeInterval\":\"15s\""), bt)
      assert(bt.contains("\"scrapeTimeout\":\"7s\""), bt)
    } finally { srv.stop() }
  }

  test("a rule failing at evaluation goes unhealthy; its group and the store carry on") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rulefail")
    // up:bad maps both `up` series onto one labelset, which the engine
    // rejects when the output is materialized
    writeFile(dir, "rules.yml",
      """groups:
        |  - name: mixed
        |    rules:
        |      - record: up:bad
        |        expr: label_replace(up, "job", "x", "", "")
        |      - record: up:count
        |        expr: count(up)
        |""".stripMargin)
    val cfgPath = writeFile(dir, "prometheus.yml",
      """global:
        |  scrape_interval: 15s
        |rule_files:
        |  - rules.yml
        |""".stripMargin)
    val srv = new PromServer(spark, cfgPath)
    srv.start()
    try {
      val port = srv.api.boundPort
      import org.apache.spark.sql.Row
      srv.store.append(Seq(
        Row(Map("__name__" -> "up", "job" -> "a"), 10000L, 1.0, false, null, 0L),
        Row(Map("__name__" -> "up", "job" -> "b"), 10000L, 1.0, false, null, 0L)))
      srv.evalRulesOnce(15000L)
      val (cr, br) = get(port, "/api/v1/rules")
      assert(cr == 200 && br.contains("\"health\":\"err\"") &&
        br.contains("same labelset"), br)
      // the failed output never reached the store: every read still works
      val (cq, bq) = get(port, "/api/v1/query?query=up%3Acount&time=15")
      assert(cq == 200 && bq.contains("\"2\""), bq)
      val (cu, bu) = get(port, "/api/v1/query?query=count(%7B__name__%3D~%22.%2B%22%7D)&time=15")
      assert(cu == 200 && bu.contains("\"3\""), bu)
    } finally { srv.stop() }
  }
}
