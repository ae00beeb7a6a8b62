package graft.web

import graft.promql.{Engine, FHist, LabelMatcher, MatchOp}
import graft.streaming.Ingest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, element_at, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** The head-backed [[SampleStore]] against a reference that unions every
  * batch onto the opened frame, plus the properties the head promises:
  * read-your-acked-writes, a read plan that does not grow with appends,
  * a head bounded to 1.5 block ranges, and appends of driver rows that run
  * no Spark job while the head stays inside that range. */
class SampleStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** samples (labels, t, v) in the block-sink layout: `__sg`, `metric` and
    * 2 h `block` partitions */
  private def blockStore(rows: Seq[Row]): DataFrame = {
    val dir = tmpDir("samplestore-blocks")
    val df = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Engine.samplesSchema.fields.take(3)))
    Engine.withSeriesSig(df)
      .withColumn("metric", Ingest.metricCol)
      .withColumn("block", Ingest.blockCol())
      .write.mode("overwrite").partitionBy("block").parquet(dir)
    spark.read.parquet(dir)
  }

  /** the store as it was before the head: every batch unioned onto the
    * opened frame as a local relation, its derived columns aligned to the
    * frame's */
  private final class UnionStore(initial: DataFrame) {
    private var base = Engine.canonical(initial)
    private var tombs = List.empty[(LabelMatcher, Long, Long)]
    def append(rows: Seq[Row]): Unit = {
      var b = Engine.canonical(local(rows))
      if (base.columns.contains("__sg")) b = Engine.withSeriesSig(b)
      if (base.columns.contains("metric")) b = b.withColumn("metric", Ingest.metricCol)
      if (base.columns.contains("block")) b = b.withColumn("block", Ingest.blockCol())
      base = base.unionByName(b)
    }
    def deleteSeries(m: LabelMatcher, minT: Long, maxT: Long): Unit =
      tombs = (m, minT, maxT) :: tombs
    def samples: DataFrame = tombs.foldLeft(base) { case (df, (m, lo, hi)) =>
      df.filter(!(coalesce(element_at(col("labels"), m.name), lit("")) === m.value &&
        col("t") >= lo && col("t") <= hi))
    }
    def cleanTombstones(): Unit = { base = samples.localCheckpoint(true); tombs = Nil }
  }

  /** every row of a frame as a sortable string, labels in key order and
    * doubles by their raw bits (NaN payloads and -0.0 stay distinct) */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
    df.columns.indices.map { i =>
      df.columns(i) + "=" + (r.get(i) match {
        case m: scala.collection.Map[_, _] =>
          m.toSeq.map { case (k, v) => s"$k:$v" }.sorted.mkString("{", ",", "}")
        case d: java.lang.Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
        case other => String.valueOf(other)
      })
    }.sorted.mkString(" ")
  }.sorted

  private def hist(i: Int): Row = FHist.toRow(
    FHist(0, 0.0, 1.0, i + 2.0, i * 1.5, Seq(0, 1), Seq(1.0, i + 1.0), Nil, Nil, Nil, 0))

  /** batch k, `stepMs` after batch k - 1: two float series (one with a
    * start timestamp), one native histogram series, and from k = 3 on a
    * stale marker */
  private def batch(k: Int, stepMs: Long = 60000L): Seq[Row] = {
    val t = 7200000L + k * stepMs
    Seq(
      Row(Map("__name__" -> "up", "job" -> "a"), t, k.toDouble, false, null, 0L),
      Row(Map("__name__" -> "reqs_total", "job" -> "b"), t, 10.0 * k, false, null, 60000L),
      Row(Map("__name__" -> "lat", "job" -> "a"), t, Double.NaN, false, hist(k), 0L)) ++
      (if (k >= 3) Seq(Row(Map("__name__" -> "gone", "job" -> "c"), t, Double.NaN, true, null, 0L))
       else Nil)
  }

  private val edgeLabels = Map("__name__" -> "edge", "job" -> "e")

  /** one series' awkward samples around `t0`: out-of-order and duplicate
    * timestamps, StaleNaN and another NaN payload, ±Inf, -0.0, null and
    * zero start timestamps, and a histogram among floats */
  private def edgeBatch(t0: Long): Seq[Row] = {
    def row(t: Long, v: Double, stale: Boolean = false, h: Row = null, stt: Any = 0L) =
      Row(edgeLabels, t, v, stale, h, stt)
    Seq(
      row(t0, 1.0, stt = null),
      row(t0 - 30000L, 2.0),
      row(t0, 3.0),
      row(t0 + 1000L, java.lang.Double.longBitsToDouble(RemoteWrite.StaleNaNBits), stale = true),
      row(t0 + 2000L, java.lang.Double.longBitsToDouble(0x7ff8000000000abcL)),
      row(t0 + 3000L, Double.PositiveInfinity, stt = t0 - 60000L),
      row(t0 + 4000L, Double.NegativeInfinity, stt = null),
      row(t0 + 5000L, -0.0),
      row(t0 + 6000L, Double.NaN, h = hist(7)))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Engine.samplesSchema)

  /** rows as a local relation: unlike [[frame]], whose rows reach their
    * tasks through Java serialization (which writes every NaN as the
    * canonical one), it keeps each double's bits */
  private def local(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, Engine.samplesSchema)

  private val initialRows = (0 until 5).flatMap(i => Seq(
    Row(Map("__name__" -> "up", "job" -> "a"), 3600000L + i * 60000L, 1.0),
    Row(Map("__name__" -> "gone", "job" -> "c"), 3600000L + i * 60000L, 2.0)))

  test("head-backed samples equal a union of the same batches, through tombstones and snapshot") {
    val opened = blockStore(initialRows)
    val store = new SampleStore(spark, opened)
    val ref = new UnionStore(opened)
    def same(step: String): Unit =
      assert(rowsOf(store.samples) == rowsOf(ref.samples), step)
    (0 until 6).foreach { k =>
      // rows and the frame adapter write the same head
      if (k % 2 == 0) store.append(batch(k)) else store.append(frame(batch(k)))
      ref.append(batch(k))
    }
    same("after appends")
    store.append(edgeBatch(7260000L)); ref.append(edgeBatch(7260000L))
    store.append(local(edgeBatch(7290000L))); ref.append(edgeBatch(7290000L))
    same("edge samples")
    assert(store.samples.columns.toSeq == ref.samples.columns.toSeq)
    // an appended sample with a null start timestamp reads as 0, as canonical does
    val nullStt = Seq(Row(Map("__name__" -> "up", "job" -> "n"), 7300000L, 1.0, false, null, null))
    store.append(nullStt); ref.append(nullStt)
    same("null stt")

    val m = LabelMatcher("job", MatchOp.Eq, "a")
    store.deleteSeries(List(m), 3600000L, 7260000L)
    ref.deleteSeries(m, 3600000L, 7260000L)
    same("after delete_series")
    store.cleanTombstones(); ref.cleanTombstones()
    same("after clean_tombstones")
    (6 until 9).foreach { k => store.append(batch(k)); ref.append(batch(k)) }
    same("appends after clean_tombstones")

    val dir = tmpDir("samplestore-snap")
    val name = store.snapshot(dir)
    // parquet writes every NaN as the canonical one, so the reference is
    // compared through parquet too
    ref.samples.write.parquet(s"$dir/ref")
    assert(rowsOf(spark.read.parquet(s"$dir/$name")) == rowsOf(spark.read.parquet(s"$dir/ref")))
  }

  test("edge samples in a series that straddles folds read as the union store's") {
    val opened = blockStore(initialRows)
    val store = new SampleStore(spark, opened)
    val ref = new UnionStore(opened)
    def both(rows: Seq[Row]): Unit = { store.append(rows); ref.append(rows) }
    def same(step: String): Unit = assert(rowsOf(store.samples) == rowsOf(ref.samples), step)
    // the edge series every 40 minutes over 8 h: the head may span 3 h, so
    // it folds at 5h20m and again at 7h20m and 9h20m, cutting the series
    (0 until 12).foreach(k => both(edgeBatch(7200000L + k * 2400000L)))
    assert(store.headSamples < 12 * edgeBatch(0).size, "the head never folded")
    assert(store.headSeries == 1)
    same("after folds")
    // a sample older than the last cut lands in the head, which folds it
    both(Seq(Row(edgeLabels, 7260000L, 9.0, false, null, 0L)))
    same("an old sample after the folds")
    store.cleanTombstones(); ref.cleanTombstones()
    assert(store.headSamples == 0 && store.headSeries == 0)
    both(edgeBatch(36000000L))
    same("appends after clean_tombstones")
  }

  test("a concurrent reader sees every batch whose append has returned") {
    // and nothing of a batch whose append has not: each read is exactly a
    // prefix of the batches
    val batches = (0 until 40).map(k => batch(k) ++ edgeBatch(7200000L + k * 60000L + 500L))
    val prefixes = (0 to batches.size).map(j =>
      rowsOf(Engine.canonical(local(batches.take(j).flatten))) -> j).toMap
    val store = new SampleStore(spark, frame(Nil))
    val returned = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = new Thread(() => batches.foreach { b =>
      store.append(b); returned.incrementAndGet(); Thread.sleep(20)
    })
    writer.start()
    var reads = 0
    while (writer.isAlive || reads < 3) {
      val done = returned.get()
      val seen = prefixes.get(rowsOf(store.samples))
      assert(seen.exists(_ >= done), s"a read after $done appends saw prefix $seen")
      reads += 1
    }
    writer.join()
  }

  test("an append that fails part-way leaves the store as it was") {
    val store = new SampleStore(spark, frame(Nil))
    store.append(batch(0))
    val before = rowsOf(store.samples)
    val fresh = Map("__name__" -> "fresh", "job" -> "f")
    intercept[Exception](store.append(Seq(
      Row(fresh, 7300000L, 1.0, false, null, 0L),
      Row(Map("__name__" -> "up", "job" -> "a"), null, 2.0, false, null, 0L))))
    assert(rowsOf(store.samples) == before)
    assert(store.headSeries == batch(0).size && store.samplesAppended == ((2L, 1L)))
    store.append(Seq(Row(fresh, 7300000L, 3.0, false, null, 0L)))
    assert(store.samples.filter(col("labels")("__name__") === "fresh").select("v").collect()
      .map(_.getDouble(0)).toSeq == Seq(3.0))
    assert(store.headSeries == batch(0).size + 1)
  }

  test("the read plan has the same size after 1 append and after 200") {
    val store = new SampleStore(spark, blockStore(initialRows))
    def shape(): (Int, Int) = {
      val s = store.samples
      (s.queryExecution.logical.collect { case p => p }.size, s.rdd.getNumPartitions)
    }
    store.append(batch(3, 10000L))
    val one = shape()
    // 200 batches 10 s apart stay inside the head's 3 h range
    (1 until 200).foreach(k => store.append(batch(3 + k, 10000L)))
    assert(shape() == one)
    assert(store.samples.count() == initialRows.size + 200 * 4)
  }

  test("the head reads as task-converted rows and folds blocks older than 1.5 ranges") {
    val opened = blockStore(initialRows)
    val store = new SampleStore(spark, opened)
    val ref = new UnionStore(opened)
    // one batch every 30 minutes from 2 h to 7.5 h. The head may span 3 h
    // (1.5 ranges of 2 h): the batch at 5.5 h folds every sample before 4 h,
    // the batch at 7.5 h every sample before 6 h.
    val heldBatches = Seq(1, 2, 3, 4, 5, 6, 7, 4, 5, 6, 7, 4)
    (0 until 12).foreach { k =>
      val b = batch(0).map(r => Row(r(0), 7200000L + k * 1800000L, r(2), r(3), r(4), r(5)))
      store.append(b); ref.append(b)
      assert(store.headSamples == heldBatches(k) * b.size, s"head after batch $k")
    }
    assert(rowsOf(store.samples) == rowsOf(ref.samples))
    assert(store.headSeries == batch(0).size)
    // the head enters the optimizer as an RDD, not as a local relation of rows
    val plan = store.samples.queryExecution.optimizedPlan
    assert(plan.collect { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }.isEmpty,
      plan.treeString)
  }

  test("appending driver rows runs no Spark job; the frame adapter does") {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case null => ""
          case g => g
        })
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val store = new SampleStore(spark, blockStore(initialRows))
      val sc = spark.sparkContext
      sc.setJobGroup("samplestore-rows", "row appends")
      (0 until 20).foreach(k => store.append(batch(k)))
      sc.setJobGroup("samplestore-frame", "frame append")
      store.append(frame(batch(20)))
      // the listener bus is ordered: once the sentinel's job is seen, every
      // earlier job has been seen too
      sc.setJobGroup("samplestore-sentinel", "sentinel")
      spark.range(1).collect()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("samplestore-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val seen = groups.asScala.toSeq
      assert(seen.contains("samplestore-sentinel"))
      assert(!seen.contains("samplestore-rows"))
      assert(seen.contains("samplestore-frame"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("remote write into a block-layout store opened with its block column is queryable") {
    val store = new SampleStore(spark, blockStore(initialRows))
    val api = new HttpApi(spark, store, 0, () => 7400000L)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      val body = RemoteWrite.encodeV1(Seq(
        RemoteWrite.Sample(Map("__name__" -> "pushed", "job" -> "rw"), 7380000L, 7.0)))
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1/write"))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 204, resp.body())
      val q = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${api.boundPort}/api/v1/query?query=pushed&time=7400")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains("\"job\":\"rw\"") &&
        q.body().contains("[7400,\"7\"]"), q.body())
      // the head rows carry the block the sink would have given them
      val blocks = store.samples.filter(col("metric") === "pushed").select("block").collect()
      assert(blocks.map(_.getLong(0)).toSeq == Seq(7380000L / Ingest.blockMs * Ingest.blockMs))
    } finally api.stop()
  }
}
