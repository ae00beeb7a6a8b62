package perfbench

import graft.promql.Engine
import graft.web.{RemoteWrite, SampleStore}
import org.apache.spark.sql.{Row, SparkSession}

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable

/** `live_ingest`: an open loop of Prometheus remote-write 1.0 requests
  * (`POST /api/v1/write`, snappy protobuf) at a fixed rate into the live
  * in-memory store, beside one closed-loop reader of the last 30 minutes.
  *
  * Series `rw_requests_total{job, instance}` are counters growing 0.1/s, so
  * `sum by (job)(rate(rw_requests_total[1m]))` is `instances × 0.1` for every
  * job at every step. Batch k holds every series' samples at
  * `LiveT0 + k·50 s + {0,10,20,30,40} s`. Set-up writes the 30 minutes
  * before `LiveT0` as a block-layout parquet store, as a restarted server
  * would find it on disk, serves it as `new SampleStore(spark,
  * spark.read.parquet(dir))`, and sends the last `warmBatches` of those
  * minutes (k < 0) through the write endpoint. */
object LiveIngest {

  final case class Sizes(jobs: Int, instances: Int, samplesPerSeries: Int, batchesPerS: Int,
      backfillS: Long, warmBatches: Int, readRangeS: Long)
  object Sizes {
    val bench: Sizes = Sizes(jobs = 4, instances = 50, samplesPerSeries = 5, batchesPerS = 5,
      backfillS = 1800, warmBatches = 8, readRangeS = 1800)
    val tiny: Sizes = Sizes(jobs = 2, instances = 5, samplesPerSeries = 5, batchesPerS = 4,
      backfillS = 600, warmBatches = 4, readRangeS = 600)
  }

  /** the store checkpoints every this many appends */
  val CheckpointEvery = 64

  val IntervalMs = 10000L
  val LiveT0: Long = 1700006400000L
  val Query = "sum by (job)(rate(rw_requests_total[1m]))"
  val SlopePerS = 0.1

  final case class Series(labels: Map[String, String], idx: Int)
  def seriesOf(sz: Sizes): Seq[Series] =
    (for (j <- 0 until sz.jobs; i <- 0 until sz.instances) yield Map(
      "__name__" -> "rw_requests_total", "job" -> s"job$j", "instance" -> f"inst$i%03d"))
      .zipWithIndex.map { case (l, i) => Series(l, i) }

  def value(s: Series, t: Long): Double = s.idx * 1000.0 + (t - LiveT0 + 3600000L) / 1000.0 * SlopePerS

  def batchMs(sz: Sizes): Long = sz.samplesPerSeries * IntervalMs
  /** timestamp of batch k's last sample */
  def lastTs(sz: Sizes, k: Int): Long = LiveT0 + k * batchMs(sz) + (sz.samplesPerSeries - 1) * IntervalMs

  // ---------- PRW 1.0 encoding ----------

  private def varint(o: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }
  private def field(o: java.io.ByteArrayOutputStream, num: Int, bytes: Array[Byte]): Unit = {
    varint(o, (num << 3 | 2).toLong); varint(o, bytes.length.toLong); o.write(bytes)
  }

  /** WriteRequest{timeseries: [TimeSeries{labels (sorted), samples}]},
    * snappy-compressed */
  def encode(batch: Seq[(Series, Seq[Long])]): Array[Byte] = {
    val req = new java.io.ByteArrayOutputStream()
    batch.foreach { case (s, ts) =>
      val tsb = new java.io.ByteArrayOutputStream()
      s.labels.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val lb = new java.io.ByteArrayOutputStream()
        field(lb, 1, k.getBytes("UTF-8")); field(lb, 2, v.getBytes("UTF-8"))
        field(tsb, 1, lb.toByteArray)
      }
      ts.foreach { t =>
        val sb = new java.io.ByteArrayOutputStream()
        sb.write(0x09) // field 1, fixed64 double
        val bits = java.lang.Double.doubleToLongBits(value(s, t))
        (0 until 8).foreach(i => sb.write(((bits >>> (8 * i)) & 0xff).toInt))
        varint(sb, 2 << 3); varint(sb, t)
        field(tsb, 2, sb.toByteArray)
      }
      field(req, 1, tsb.toByteArray)
    }
    org.xerial.snappy.Snappy.compress(req.toByteArray)
  }

  def batchBody(sz: Sizes, series: Seq[Series], k: Int): Array[Byte] = {
    val base = LiveT0 + k * batchMs(sz)
    encode(series.map(s => s -> (0 until sz.samplesPerSeries).map(j => base + j * IntervalMs)))
  }

  /** number of backfill batches (k = -backfillBatches .. -1) */
  def backfillBatches(sz: Sizes): Int = (sz.backfillS * 1000L / batchMs(sz)).toInt

  /** write the backfill batches k < -warmBatches in the block-sink layout */
  def writeBackfill(spark: SparkSession, sz: Sizes, series: Seq[Series], dir: String): Unit = {
    val ts = (-backfillBatches(sz) until -sz.warmBatches).flatMap(k =>
      (0 until sz.samplesPerSeries).map(j => LiveT0 + k * batchMs(sz) + j * IntervalMs))
    val rows = for (s <- series; t <- ts) yield Row(s.labels, t, value(s, t))
    Served.writeBlockLayout(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType(Engine.samplesSchema.fields.take(3))), dir)
  }

  /** The on-disk store without its `block` partition column: appends to a
    * store that has it fail (the appended batch has no `block`, and the
    * union requires the same columns), so a live store is opened without it. */
  def onDisk(spark: SparkSession, dir: String) = spark.read.parquet(dir).drop("block")

  /** decoded rows of a request body, as the write handler frames them */
  def decodedFrame(spark: SparkSession, body: Array[Byte]) = {
    val rows = RemoteWrite.decodeFull(body, isV2 = false)._1
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(s =>
      Row(s.labels, s.t, s.v, false, null, s.stt)), 1), Engine.samplesSchema)
  }

  /** a reader response must contain the last batch acked before the read
    * was sent: every job has a point at that batch's last timestamp (the
    * 1m rate window there holds one sample of any earlier batch only), and
    * its value is the closed form */
  def check(sz: Sizes, endMs: Long)(ss: Seq[Http.Series]): Option[String] = {
    val want = sz.instances * SlopePerS
    if (ss.size != sz.jobs) Some(s"${ss.size} series, want ${sz.jobs}")
    else ss.collectFirst {
      case s if s.ts.isEmpty || s.ts.last != endMs =>
        s"${s.labels}: last point at ${s.ts.lastOption.getOrElse(-1L)}, want $endMs (last acked batch)"
      case s if !Http.close(s.vs.last, want) => s"${s.labels}: value ${s.vs.last} at end, want $want"
    }
  }

  final case class Ack(k: Int, dueNs: Long, ackNs: Long, status: Int, error: Option[String])

  def run(spark: SparkSession, a: Main.Args, sz: Sizes, trace: Option[Trace],
      keepDigests: Boolean = false): Main.Outcome = {
    val series = seriesOf(sz)
    val nBatches = sz.batchesPerS * a.seconds
    val nBack = backfillBatches(sz)
    val bodies = (-sz.warmBatches until nBatches).map(k => k -> batchBody(sz, series, k)).toMap
    require(sz.warmBatches + nBatches < CheckpointEvery, "the measured phase would checkpoint")
    final case class Env(store: SampleStore, api: graft.web.HttpApi, dir: String)
    var prev: Option[Env] = None
    // one set-up: write the on-disk part of the backfill, open it, start the
    // server and send the rest of the backfill through the write endpoint
    val (setupS, env) = Main.timedSetup(Main.SetupReps) { i =>
      prev.foreach { p => p.api.stop(); Main.deleteTree(new java.io.File(p.dir)) }
      val dir = s"${a.work}/live-$i"
      writeBackfill(spark, sz, series, dir)
      val store = new SampleStore(spark, onDisk(spark, dir))
      val api = Served.startServer(spark, store)
      (-sz.warmBatches until 0).foreach { k =>
        val w = Http.write(api.boundPort, bodies(k))
        if (w.status != 204) throw new IllegalStateException(
          s"backfill write $k: HTTP ${w.status} ${new String(w.body, "UTF-8").take(500)}")
      }
      val e = Env(store, api, dir)
      prev = Some(e)
      e
    }
    val port = env.api.boundPort
    // shadow store for the traced replay of decode + append, at the same
    // append count as the served store
    val shadow = trace.map { _ =>
      val st = new SampleStore(spark, onDisk(spark, env.dir))
      (-sz.warmBatches until 0).foreach(k => st.append(decodedFrame(spark, bodies(k))))
      st
    }
    val acks = new java.util.concurrent.ConcurrentLinkedQueue[Ack]()
    // highest k such that every batch up to k is acked
    val lastAcked = new java.util.concurrent.atomic.AtomicInteger(-1)
    val acked = mutable.BitSet.empty
    val decodeMs, appendMs, lagMs = mutable.ArrayBuffer.empty[Double]
    var appends = sz.warmBatches
    val pool = Executors.newFixedThreadPool(8)
    val t0 = System.nanoTime() + 50000000L
    val periodNs = 1000000000L / sz.batchesPerS
    val generator = new Thread(() => {
      (0 until nBatches).foreach { k =>
        val due = t0 + k * periodNs
        var now = System.nanoTime()
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
        pool.execute(() => {
          val sent = System.nanoTime()
          val rootId = trace.map(_.newId()).getOrElse(0L)
          val httpId = trace.map(_.newId()).getOrElse(0L)
          val sentUs = trace.map(_.nowUs()).getOrElse(0L)
          val (status, err) =
            try { val r = Http.write(port, bodies(k)); (r.status, None) }
            catch { case e: Exception => (0, Some(e.toString)) }
          val ack = System.nanoTime()
          if (status == 204) acked.synchronized {
            acked += k
            while (acked.contains(lastAcked.get() + 1)) lastAcked.incrementAndGet()
          }
          acks.add(Ack(k, due, ack, status, err))
          trace.foreach { t =>
            val req = s"w$k"
            t.add(httpId, "web.http", sentUs, t.nowUs(), rootId, req)
            val (_, dMs) = t.timed("web.remote_write.decode", rootId, req)(
              RemoteWrite.decodeFull(bodies(k), isV2 = false))
            val df = decodedFrame(spark, bodies(k))
            shadow.get.synchronized {
              appends += 1
              appendMs += t.timed("web.store.append", rootId, req)(shadow.get.append(df))._2
              decodeMs += dMs
              lagMs += (sent - due) / 1e6
            }
            t.add(rootId, "write", sentUs - (sent - due) / 1000L, t.nowUs(), 0L, req)
          }
        })
      }
    }, "perfbench-generator")
    val reads = mutable.ArrayBuffer.empty[Served.Result]
    val replays = mutable.ArrayBuffer.empty[Served.Replay]
    val httpSpans = mutable.ArrayBuffer.empty[Trace.HttpSpan]
    val partitions, planNodes = mutable.ArrayBuffer.empty[Double]
    val scheduleEnd = t0 + nBatches * periodNs
    val reader = new Thread(() => {
      var k = 0
      var lastReadNs = 0L
      // no read that would outlast the write schedule by more than half the
      // last read: the reads are load beside the writes, not measured work
      while (acks.size < nBatches && System.nanoTime() + lastReadNs / 2 < scheduleEnd) {
        val r0 = System.nanoTime()
        val last = lastAcked.get()
        val end = lastTs(sz, last)
        if (trace.nonEmpty) {
          val s = env.store.samples
          partitions += s.rdd.getNumPartitions
          planNodes += s.queryExecution.logical.collect { case p => p }.size
        }
        reads += Served.request(spark, port, env.store, s"r$k", Query, end - sz.readRangeS * 1000L,
          end, IntervalMs, check(sz, end), keepDigests, trace, replays, httpSpans,
          collect = false)
        lastReadNs = System.nanoTime() - r0
        k += 1
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join(); reader.join()
    pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)
    val all = acks.toArray(Array.empty[Ack]).toSeq.sortBy(_.k)
    val wallMs = (all.map(_.ackNs).max - t0) / 1e6
    val heap = Main.retainedHeapMb()
    val ackMs = all.map(x => (x.ackNs - x.dueNs) / 1e6)
    val wFailed = all.count(x => x.status != 204)
    val rFailed = reads.count(_.error.nonEmpty)
    val layers = trace.map { t =>
      // the measured phase stays below the store's checkpoint; replay appends
      // on the shadow store up to it and time the append that checkpoints
      while (appends < CheckpointEvery - 1) {
        shadow.get.append(decodedFrame(spark, bodies(nBatches - 1))); appends += 1
      }
      val checkpointMs = t.timed("web.store.checkpoint", 0L, "checkpoint")(
        shadow.get.append(decodedFrame(spark, bodies(nBatches - 1))))._2
      val m = Served.layerMetrics(t, reads.toSeq, replays.toSeq, httpSpans.toSeq, wallMs, a.cpus) ++
        Map("web.remote_write.decode_ms" -> Layers.mean(decodeMs),
          "web.store.append_ms" -> Layers.mean(appendMs),
          "web.store.checkpoint_ms" -> checkpointMs,
          "web.store.partitions" -> Layers.mean(partitions),
          "web.store.plan_nodes" -> Layers.mean(planNodes),
          "bench.generator_lag_ms" -> Main.percentile(lagMs.toSeq, 99))
      val spans = t.allSpans()
      t.writeSpans(spans)
      (m, spans)
    }
    env.api.stop()
    Main.deleteTree(new java.io.File(env.dir))
    Main.Outcome(
      attempted = (all.size + reads.size).toLong, failed = (wFailed + rFailed).toLong,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_mean_ms" -> (Layers.mean(ackMs), "ms"),
        "op_tail_ms" -> (Main.percentile(ackMs, TailPct), "ms"),
        "retained_heap_mb" -> (heap, "MB")),
      layers = layers.map(l => Layers.complete(l._1)).getOrElse(Map.empty),
      info = Map("sizes" -> Map("series" -> series.size, "samples_per_batch" ->
          series.size * sz.samplesPerSeries, "batches" -> nBatches,
          "batches_per_s" -> sz.batchesPerS, "backfill_batches" -> nBack,
          "warm_batches" -> sz.warmBatches,
          "read_range_s" -> sz.readRangeS),
        "tail_percentile" -> TailPct, "measured_s" -> wallMs / 1000.0,
        "ops_per_s" -> (all.size + reads.size) / (wallMs / 1000.0),
        "reads" -> reads.size, "query_p50_ms" -> Main.median(reads.map(_.latMs).toSeq),
        "write_ack_p50_ms" -> Main.median(ackMs), "ack_ms" -> ackMs, "write_ack_tail_ms" ->
          Main.percentile(ackMs, TailPct),
        "errors" -> (all.flatMap(x => x.error.orElse(
          if (x.status != 204) Some(s"write ${x.k}: HTTP ${x.status}") else None)) ++
          reads.flatMap(_.error)).take(5)) ++
        layers.map(l => "self_ms" -> trace.get.selfTimes(l._2).map { case (k, (n, tot, self)) =>
          k -> Map("count" -> n, "total_ms" -> tot, "self_ms" -> self) }).toMap,
      digests = if (keepDigests) reads.map(r => s"${r.req} ${r.digest}").toSeq else Nil)
  }

  /** `op_tail_ms` percentile of the write acks */
  val TailPct = 90.0
}
