package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** JVM side of the benchmark (started by perfbench/run.py).
  *
  * One process drives one workload against the program's public surfaces,
  * measures for `--seconds`, checks every output and writes one result file:
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`), the run record, and for traced runs the span file. */
object Main {

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, cpus: Int, shufflePartitions: Int, work: String, out: String,
      record: String, count: Int)

  /** Outcome of one workload run. `e2e` holds the end-to-end metrics,
    * `layers` the per-layer ones (traced runs only), `info` whatever else
    * the run record should keep (sizes, per-shape figures, check details). */
  final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, (Double, String)],
      layers: Map[String, (Double, String)], info: Map[String, Any], digests: Seq[String])

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cpus").toInt, m("shuffle-partitions").toInt, m("work"), m("out"), m("record"),
      m.getOrElse("count", "0").toInt)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    graft.promql.Engine.tunedConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** exit explicitly: the HTTP servers' threads would keep the JVM alive */
  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parseArgs(argv)
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val conf = Map(
      "spark.master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString) ++
      graft.promql.Engine.tunedConf.map { case (k, v) => k -> spark.conf.get(k, v) }
    val base = Map[String, Any]("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "session_s" -> sessionS, "conf" -> conf,
      "record" -> Json.raw(a.record))
    try {
      val body: Map[String, Any] =
        if (a.mode == "selftest") SelfTest.run(spark, a)
        else if (a.mode == "record") CurationBatch.record(spark, a, a.count)
        else {
          val o = runWorkload(spark, a)
          val ms = if (a.trace) o.layers else o.e2e
          Map("correct" -> (o.failed == 0), "attempted" -> o.attempted, "failed" -> o.failed,
            "metrics" -> ms.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
            "end_to_end" -> o.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
            "info" -> o.info, "output_digests" -> o.digests)
      }
      val out = new java.io.File(a.out)
      java.nio.file.Files.writeString(out.toPath, Json.render(base ++ body))
    } finally spark.stop()
  }

  def runWorkload(spark: SparkSession, a: Args): Outcome = {
    val trace = if (a.trace) Some(new Trace(spark, s"${a.out.stripSuffix(".json")}.spans.jsonl"))
      else None
    try a.workload match {
      case "dashboard_range" => Dashboard.run(spark, a, Dashboard.Sizes.bench, trace)
      case "live_ingest" => LiveIngest.run(spark, a, LiveIngest.Sizes.bench, trace)
      case "curation_batch" => CurationBatch.run(spark, a, CurationBatch.Sizes.bench, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally trace.foreach(_.close())
  }

  // ---------- helpers shared by the workloads ----------

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** nearest-rank percentile; 0 for an empty sample */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** set up `SetupReps` times and return (median seconds, last set-up) */
  def timedSetup[T](reps: Int)(f: Int => T): (Double, T) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until reps).foreach { i =>
      val t = System.nanoTime()
      last = Some(f(i))
      times += (System.nanoTime() - t) / 1e9
    }
    (median(times.toSeq), last.get)
  }

  /** used heap after a full GC: the least of three GC-then-read rounds, so
    * garbage released while the first collections run is not counted */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
