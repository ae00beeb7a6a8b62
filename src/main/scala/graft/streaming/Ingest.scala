package graft.streaming

import graft.promql.Engine
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming ingest path (SURVEY §2.1 / M6): exposition text stream →
  * relabel pipeline → watermarked append to the time-partitioned samples
  * store, plus staleness-marker synthesis when a series disappears
  * (ref: scrape/scrape.go:1575 staleness append; model/value/value.go:28).
  *
  * 100 TB notes:
  *  - the sink partitions by a 2h time bucket (mirroring the reference's
  *    block duration, tsdb/db.go:56) so query-time partition pruning bounds
  *    every scan;
  *  - the watermark IS the out-of-order window (tsdb/db.go:192
  *    OutOfOrderTimeWindow) — late rows beyond it are dropped exactly like
  *    the reference's OOO cutoff;
  *  - staleness state is per-series keyed state (flatMapGroupsWithState),
  *    sharded by series hash — write parallelism is partition parallelism,
  *    the same lock-striping role as the reference's stripeSeries
  *    (tsdb/head.go:2253).
  */
object Ingest {

  /** 2h time bucket, the reference's block duration */
  val blockMs: Long = 2 * 3600 * 1000L

  /** the sink's `block` partition value of a sample: the start of its
    * `width`-wide time bucket */
  def blockCol(width: Long = blockMs): Column = (col("t") / width).cast("long") * width

  /** the sink's flat `metric` column */
  def metricCol: Column = element_at(col("labels"), "__name__")

  /** exposition text file stream → relabeled samples stream */
  def source(spark: SparkSession, dir: String, rules: Seq[Relabel.Rule] = Nil): DataFrame = {
    val lines = spark.readStream.text(dir)
    Relabel(Exposition.parse(lines, defaultTsMs = 0L), rules)
  }

  /** append the stream to the partitioned samples store; materializes the
    * flat `metric` column (selector fast path / partition pruning) and the
    * 8-byte `__sg` series signature ([[Engine.withSeriesSig]]) so queries
    * never re-derive either from the labels map */
  def sink(samples: DataFrame, outDir: String, checkpointDir: String,
      oooWindowMs: Long = 10 * 60 * 1000L): StreamingQuery =
    Engine.withSeriesSig(samples)
      .withColumn("metric", metricCol)
      .withColumn("ts", timestamp_millis(col("t")))
      .withWatermark("ts", s"$oooWindowMs milliseconds")
      .withColumn("block", blockCol())
      .drop("ts")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("block")
      .outputMode(OutputMode.Append)
      .start()

  final case class SeriesEvent(sig: String, labels: Map[String, String], t: Long, v: Double)
  final case class SeriesState(lastSeenMs: Long, labels: Map[String, String])
  final case class StaleOut(labels: Map[String, String], t: Long, v: Double, stale: Boolean)

  /** Synthesize staleness markers: when a series key stops appearing for
    * `staleAfterMs`, emit one marker row `staleAfter` past its last sample
    * (the reference appends StaleNaN when a target/series vanishes from a
    * scrape). Keyed per-series state with a processing-time timeout. */
  def withStaleness(samples: DataFrame, staleAfterMs: Long): Dataset[StaleOut] = {
    val spark = samples.sparkSession
    import spark.implicits._
    val keyed = samples
      .select(to_json(map_from_entries(array_sort(map_entries(col("labels"))))).as("sig"),
        col("labels"), col("t"), col("v"))
      .as[SeriesEvent]
      .groupByKey(_.sig)
    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
      (_: String, events: Iterator[SeriesEvent], state: GroupState[SeriesState]) => {
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator(StaleOut(s.labels, s.lastSeenMs + staleAfterMs, Double.NaN, stale = true))
        } else {
          val evs = events.toSeq
          val latest = evs.maxBy(_.t)
          state.update(SeriesState(latest.t, latest.labels))
          state.setTimeoutDuration(staleAfterMs)
          evs.iterator.map(e => StaleOut(e.labels, e.t, e.v, stale = false))
        }
      })
  }

  /** Convert classic-histogram series (`x_bucket{le=…}`/`x_count`/`x_sum`)
    * into native custom-bounds histograms `x` (NHCB), keeping the classic
    * series alongside — the scrape option convert_classic_histograms_to_nhcb
    * (ref: util/convertnhcb/convertnhcb.go TempHistogram.Convert), here as a
    * distributed transform: one shuffle keyed on (series-sig, t), group
    * sizes = bucket counts. */
  def classicToNhcb(samples: DataFrame): DataFrame = {
    import graft.promql.FHist
    val name = element_at(col("labels"), "__name__")
    val floats = samples.filter(col("h").isNull && !col("stale") && name.isNotNull)
    def strip(suffix: String) = map_concat(
      map_filter(col("labels"), (k, _) => k =!= "__name__" && k =!= "le"),
      map(lit("__name__"), expr(s"substring(labels['__name__'], 1, " +
        s"length(labels['__name__']) - ${suffix.length})")))
    val leVal = {
      val l = element_at(col("labels"), "le")
      when(l === "+Inf" || l === "Inf", lit(Double.PositiveInfinity))
        .when(l === "-Inf", lit(Double.NegativeInfinity))
        .otherwise(l.cast("double"))
    }
    def sig(c: org.apache.spark.sql.Column) = xxhash64(to_json(
      map_from_entries(array_sort(map_entries(c)))))
    val b = floats.filter(name.endsWith("_bucket") && map_contains_key(col("labels"), "le"))
      .withColumn("le", leVal).filter(col("le").isNotNull)
      .withColumn("base", strip("_bucket"))
      .select(sig(col("base")).as("__sg"), col("base"), col("t"), col("le"), col("v"))
      .groupBy(col("__sg"), col("t"))
      .agg(first(col("base")).as("labels"),
        sort_array(collect_list(struct(col("le"), col("v")))).as("bs"))
    val c = floats.filter(name.endsWith("_count"))
      .withColumn("base", strip("_count"))
      .select(sig(col("base")).as("__sg"), col("t"), col("v").as("cnt"))
    val s = floats.filter(name.endsWith("_sum"))
      .withColumn("base", strip("_sum"))
      .select(sig(col("base")).as("__sg"), col("t"), col("v").as("sum"))
    val toNhcb = udf { (bs: Seq[org.apache.spark.sql.Row], cnt: java.lang.Double,
        sum: java.lang.Double) =>
      var pts = bs.map(r => (r.getDouble(0), r.getDouble(1)))
      val count = if (cnt != null) cnt.doubleValue
                  else pts.lastOption.map(_._2).getOrElse(0.0)
      if (pts.isEmpty || !pts.last._1.isPosInfinity)
        pts = pts :+ (Double.PositiveInfinity, count)
      val cv = pts.init.map(_._1)
      val cum = pts.map(_._2)
      val diffs = cum.zip(0.0 +: cum.init).map { case (x, p) => x - p }
      FHist(FHist.CustomSchema, 0.0, 0.0, count, if (sum != null) sum.doubleValue else 0.0,
        diffs.indices, diffs, Nil, Nil, cv, FHist.HintUnknown).compact
    }
    val native = b
      .join(c, Seq("__sg", "t"), "left")
      .join(s, Seq("__sg", "t"), "left")
      .select(col("labels"), col("t"), lit(Double.NaN).as("v"), lit(false).as("stale"),
        toNhcb(col("bs"), col("cnt"), col("sum")).as("h"), lit(0L).as("stt"))
    samples.unionByName(native.select(samples.columns.map(col): _*))
  }

  /** retention maintenance: drop 2h block partitions older than the cutoff
    * (the reference's time-retention partition drop) */
  def applyRetention(spark: SparkSession, dir: String, keepMs: Long, nowMs: Long): Seq[String] = {
    val cutoff = (nowMs - keepMs) / blockMs * blockMs
    val root = new java.io.File(dir)
    val dropped = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("block="))
      .filter(f => f.getName.stripPrefix("block=").toLong < cutoff)
    dropped.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    dropped.map(_.getName).toSeq
  }
}
