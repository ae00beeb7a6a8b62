package graft.web

import graft.promql.{Engine, LabelMatcher, MatchOp}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

import scala.collection.mutable

/** Mutable sample store backing the serving layer (HTTP API, remote write,
  * OTLP, scrape, rule outputs, federation).
  *
  * The store is the frame it was opened with (the persisted blocks) plus a
  * driver-resident HEAD of the samples appended since: a series registry
  * with one entry per distinct label set, the analog of the reference's
  * `stripeSeries` of `memSeries` (ref: tsdb/head.go:2253, tsdb/head.go:2735).
  * An entry holds its labels once and its samples as primitive columns —
  * timestamps, values by their raw bits, a stale bit set, and start
  * timestamps and native histograms only once the series has had one
  * ([[SampleStore.Series]]). An append groups its batch by series, writes
  * each series' new samples past its published length, and publishes the
  * new registry in one volatile snapshot before it returns, so a write is
  * acked only once a read taken after it sees the whole batch. A published
  * sample is never rewritten, so a read takes the snapshot without the
  * append lock.
  *
  * A read is the opened frame ∪ ONE relation over the snapshot: an RDD of
  * its series with a fixed partition count. Each task receives its series'
  * published prefixes, copied as the task is serialized, and decodes them
  * into rows, so the head never enters the driver's optimizer as data.
  * Its derived columns (`__sg`, `metric`, `block` — whichever the opened
  * frame carries) come from the same Spark expressions as the block sink
  * ([[graft.streaming.Ingest.sink]]). The read plan therefore has the same
  * shape after one append or a thousand.
  *
  * The head is bounded the way the reference's is: once its samples span
  * more than 1.5 block ranges ([[graft.streaming.Ingest.blockMs]]), the
  * append that crossed the limit cuts every series at the start of the
  * newest 1.5 ranges, moves the older samples into the persisted part as one
  * checkpointed (spillable) relation, and keeps the rest
  * (ref: tsdb/head.go compactable, tsdb/db.go compactHead). That fold is the
  * only append of driver rows that runs a Spark job; the persisted part
  * grows by one relation per folded block.
  *
  * A store opened without `h` or `stt` marks them store-absent (see
  * [[Engine.canonical]]), which lets the planner erase histogram and
  * start-timestamp legs; the first appended histogram (non-zero start
  * timestamp) drops that mark for good.
  *
  * Deletions are recorded as TOMBSTONES — (matchers, interval) pairs applied
  * as filters at read time, exactly the reference's model
  * (ref: tsdb/tombstones/tombstones.go; delete API web/api/v1/api.go:498) —
  * and materialized by [[cleanTombstones]], which also folds the whole head
  * into the persisted part. At 100 TB the persisted part is a parquet/Delta
  * table: tombstones map to a predicate table joined at scan,
  * cleanTombstones to Delta DELETE/VACUUM (SURVEY §1.4); the query path is
  * identical either way (a DataFrame in canonical schema).
  */
final class SampleStore(spark: SparkSession, initial: DataFrame) {

  import SampleStore.{Head, Series, State, Tombstone}

  @volatile private var state = State(Engine.canonical(initial), Head.empty, Nil)

  // label set → index of its series in the head; the appender's, under the lock
  private val seriesIds = mutable.HashMap.empty[scala.collection.Map[String, String], Int]

  // head counters (ref: tsdb/head.go headMetrics samplesAppended), kept while
  // appending — /metrics reads them without a job or a scan
  @volatile private var floatsAppended = 0L
  @volatile private var histogramsAppended = 0L

  /** samples appended to the head since the store opened: (float, histogram) */
  def samplesAppended: (Long, Long) = (floatsAppended, histogramsAppended)

  /** distinct series held in the head */
  def headSeries: Int = state.head.series.size

  /** least and greatest timestamp held in the head; (Long.MaxValue,
    * Long.MinValue) while it is empty, as the reference's head reports */
  def headTimeRange: (Long, Long) = { val h = state.head; (h.minT, h.maxT) }

  /** samples held in the head */
  private[graft] def headSamples: Int = state.head.series.iterator.map(_.n).sum

  private def matcherCond(m: LabelMatcher): org.apache.spark.sql.Column = {
    val c = coalesce(element_at(col("labels"), m.name), lit(""))
    m.op match {
      case MatchOp.Eq => c === m.value
      case MatchOp.Neq => c =!= m.value
      case MatchOp.Re => c.rlike("^(?:" + m.value + ")$")
      case MatchOp.NotRe => !c.rlike("^(?:" + m.value + ")$")
    }
  }

  /** series' samples as a frame with the base's derived columns */
  private def headFrame(series: Seq[Series], baseCols: Array[String]): DataFrame = {
    val sc = spark.sparkContext
    var h = Engine.canonical(spark.createDataFrame(
      sc.parallelize(series, sc.defaultParallelism).flatMap(Series.rows), Engine.samplesSchema))
    if (baseCols.contains("__sg")) h = Engine.withSeriesSig(h)
    if (baseCols.contains("metric")) h = h.withColumn("metric", Ingest.metricCol)
    if (baseCols.contains("block")) h = h.withColumn("block", Ingest.blockCol())
    h
  }

  /** canonical samples view with tombstones applied */
  def samples: DataFrame = {
    val s = state
    val all =
      if (s.head.series.isEmpty) s.base
      else s.base.unionByName(headFrame(s.head.series, s.base.columns), allowMissingColumns = true)
    s.tombs.foldLeft(all) { (df, ts) =>
      val hit = ts.matchers.map(matcherCond).reduce(_ && _) &&
        col("t") >= ts.minT && col("t") <= ts.maxT
      df.filter(!hit)
    }
  }

  /** append driver-held rows in [[Engine.samplesSchema]] order (labels, t,
    * v, stale, h, stt) — a decoded remote-write/OTLP request, a scrape's
    * report series, stale markers. Runs no Spark job unless the head has
    * outgrown its range and folds. */
  def append(rows: Seq[Row]): Unit = if (rows.nonEmpty) synchronized {
    val s = state
    var series = s.head.series
    // series first seen in this batch; indexed only once it is published, so
    // a batch that fails part-way leaves no index entry past the head
    val fresh = mutable.HashMap.empty[scala.collection.Map[String, String], Int]
    val touched = mutable.HashMap.empty[Int, Series.Appender]
    var minT = s.head.minT
    var maxT = s.head.maxT
    var hists = 0
    var stts = false
    // a decoded request gives all samples of a series one labels object
    var lastLabels: AnyRef = null
    var appender: Series.Appender = null
    rows.foreach { r =>
      val labels = r.getMap[String, String](0)
      if (!(labels eq lastLabels)) {
        val id = seriesIds.getOrElse(labels,
          fresh.getOrElseUpdate(labels, { series :+= Series.empty(labels); series.size - 1 }))
        appender = touched.getOrElseUpdate(id, new Series.Appender(series(id)))
        lastLabels = labels
      }
      val t = r.getLong(1)
      val hist = if (r.isNullAt(4)) null else r.getStruct(4)
      val st = if (r.isNullAt(5)) 0L else r.getLong(5)
      appender.add(t, java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        !r.isNullAt(3) && r.getBoolean(3), hist, st)
      if (t < minT) minT = t
      if (t > maxT) maxT = t
      if (hist != null) hists += 1
      if (st != 0L) stts = true
    }
    touched.foreach { case (id, a) => series = series.updated(id, a.result) }
    var base = s.base
    if (hists > 0) base = SampleStore.present(base, "h")
    if (stts) base = SampleStore.present(base, "stt")
    val next = State(base, Head(series, minT, maxT), s.tombs)
    state = if (maxT - minT > Ingest.blockMs / 2 * 3) fold(next) else { seriesIds ++= fresh; next }
    histogramsAppended += hists
    floatsAppended += rows.size - hists
  }

  /** cut every series at the start of the head's newest 1.5 block ranges and
    * move the older samples into the persisted part (ref: tsdb/head.go
    * compactable) */
  private def fold(s: State): State = {
    val width = Ingest.blockMs
    val cut = Math.floorDiv(s.head.maxT - width / 2 * 3, width) * width + width
    val old = s.head.series.map(_.filter(_ < cut)).filter(_.n > 0)
    val persisted = headFrame(old, s.base.columns).localCheckpoint(true)
    s.copy(base = s.base.unionByName(persisted, allowMissingColumns = true),
      head = resetHead(s.head.series.map(_.filter(_ >= cut)).filter(_.n > 0)))
  }

  /** the head holding exactly `series`, and the label index that goes with it */
  private def resetHead(series: Vector[Series]): Head = {
    seriesIds.clear()
    series.iterator.zipWithIndex.foreach { case (x, i) => seriesIds(x.labels) = i }
    Head(series, series.iterator.map(_.minT).foldLeft(Long.MaxValue)(math.min),
      series.iterator.map(_.maxT).foldLeft(Long.MinValue)(math.max))
  }

  /** append a frame in canonical schema (e.g. a relabeled scrape, a rule
    * output): materialized once, here, then held like any other head rows */
  def append(batch: DataFrame): Unit = append(SampleStore.rows(batch))

  /** /api/v1/admin/tsdb/delete_series (ref: web/api/v1/api.go:498) */
  def deleteSeries(matchers: List[LabelMatcher], minT: Long, maxT: Long): Unit =
    synchronized { state = state.copy(tombs = Tombstone(matchers, minT, maxT) :: state.tombs) }

  // ---------- metric metadata (ref: schema/labels.go, api.go /metadata) ----

  /** family → (type, unit, help); family-cardinality, driver-resident */
  @volatile private var meta: Map[String, (String, String, String)] = Map.empty

  def mergeMetadata(rows: Map[String, (String, String, String)]): Unit =
    synchronized { meta = meta ++ rows }

  /** merge from an [[graft.streaming.OpenMetrics.metadataOf]]-shaped frame */
  def mergeMetadata(df: DataFrame): Unit =
    mergeMetadata(df.collect().map { r =>
      def s(i: Int) = if (r.isNullAt(i)) "" else r.getString(i)
      r.getString(0) -> ((s(1), s(2), s(3)))
    }.toMap)

  def metadata: Map[String, (String, String, String)] = meta

  // ---------- exemplars (ref: model/exemplar/exemplar.go:25) --------------

  /** exemplar rows: (labels MAP — the parent series, exemplar STRUCT
    * (labels, v, t)); sample-path volume stays untouched — exemplars ride a
    * side table exactly like the reference's exemplar storage */
  @volatile private var exemplarDf: Option[DataFrame] = None
  // driver-side running count + insertion sequence: the circular-buffer
  // bound (below) needs arrival order, which a DataFrame doesn't carry
  private var exemplarCount: Long = 0L
  private var exemplarSeqBase: Long = 0L

  /** bounded exemplar storage (ref: tsdb/exemplar.go:38
    * CircularExemplarStorage; config storage.exemplars.max_exemplars,
    * default config.go DefaultExemplarsConfig = 100000): appending past the
    * cap evicts oldest-by-arrival, EXCEPT that each series' newest exemplar
    * is protected while the series count fits the cap — the reference keeps
    * a per-series index into its circular buffer, so one high-frequency
    * series bursting must not erase every other series' last exemplar.
    * ≤ 0 disables the storage entirely (appends are dropped), like the
    * reference's runtime-reloadable disable. */
  @volatile var maxExemplars: Long = 100000L

  /** number of appendExemplars calls — observability for the per-cycle
    * batching contract (one append per scrape pool cycle, not per target) */
  @volatile private[graft] var exemplarAppendCalls: Long = 0L

  def appendExemplars(batch: DataFrame): Unit = synchronized {
    exemplarAppendCalls += 1
    if (maxExemplars <= 0L) { exemplarDf = None; exemplarCount = 0L; return }
    import org.apache.spark.sql.functions.{array_sort, desc, lit, map_entries,
      monotonically_increasing_id, struct, xxhash64, max => smax}
    val cleaned0 = batch.filter(col("exemplar").isNotNull)
      .select(col("labels"), col("exemplar"))
    // per-series OOO/duplicate rejection (ref: tsdb/exemplar.go:231
    // validateExemplar): an exemplar is admitted only if it orders STRICTLY
    // after the series' newest stored one by (ts, value, exemplar-label
    // hash) — re-appending the same exemplar every scrape cycle is a no-op
    // (the exporter exposes it unchanged until new events), older arrivals
    // are out-of-order drops. Spark struct comparison is lexicographic, so
    // the reference's three-way ordering is one column comparison.
    def sKey(c: org.apache.spark.sql.Column) = xxhash64(array_sort(map_entries(c)))
    def ordKey(ex: org.apache.spark.sql.Column) = struct(ex.getField("t"), ex.getField("v"),
      xxhash64(array_sort(map_entries(ex.getField("labels")))))
    val cleaned = exemplarDf match {
      case Some(df) =>
        val newest = df
          .select(sKey(col("labels")).as("__sk"), ordKey(col("exemplar")).as("__n"))
          .groupBy(col("__sk")).agg(smax(col("__n")).as("__n"))
        cleaned0.withColumn("__sk", sKey(col("labels")))
          .withColumn("__c", ordKey(col("exemplar")))
          .join(newest, Seq("__sk"), "left")
          .filter(col("__n").isNull || col("__c") > col("__n"))
          .select(col("labels"), col("exemplar"))
      case None => cleaned0
    }
    val stamped = cleaned
      // per-batch arrival stamp: batches are driver-origin single-partition,
      // so monotonically_increasing_id orders within the batch and the
      // stepped base orders across batches
      .withColumn("__seq", monotonically_increasing_id() + lit(exemplarSeqBase))
    exemplarSeqBase += (1L << 33) // > any single batch's id range
    val n = stamped.count()
    if (n == 0L) return
    val merged = exemplarDf match {
      case Some(df) => df.unionByName(stamped)
      case None => stamped
    }
    exemplarCount += n
    val bounded =
      if (exemplarCount <= maxExemplars) merged
      else { // evict past the cap: protect each series' newest exemplar
        // first (per-series fairness), then newest-by-arrival — a burst on
        // one series evicts its OWN older exemplars before touching another
        // series' last one (ref exemplar.go per-series circular index)
        import org.apache.spark.sql.functions.{array_sort, map_entries,
          row_number, when, xxhash64}
        import org.apache.spark.sql.expressions.Window
        exemplarCount = maxExemplars
        val w = Window
          .partitionBy(xxhash64(array_sort(map_entries(col("labels")))))
          .orderBy(desc("__seq"))
        merged.withColumn("__rk", row_number().over(w))
          .orderBy(when(col("__rk") === 1, 1).otherwise(0).desc, col("__seq").desc)
          .limit(math.min(maxExemplars, Int.MaxValue).toInt)
          .drop("__rk")
      }
    exemplarDf = Some(bounded.localCheckpoint(true))
  }

  def exemplars: Option[DataFrame] = exemplarDf.map(_.drop("__seq"))

  /** /api/v1/admin/tsdb/clean_tombstones — materialize deletions; the head
    * folds into the materialized part */
  def cleanTombstones(): Unit = synchronized {
    state = State(samples.localCheckpoint(true), resetHead(Vector.empty), Nil)
  }

  /** /api/v1/admin/tsdb/snapshot — persist the current (tombstone-applied)
    * view as parquet (ref: web/api/v1/api.go snapshot → tsdb Snapshot);
    * returns the snapshot name */
  def snapshot(baseDir: String): String = {
    val name = s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID.toString.take(8)}"
    samples.write.mode("overwrite").parquet(s"$baseDir/$name")
    name
  }
}

object SampleStore {

  private final case class Tombstone(matchers: List[LabelMatcher], minT: Long, maxT: Long)

  /** the head as published: one [[Series]] per distinct label set, and the
    * least and greatest timestamp they hold */
  private final case class Head(series: Vector[Series], minT: Long, maxT: Long)
  private object Head { val empty: Head = Head(Vector.empty, Long.MaxValue, Long.MinValue) }

  /** one published version of the store; a read takes it whole */
  private final case class State(base: DataFrame, head: Head, tombs: List[Tombstone])

  /** One head series: its labels, held once, and its first `n` samples as
    * columns (ref: tsdb/head.go:2735 memSeries). The arrays may be longer
    * than `n`: the next version of the series shares them and writes only
    * past `n`, so a published version never changes. `stt` and `h` are null
    * until the series gets a non-zero start timestamp or a native histogram;
    * a null `stt` reads as 0, as [[Engine.canonical]] reads a null one. */
  private final class Series private (
      val labels: scala.collection.Map[String, String],
      val n: Int,
      private val t: Array[Long],
      private val v: Array[Long], // raw bits of the doubles
      private val stale: Array[Long], // bit i set ⇔ sample i is a stale marker
      private val stt: Array[Long],
      private val h: Array[Row]) extends Serializable {

    private def isStale(i: Int): Boolean = (stale(i >>> 6) & (1L << i)) != 0L

    def minT: Long = { var m = Long.MaxValue; var i = 0; while (i < n) { m = math.min(m, t(i)); i += 1 }; m }
    def maxT: Long = { var m = Long.MinValue; var i = 0; while (i < n) { m = math.max(m, t(i)); i += 1 }; m }

    /** a task receives this version with its arrays cut to `n`: the
      * copy is made as the task is serialized and is not kept */
    private def writeReplace(): AnyRef =
      if (t.length == n) this
      else new Series(labels, n, java.util.Arrays.copyOf(t, n), java.util.Arrays.copyOf(v, n),
        java.util.Arrays.copyOf(stale, (n + 63) >>> 6),
        if (stt == null) null else java.util.Arrays.copyOf(stt, n),
        if (h == null) null else java.util.Arrays.copyOf(h, n))

    /** the samples whose timestamp satisfies `keep`, in new arrays */
    def filter(keep: Long => Boolean): Series = {
      val a = new Series.Appender(Series.empty(labels))
      var i = 0
      while (i < n) { if (keep(t(i))) a.add(t(i), v(i), isStale(i), if (h == null) null else h(i),
        if (stt == null) 0L else stt(i)); i += 1 }
      a.result
    }
  }

  private object Series {
    private val none = Array.empty[Long]

    def empty(labels: scala.collection.Map[String, String]): Series =
      new Series(labels, 0, none, none, none, null, null)

    /** a series' samples as rows in [[Engine.samplesSchema]] order */
    def rows(s: Series): Iterator[Row] = Iterator.range(0, s.n).map { i =>
      Row(s.labels, s.t(i), java.lang.Double.longBitsToDouble(s.v(i)), s.isStale(i),
        if (s.h == null) null else s.h(i), if (s.stt == null) 0L else s.stt(i))
    }

    /** The columns of `from` being appended to: written in place past `n`
      * while they have room, copied into arrays half as large again once
      * they do not. Every column of a slot is written, so a slot left over
      * by an append that failed before it was published reads as new. */
    final class Appender(from: Series) {
      private var n = from.n
      private var t = from.t
      private var v = from.v
      private var stale = from.stale
      private var stt = from.stt
      private var h = from.h

      private def grow(): Unit = {
        val cap = math.max(8, t.length + t.length / 2)
        t = java.util.Arrays.copyOf(t, cap)
        v = java.util.Arrays.copyOf(v, cap)
        stale = java.util.Arrays.copyOf(stale, (cap + 63) >>> 6)
        if (stt != null) stt = java.util.Arrays.copyOf(stt, cap)
        if (h != null) h = java.util.Arrays.copyOf(h, cap)
      }

      def add(ts: Long, bits: Long, isStale: Boolean, hist: Row, st: Long): Unit = {
        if (n == t.length) grow()
        t(n) = ts
        v(n) = bits
        val w = n >>> 6
        stale(w) = if (isStale) stale(w) | (1L << n) else stale(w) & ~(1L << n)
        if (hist != null && h == null) h = new Array[Row](t.length)
        if (h != null) h(n) = hist
        if (st != 0L && stt == null) stt = new Array[Long](t.length)
        if (stt != null) stt(n) = st
        n += 1
      }

      def result: Series = new Series(from.labels, n, t, v, stale, stt, h)
    }
  }

  /** `df` with column `c` no longer marked store-absent: the store now holds
    * a histogram (start timestamp), so the planner must not fold it away */
  private def present(df: DataFrame, c: String): DataFrame =
    if (df.schema(c).metadata.contains(Engine.storeAbsentKey)) df.withMetadata(c, Metadata.empty)
    else df

  /** a frame's samples as rows in [[Engine.samplesSchema]] order (one Spark
    * job) — the form [[SampleStore.append]] takes */
  def rows(batch: DataFrame): Seq[Row] = {
    val b = Engine.canonical(batch)
    b.select(col("labels"), col("t").cast("long"), col("v").cast("double"),
      col("stale").cast("boolean"), col("h"), col("stt").cast("long")).collect().toSeq
  }
}
