package graft.web

import graft.promql.{Engine, LabelMatcher, MatchOp}
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Mutable sample store backing the serving layer (HTTP API, remote write,
  * OTLP, scrape, rule outputs, federation).
  *
  * The store is the frame it was opened with (the persisted blocks) plus a
  * driver-resident HEAD: an immutable vector of the samples appended since,
  * each held once as a row in [[Engine.samplesSchema]] — the analog of the
  * reference's in-memory head (ref: tsdb/head.go:71 Head, tsdb/head.go:2735
  * memSeries). An append adds its rows to the head and publishes the new
  * snapshot before it returns, so a write is acked only once a read taken
  * after it sees the batch. A read is the opened frame ∪ ONE relation over
  * the current snapshot: an RDD of its rows with a fixed partition count,
  * so the rows are converted in tasks and never enter the driver's
  * optimizer as data. Its derived columns (`__sg`, `metric`, `block` —
  * whichever the opened frame carries) come from the same Spark expressions
  * as the block sink ([[graft.streaming.Ingest.sink]]). The read plan
  * therefore has the same shape after one append or a thousand, and no
  * periodic checkpoint is needed to bound it.
  *
  * The head is bounded the way the reference's is: once its samples span
  * more than 1.5 block ranges ([[graft.streaming.Ingest.blockMs]]), the
  * append that crossed the limit moves the samples of every block older
  * than the newest 1.5 ranges into the persisted part as one checkpointed
  * (spillable) relation, and the head keeps the rest
  * (ref: tsdb/head.go compactable, tsdb/db.go compactHead). That fold is the
  * only append of driver rows that runs a Spark job; the persisted part
  * grows by one relation per folded block.
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

  import SampleStore.{State, Tombstone}

  @volatile private var state = State(Engine.canonical(initial), Vector.empty, Nil)

  // head counters (ref: tsdb/head.go headMetrics samplesAppended / series),
  // kept while appending — /metrics reads them without a job or a scan
  @volatile private var floatsAppended = 0L
  @volatile private var histogramsAppended = 0L
  private val headSeriesSet = scala.collection.mutable.HashSet.empty[scala.collection.Map[String, String]]
  @volatile private var headSeriesCount = 0
  // time range of the head's samples, for the fold check
  private var headMinT = Long.MaxValue
  private var headMaxT = Long.MinValue

  /** samples appended to the head since the store opened: (float, histogram) */
  def samplesAppended: (Long, Long) = (floatsAppended, histogramsAppended)

  /** distinct series among the samples held in the head */
  def headSeries: Int = headSeriesCount

  /** samples held in the head */
  private[graft] def headSamples: Int = state.head.size

  private def matcherCond(m: LabelMatcher): org.apache.spark.sql.Column = {
    val c = coalesce(element_at(col("labels"), m.name), lit(""))
    m.op match {
      case MatchOp.Eq => c === m.value
      case MatchOp.Neq => c =!= m.value
      case MatchOp.Re => c.rlike("^(?:" + m.value + ")$")
      case MatchOp.NotRe => !c.rlike("^(?:" + m.value + ")$")
    }
  }

  /** head rows as a frame with the base's derived columns */
  private def headFrame(head: Vector[Row], baseCols: Array[String]): DataFrame = {
    val sc = spark.sparkContext
    var h = Engine.canonical(
      spark.createDataFrame(sc.parallelize(head, sc.defaultParallelism), Engine.samplesSchema))
    if (baseCols.contains("__sg")) h = Engine.withSeriesSig(h)
    if (baseCols.contains("metric")) h = h.withColumn("metric", Ingest.metricCol)
    if (baseCols.contains("block")) h = h.withColumn("block", Ingest.blockCol())
    h
  }

  /** canonical samples view with tombstones applied */
  def samples: DataFrame = {
    val s = state
    val all =
      if (s.head.isEmpty) s.base
      else s.base.unionByName(headFrame(s.head, s.base.columns), allowMissingColumns = true)
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
    var hists = 0
    rows.foreach { r =>
      val t = r.getLong(1)
      if (t < headMinT) headMinT = t
      if (t > headMaxT) headMaxT = t
      if (!r.isNullAt(4)) hists += 1
      if (headSeriesSet.add(r.getMap[String, String](0))) headSeriesCount += 1
    }
    histogramsAppended += hists
    floatsAppended += rows.size - hists
    val s = state.copy(head = state.head ++ rows)
    state = if (headMaxT - headMinT > Ingest.blockMs / 2 * 3) fold(s) else s
  }

  /** move the head's samples older than its newest 1.5 block ranges into
    * the persisted part (ref: tsdb/head.go compactable) */
  private def fold(s: State): State = {
    val width = Ingest.blockMs
    val cut = Math.floorDiv(headMaxT - width / 2 * 3, width) * width + width
    val (old, kept) = s.head.partition(_.getLong(1) < cut)
    val persisted = headFrame(old, s.base.columns).localCheckpoint(true)
    resetHead(kept)
    s.copy(base = s.base.unionByName(persisted, allowMissingColumns = true), head = kept)
  }

  /** head bookkeeping for a head that now holds exactly `rows` */
  private def resetHead(rows: Vector[Row]): Unit = {
    headSeriesSet.clear()
    headMinT = Long.MaxValue
    headMaxT = Long.MinValue
    rows.foreach { r =>
      headSeriesSet += r.getMap[String, String](0)
      headMinT = math.min(headMinT, r.getLong(1))
      headMaxT = math.max(headMaxT, r.getLong(1))
    }
    headSeriesCount = headSeriesSet.size
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
    state = State(samples.localCheckpoint(true), Vector.empty, Nil)
    resetHead(Vector.empty)
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

  /** one published version of the store; a read takes it whole */
  private final case class State(base: DataFrame, head: Vector[Row], tombs: List[Tombstone])

  /** a frame's samples as rows in [[Engine.samplesSchema]] order (one Spark
    * job) — the form [[SampleStore.append]] holds */
  def rows(batch: DataFrame): Seq[Row] = {
    val b = Engine.canonical(batch)
    b.select(col("labels"), col("t").cast("long"), col("v").cast("double"),
      col("stale").cast("boolean"), col("h"), col("stt").cast("long")).collect().toSeq
  }
}
