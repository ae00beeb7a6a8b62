package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based data curation: a trained quality classifier (the
  * DCLM/FineWeb-Edu fastText pattern) and DSIR importance weights (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling"). Both operate on hashed n-gram features so the model state
  * is a FIXED-size vector regardless of corpus size — the property that
  * makes distributed training one scan per iteration with driver state
  * bounded at the bucket count. */
object QualityModel {

  import Dedup.words

  /** deterministic string hash shared with the DuckDB oracle: fold
    * (a·31 + code) mod 1e9+7 over the code units, seeded at 7 (pure integer
    * arithmetic — every intermediate < 2^35, replicable in any engine;
    * xxhash64 would be faster but has no cross-engine reference) */
  private[pipeline] def polyHash(s: String): Long = {
    var h = 7L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % 1000000007L; i += 1 }
    h
  }
  private[pipeline] val polyHashUdf = udf { (s: String) => polyHash(s) }

  private def sigmoid(m: Double): Double = {
    val c = math.max(-30.0, math.min(30.0, m))
    1.0 / (1.0 + math.exp(-c))
  }

  /** Logistic-regression quality classifier over hashed
    * {unigram,bigram}-tf features, trained with full-batch gradient descent
    * and used to score every document (label = any boolean Column — weak
    * labels in practice: a seed set of known-good docs vs raw crawl).
    *
    * Determinism, engineered not assumed: per-doc feature lists are
    * sort_array'd (fixed in-doc summation order), per-doc gradient
    * contributions round to 9 decimals and aggregate as DECIMAL (exact,
    * partition-order-free), so weights — and therefore scores — are
    * bit-identical across runs and cluster layouts.
    *
    * 100 TB shape: feature extraction is ROW-LOCAL (tokenize → hash →
    * count → L1-normalize inside one UDF — no explode/shuffle detour for a
    * per-doc computation), packed to one row per doc; each GD iteration is
    * ONE treeAggregate pass over that packed table with the weight vector
    * closed over (2^b+1 doubles, driver-held — the classic
    * broadcast-gradient LR shape) and a DENSE (2^b+1)-long partial-sum
    * accumulator per task, tree-merged — no per-feature rows, no explode
    * and no bucket-keyed exchange anywhere in the iteration. Scoring is one
    * more scan. Nothing grows with the corpus except the scans. */
  def qualityClassifier(docs: DataFrame, label: Column, buckets: Int = 1 << 15,
      iters: Int = 5, lr: Double = 4.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val b = buckets
    // one packed row per doc as bucket-sorted PARALLEL ARRAYS (fixed in-doc
    // summation order); hashed {unigram, bigram} tf, L1-normalized; bias
    // handled by index b
    val featUdf = udf { (text: String) =>
      val w = text.trim.toLowerCase.split("\\s+")
      val cnt = new java.util.TreeMap[Int, Int]()
      def add(t: String): Unit = {
        val bk = (polyHash(t) % b).toInt
        cnt.put(bk, cnt.getOrDefault(bk, 0) + 1)
      }
      var i = 0
      while (i < w.length) { add(w(i)); i += 1 }
      i = 0
      while (i + 1 < w.length) { add(w(i) + " " + w(i + 1)); i += 1 }
      val n = (w.length + math.max(w.length - 1, 0)).toDouble
      val bks = new Array[Int](cnt.size)
      val vs = new Array[Double](cnt.size)
      val it = cnt.entrySet().iterator()
      i = 0
      while (it.hasNext) {
        val e = it.next(); bks(i) = e.getKey; vs(i) = e.getValue / n; i += 1
      }
      (bks, vs)
    }
    val packed = docs.select(col("doc_id"), label.cast("double").as("y"),
        featUdf(col("text")).as("fs"))
      .select(col("doc_id"), col("y"),
        col("fs._1").as("bks"), col("fs._2").as("vs"))
      .persist()
    val nDocs = packed.count().toDouble

    // Gradient as per-partition DENSE partial sums (the treeAggregate shape):
    // each iteration is ONE pass over the cached packed table with a
    // (buckets+1)-long accumulator per task, tree-merged — no per-feature row
    // materialization, no explode, and no bucket-keyed exchange per
    // iteration. Bit parity with the former explode → DECIMAL(28,9)-sum plan
    // is engineered, not assumed: each per-doc contribution rounds to 9
    // decimals exactly as before (java BigDecimal.valueOf == the former scala
    // BigDecimal(double), HALF_UP at scale 9) and accumulates as the UNSCALED
    // long (exact integer addition — order-free, like the decimal sum; a
    // partial sum overflows long only past ~9.2e9 docs per tree node, far
    // beyond any single aggregation fan-in), so the per-bucket totals — and
    // therefore the weights and scores — are bit-identical (spec-pinned).
    val gradInput = packed.select(col("y"), col("bks"), col("vs"))
      .as[(Double, Array[Int], Array[Double])].rdd
    def unit9(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    var wts = new Array[Double](buckets + 1)
    (0 until iters).foreach { _ =>
      val w = wts
      val grad = gradInput.treeAggregate(new Array[Long](buckets + 1))(
        (acc, row) => {
          val (y, bks, vs) = row
          var m = w(buckets) // bias
          var i = 0
          while (i < bks.length) { m += w(bks(i)) * vs(i); i += 1 }
          val d = sigmoid(m) - y
          i = 0
          while (i < bks.length) { acc(bks(i)) += unit9(d * vs(i)); i += 1 }
          acc(buckets) += unit9(d)
          acc
        },
        (a, b2) => {
          var i = 0
          while (i < a.length) { a(i) += b2(i); i += 1 }
          a
        })
      val next = wts.clone()
      var i = 0
      while (i < grad.length) {
        if (grad(i) != 0L)
          next(i) -= lr * java.math.BigDecimal.valueOf(grad(i), 9).doubleValue() / nDocs
        i += 1
      }
      wts = next
    }

    val w = wts
    val scoreUdf = udf { (bks: Array[Int], vs: Array[Double]) =>
      var m = w(buckets)
      var i = 0
      while (i < bks.length) { m += w(bks(i)) * vs(i); i += 1 }
      sigmoid(m)
    }
    val out = packed.select(col("doc_id"), col("y").cast("long").as("label"),
        round(scoreUdf(col("bks"), col("vs")), 6).as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("long"))
    packed.unpersist(blocking = false) // lazy: plan recomputes if evicted
    out
  }

  /** DSIR importance weights: log p_target(doc) − p_raw(doc) per token
    * under hashed-unigram multinomials with add-α smoothing (Xie et al.
    * 2023 resample raw data toward a target domain by these weights;
    * selection = top weights, or Gumbel-noised top-k — deterministic rank
    * by (weight, doc_id) here). `targetPred` marks the target-domain seed
    * docs; both distributions estimate from the same corpus scan.
    *
    * lw rounds to 3 decimals — the Σ count·(ln target − ln raw) per-doc sum
    * has cross-engine order/libm noise ~1e-11, far below the grain; the
    * hash is [[polyHash]] so the DuckDB oracle reproduces buckets exactly.
    *
    * 100 TB shape: ONE (doc, bucket) hash agg; bucket tables are ≤B rows
    * (the fixed hash space — genuinely bounded, so the scoring join
    * broadcasts them by construction); per-doc weight is one doc-keyed agg.
    * Nothing scales beyond the token scan. */
  def dsirWeights(docs: DataFrame, targetPred: Column, alpha: Double = 0.5,
      buckets: Int = 1 << 14): DataFrame = {
    val b = buckets.toLong
    // hash the whole token array in ONE UDF call per doc and explode the
    // int buckets — the former per-token ScalaUDF paid an invocation + string
    // boxing per exploded row, and the Generate shipped token strings
    // instead of ints; values are identical ((polyHash(t) % b).toInt)
    val bucketsOf = udf { (ws: Seq[String]) => ws.map(w => (polyHash(w) % b).toInt) }
    // null-text docs must drop exactly as the former explode(words(text))
    // dropped them (words(null) = null, explode(null) = no rows) — without
    // the filter, Spark hands the null Seq to the UDF and ws.map NPEs
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), targetPred.cast("long").as("tgt"),
        explode(bucketsOf(words(col("text")))).as("bk"))
    val perDoc = toks.groupBy(col("doc_id"), col("tgt"), col("bk"))
      .agg(count(lit(1)).as("c"))
    // bucket count tables for the two distributions: ≤B rows each
    val dist = perDoc.groupBy(col("bk"))
      .agg(sum(when(col("tgt") === 1, col("c")).otherwise(0L)).as("ct"),
        sum(when(col("tgt") === 0, col("c")).otherwise(0L)).as("cr"))
    val totals = dist.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val ratio = dist.crossJoin(broadcast(totals)) // one row
      .select(col("bk"),
        (log((col("ct").cast("double") + alpha) / (col("nt").cast("double") + alpha * b)) -
         log((col("cr").cast("double") + alpha) / (col("nr").cast("double") + alpha * b)))
          .as("lr"))
    perDoc.join(ratio, "bk") // ratio ≤B rows: AQE broadcasts by construction
      .groupBy(col("doc_id"), col("tgt"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c").cast("double") * col("lr")).as("lw"))
      .select(col("doc_id"), col("tgt").as("is_target"), col("n_tokens"),
        round(col("lw") / col("n_tokens").cast("double"), 3).as("lw_per_token"))
  }
}
