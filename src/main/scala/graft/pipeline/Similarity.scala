package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k of a SMALL query set against the
  *    corpus — the query side is broadcast, the corpus is scanned once, and
  *    top-k is a per-(query) window over partial per-partition top-ks (Spark's
  *    window + filter collapses to a TakeOrdered-like shape). Baseline and
  *    oracle anchor.
  *  - [[lshTopK]]: random-hyperplane LSH. `tables × planes` signed projections
  *    bucket the corpus; candidates are vectors sharing a bucket with the
  *    query in ≥1 table, reranked exactly. Hyperplane components are
  *    deterministic pseudo-randoms derived from murmur3(table, plane, dim) —
  *    no driver-side RNG state, so executors regenerate them for free.
  *    100 TB: the corpus side is one shuffle on (table, bucket); bucket
  *    occupancy is controlled by `planes` (2^planes buckets/table).
  */
object Similarity {

  /** Sequential left-to-right cosine — a primitive `while` loop in a UDF.
    * The fold order (acc += a(i)*b(i), left to right, doubles) is bit-exact
    * with DuckDB's list_dot_product, which the driver's oracle hash-compares
    * against. The previous `aggregate(zip_with(...))` SQL-lambda version had
    * the same fold order but evaluated interpreted with per-element
    * allocation — the UDF is ~50× cheaper per row and identical in value. */
  private val cosUdf = udf { (a: Array[Float], b: Array[Float]) =>
    var dq = 0.0; var dn = 0.0; var dd = 0.0
    var i = 0; val n = a.length
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dd += x * y; dq += x * x; dn += y * y; i += 1
    }
    dd / (math.sqrt(dq) * math.sqrt(dn))
  }

  def cosine(a: String, b: String): Column = cosUdf(col(a), col(b))

  /** exact cosine top-k: query set (qdf: vec_id, embedding) must be small */
  def bruteForceTopK(corpus: DataFrame, qdf: DataFrame, k: Int): DataFrame = {
    val q = broadcast(qdf.select(col("vec_id").as("qid"), col("embedding").as("qv")))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine("qv", "nv").as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** splitmix64 — deterministic hyperplane components with no driver RNG
    * state: every JVM regenerates the same matrix from (table, plane, dim) */
  private def smix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** per-JVM memoized hyperplane matrix H(table)(plane)(dim) ∈ [-1, 1) */
  private val hpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Array[Double]]]]()
  private def hyperplanes(tables: Int, planes: Int, dim: Int): Array[Array[Array[Double]]] =
    hpCache.computeIfAbsent((tables, planes, dim), _ =>
      Array.tabulate(tables, planes, dim) { (t, p, d) =>
        smix((t.toLong * 1000003L + p) * 1000003L + d).toDouble / Long.MaxValue.toDouble
      })

  /** all-tables bucket signature in ONE pass over the vector: for each table,
    * `planes` sign-of-projection bits. Returns Array(tables) of bucket ids.
    * Replaces tables×planes interpreted `aggregate(zip_with(hash(...)))`
    * lambdas (which also re-derived the hyperplane hash per row per element). */
  private def bucketsUdf(tables: Int, planes: Int) = udf { (v: Array[Float]) =>
    val dim = v.length
    val h = hyperplanes(tables, planes, dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val ht = h(t); var bits = 0L; var p = 0
      while (p < planes) {
        val hp = ht(p); var acc = 0.0; var d = 0
        while (d < dim) { acc += v(d).toDouble * hp(d); d += 1 }
        if (acc >= 0) bits |= (1L << p)
        p += 1
      }
      out(t) = bits; t += 1
    }
    out
  }

  /** LSH-bucketed approximate top-k, exact rerank within candidates.
    * Recall < 1 by construction (rows-only correctness check). */
  def lshTopK(corpus: DataFrame, qdf: DataFrame, k: Int,
      tables: Int = 8, planes: Int = 10): DataFrame = {
    val bu = bucketsUdf(tables, planes)
    // candidate dedup on NARROW (qid, nid) rows — a pair colliding in
    // several tables would otherwise carry BOTH embedding payloads through
    // the distinct once per collision (the cosineDupPairs r12 lesson);
    // vectors join back by id after the distinct
    val qb = broadcast(qdf.select(
      col("vec_id").as("qid"),
      posexplode(bu(col("embedding"))).as(Seq("tbl", "bkt"))))
    val cb = corpus.select(
      col("vec_id").as("nid"),
      posexplode(bu(col("embedding"))).as(Seq("tbl", "bkt")))
    val cand = qb.join(cb, Seq("tbl", "bkt")).filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    val scored = cand
      .join(broadcast(qdf.select(col("vec_id").as("qid"), col("embedding").as("qv"))), "qid")
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("nv")), "nid")
      .select(col("qid"), col("nid"), cosine("qv", "nv").as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** IVF (inverted-file) approximate top-k — the second scale path next to
    * [[lshTopK]]: a small coarse quantizer (nlist centroids, deterministic
    * seeds + a fixed number of Lloyd iterations, all driver-side at centroid
    * cardinality) shards the corpus into cells with ONE shuffle; each query
    * probes its `nprobe` nearest cells and reranks exactly. At 100 TB the
    * corpus is written bucketed by cell once and every query touches
    * nprobe/nlist of the data; recall < 1 by construction (rows-only check).
    */
  private[pipeline] def nearestUdf(cs: Array[Array[Double]], n: Int) = udf { (v: Array[Float]) =>
    val scored = cs.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val x = v(j).toDouble - c(j); d += x * x; j += 1 }
      (d, i)
    }
    scored.sortBy(t => (t._1, t._2)).take(n).map(_._2)
  }

  /** Distributed Lloyd with deterministic seeds (the nlist corpus vectors
    * with smallest xxhash64(vec_id)); driver state stays at centroid
    * cardinality throughout. */
  private[pipeline] def trainCentroids(corpus: DataFrame, nlist: Int,
      iters: Int): Array[Array[Double]] = {
    // iterative trainer over a fixed input: persist the narrow projection for
    // the duration of the (eager) seed + iteration collects — without it the
    // seed scan and every Lloyd iteration re-read and re-shuffled the source
    val src = corpus.select(col("vec_id"), col("embedding")).persist()
    var centroids: Array[Array[Double]] = src
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(nlist)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    // fixed Lloyd iterations; centroid update is a groupBy(cell) mean —
    // driver state stays at centroid cardinality
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    (0 until iters).foreach { _ =>
      val one = nearestUdf(centroids, 1)
      // centroid update as a distributed per-dimension mean: one codegen'd
      // aggregation with dim sum columns (an explode next to the assignment
      // UDF would re-evaluate the UDF once per exploded element — measured
      // 64x); only nlist rows reach the driver
      val sums = (0 until dim).map(i => sum(element_at(col("embedding"), i + 1)).as(s"s$i"))
      val rows = src
        .select(element_at(one(col("embedding")), 1).as("cell"), col("embedding"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val byCell = rows.map(r => r.getInt(0) -> r).toMap
      centroids = centroids.indices.map { i =>
        byCell.get(i) match {
          case Some(r) =>
            val n = r.getLong(1).toDouble
            Array.tabulate(dim)(j => r.getDouble(2 + j) / n)
          case None => centroids(i)
        }
      }.toArray
    }
    src.unpersist(blocking = false) // all consumers (collects) already ran
    centroids
  }

  def ivfTopK(corpus: DataFrame, qdf: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = trainCentroids(corpus, nlist, iters)
    val assignOne = nearestUdf(centroids, 1)
    val probe = nearestUdf(centroids, nprobe)
    val cells = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      element_at(assignOne(col("embedding")), 1).as("cell"))
    val probes = broadcast(qdf.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      explode(probe(col("embedding"))).as("cell")))
    val scored = probes.join(cells, Seq("cell")).filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine("qv", "nv").as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** embedding near-duplicate pairs (cos ≥ τ) via the same LSH bucketing —
    * candidates share ≥1 bucket, verified exactly; never all-pairs.
    *
    * Oversized-bucket guard (organic-soak finding): duplicate-dense
    * embedding regions put thousands of vectors into the SAME (table,
    * bucket), and all-pairs within such a bucket is quadratic — 10M+
    * candidate pairs at a mere 20k-vector corpus with natural cluster
    * structure. A bucket above `maxBucket` members degrades to a STAR: each
    * member pairs only with the bucket's minimum vec_id (O(bucket) edges,
    * still cosine-verified). Unlike the minhash stop-bucket DROP, the star
    * keeps the bucket connected, so a downstream transitive closure still
    * groups the duplicate set; direct pair enumeration inside oversized
    * buckets is the sacrificed recall. Small-data results are unchanged
    * (every gate-scale bucket is far below the cap). */
  def cosineDupPairs(corpus: DataFrame, tau: Double,
      tables: Int = 8, planes: Int = 10, maxBucket: Int = 1000): DataFrame = {
    val bu = bucketsUdf(tables, planes)
    // candidate generation on NARROW (id, tbl, bkt) rows: a pair colliding
    // in several tables would otherwise carry both embedding payloads
    // through the dedup shuffle once per collision (an organic-occupancy
    // soak measured ~40 GB of vector traffic at a 20k-vector corpus);
    // vectors join back by id AFTER the distinct — two linear id-keyed
    // joins instead of a payload-wide exchange.
    // BOTH pair sides and the stats branch alias ONE bucketed subtree:
    // per-side withBuckets copies diverged under pushed-down filters and
    // defeated AQE's ReuseExchange, so the corpus scan (and the bucket UDF
    // pass) ran once per branch; the shared subtree canonicalizes
    // identically and the self-join reads one materialized exchange. The
    // explicit isNotNull keeps all branches' pushed filters aligned (the
    // pair comparison implies it on the pair sides anyway; a null vec_id
    // could never pair, so excluding it from bucket occupancy too is the
    // consistent reading).
    val base = corpus.filter(col("vec_id").isNotNull)
    val bucketed = base.select(
      col("vec_id"),
      posexplode(bu(col("embedding"))).as(Seq("tbl", "bkt")))
    val a = bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("da"))
    val b = bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("db"))
    // per-bucket size + min id ride the SAME (tbl, bkt) exchange the join
    // uses — no extra shuffle shape
    val stats = a.groupBy(col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("__bn"), min(col("da")).as("__bmin"))
    // the star filter prunes the a-side BEFORE the pair join: an oversized
    // bucket keeps only its min-id row here, so the join emits its O(m)
    // star edges instead of materializing m² rows and filtering after —
    // at 80k organically-clustered vectors the after-join form measured
    // ~3B intermediate pair rows (8× wall-clock for a 2× corpus); this
    // form is output-linear. Same output: small buckets pass untouched,
    // oversized buckets emit exactly the (bmin, db) star either way.
    val aKept = a.join(stats, Seq("tbl", "bkt"))
      .filter(col("__bn") <= maxBucket || col("da") === col("__bmin"))
      .select(col("tbl"), col("bkt"), col("da"))
    val cand = aKept.join(b, Seq("tbl", "bkt"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    cand
      .join(base.select(col("vec_id").as("da"), col("embedding").as("va")), "da")
      .join(base.select(col("vec_id").as("db"), col("embedding").as("vb")), "db")
      .select(col("da"), col("db"), cosine("va", "vb").as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Lloyd's k-means over the embedding column — corpus clustering for data
    * curation (topic balancing, per-cluster sampling, semantic dedup
    * blocking). Deterministic throughout: init = the k lowest vec_ids'
    * vectors, fixed iteration count, squared-L2 argmin with lowest-index
    * tiebreak — no RNG anywhere, so reruns and the spec's local reference
    * agree exactly.
    *
    * 100 TB shape (the MLlib pattern): each iteration is ONE scan. The k×dim
    * centroid table (k=8 × 64 floats here) rides to executors inside the
    * assign kernel; the update is a (cluster, pos)-keyed mean — narrow rows,
    * dim× amplification of an 8-byte payload, map-side combined — collected
    * at k×dim cardinality to the driver. No iteration ever shuffles the
    * vectors themselves. */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 5): DataFrame =
    kmeansAssigned(emb.select(col("vec_id"), col("embedding")).persist(),
        k, iters, ownsCache = true)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))

  /** [[kmeans]] internals with the embedding column kept on the output and
    * the persist lifecycle optionally owned by the caller — so a composing
    * operator (semantic dedup) can share ONE cached projection between its
    * corpus count, the Lloyd iterations and the pair generation instead of
    * joining the assignments back to a second scan of the source.
    * `src` must be exactly (vec_id, embedding) and, with ownsCache = false,
    * already persisted by the caller (who unpersists it). */
  private[pipeline] def kmeansAssigned(src: DataFrame, k: Int, iters: Int,
      ownsCache: Boolean): DataFrame = {
    // iterative algorithm over a fixed input: persist it once (the MLlib
    // shape) — every Lloyd iteration re-scans, and without the cache each
    // of the 2×iters jobs would re-read + re-shuffle the source
    var centroids: Array[Array[Float]] = src.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    def assignUdf(cents: Array[Array[Float]]) = udf { (v: Array[Float]) =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val ce = cents(c)
        var d = 0.0; var i = 0
        while (i < ce.length) {
          val diff = v(i).toDouble - ce(i).toDouble; d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    var assigned = src.withColumn("cluster", assignUdf(centroids)(col("embedding")))
    var it = 0
    while (it < iters - 1) {
      val next = centroids.map(_.clone())
      // centroid update as per-dimension sums in ONE codegen'd aggregation
      // (the trainCentroids device — an explode beside the assignment UDF
      // would re-evaluate the UDF once per exploded element); k rows reach
      // the driver
      val sums = (0 until dim).map(i =>
        sum(element_at(col("embedding"), i + 1)).as(s"s$i"))
      assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .foreach { r =>
          val c = r.getInt(0); val n = r.getLong(1).toDouble
          var d = 0
          while (d < dim) { next(c)(d) = (r.getDouble(2 + d) / n).toFloat; d += 1 }
        }
      centroids = next // empty clusters keep their previous centroid
      assigned = src.withColumn("cluster", assignUdf(centroids)(col("embedding")))
      it += 1
    }
    if (ownsCache)
      src.unpersist(blocking = false) // lazy: the returned plan recomputes if evicted
    assigned // (vec_id, embedding, cluster) — kmeans() projects/casts on top
  }

  /** SemDeDup-style semantic dedup: [[kmeans]] clusters as BLOCKING, exact
    * cosine verification within each cluster, transitive closure, keep the
    * lowest id per component. Pairs crossing cluster boundaries are missed
    * by construction (recall < 1, rows-only check) — the trade every
    * cluster-blocked dedup makes.
    *
    * 100 TB / skew guard: k should scale with the corpus, but nothing makes
    * a caller do that, so block size is ENFORCED — a cluster above
    * `maxBlock` rows is sub-split by a deterministic secondary hash of
    * vec_id into ceil(n/maxBlock) sub-blocks and pairs are generated within
    * (cluster, sub) only (the same degrade-to-bounded trade as the LSH
    * stop-bucket cap: an oversized block loses cross-sub-block recall
    * instead of going O(n²)). Total candidate pairs are thus
    * O(n·maxBlock) — linear in corpus size for any k. The per-cluster count
    * table has at most k rows (genuinely broadcastable); clusters at or
    * under the cap get a single sub-block, so small-data results are
    * unchanged.
    *
    * `k` is a FLOOR, not the cluster count: SemDeDup scales the number of
    * clusters with the corpus (Abbas et al. 2023 — 50k clusters on
    * 100M+ docs), so the effective k grows as ceil(n / targetBlock) and the
    * expected block stays ~targetBlock rows regardless of corpus size —
    * in-cluster pair generation is then O(n · targetBlock) EXPECTED, with
    * the maxBlock sub-split only as the skew backstop. (A 10×-replicated
    * soak measured the fixed-k quadratic regime at 35× the wall time before
    * this scaling.) Below k·targetBlock rows the floor wins and results are
    * unchanged at the gate scale factors.
    *
    * maxBlock default: an ORGANIC 10×-scale soak (16 latent embedding
    * clusters at natural occupancy — data k-means cannot split further no
    * matter how large kEff is) measured the previous 100000 default never
    * engaging while within-cluster pairs went quadratic; 2× targetBlock
    * bounds any block's pair count at ~2.1M (O(n·maxBlock) total) and
    * still never engages when k-means achieves its expected ~targetBlock
    * occupancy. */
  def semanticPairs(emb: DataFrame, tau: Double, k: Int = 8,
      iters: Int = 3, maxBlock: Int = 2048, targetBlock: Int = 1024): DataFrame = {
    // ONE persisted (vec_id, embedding) projection serves the EAGER
    // consumers — the corpus count and every Lloyd iteration's collect;
    // the assignments keep their embedding column ([[kmeansAssigned]])
    // instead of being joined back to a second scan of the source — the
    // former count-scan + kmeans-cache + assignment-join shape paid an
    // extra source pass and an extra exchange for identical output.
    // The LAZY pair generation below executes at the caller's action,
    // AFTER this unpersist, so it recomputes from the source by design:
    // the operator must not leak a cache it can never release (SCALE.md
    // round-10 rule), and the win here is the removed join-back plus the
    // shared Lloyd cache, not a third cache hit.
    val src = emb.select(col("vec_id"), col("embedding")).persist()
    val n = src.count()
    val kEff = math.max(k, ((n + targetBlock - 1) / targetBlock).toInt)
    val withVec = kmeansAssigned(src, kEff, iters, ownsCache = false)
    src.unpersist(blocking = false) // all EAGER consumers (collects) already ran
    val counts = withVec.groupBy(col("cluster")).agg(count(lit(1)).as("__cn"))
    val sized = withVec.join(broadcast(counts), "cluster")
      .withColumn("__nsub",
        greatest(lit(1L), ceil(col("__cn").cast("double") / lit(maxBlock.toDouble)).cast("long")))
      .withColumn("sub", pmod(hash(col("vec_id")).cast("long"), col("__nsub")))
    val a = sized.select(col("cluster"), col("sub"), col("vec_id").as("da"), col("embedding").as("va"))
    val b = sized.select(col("cluster"), col("sub"), col("vec_id").as("db"), col("embedding").as("vb"))
    a.join(b, Seq("cluster", "sub")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), cosine("va", "vb").as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Product-quantization ANN (Jégou et al. 2011): vectors are L2-normalized
    * (cosine ⇒ inner product), the dimension splits into `m` subspaces, each
    * subspace trains a `ksub`-centroid codebook ([[trainCentroids]] — same
    * deterministic init/iteration as IVF), and every corpus vector compresses
    * to `m` code bytes. A query scores a vector ASYMMETRICALLY (ADC):
    * score ≈ Σⱼ ⟨q̂ⱼ, codebook(j)(codeⱼ)⟩ — the per-(subspace, code) partial
    * dot products form a Q×m×ksub distance table computed once per query
    * batch. Approximate by construction (rows-only correctness; the spec
    * pins recall against [[bruteForceTopK]]).
    *
    * 100 TB shape: training is m·iters scans with driver state bounded at
    * m×ksub×(dim/m) doubles; encoding is ONE corpus scan emitting m narrow
    * (vec_id, j, code) rows per vector (the 100× compression that makes the
    * scan cheap is the point of PQ); the query path joins the BROADCAST
    * distance table (bounded by the query batch) on (j, code) and aggregates
    * per (query, vector) — n·m·Q candidate rows, linear in the corpus, no
    * pairwise join anywhere. */
  def pqTopK(corpus: DataFrame, qdf: DataFrame, k: Int, m: Int = 4,
      ksub: Int = 16, iters: Int = 2): DataFrame = {
    val normUdf = udf { (v: Array[Float]) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
      v.map(x => (x * inv).toFloat)
    }
    // iterative training re-scans the normalized corpus iters times —
    // persist for the duration of the (eager) training collects, release
    // lazily before returning the plan (the kmeans pattern)
    val norm = corpus.select(col("vec_id"), normUdf(col("embedding")).as("embedding")).persist()
    // joint Lloyd across all m subspaces: seeds are the ksub
    // lowest-xxhash vectors' slices (the trainCentroids seeding), and each
    // iteration is ONE scan — (vec, j, codeⱼ, subvecⱼ) rows aggregated per
    // (j, code) with sub per-dimension sums, m×ksub×(dim/m) driver doubles
    // (per-subspace trainCentroids calls would cost m scans per iteration
    // for identical math). The seed collect doubles as the dimension read —
    // the former standalone dim job re-scanned the raw corpus for one row.
    val seeds = norm.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ksub)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // all m codes in ONE pass over the vector (an m-way union would rescan)
    def codesUdf(cbs: Array[Array[Array[Double]]]) = udf { (v: Array[Float]) =>
      Array.tabulate(m) { j =>
        val cb = cbs(j); var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          val ce = cb(c); var d = 0.0; var i = 0
          while (i < sub) {
            val diff = v(j * sub + i).toDouble - ce(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(v => Array.tabulate(sub)(i => v(j * sub + i).toDouble)))
    (0 until iters).foreach { _ =>
      val cu = codesUdf(codebooks)
      val sums = (0 until sub).map(i => sum(element_at(col("sv"), i + 1)).as(s"s$i"))
      val agg = norm
        .select(posexplode(cu(col("embedding"))).as(Seq("j", "code")), col("embedding"))
        .select(col("j"), col("code"),
          slice(col("embedding"), col("j") * sub + 1, lit(sub)).as("sv"))
        .groupBy(col("j"), col("code")).agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = codebooks.map(_.map(_.clone())) // empty codes keep centroids
      agg.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val n = r.getLong(2).toDouble
        var i = 0
        while (i < sub) { next(j)(c)(i) = r.getDouble(3 + i) / n; i += 1 }
      }
      codebooks = next
    }
    val codes = norm.select(col("vec_id").as("nid"),
      posexplode(codesUdf(codebooks)(col("embedding"))).as(Seq("j", "code")))
    // ADC distance table: Q×m×ksub rows, computed driver-side from the
    // (bounded) query batch and broadcast
    val qs = qdf.select(col("vec_id"), col("embedding")).collect().map { r =>
      val v = r.getSeq[Float](1)
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val inv = if (s == 0) 0.0 else 1.0 / math.sqrt(s)
      (r.getLong(0), v.map(_.toDouble * inv).toArray)
    }
    val dRows = for {
      (qid, qv) <- qs.toSeq
      j <- 0 until m
      c <- codebooks(j).indices
    } yield {
      val cb = codebooks(j)(c)
      var acc = 0.0; var i = 0
      while (i < sub) { acc += qv(j * sub + i) * cb(i); i += 1 }
      (qid, j, c, acc)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val dtable = spark.createDataset(dRows).toDF("qid", "j", "code", "partial")
    norm.unpersist(blocking = false) // lazy: the returned plan recomputes if evicted
    val scored = codes.join(broadcast(dtable), Seq("j", "code"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid"))
      .agg(round(sum(col("partial")), 6).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** vec_ids surviving semantic dedup (canonical = min id per component) */
  def semanticSurvivors(emb: DataFrame, tau: Double, k: Int = 8,
      iters: Int = 3): DataFrame = {
    val nonCanonical = Dedup.connectedComponents(
        semanticPairs(emb, tau, k, iters).select(col("da"), col("db")))
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id").as("vec_id"))
    emb.select(col("vec_id")).join(nonCanonical, Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("kept_vec_id"))
  }
}

/** PERSISTED IVF index — the build-once / query-many shape [[Similarity
  * .ivfTopK]] describes for 100 TB: the quantizer trains once, the corpus is
  * written PARTITIONED BY CELL (one parquet directory per cell), and each
  * query batch reads only its probed cells — `nprobe/nlist` of the files via
  * static partition pruning on the flat `cell` column (the probed-cell set
  * is query-batch cardinality, collected driver-side; no scan of the rest).
  * Centroids persist as a small text artifact next to the cells. */
object IvfIndex {

  import org.apache.spark.sql.functions._
  import Similarity.{cosine, nearestUdf, trainCentroids}

  def build(corpus: DataFrame, dir: String, nlist: Int = 16, iters: Int = 2): Unit = {
    val centroids = trainCentroids(corpus, nlist, iters)
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("centroids.txt"),
      centroids.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
    val assignOne = nearestUdf(centroids, 1)
    corpus.select(col("vec_id"), col("embedding"),
        element_at(assignOne(col("embedding")), 1).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  def loadCentroids(dir: String): Array[Array[Double]] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir).resolve("centroids.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).map(_.split(",").map(_.toDouble))

  /** approximate top-k against a built index; exact cosine rerank within the
    * probed cells (identical semantics to [[Similarity.ivfTopK]] at the same
    * centroids) */
  def query(spark: org.apache.spark.sql.SparkSession, dir: String,
      qdf: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val centroids = loadCentroids(dir)
    val probe = nearestUdf(centroids, nprobe)
    val probes = qdf.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      explode(probe(col("embedding"))).as("cell"))
    // static partition pruning: only the probed cell directories are read
    val probedCells = probes.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id").as("nid"), col("embedding").as("nv"), col("cell"))
    val scored = broadcast(probes).join(cells, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine("qv", "nv").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

}
