package perfbench

import graft.pipeline.{Curation, Dedup, QualityModel, Similarity}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `curation_batch`: passes over a seeded corpus through four pipeline
  * operators — `Curation.curate`, `Dedup.minhashPairs`,
  * `Similarity.semanticSurvivors` and `QualityModel.qualityClassifier` —
  * each built and then written in full through the `noop` sink.
  *
  * The corpus has an organic shape: a syllable-composed vocabulary drawn
  * log-uniformly (Zipf ≈ 1) with a per-source bias, log-normal document
  * lengths, 3 languages, 20 sources, and per 20-document family 16 unique
  * documents, 2 exact duplicates and 2 near duplicates (5% of words
  * replaced) of the family head. Embeddings are 64-d with 16 latent centers. */
object CurationBatch {

  final case class Sizes(docs: Int, vecs: Int)
  object Sizes {
    val bench: Sizes = Sizes(docs = 1000, vecs = 400)
    val tiny: Sizes = Sizes(docs = 200, vecs = 100)
  }

  private val syllables = Array(
    Array("ka", "ro", "min", "tel", "sa", "ven", "dor", "li", "pe", "stra", "no", "ult", "ar",
      "bi", "con", "dra", "ep", "fi", "gor", "hu", "is", "jen", "ko", "lum"),
    Array("sch", "ber", "ung", "ein", "lich", "wal", "zei", "ter", "hof", "dan", "kel", "mor",
      "bau", "fen", "gut", "rin"),
    Array("eau", "lle", "mon", "que", "tre", "vie", "ois", "ent", "pre", "cou", "sur", "ail",
      "ron", "dou"))
  private val langs = Array("en", "de", "fr")
  val VocabSize = 20000
  val Families = 20

  /** the Zipf head of each language is its function words */
  private val stopwords = Array(Array("the", "a", "of", "and", "is", "to", "in"),
    Array("der", "die", "das", "und", "ist", "nicht", "ein"),
    Array("le", "la", "de", "et", "est", "un", "une"))

  private def word(lang: Int, idx: Int): String = if (idx < stopwords(lang).length)
    stopwords(lang)(idx) else {
    val s = syllables(lang)
    val r = new java.util.Random(idx * 2654435761L + lang * 97L)
    val n = 2 + r.nextInt(3)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(s(r.nextInt(s.length))))
    sb.toString
  }
  private def zipf(r: java.util.Random): Int =
    math.min(VocabSize - 1, math.exp(r.nextDouble() * math.log(VocabSize.toDouble)).toInt - 1)

  private def text(seed: Long, docSeed: Long, lang: Int, source: Int): Array[String] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + docSeed * 6364136223846793005L + 1)
    val n = math.max(20, math.min(400, math.exp(4.0 + 0.8 * r.nextGaussian()).toInt))
    Array.fill(n)(if (r.nextDouble() < 0.3) source * 900 + r.nextInt(900) else zipf(r))
      .map(word(lang, _))
  }

  def docs(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rows = (0 until n).map { d =>
      val family = d / 20
      val fr = new java.util.Random(seed * 31 + family * 7919L + 7)
      val lang = if (fr.nextDouble() < 0.8) 0 else 1 + fr.nextInt(2)
      val source = fr.nextInt(Families)
      val head = family * 20L
      val words = d % 20 match {
        case r if r <= 15 => text(seed, d.toLong, lang, source)
        case 16 | 17 => text(seed, head, lang, source)
        case _ =>
          val mr = new java.util.Random(seed * 131 + d * 104729L + 13)
          text(seed, head, lang, source).map(w =>
            if (mr.nextDouble() < 0.05) word(lang, zipf(mr)) else w)
      }
      val t = words.mkString(" ")
      Row(d.toLong, t, langs(lang), s"src$source", t.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType, false),
      StructField("lang", StringType, false), StructField("source", StringType, false),
      StructField("n_chars", LongType, false))))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rows = (0 until n).map { v =>
      val r = new java.util.Random(seed * 0x2545F4914F6CDD1DL + v * 2862933555777941757L + 3)
      val center = r.nextInt(16)
      val cr = new java.util.Random(seed * 17 + center * 7919L + 1)
      Row(v.toLong, Array.fill(64)((cr.nextGaussian() + 0.35 * r.nextGaussian()).toFloat).toSeq,
        center)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false),
      StructField("label", IntegerType, false))))
  }

  /** write the seed's corpus as parquet and read it back */
  def writeCorpus(spark: SparkSession, seed: Long, sz: Sizes, dir: String): (DataFrame, DataFrame) = {
    docs(spark, seed, sz.docs).write.parquet(s"$dir/documents.parquet")
    embeddings(spark, seed, sz.vecs).write.parquet(s"$dir/embeddings.parquet")
    (spark.read.parquet(s"$dir/documents.parquet"), spark.read.parquet(s"$dir/embeddings.parquet"))
  }

  /** the pass: operator name → builder over (docs, embeddings) */
  val operators: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "curate" -> ((d, _) => Curation.curate(d, d.filter(col("doc_id") < 20), lang = "en",
      minQuality = 0.6, tau = 0.1, contamN = 4)),
    "minhash_pairs" -> ((d, _) => Dedup.minhashPairs(d, minEstJaccard = 0.3)),
    "semantic_survivors" -> ((_, e) => Similarity.semanticSurvivors(e, tau = 0.95, k = 8, iters = 3)),
    "quality_classifier" -> ((d, _) => QualityModel.qualityClassifier(d,
      label = col("n_chars") > 500, buckets = 1 << 15, iters = 3)))

  /** one operator run; `kept` is the size and XOR of xxhash64(doc_id) of the
    * set `curate` keeps (0 for the other operators) */
  final case class OpRun(pass: Int, op: String, buildMs: Double, execMs: Double, rows: Long,
      kept: (Long, Long))

  /** Build one operator, then write its output in full through the noop
    * sink. An observation on the written frame counts its rows (and for
    * `curate` digests the kept set) as they stream by, so the check needs no
    * second execution. Job groups name the phase for the tracer. */
  def runOp(spark: SparkSession, pass: Int, op: String, f: (DataFrame, DataFrame) => DataFrame,
      d: DataFrame, e: DataFrame, trace: Option[Trace], parent: Long): OpRun = {
    val sc = spark.sparkContext
    val bg = s"pipeline-$op-build-$pass"
    val eg = s"pipeline-$op-exec-$pass"
    val opId = trace.map(_.newId()).getOrElse(0L)
    val opStart = trace.map(_.nowUs()).getOrElse(0L)
    def phase[T](name: String, g: String)(body: => T): (T, Double) = {
      sc.setJobGroup(g, s"$op $name")
      try trace match {
        case Some(t) =>
          val id = t.newId()
          t.bind(g, id, s"p$pass")
          t.timed(s"pipeline.$op.$name", opId, s"p$pass", id)(body)
        case None =>
          val t0 = System.nanoTime()
          val r = body
          (r, (System.nanoTime() - t0) / 1e6)
      } finally sc.clearJobGroup()
    }
    val obs = Observation(s"perfbench-$op-$pass")
    val (df, buildMs) = phase("build", bg) {
      val out = f(d, e)
      if (op == "curate") out.observe(obs, count(lit(1)).as("rows"),
        count_if(col("kept")).as("kept"),
        coalesce(bit_xor(when(col("kept"), xxhash64(col("doc_id")))), lit(0L)).as("kept_xor"))
      else out.observe(obs, count(lit(1)).as("rows"))
    }
    val (_, execMs) = phase("exec", eg)(df.write.format("noop").mode("overwrite").save())
    trace.foreach(t => t.add(opId, s"pipeline.$op", opStart, t.nowUs(), parent, s"p$pass"))
    val m = obs.get
    def long(k: String) = m.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)
    OpRun(pass, op, buildMs, execMs, long("rows"), (long("kept"), long("kept_xor")))
  }

  /** structural checks of one pass's output row counts */
  def checkRows(sz: Sizes, rows: Map[String, Long]): Seq[String] = {
    val plantedExactPairs = 3L * (sz.docs / 20)
    Seq(
      Option.when(rows("curate") != sz.docs)(s"curate wrote ${rows("curate")} rows, want ${sz.docs}"),
      Option.when(rows("quality_classifier") != sz.docs)(
        s"quality_classifier wrote ${rows("quality_classifier")} rows, want ${sz.docs}"),
      Option.when(rows("minhash_pairs") < plantedExactPairs)(
        s"minhash_pairs wrote ${rows("minhash_pairs")} pairs, below the $plantedExactPairs planted exact pairs"),
      Option.when(rows("semantic_survivors") <= 0 || rows("semantic_survivors") > sz.vecs)(
        s"semantic_survivors wrote ${rows("semantic_survivors")} rows, want 1..${sz.vecs}")).flatten
  }

  /** recorded per-seed figures (perfbench/expected/curation.json) */
  def recorded(seed: Long): Option[(Map[String, Long], (Long, Long))] = {
    val f = new java.io.File("perfbench/expected/curation.json")
    if (!f.isFile) None
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      Option(root.get(seed.toString)).map { n =>
        val rows = operators.map(_._1).map(op => op -> n.get("rows").get(op).asLong()).toMap
        (rows, (n.get("kept").asLong(), n.get("kept_xor").asLong()))
      }
    }
  }

  /** Record the expected figures (output rows per operator, kept-set size and
    * XOR) for `count` seeds from `a.seed`, into perfbench/expected/curation.json
    * (merged with the seeds already there). */
  def record(spark: SparkSession, a: Main.Args, count: Int): Map[String, Any] = {
    val f = new java.io.File("perfbench/expected/curation.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val old: Map[String, Any] =
      if (!f.isFile) Map.empty
      else {
        val root = mapper.readTree(f)
        root.fieldNames().asScala.map(k => k -> Json.raw(root.get(k).toString)).toMap
      }
    val sz = Sizes.bench
    val fresh = (a.seed until a.seed + count).map { seed =>
      val dir = s"${a.work}/record-$seed"
      val (d, e) = writeCorpus(spark, seed, sz, dir)
      val rs = operators.map { case (op, fn) => runOp(spark, 0, op, fn, d, e, None, 0L) }
      Main.deleteTree(new java.io.File(dir))
      val kept = rs.head.kept
      seed.toString -> Map("rows" -> rs.map(r => r.op -> r.rows).toMap, "kept" -> kept._1,
        "kept_xor" -> kept._2)
    }.toMap
    f.getParentFile.mkdirs()
    val all = old ++ fresh
    java.nio.file.Files.writeString(f.toPath, all.toSeq.sortBy(_._1.toLong)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.render(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    Map("correct" -> true, "attempted" -> count, "failed" -> 0, "metrics" -> Map.empty,
      "recorded" -> fresh.keys.toSeq.sorted)
  }

  def run(spark: SparkSession, a: Main.Args, sz: Sizes, trace: Option[Trace],
      keepDigests: Boolean = false): Main.Outcome = {
    var prevDir: Option[String] = None
    // one set-up: generate the corpus and write it
    val (setupS, (d, e, dir)) = Main.timedSetup(Main.SetupReps) { i =>
      prevDir.foreach(p => Main.deleteTree(new java.io.File(p)))
      val dir = s"${a.work}/curation-$i"
      val (d, e) = writeCorpus(spark, a.seed, sz, dir)
      prevDir = Some(dir)
      (d, e, dir)
    }
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    var pass = 0
    // whole passes only, from a cold JVM: the first pass compiles every
    // operator's plans; the pass in flight at the deadline completes
    while (pass == 0 || System.nanoTime() < deadline) {
      val ps = System.nanoTime()
      val pid = trace.map(_.newId()).getOrElse(0L)
      val pStart = trace.map(_.nowUs()).getOrElse(0L)
      operators.foreach { case (op, f) => runs += runOp(spark, pass, op, f, d, e, trace, pid) }
      trace.foreach(t => t.add(pid, "pass", pStart, t.nowUs(), 0L, s"p$pass"))
      passMs += (System.nanoTime() - ps) / 1e6
      pass += 1
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val heap = Main.retainedHeapMb()
    // output checks: every pass against the structural expectations, the
    // first pass and the figures recorded for the seed
    val byPass = runs.groupBy(_.pass).map { case (p, rs) => p -> rs.map(r => r.op -> r.rows).toMap }
    val keptBy = runs.filter(_.op == "curate").map(r => r.pass -> r.kept).toMap
    val first = byPass(0)
    val rec = if (sz == Sizes.bench) recorded(a.seed) else None
    val errors = mutable.ArrayBuffer.empty[String]
    val failedPasses = byPass.keys.toSeq.sorted.count { p =>
      val es = checkRows(sz, byPass(p)) ++
        Option.when(byPass(p) != first)(s"rows ${byPass(p)} differ from pass 0 $first") ++
        Option.when(keptBy(p) != keptBy(0))(s"curate kept set ${keptBy(p)} differs from pass 0") ++
        rec.toSeq.flatMap { case (rows, kept) =>
          Option.when(rows != byPass(p))(s"rows ${byPass(p)} differ from the recorded $rows") ++
            Option.when(kept != keptBy(p))(s"curate kept set ${keptBy(p)} differs from the recorded $kept")
        }
      errors ++= es.map(m => s"pass $p: $m")
      es.nonEmpty
    }
    val layers = trace.map { t =>
      val m = Layers.pipelineOps.flatMap { op =>
        val rs = runs.filter(_.op == op)
        val b = t.sparkStats(g => g.startsWith(s"pipeline-$op-build-"))
        val x = t.sparkStats(g => g.startsWith(s"pipeline-$op-exec-"))
        val n = math.max(1, rs.size).toDouble
        Seq(s"pipeline.$op.build_ms" -> Layers.mean(rs.map(_.buildMs)),
          s"pipeline.$op.exec_ms" -> Layers.mean(rs.map(_.execMs)),
          s"pipeline.$op.jobs" -> (b.jobs + x.jobs) / n,
          s"pipeline.$op.shuffle_write_bytes" -> (b.shuffleWrite + x.shuffleWrite) / n,
          s"pipeline.$op.spill_bytes" -> (b.spill + x.spill) / n,
          s"pipeline.$op.gc_ms" -> (b.gcMs + x.gcMs) / n,
          s"pipeline.$op.output_rows" -> Layers.mean(rs.map(_.rows.toDouble)))
      }.toMap
      val passes = t.sparkStats(g => g.startsWith("pipeline-"))
      val spans = t.allSpans()
      t.writeSpans(spans)
      (m ++ Layers.execMetrics(passes, pass.toLong, 0L, wallMs, a.cpus), spans)
    }
    Main.deleteTree(new java.io.File(dir))
    val slowestOp = runs.groupBy(_.pass).values.map(_.map(r => r.buildMs + r.execMs).max).toSeq
    Main.Outcome(
      attempted = pass.toLong, failed = failedPasses.toLong,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "op_mean_ms" -> (Layers.mean(passMs), "ms"),
        "op_tail_ms" -> (Main.median(slowestOp), "ms"),
        "retained_heap_mb" -> (heap, "MB")),
      layers = layers.map(l => Layers.complete(l._1)).getOrElse(Map.empty),
      info = Map("sizes" -> Map("docs" -> sz.docs, "vecs" -> sz.vecs),
        "measured_s" -> wallMs / 1000.0, "ops_per_s" -> pass / (wallMs / 1000.0),
        "passes" -> pass, "pass_ms" -> passMs.toSeq,
        "curation_s" -> Main.median(passMs.toSeq) / 1000.0,
        "by_operator" -> operators.map(_._1).map(op => op -> {
          val rs = runs.filter(_.op == op)
          Map("build_ms" -> Main.median(rs.map(_.buildMs).toSeq),
            "exec_ms" -> Main.median(rs.map(_.execMs).toSeq), "rows" -> rs.head.rows)
        }).toMap,
        "rows" -> first, "kept" -> keptBy(0)._1, "kept_xor" -> keptBy(0)._2,
        "recorded_expectation" -> rec.isDefined, "errors" -> errors.take(5).toSeq) ++
        layers.map(l => "self_ms" -> trace.get.selfTimes(l._2).map { case (k, (n, tot, self)) =>
          k -> Map("count" -> n, "total_ms" -> tot, "self_ms" -> self) }).toMap,
      digests = if (keepDigests) Seq(s"kept ${keptBy(0)}") ++
        first.toSeq.sorted.map { case (op, n) => s"$op $n" } else Nil)
  }
}
