package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The benchmark's own tests, at a tiny size (`run.py --selftest`):
  *  - a traced and an untraced run of the same seed give identical output
  *    digests (dashboard_range per request, curation_batch per operator);
  *  - every span of a traced run lies within its parent;
  *  - the output checks accept a correct response and reject a deliberately
  *    wrong one. */
object SelfTest {

  def run(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) failures += what
    val small = a.copy(seconds = 3)

    def pair(name: String)(f: (Main.Args, Option[Trace]) => Main.Outcome): Unit = {
      val plain = f(small.copy(out = s"${a.out.stripSuffix(".json")}-$name-t0.json"), None)
      val tOut = s"${a.out.stripSuffix(".json")}-$name-t1.json"
      val t = new Trace(spark, s"${tOut.stripSuffix(".json")}.spans.jsonl")
      val traced = try f(small.copy(out = tOut, trace = true), Some(t)) finally t.close()
      expect(plain.failed == 0 && traced.failed == 0,
        s"$name: output checks failed (untraced ${plain.failed}, traced ${traced.failed})")
      val pd = plain.digests.map(d => d.split(' ').head -> d).toMap
      val td = traced.digests.map(d => d.split(' ').head -> d).toMap
      val common = pd.keySet & td.keySet
      expect(common.nonEmpty, s"$name: no output digests to compare")
      common.foreach(k => expect(pd(k) == td(k), s"$name: output of $k differs when traced"))
      val spans = t.allSpans()
      val bad = Trace.misnested(spans)
      expect(spans.nonEmpty, s"$name: traced run wrote no spans")
      expect(bad.isEmpty, s"$name: ${bad.size} spans outside their parent, e.g. ${bad.headOption}")
      expect(traced.layers.size == Layers.all.size, s"$name: per-layer metrics incomplete")
    }
    pair("dashboard_range")((x, t) => Dashboard.run(spark, x, Dashboard.Sizes.tiny, t,
      keepDigests = true))
    pair("curation_batch")((x, t) => CurationBatch.run(spark, x, CurationBatch.Sizes.tiny, t,
      keepDigests = true))

    // the checks must reject wrong results
    val sz = Dashboard.Sizes.tiny
    val shape = Dashboard.shapes(sz.scale)(1) // rate(a[1m]) = 0.1
    val start = 1700010000000L
    val grid = Array.tabulate(sz.steps)(i => start + i * Dashboard.StepMs)
    val good = (0 until shape.series).map(i =>
      Http.Series(Map("l" -> i.toString), grid, Array.fill(sz.steps)(0.1)))
    val chk = Dashboard.check(shape, sz.steps, start) _
    expect(chk(good).isEmpty, "dashboard check rejects a correct result")
    expect(chk(good.tail).nonEmpty, "dashboard check accepts a missing series")
    expect(chk(good.updated(0, good.head.copy(ts = grid.init, vs = Array.fill(sz.steps - 1)(0.1))))
      .nonEmpty, "dashboard check accepts a missing point")
    expect(chk(good.updated(0, good.head.copy(vs = good.head.vs.updated(3, 0.1000001)))).nonEmpty,
      "dashboard check accepts a wrong value")
    val lsz = LiveIngest.Sizes.tiny
    val end = LiveIngest.lastTs(lsz, 7)
    val lgrid = Array.tabulate(10)(i => end - (9 - i) * LiveIngest.IntervalMs)
    val lgood = (0 until lsz.jobs).map(j => Http.Series(Map("job" -> s"job$j"), lgrid,
      Array.fill(10)(lsz.instances * LiveIngest.SlopePerS)))
    expect(LiveIngest.check(lsz, end)(lgood).isEmpty, "live_ingest check rejects a correct result")
    expect(LiveIngest.check(lsz, end + LiveIngest.batchMs(lsz))(lgood).nonEmpty,
      "live_ingest check accepts a read without the last acked batch")
    expect(LiveIngest.check(lsz, end)(lgood.map(s => s.copy(vs = s.vs.map(_ * 0.75)))).nonEmpty,
      "live_ingest check accepts a wrong rate")
    val csz = CurationBatch.Sizes.tiny
    val crows = Map("curate" -> csz.docs.toLong, "minhash_pairs" -> 1000L,
      "semantic_survivors" -> 10L, "quality_classifier" -> csz.docs.toLong)
    expect(CurationBatch.checkRows(csz, crows).isEmpty, "curation check rejects correct counts")
    expect(CurationBatch.checkRows(csz, crows.updated("curate", csz.docs - 1L)).nonEmpty,
      "curation check accepts a lost row")
    expect(CurationBatch.checkRows(csz, crows.updated("minhash_pairs", 0L)).nonEmpty,
      "curation check accepts missing duplicate pairs")

    Map("correct" -> failures.isEmpty, "attempted" -> 1, "failed" -> failures.size,
      "metrics" -> Map.empty, "selftest" -> Map("passed" -> failures.isEmpty,
        "failures" -> failures.toSeq))
  }
}
