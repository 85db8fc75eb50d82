package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.CorpusPipeline

/** Incremental corpus admission ([[graft.llm.CorpusPipeline.admitDelta]]):
  * every gate's verdict on a hand-built delta, plus the contract the
  * Scaladoc promises — `run(C ∪ D)` restricted to delta ids equals
  * `admitDelta(run(C), D)`, and the corpus side stays frozen.
  */
class CorpusDeltaSpec extends SparkSpec {

  private def uniq(p: String, n: Int): String =
    (1 to n).map(i => s"$p$i").mkString(" ")

  private val shared16 = uniq("shared", 16) // corpus-owned boilerplate run
  private val nshared16 = uniq("nshared", 16) // delta-internal shared run
  private val textA = uniq("alpha", 40)
  private val textE = uniq("echo", 30)

  // corpus: ids 1-6 — a clean doc, a quality reject, a span-dup owner,
  // a near-dup chain anchor, and a url re-crawl target
  private def corpusDocs = Seq(
    (1L, textA, "https://corp.com/a"),
    (2L, uniq("bravo", 40), "https://corp.com/b"),
    (3L, ("the " * 30).trim, "https://corp.com/c"), // quality+repetition reject
    (4L, shared16 + " " + uniq("cfour", 24), "https://corp.com/d"),
    (5L, textE, "https://corp.com/e"),
    (6L, uniq("foxtrot", 30), "https://www.Corp.com/page?utm=1"))

  // delta: ids 101+ — one doc per admission path
  private def deltaDocs = Seq(
    (101L, uniq("durl", 30), "http://corp.com/page/"), // url re-crawl of 6
    (102L, uniq("dtwoa", 30), "https://corp.com/new"), // url keeper of {102,103}
    (103L, uniq("dtwob", 30), "https://corp.com/new/"), // url_dup within delta
    (104L, ("the " * 30).trim, "https://corp.com/q"), // hygiene quality reject
    (105L, textA, "https://corp.com/x1"), // exact dup of corpus 1
    (106L, uniq("gexact", 30), "https://corp.com/x2"), // exact keeper of {106,107}
    (107L, uniq("gexact", 30), "https://corp.com/x3"), // exact dup within delta
    (108L, textA + " changedword", "https://corp.com/n1"), // near corpus 1
    (109L, textE + " golfx", "https://corp.com/n2"), // near corpus 5
    (110L, textE + " golfx " + uniq("hotel", 2),
      "https://corp.com/n3"), // near 109 (and transitively the corpus)
    (111L, shared16 + " " + uniq("dspan", 24), "https://corp.com/s1"), // span vs corpus
    (112L, nshared16 + " " + uniq("dwa", 24), "https://corp.com/s2"), // span owner
    (113L, nshared16 + " " + uniq("dwb", 24), "https://corp.com/s3"), // span loser
    (114L, uniq("india", 40), "https://corp.com/k"), // fully clean
    (115L, shared16, "https://corp.com/s4")) // scrubbed to zero tokens

  private def toDf(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t, u) => (id, t, "en", "web", t.length.toLong, u) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "url")
  }

  private def cfg = CorpusPipeline.Config(urlCol = Some("url"))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private lazy val corpusState =
    CorpusPipeline.run(spark, toDf(corpusDocs), MapPipeline.PathBarrier(tmp("cd_c")), cfg)
  private lazy val deltaRes =
    CorpusPipeline.admitDelta(spark, corpusState, toDf(deltaDocs),
      MapPipeline.PathBarrier(tmp("cd_d")), cfg)

  test("admitDelta: every gate fires on its delta doc, admitted set is exact") {
    val v = deltaRes.verdicts.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted"))
      .toMap
    val expected = Map(
      101L -> "url_dup", 103L -> "url_dup",
      104L -> "hygiene", 105L -> "hygiene", 107L -> "hygiene",
      108L -> "neardup", 109L -> "neardup", 110L -> "neardup",
      115L -> "scrubbed_empty",
      102L -> "admitted", 106L -> "admitted", 111L -> "admitted",
      112L -> "admitted", 113L -> "admitted", 114L -> "admitted")
    assert(v == expected, s"verdicts diverge: $v")
  }

  test("admitDelta: corpus-owned and delta-duplicated spans are scrubbed, owners keep theirs") {
    val texts = deltaRes.admitted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(111L) == uniq("dspan", 24),
      "the corpus-owned 16-token run must be scrubbed from doc 111")
    assert(texts(112L) == nshared16 + " " + uniq("dwa", 24),
      "the within-delta span OWNER (min id) keeps its copy")
    assert(texts(113L) == uniq("dwb", 24),
      "the within-delta span loser drops the shared run")
    assert(texts(114L) == uniq("india", 40), "a clean doc passes untouched")
  }

  test("admitDelta == run(C ∪ D) restricted to delta ids; corpus side frozen") {
    val full = CorpusPipeline.run(spark,
      toDf(corpusDocs).unionByName(toDf(deltaDocs)),
      MapPipeline.PathBarrier(tmp("cd_f")), cfg)
    def rows(df: DataFrame) = df
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toSeq).toSet
    assert(rows(full.scrubbed.filter(col("doc_id") >= 101L)) ==
      rows(deltaRes.admitted),
      "delta admission must replay the union run's delta verdicts and text")
    assert(rows(full.scrubbed.filter(col("doc_id") < 101L)) ==
      rows(corpusState.scrubbed),
      "the union run must leave the (bridge-free) corpus side unchanged")
  }

  // ---- line-dedup stage (lineWidthTok on) -------------------------------

  test("line stage: admitDelta == run(C ∪ D) at line granularity; corpus lines frozen") {
    val banner = uniq("banner", 10) // exactly one 10-token derived line
    val dsh = uniq("dsh", 10)
    def lc = Seq( // corpus: 1 owns the banner line, 2 is clean
      (1L, banner + " " + uniq("cone", 30), ""),
      (2L, uniq("ctwo", 40), ""))
    def ld = Seq(
      (201L, banner + " " + uniq("done", 30), ""), // banner owned by corpus -> stripped
      (202L, banner, ""),                          // only line removed -> line_empty
      (203L, dsh + " " + uniq("dthree", 30), ""),  // within-delta owner keeps
      (204L, dsh + " " + uniq("dfour", 30), ""),   // within-delta loser stripped
      (205L, uniq("dfive", 40), ""))               // untouched
    val lcfg = CorpusPipeline.Config(lineWidthTok = graft.llm.Lines.LineWidthTok)
    val cState = CorpusPipeline.run(spark, toDf(lc),
      MapPipeline.PathBarrier(tmp("cl_c")), lcfg)
    val d = CorpusPipeline.admitDelta(spark, cState, toDf(ld),
      MapPipeline.PathBarrier(tmp("cl_d")), lcfg)
    val v = d.verdicts.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted")).toMap
    assert(v == Map(201L -> "admitted", 202L -> "line_empty",
      203L -> "admitted", 204L -> "admitted", 205L -> "admitted"), s"$v")
    val texts = d.admitted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(201L) == uniq("done", 30), "corpus-owned banner line stripped")
    assert(texts(203L) == dsh + " " + uniq("dthree", 30), "delta owner keeps its line")
    assert(texts(204L) == uniq("dfour", 30), "delta loser loses the shared line")
    assert(texts(205L) == uniq("dfive", 40), "clean doc untouched")
    // union-run parity, both sides
    val full = CorpusPipeline.run(spark, toDf(lc).unionByName(toDf(ld)),
      MapPipeline.PathBarrier(tmp("cl_f")), lcfg)
    def rows(df: DataFrame) = df
      .select("doc_id", "text").collect().map(_.toSeq).toSet
    assert(rows(full.scrubbed.filter(col("doc_id") >= 201L)) == rows(d.admitted))
    assert(rows(full.scrubbed.filter(col("doc_id") < 201L)) ==
      rows(cState.scrubbed), "corpus line verdicts must be delta-independent")
    // the owner keeps the banner: no content is globally lost
    val corpusTexts = cState.scrubbed.select("text").collect().map(_.getString(0))
    assert(corpusTexts.exists(_.startsWith(banner)), "owner copy survives")
  }

  // ---- chained admission (DocStream.CorpusAdmitter / mergeDelta) --------

  private def oneShot: (Map[Long, String], Map[Long, String]) = {
    val v = deltaRes.verdicts.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted"))
      .toMap
    val t = deltaRes.admitted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (v, t)
  }

  private def chained(batches: Seq[Seq[(Long, String, String)]],
                      compactEvery: Int = 0): (Map[Long, String], Map[Long, String]) = {
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, corpusState,
      MapPipeline.PathBarrier(tmp("cd_ch")), cfg, compactEvery)
    var verdicts = Map.empty[Long, String]
    var texts = Map.empty[Long, String]
    for (b <- batches) {
      val d = adm.step(toDf(b))
      verdicts ++= d.verdicts.collect()
        .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted"))
      texts ++= d.admitted.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    (verdicts, texts)
  }

  test("chained admission: any id-ordered batching == one-shot admitDelta (cross-batch gates fire)") {
    val (v1, t1) = oneShot
    // each split severs a different within-delta duplicate pair across the
    // batch boundary, so the corresponding gate must catch it from STATE:
    //   102|103 → url canon, 106|107 → hygiene exact fp,
    //   109|110 → near-dup transitive chain, 112|113 → span ownership
    val splits = Seq(
      Seq(deltaDocs.take(2), deltaDocs.drop(2)), // 102 | 103
      Seq(deltaDocs.take(6), deltaDocs.drop(6)), // 106 | 107
      Seq(deltaDocs.take(9), deltaDocs.drop(9)), // 109 | 110
      Seq(deltaDocs.take(12), deltaDocs.drop(12)), // 112 | 113
      deltaDocs.grouped(4).toSeq) // three boundaries at once
    for ((s, i) <- splits.zipWithIndex) {
      val (v, t) = chained(s)
      assert(v == v1, s"split $i verdicts diverge from one-shot: $v")
      assert(t == t1, s"split $i admitted text diverges from one-shot")
    }
  }

  test("CorpusAdmitter: empty micro-batch is a no-op; a non-monotonic batch fails loudly") {
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, corpusState,
      MapPipeline.PathBarrier(tmp("cd_g")), cfg)
    val d0 = adm.step(toDf(Seq.empty)) // streaming delivers empty batches
    assert(d0.admitted.count() == 0L && d0.verdicts.count() == 0L,
      "empty batch admits nothing and verdicts nothing")
    adm.step(toDf(deltaDocs.drop(2))) // ids 103..115
    // a batch whose min id does not exceed everything seen would
    // MIS-VERDICT silently (sentinel collapse keys off the batch min) —
    // it must throw instead
    val ex = intercept[IllegalArgumentException](adm.step(toDf(deltaDocs.take(1))))
    assert(ex.getMessage.contains("monotonic"), ex.getMessage)
  }

  private def causedBy(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(msg)))

  private def poisonText(df: DataFrame, msg: String): DataFrame =
    df.withColumn("text", expr(s"raise_error('$msg')").cast("string"))

  test("CorpusAdmitter: a batch whose admission throws is admitted on a retry with the same ids") {
    val (v1, t1) = oneShot
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, corpusState,
      MapPipeline.PathBarrier(tmp("cd_rt")), cfg)
    val batch = deltaDocs.take(6)
    // the repartition keeps the optimizer from folding the poisoned
    // projection over the local rows: the id scan prunes `text` and only
    // admission reads it
    val ex = intercept[Exception](
      adm.step(poisonText(toDf(batch).repartition(2), "bad batch")))
    assert(causedBy(ex, "bad batch"), s"the admission itself must throw: $ex")
    val d = adm.step(toDf(batch))
    val ids = batch.map(_._1).toSet
    assert(d.verdicts.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted")).toMap ==
      v1.filter { case (id, _) => ids(id) }, "the retried batch gets its one-shot verdicts")
    assert(d.admitted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      t1.filter { case (id, _) => ids(id) })
  }

  test("admission is linear in the delta: the default gates never re-read corpus text") {
    val dcfg = CorpusPipeline.Config()
    val state = CorpusPipeline.run(spark, toDf(corpusDocs),
      MapPipeline.PathBarrier(tmp("cd_lin")), dcfg)
    val msg = "corpus text re-read"
    val poisoned = state.copy(lineClean = poisonText(state.lineClean, msg),
      clean = poisonText(state.clean, msg), gated = poisonText(state.gated, msg))
    def out(d: CorpusPipeline.DeltaResult) = (
      d.verdicts.collect()
        .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted")).toMap,
      d.admitted.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
    def oneShotOf(st: CorpusPipeline.Result) = out(CorpusPipeline.admitDelta(spark, st,
      toDf(deltaDocs), MapPipeline.PathBarrier(tmp("cd_lin_d")), dcfg))
    def chainOf(st: CorpusPipeline.Result) = {
      val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, st,
        MapPipeline.PathBarrier(tmp("cd_lin_ch")), dcfg)
      deltaDocs.grouped(4).map(b => out(adm.step(toDf(b))))
        .reduce((a, b) => (a._1 ++ b._1, a._2 ++ b._2))
    }
    val expected = oneShotOf(state)
    // every probe-backed gate fires on the fixture: exact dup of corpus 1
    // (fingerprints), near-dup chain to corpus 5 (signatures), corpus-owned
    // span (windows)
    assert(expected._1(105L) == "hygiene" && expected._1(108L) == "neardup" &&
      expected._1(110L) == "neardup" && expected._2(111L) == uniq("dspan", 24),
      s"${expected._1}")
    assert(oneShotOf(poisoned) == expected, "one-shot admission re-read corpus text")
    assert(chainOf(poisoned) == expected, "chained admission re-read corpus text")
    assert(chainOf(state) == expected)
  }

  test("chained admission: the carried probe equals the probe derived from the merged state") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (compactEvery <- Seq(0, 1)) {
      val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, corpusState,
        MapPipeline.PathBarrier(tmp("cd_pr")), cfg, compactEvery)
      deltaDocs.grouped(5).foreach(b => adm.step(toDf(b)))
      val carried = adm.state.probe
      val derived = CorpusPipeline.deriveProbe(adm.state, cfg)
      assert(rows(derived.fps).size == adm.state.lineClean.count() &&
        rows(derived.wins).size > rows(corpusState.probe.wins).size,
        "the derived probe covers the merged batches")
      assert(rows(carried.fps) == rows(derived.fps), s"fps (compactEvery=$compactEvery)")
      assert(rows(carried.sig.banded) == rows(derived.sig.banded),
        s"sig.banded (compactEvery=$compactEvery)")
      assert(rows(carried.sig.sets) == rows(derived.sig.sets),
        s"sig.sets (compactEvery=$compactEvery)")
      assert(rows(carried.wins) == rows(derived.wins), s"wins (compactEvery=$compactEvery)")
    }
  }

  test("remix over chained-admission state == the full run's mix + shards") {
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, corpusState,
      MapPipeline.PathBarrier(tmp("cd_rm")), cfg)
    deltaDocs.grouped(5).foreach(b => adm.step(toDf(b)))
    val remixed = CorpusPipeline.remix(spark, adm.state,
      MapPipeline.PathBarrier(tmp("cd_rm2")), cfg)
    val full = CorpusPipeline.run(spark,
      toDf(corpusDocs).unionByName(toDf(deltaDocs)),
      MapPipeline.PathBarrier(tmp("cd_rf")), cfg)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(remixed.mixed) == rows(full.mixed),
      "re-cut mix over the merged state must equal the union run's mix")
    assert(rows(remixed.shardSeqs) == rows(full.shardSeqs),
      "re-cut shards must equal the union run's shards")
  }

  test("chained admission: state compaction is verdict-invariant") {
    val (v1, t1) = oneShot
    val (v, t) = chained(deltaDocs.grouped(5).toSeq, compactEvery = 1)
    assert(v == v1, s"compacted-state verdicts diverge: $v")
    assert(t == t1, "compacted-state admitted text diverges")
  }

  // ---- novelty gates (winnowMaxDupPpm / cdcMaxDupPpm on) ----------------

  /** Shared scenario for both gate granularities: a near-copy of a corpus
    * doc (drops), a within-delta owner/near-copy pair (owner keeps, the
    * later near-copy drops), and a fresh doc (admits). dupJaccard = 2.0
    * disables the near-dup stage so the verdicts isolate the gate under
    * test; scrubWindowTok = 0 isolates it from the span stage.
    */
  private def gateScenario(gcfg: CorpusPipeline.Config): Unit = {
    val gc = Seq((1L, uniq("gone", 40), ""), (2L, uniq("gtwo", 40), ""))
    val gd = Seq(
      (301L, uniq("gone", 40) + " " + uniq("tail", 4), ""), // ~corpus copy -> drop
      (302L, uniq("gnew", 40), ""),                         // delta owner -> keep
      (303L, uniq("gnew", 40) + " " + uniq("gz", 4), ""),   // ~copy of 302 -> drop
      (304L, uniq("fresh", 40), ""))                        // novel -> keep
    val cState = CorpusPipeline.run(spark, toDf(gc),
      MapPipeline.PathBarrier(tmp("cg_c")), gcfg)
    val d = CorpusPipeline.admitDelta(spark, cState, toDf(gd),
      MapPipeline.PathBarrier(tmp("cg_d")), gcfg)
    val v = d.verdicts.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted")).toMap
    assert(v == Map(301L -> "novelty", 302L -> "admitted",
      303L -> "novelty", 304L -> "admitted"), s"$v")
    // union-run parity, both sides
    val full = CorpusPipeline.run(spark, toDf(gc).unionByName(toDf(gd)),
      MapPipeline.PathBarrier(tmp("cg_f")), gcfg)
    def rows(df: DataFrame) = df.select("doc_id", "text").collect().map(_.toSeq).toSet
    assert(rows(full.scrubbed.filter(col("doc_id") >= 301L)) == rows(d.admitted),
      "gate admission must replay the union run's delta verdicts")
    assert(rows(full.scrubbed.filter(col("doc_id") < 301L)) ==
      rows(cState.scrubbed), "corpus gate verdicts must be delta-independent")
  }

  test("winnow novelty gate: admitDelta == run(C ∪ D); corpus frozen") {
    gateScenario(CorpusPipeline.Config(dupJaccard = 2.0, scrubWindowTok = 0,
      winnowMaxDupPpm = 600000))
  }

  test("cdc novelty gate: admitDelta == run(C ∪ D); corpus frozen") {
    gateScenario(CorpusPipeline.Config(dupJaccard = 2.0, scrubWindowTok = 0,
      cdcMaxDupPpm = 600000))
  }

  test("both gates + span scrub composed: chained == one-shot == union run") {
    val gcfg = CorpusPipeline.Config(dupJaccard = 2.0,
      winnowMaxDupPpm = 600000, cdcMaxDupPpm = 600000)
    val gc = Seq((1L, uniq("gone", 40), ""), (2L, shared16 + " " + uniq("gsp", 24), ""))
    val gd = Seq(
      (301L, uniq("gone", 40) + " " + uniq("tail", 4), ""),  // novelty drop
      (302L, uniq("gnew", 40), ""),
      (303L, uniq("gnew", 40) + " " + uniq("gz", 4), ""),    // novelty drop
      (304L, shared16 + " " + uniq("dgs", 24), ""))           // span scrub vs corpus
    val cState = CorpusPipeline.run(spark, toDf(gc),
      MapPipeline.PathBarrier(tmp("cb_c")), gcfg)
    val one = CorpusPipeline.admitDelta(spark, cState, toDf(gd),
      MapPipeline.PathBarrier(tmp("cb_d")), gcfg)
    def vmap(vf: DataFrame) = vf.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("admitted")).toMap
    assert(vmap(one.verdicts) == Map(301L -> "novelty", 302L -> "admitted",
      303L -> "novelty", 304L -> "admitted"), s"${vmap(one.verdicts)}")
    val texts = one.admitted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(304L) == uniq("dgs", 24),
      "the corpus-owned span is scrubbed from the gate survivor")
    // chained (mergeDelta folds the gated frame) == one-shot
    val adm = new graft.streaming.DocStream.CorpusAdmitter(spark, cState,
      MapPipeline.PathBarrier(tmp("cb_ch")), gcfg)
    var cv = Map.empty[Long, String]
    var ct = Map.empty[Long, String]
    for (b <- gd.grouped(2)) {
      val s = adm.step(toDf(b))
      cv ++= vmap(s.verdicts)
      ct ++= s.admitted.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    assert(cv == vmap(one.verdicts), s"chained verdicts diverge: $cv")
    assert(ct == texts, "chained admitted text diverges")
    // union-run parity
    val full = CorpusPipeline.run(spark, toDf(gc).unionByName(toDf(gd)),
      MapPipeline.PathBarrier(tmp("cb_f")), gcfg)
    def rows(df: DataFrame) = df.select("doc_id", "text").collect().map(_.toSeq).toSet
    assert(rows(full.scrubbed.filter(col("doc_id") >= 301L)) == rows(one.admitted))
    assert(rows(full.scrubbed.filter(col("doc_id") < 301L)) ==
      rows(cState.scrubbed))
  }

  test("admitDelta: report shrinks monotonically and matches the admitted frame") {
    val rep = deltaRes.report.collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rep("delta_input") == 15L)
    assert(rep("url_kept") == 13L && rep("clean") == 10L &&
      rep("deduped") == 7L && rep("scrubbed") == 6L,
      s"stage doc counts: $rep")
    assert(deltaRes.admitted.count() == 6L)
  }
}
