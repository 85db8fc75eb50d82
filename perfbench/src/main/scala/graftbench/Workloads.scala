package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{MapPipeline, Tables}
import graft.analog.{OccurrenceAnalog => OA}
import graft.io.Sinks
import graft.llm.{CorpusPipeline, Dedup}
import graft.streaming.DocStream
import graft.tiles.{Projections, Pyramid, TileAddressing}

/** State shared by one run's passes: the session, the directories, the
  * tracer, and what the passes record (operations, per-layer counts).
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
                val seed: Long, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Json.Obj]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var pass = 0

  def op(name: String, startMs: Double, endMs: Double): Unit =
    ops += Json.Obj(Seq("pass" -> pass, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> endMs, "ok" -> true))

  def failedOp(name: String, startMs: Double, e: Throwable): Unit =
    ops += Json.Obj(Seq("pass" -> pass, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> Clock.nowMs, "ok" -> false, "error" -> String.valueOf(e)))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One workload: the input tables it reads (the set-up reads and counts
  * them), an untimed warm-up, the timed pass the run repeats, traced-only
  * extras, and the digests of every output the passes committed.
  */
trait Workload {
  def inputs: Seq[String]
  def prepare(ctx: Ctx): Unit = ()
  /** Runs the pass's plans once over the smaller tables in `warmDir`, so
    * that the timed passes find their classes loaded and their code
    * generated and compiled: run cold, a pass's time swings with JIT
    * timing far more than warm.
    */
  def warmUp(ctx: Ctx, warmDir: String): Unit
  def pass(ctx: Ctx): Unit
  def traceExtras(ctx: Ctx): Unit = ()
  def outputs(ctx: Ctx): Seq[(String, String)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "map_pyramid" => new MapPyramid
    case "corpus_daily" => new CorpusDaily
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** `MapPipeline.run` over `events`: 4 projections × zooms 0..MaxZoom, in
  * the pipeline's own order; the input does not depend on the seed.
  * MaxZoom is 1 so that a run of the benchmark fits its time budget.
  */
final class MapPyramid extends Workload {
  val MaxZoom = 1
  // the sf0.01 keys' view threshold: splits views across both sinks here
  val Threshold = 500L
  val AllProjections = Seq("EPSG:3857", "EPSG:4326", "EPSG:3575", "EPSG:3031")

  private val results = mutable.ArrayBuffer.empty[MapPipeline.Result]

  private def config(dir: String, onStage: (String, Double) => Unit = (_, _) => ()) =
    MapPipeline.Config(workDir = dir, maxZoom = MaxZoom, threshold = Threshold,
      projections = AllProjections, onStage = onStage)

  private def occ(spark: SparkSession, dataDir: String): DataFrame =
    Tables.events(spark, dataDir).filter(OA.qualityFilter)
      .select(col("event_id"), col("user_id"), col("event_type"),
        OA.lat.as("lat"), OA.lng.as("lng"),
        col("event_type").as("basisOfRecord"), OA.yearCol.as("year"))

  def inputs: Seq[String] = Seq("events")

  // the warm-up tables hold a tenth of the rows, hence a tenth of the threshold
  def warmUp(ctx: Ctx, warmDir: String): Unit =
    MapPipeline.run(ctx.spark, occ(ctx.spark, warmDir), OA.mapKeysArray,
      config(s"${ctx.workDir}/warmup").copy(threshold = Threshold / 10))

  private def layerOf(stage: String): String = stage match {
    case "prepare_barrier" => "map.prepare"
    case "tile_input_barrier" | "south_barrier" => "map.split"
    case "points_sink" => "points.sink"
    case t => "tiles.build." + t.stripPrefix("tiles/")
  }

  def pass(ctx: Ctx): Unit = {
    val c = config(s"${ctx.workDir}/map/p${ctx.pass}", (name, sec) => {
      ctx.tracer.ended(layerOf(name), sec)
      if (name.startsWith("tiles/")) {
        val e = Clock.nowMs
        ctx.op(name, e - sec * 1000, e)
      }
    })
    val t0 = Clock.nowMs
    try results += ctx.tracer.span("MapPipeline.run") {
      MapPipeline.run(ctx.spark, occ(ctx.spark, ctx.dataDir), OA.mapKeysArray, c)
    } catch { case e: Exception => ctx.failedOp("MapPipeline.run", t0, e); throw e }
  }

  /** Decomposition at the deepest zoom of each projection: force the
    * cascade, then cascade + encode, then cascade + encode + sorted sink,
    * and difference the three; plus the row counts of each step.
    */
  override def traceExtras(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val res = results.last
    val cfg = config(s"${ctx.workDir}/decomp")
    val t = ctx.tracer
    def timed(name: String)(body: => Unit): Double = {
      val s = Clock.nowMs
      t.span(name)(body)
      (Clock.nowMs - s) / 1e3
    }
    var cascade, encode, sink, pixels, addrs, tiles = 0.0
    for (epsg <- AllProjections) {
      val proj = Projections.fromEpsg(epsg)
      val input = if (epsg == "EPSG:3031") res.tileInput.filter(col("lat") <= 1) else res.tileInput
      def t3 = Pyramid.build(input, proj, MaxZoom, cfg.tileSize, cfg.bufferSize, cfg.saltModulo)
      def encoded = Sinks.encodeTilesWithMvt(t3, cfg.tileSize, cfg.borCodes).toDF("key", "value", "mvt")
      val dir = s"${cfg.workDir}/${epsg.replace(':', '_')}"
      val a = timed("decomp.cascade")(ctx.noop(t3))
      val b = timed("decomp.encode")(ctx.noop(encoded))
      val c = timed("decomp.sort_sink")(Sinks.writeSorted(encoded, cfg.saltModulo, dir))
      cascade += a; encode += b - a; sink += c - b
      val t2 = Pyramid.pixelFeatures(Pyramid.pixelCounts(input, proj, MaxZoom, cfg.tileSize))
        .localCheckpoint()
      pixels += t2.count()
      addrs += t2.select(explode(TileAddressing(proj, cfg.tileSize, cfg.bufferSize)
        .addresses(MaxZoom, col("xy.x"), col("xy.y")))).count()
      tiles += spark.read.parquet(dir).count()
    }
    val inputRows = occ(spark, ctx.dataDir).count().toDouble
    ctx.counts ++= Seq(
      "tiles.cascade_s" -> cascade, "io.encode_s" -> encode, "io.sort_sink_s" -> sink,
      "tiles.pixels" -> pixels, "tiles.tiles" -> tiles,
      "tiles.addr_fanout" -> (if (pixels > 0) addrs / pixels else 0.0),
      "map.fanout" -> res.prepared.count() / inputRows,
      "io.tile_mb" -> res.tileDirs.map(Files.mb).sum,
      "io.point_mb" -> Files.mb(res.pointsPath))
  }

  def outputs(ctx: Ctx): Seq[(String, String)] = results.toSeq.flatMap { r =>
    (("points" -> r.pointsPath) +: r.tileDirs.map(d => d.substring(d.indexOf("/tiles/") + 1) -> d))
      .map { case (name, dir) => name -> Digest.of(ctx.spark.read.parquet(dir)) }
  }
}

/** The sf documents in three steps: `CorpusPipeline.run` on the 90% doc_id
  * head, the 10% tail admitted as id-ordered micro-batches through
  * `DocStream.CorpusAdmitter.step`, then `CorpusPipeline.remix`. The seed
  * draws each batch boundary within a sixth of the tail around the
  * equal-size cut; admission is batching-invariant, so every output is the
  * same for every seed.
  */
final class CorpusDaily extends Workload {
  val Batches = 2

  private var splitId = 0L
  private var bounds = Seq.empty[(Long, Long)]
  private val runs = mutable.ArrayBuffer.empty[(CorpusPipeline.Result,
    Seq[CorpusPipeline.DeltaResult], CorpusPipeline.Result)]

  def inputs: Seq[String] = Seq("documents")

  /** The first id of the 90% tail and the tail's batch bounds. */
  private def split(docs: DataFrame, seed: Long): (Long, Seq[(Long, Long)]) = {
    val all = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids = all.drop(all.length * 9 / 10)
    val rnd = new scala.util.Random(seed)
    val jitter = ids.length / 6
    val cuts = (1 until Batches).map { b =>
      ids(b * ids.length / Batches - jitter + rnd.nextInt(2 * jitter + 1))
    }
    (ids.head, ((ids.head +: cuts) :+ Long.MaxValue).sliding(2).map(s => (s(0), s(1))).toSeq)
  }

  override def prepare(ctx: Ctx): Unit = {
    val (s, b) = split(Tables.documents(ctx.spark, ctx.dataDir), ctx.seed)
    splitId = s
    bounds = b
  }

  /** The build and one admission over the first fifth of the warm-up
    * documents: later batches and the remix run the same plans.
    */
  def warmUp(ctx: Ctx, warmDir: String): Unit = {
    val all = Tables.documents(ctx.spark, warmDir)
    val fifth = all.stat.approxQuantile("doc_id", Array(0.2), 0.0)(0)
    val docs = all.filter(col("doc_id") < fifth)
    val (s, b) = split(docs, ctx.seed)
    steps(ctx, docs, s, b.take(1), s"${ctx.workDir}/warmup")
  }

  private def hook(ctx: Ctx, prefix: String): (String, Double) => Unit =
    (name, sec) => ctx.tracer.ended(prefix + name, sec)

  def pass(ctx: Ctx): Unit = {
    val dir = s"${ctx.workDir}/corpus/p${ctx.pass}"
    val (res, deltas, merged) =
      steps(ctx, Tables.documents(ctx.spark, ctx.dataDir), splitId, bounds, dir)
    val remixed = ctx.tracer.span("CorpusPipeline.remix") {
      val r = CorpusPipeline.remix(ctx.spark, merged, MapPipeline.PathBarrier(s"$dir/remix"),
        CorpusPipeline.Config(onStage = hook(ctx, "llm.remix.")))
      ctx.noop(r.shardSeqs)
      r
    }
    runs += ((res, deltas, remixed))
  }

  /** The full build on the head, then each batch through the admitter;
    * returns the build, the batches' results and the merged state.
    */
  private def steps(ctx: Ctx, docs: DataFrame, splitId: Long, bounds: Seq[(Long, Long)],
                    dir: String) = {
    val spark = ctx.spark
    val t = ctx.tracer
    val res = t.span("CorpusPipeline.run") {
      val r = CorpusPipeline.run(spark, docs.filter(col("doc_id") < splitId),
        MapPipeline.PathBarrier(s"$dir/corpus"), CorpusPipeline.Config(onStage = hook(ctx, "llm.")))
      r.report.collect()
      r
    }
    val adm = new DocStream.CorpusAdmitter(spark, res,
      MapPipeline.PathBarrier(s"$dir/chain"),
      CorpusPipeline.Config(onStage = hook(ctx, "streaming.admit_")))
    val deltas = bounds.zipWithIndex.map { case ((lo, hi), i) =>
      val s = Clock.nowMs
      try {
        val d = t.span("CorpusAdmitter.step") {
          adm.step(docs.filter(col("doc_id") >= lo && col("doc_id") < hi))
        }
        t.span("admitted.noop")(ctx.noop(d.admitted))
        ctx.op(s"batch$i", s, Clock.nowMs)
        d
      } catch { case e: Exception => ctx.failedOp(s"batch$i", s, e); throw e }
    }
    (res, deltas, adm.state)
  }

  override def traceExtras(ctx: Ctx): Unit = {
    val (res, _, _) = runs.last
    val c = CorpusPipeline.Config()
    val cand = Dedup.minhashCandidates(res.clean, c.shingleSize, c.numPerms, c.numBands).count()
    val dup = Dedup.verifiedJaccard(res.clean, c.shingleSize, c.numPerms, c.numBands)
      .filter(round(col("jaccard"), 6) >= c.dupJaccard).count()
    val docs = res.report.collect().map(r => r.getString(1) -> r.getLong(2).toDouble).toMap
    def kept(stage: String, input: String): Double =
      if (docs.getOrElse(input, 0.0) > 0) docs.getOrElse(stage, 0.0) / docs(input) else 0.0
    ctx.counts ++= Seq(
      "llm.neardup_yield" -> (if (cand > 0) dup.toDouble / cand else 0.0),
      "llm.docs_kept_frac.hygiene" -> kept("clean", "line_clean"),
      "llm.docs_kept_frac.neardup" -> kept("deduped", "clean"),
      "llm.docs_kept_frac.span_scrub" -> kept("scrubbed", "deduped"),
      "llm.docs_kept_frac.mixing" -> kept("mixed", "scrubbed"))
  }

  def outputs(ctx: Ctx): Seq[(String, String)] = runs.toSeq.flatMap { case (res, deltas, remixed) =>
    Seq(
      "report" -> Digest.of(res.report),
      "shards" -> Digest.of(res.shardSeqs),
      "admitted" -> Digest.of(deltas.map(_.admitted).reduce(_ unionByName _)),
      "verdicts" -> Digest.of(deltas.map(_.verdicts).reduce(_ unionByName _)),
      "remix_report" -> Digest.of(remixed.report),
      "remix_shards" -> Digest.of(remixed.shardSeqs))
  }
}

object Files {
  /** Megabytes of data files under `dir` (checksums and markers excluded). */
  def mb(dir: String): Double = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0.0
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*"))
        .map(java.nio.file.Files.size).sum / 1e6
      finally s.close()
    }
  }
}
