package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftConf, Tables}

/** One benchmark run in one JVM: set up (a session that reads and counts
  * the workload's input tables), warm up once on the `--warm` tables, then
  * repeat the workload's pass while the next one is expected to end within
  * `--seconds`, then digest every output. Writes the raw record (set-up
  * times, passes, operations, stages, jobs, and for traced runs spans and
  * Catalyst phases) as JSON to `--out`; `run.py` turns it into metrics.
  *
  * `Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *  --data DIR --warm DIR --work DIR --out FILE`
  */
object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftConf.ensure(s)
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val data = opt("data")
    val w = Workload(workload)
    val runtime = ManagementFactory.getRuntimeMXBean
    val jvmStartS = runtime.getUptime / 1e3

    val s0 = System.nanoTime()
    val spark = session(cpus, work)
    w.inputs.foreach(t => Tables.table(spark, data, t).count())
    val sessionS = (System.nanoTime() - s0) / 1e9

    val tracer = new Tracer
    val ctx = new Ctx(spark, data, work, seed, tracer)
    w.prepare(ctx)
    val w0 = System.nanoTime()
    w.warmUp(ctx, opt("warm"))
    val warmUpS = (System.nanoTime() - w0) / 1e9
    // JVM start, session, input reads and warm-up: everything before the first pass
    val setupS = runtime.getUptime / 1e3
    ctx.ops.clear()

    val stages = new StageProbe(keepTasks = trace)
    spark.sparkContext.addSparkListener(stages)
    val queries = new QueryProbe
    if (trace) spark.listenerManager.register(queries)

    // Whole passes only: a pass starts while the window has room for one
    // more of the last pass's length. A traced run alternates untraced and
    // traced passes, so the same run measures the tracing overhead; the
    // seed's parity picks which comes first, so that across seeds the
    // order of the passes does not bias the overhead.
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val errors = mutable.ArrayBuffer.empty[String]
    val minPasses = if (trace) 2 else 1
    val t0 = System.nanoTime()
    var last = 0.0
    var stop = false
    while (!stop && (ctx.pass < minPasses || (System.nanoTime() - t0) / 1e9 + last <= seconds)) {
      tracer.on = trace && Math.floorMod(ctx.pass + seed, 2L) == 1L
      tracer.traceId = s"$workload-$seed-p${ctx.pass}"
      val s = Clock.nowMs
      val cpu0 = processCpuNs()
      try tracer.span("pass")(w.pass(ctx))
      catch { case e: Exception => errors += s"pass ${ctx.pass}: $e"; stop = true }
      val e = Clock.nowMs
      last = (e - s) / 1e3
      passes += Json.Obj(Seq("pass" -> ctx.pass, "start_ms" -> s, "end_ms" -> e,
        "traced" -> tracer.on, "cpu_ns_start" -> cpu0, "cpu_ns_end" -> processCpuNs()))
      ctx.pass += 1
    }
    BenchBus.drain(spark.sparkContext)

    // outside the measured window: the decomposition pass and the checks
    if (trace && errors.isEmpty) {
      tracer.on = true
      tracer.traceId = s"$workload-$seed-extras"
      try tracer.span("extras")(w.traceExtras(ctx))
      catch { case e: Exception => errors += s"extras: $e" }
      tracer.on = false
    }
    val outputs =
      if (errors.nonEmpty) Seq.empty
      else try w.outputs(ctx) catch { case e: Exception => errors += s"outputs: $e"; Seq.empty }
    BenchBus.drain(spark.sparkContext)

    val record = Json.Obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "jvm_start_s" -> jvmStartS, "session_s" -> sessionS, "warm_up_s" -> warmUpS,
      "setup_s" -> setupS,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "passes" -> passes.toSeq, "ops" -> ctx.ops.toSeq,
      "stages" -> stages.stagesJson, "jobs" -> stages.jobsJson,
      "queries" -> queries.json, "spans" -> tracer.json,
      "counts" -> ctx.counts, "errors" -> errors.toSeq,
      "outputs" -> outputs.map { case (n, d) => Json.Obj(Seq("name" -> n, "digest" -> d)) }))
    JFiles.writeString(Paths.get(opt("out")), Json.render(record))
    spark.stop()
  }
}
