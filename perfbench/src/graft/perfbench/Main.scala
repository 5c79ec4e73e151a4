package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One measured operation: a query, an operator call, a pipeline stage or
  * an HTTP request. `ok` is false after an exception, a non-2xx response
  * or an output mismatch. */
final case class OpRecord(name: String, kind: String, pass: Int, client: Int,
                          startNs: Long, durNs: Long, ok: Boolean)

/** Everything one run records; written as JSON for `run.py` to reduce. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val smoke: Boolean, val perturb: Boolean, val workDir: String,
                val seconds: Double, val cacheDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val ops: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  val setups: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val sizes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var clients = 1
  var measureStartNs = 0L
  var measureEndNs = 0L
  /** Attempts outside the measured operations (warm-up operations and the
    * end-of-run visibility checks); each counts as attempted. */
  var extraAttempted = 0
  var extraFailed = 0

  def fail(msg: String): Unit = synchronized {
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }
  def record(r: OpRecord): Unit = synchronized(ops += r)
  def finalCheck(ok: Boolean, msg: => String): Unit = synchronized {
    extraAttempted += 1
    if (!ok) { extraFailed += 1; fail(msg) }
  }

  def path(name: String): String = Paths.get(workDir, name).toString

  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr: seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - born) / 1e3}%.1f s: $what")

  /** Run `setup` `times` times, recording each duration; returns the last
    * result. Earlier results are released by the caller's `release`. */
  def repeatSetup[T](times: Int, release: T => Unit)(setup: => T): T = {
    var last: Option[T] = None
    for (_ <- 1 to times) {
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(setup)
      setups += (System.nanoTime() - t0) / 1e9
      mark(s"set-up ${setups.size} done")
    }
    last.get
  }

  def toJson(workload: String): String = {
    val opsJson = ops.map { o =>
      s"""{"name":${Json.str(o.name)},"kind":${Json.str(o.kind)},"pass":${o.pass},"client":${o.client},""" +
        s""""start_ns":${o.startNs},"dur_ns":${o.durNs},"ok":${o.ok}}"""
    }.mkString("[", ",\n", "]")
    def m(x: mutable.LinkedHashMap[String, Double]) = Json.obj(x.toSeq.map { case (k, v) => k -> Json.num(v) })
    val attempted = ops.size + extraAttempted
    val failed = ops.count(!_.ok) + extraFailed
    Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "smoke" -> smoke.toString,
      "trace" -> tracer.enabled.toString, "cores" -> cores.toString, "clients" -> clients.toString,
      "setup_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "measure_start_ns" -> measureStartNs.toString, "measure_end_ns" -> measureEndNs.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "sizes" -> m(sizes), "layer" -> m(layer), "ops" -> opsJson,
      "spans" -> (if (tracer.enabled) tracer.spansJson else "[]")))
  }
}

/** A single-client operation: `run` is timed, `check` is not. */
final case class Op(name: String, kind: String, run: () => Any, check: Any => Option[String])

object Main {

  /** A generator for one purpose of one seed. Mixing the purpose into the
    * seed decorrelates streams: java.util.Random gives nearby seeds nearly
    * equal first draws. */
  def rng(seed: Long, purpose: String): scala.util.Random =
    new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"$seed/$purpose").toLong)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", sys.error("--workload required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val perturb = a.getOrElse("perturb", "0") == "1"
    val workDir = a.getOrElse("work", sys.error("--work required"))
    val out = a.getOrElse("out", sys.error("--out required"))
    val cache = a.getOrElse("cache", Paths.get(workDir, "cache").toString)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(workDir))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Tracer(spark, trace), seed, smoke, perturb, workDir, seconds, cache)
    ctx.mark("session up")
    try {
      workload match {
        case "sparql_olap" => OlapWorkload.run(ctx)
        case "fixpoint" => FixpointWorkload.run(ctx)
        case "pipeline" => PipelineWorkload.run(ctx)
        case "endpoint_rw" => EndpointWorkload.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      ctx.tracer.drain()
      Files.write(Paths.get(out), ctx.toJson(workload).getBytes("UTF-8"))
      ctx.mark("done")
      System.err.flush()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }
    // everything is written: halting skips the ~4 s SparkContext.stop takes
    // (its temporary directories live in the work directory, which the
    // caller deletes)
    Runtime.getRuntime.halt(0)
  }

  // ------------------------------------------------------------ op running

  /** Build → optimise → plan → execute a DataFrame-returning call, each
    * phase in its own span; `text` (a SPARQL query) is parsed first in a
    * span of its own. Returns the collected rows. */
  def runDf(ctx: Ctx, text: Option[String])(build: => DataFrame): Array[Row] = {
    val t = ctx.tracer
    text.foreach(q => t.span("parse", "phase")(graft.sparql.SparqlParser.parse(q)))
    val df = t.span("build", "phase")(build)
    if (t.enabled) {
      val opt = t.span("optimize", "phase")(df.queryExecution.optimizedPlan)
      t.attr("plan_kb", opt.toString.length / 1024.0)
      t.span("plan", "phase")(df.queryExecution.executedPlan)
    }
    t.span("execute", "phase")(df.collect())
  }

  /** Run `op` once, timed, then check its output untimed. Caches
    * (IndexCache and the closure memo) are cleared before it, so every
    * call pays the artifact cost a session's first call pays. */
  def runOp(ctx: Ctx, op: Op, pass: Int, clearCaches: Boolean = true): OpRecord = {
    if (clearCaches) graft.ops.IndexCache.clearAll()
    val t0 = System.nanoTime()
    val res: Either[Throwable, Any] =
      try Right(ctx.tracer.span(op.name, "op")(op.run()))
      catch { case e: Throwable => Left(e) }
    val dur = System.nanoTime() - t0
    val ok = res match {
      case Left(e) => ctx.fail(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
      case Right(v) =>
        val checked = if (ctx.perturb && pass == 1) Rows.perturb(v) else v
        try op.check(checked) match {
          case None => true
          case Some(msg) => ctx.fail(s"${op.name}: $msg"); false
        } catch { case e: Throwable => ctx.fail(s"${op.name} check: $e"); false }
    }
    OpRecord(op.name, op.kind, pass, 0, t0, dur, ok)
  }

  /** How much work a run measures: one pass (or request cycle) per
    * `secondsPerPass` of `--seconds`, at least `least`. The amount is fixed
    * by the arguments alone, never by how fast the passes run, so every
    * commit is measured on the same number of samples, and the tail on the
    * same percentile. */
  def passCount(ctx: Ctx, secondsPerPass: Double, least: Int): Int =
    math.max(least, math.round(ctx.seconds / secondsPerPass).toInt)

  /** One untimed warm pass (JIT, codegen cache, file listings), then
    * `passCount(ctx, 5, 2)` measured passes over `ops`, each in a seeded
    * order unless `shuffle` is off. Caches are cleared before every op, or
    * only before every pass when `clearPerOp` is off. Warm-pass operations
    * count as attempted, and fail like measured ones. */
  def passes(ctx: Ctx, ops: Seq[Op], shuffle: Boolean = true, clearPerOp: Boolean = true): Unit = {
    val rnd = rng(ctx.seed, "pass order")
    def onePass(pass: Int): Seq[OpRecord] = {
      if (!clearPerOp) graft.ops.IndexCache.clearAll()
      (if (shuffle) rnd.shuffle(ops) else ops).map(op => runOp(ctx, op, pass, clearPerOp))
    }
    ctx.mark("warm pass")
    onePass(0).foreach { r => ctx.extraAttempted += 1; if (!r.ok) ctx.extraFailed += 1 }
    ctx.mark("measuring")
    ctx.tracer.resetHeapPeak()
    ctx.measureStartNs = System.nanoTime()
    val n = passCount(ctx, 5, 2)
    (1 to n).foreach(pass => onePass(pass).foreach(ctx.record))
    ctx.measureEndNs = System.nanoTime()
    ctx.mark(s"measured $n passes")
    ctx.layer("jvm.heap_peak_mb") = ctx.tracer.heapPeakMb
  }

  /** Bytes under a directory tree. */
  def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
