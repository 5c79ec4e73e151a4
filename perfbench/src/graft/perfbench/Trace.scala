package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval. `parent` is the id of the span that was open on the
  * calling thread when this one started (-1 for a root). Counters are
  * filled by [[Tracer]]'s listener for the Spark work attributed to it. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
                 val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var codegenCompiles = 0L
  var codegenMs = 0.0
  var gcMs = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def toJson: String = {
    val a = attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":$id,"parent":$parent,"name":${Json.str(name)},"kind":${Json.str(kind)},""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_ms":$taskMs,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"spill_bytes":$spillBytes,""" +
      s""""codegen_compiles":$codegenCompiles,"codegen_ms":${Json.num(codegenMs)},""" +
      s""""gc_ms":$gcMs,"attrs":{$a}}"""
  }
}

/**
 * Span recorder for the traced run. Spans nest per calling thread; each
 * span sets the Spark job group `pb-<id>` on the calling thread, and one
 * SparkListener attributes jobs, stages, tasks, task time, shuffle bytes and
 * spill to the span whose group the job carries. Jobs without a bench group
 * (those the HTTP server starts on its own threads) fall back to the
 * innermost span whose wall-clock window contains the job's submission
 * time, which is exact when one client issues requests sequentially.
 *
 * Codegen compiles come from Spark's CodegenMetrics histogram (an exact
 * count); compile time is that count times the histogram's mean, an
 * estimate. GC time is the JVM collectors' accumulated time. Spans stay in
 * memory until [[spansJson]] is written at the end of the run.
 *
 * A disabled tracer runs the body and records nothing.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val lock = new Object
  private val marker = new java.util.concurrent.CountDownLatch(1)

  private val codegenHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq

  private def gcTotalMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private def spanOfGroup(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-"))
      .flatMap(g => lock.synchronized(all.lift(g.stripPrefix("pb-").toInt)))

  private def spanAtTime(ms: Long): Option[Span] = lock.synchronized {
    all.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.startNs).headOption
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "pb-marker")) {
        marker.countDown()
        return
      }
      spanOfGroup(e.properties).orElse(spanAtTime(e.time)).foreach { s =>
        lock.synchronized(s.jobs += 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => lock.synchronized(s.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        lock.synchronized {
          s.tasks += 1
          if (m != null) {
            s.taskMs += m.executorRunTime
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.spillBytes += m.diskBytesSpilled
          }
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`. */
  def span[T](name: String, kind: String, setGroup: Boolean = true)(body: => T): T = {
    if (!enabled) return body
    val parents = open.get()
    val s = lock.synchronized {
      val sp = new Span(all.size, parents.headOption.map(_.id).getOrElse(-1), name, kind,
        System.nanoTime(), System.currentTimeMillis())
      all += sp
      sp
    }
    val cg0 = codegenHist.getCount
    val gc0 = gcTotalMs
    open.set(s :: parents)
    if (setGroup) sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      val compiles = codegenHist.getCount - cg0
      s.codegenCompiles = compiles
      s.codegenMs = compiles * codegenHist.getSnapshot.getMean
      s.gcMs = gcTotalMs - gc0
      open.set(parents)
      if (setGroup) parents.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Attach a named number to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (enabled) open.get().headOption.foreach(s => lock.synchronized(s.attrs(key) = value))

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Wait until the listener has seen every event posted before now: a
    * marker job's start event queues behind them. */
  def drain(): Unit = if (enabled) {
    sc.setJobGroup("pb-marker", "marker", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  def spansJson: String = lock.synchronized(all.map(_.toJson).mkString("[", ",\n", "]"))
}

/** Minimal JSON writing for the raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
