package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a Spark call site (one stack frame per line, innermost first) to
  * the engine module whose code started the job: the innermost `graft.*`
  * frame decides. `graft.core.X` is its own module (`core.Tables`,
  * `core.Scratch`, `core.Bucketing`, ...); any other `graft.<pkg>.X` is
  * `<pkg>`. A call site with no engine frame is the harness's own action:
  * `bench`.
  */
object Attribution {
  val Bench = "bench"

  /** Modules reported in every traced record, in report order. */
  val Modules: Seq[String] = Seq("core.Tables", "core.Scratch", "core.Bucketing",
    "dedup", "text", "ann", "ops", "multimodal", "sources", "streaming",
    "queries", "pipelines", "cli", Bench)

  /** (class, method) of one frame such as
    * `graft.dedup.Dedup$.$anonfun$signature$2(Dedup.scala:1110)`, with an
    * optional `loader/module/` prefix. */
  def frame(line: String): Option[(String, String)] = {
    val body = line.trim.stripPrefix("at ")
    val paren = body.indexOf('(')
    val qualified = if (paren >= 0) body.substring(0, paren) else body
    val name = qualified.substring(qualified.lastIndexOf('/') + 1)
    val dot = name.lastIndexOf('.')
    if (dot <= 0) None else Some((name.substring(0, dot), name.substring(dot + 1)))
  }

  def moduleOfClass(cls: String): Option[String] = {
    if (!cls.startsWith("graft.")) return None
    val parts = cls.split('.')
    def simple(s: String) = s.takeWhile(_ != '$')
    Some(parts.length match {
      case 2 => simple(parts(1)).toLowerCase
      case _ if parts(1) == "core" => "core." + simple(parts(2))
      case _ => parts(1)
    })
  }

  /** The innermost engine frame of a call site, as (module, method). */
  def innermost(callSite: String): Option[(String, String)] =
    callSite.linesIterator.flatMap(frame).flatMap { case (cls, method) =>
      moduleOfClass(cls).map(_ -> method)
    }.nextOption()

  def module(callSite: String): String = innermost(callSite).map(_._1).getOrElse(Bench)

  /** Jobs of one connected-components round (`persistRound`). */
  def isCcRound(callSite: String): Boolean =
    innermost(callSite).exists(_._2.contains("persistRound"))

  /** Jobs of a bucketed-table compaction. */
  def isCompaction(callSite: String): Boolean =
    innermost(callSite).exists { case (m, meth) =>
      m == "core.Bucketing" && meth.contains("compact") }
}

/** One span: a named interval, its parent span and the operation it
  * belongs to. Kept in memory and written when the run ends. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var nextOp = 0

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Times `f` as a span (`f` receives the span's id, the parent of any
    * span it opens); returns its result and the span. */
  def span[A](name: String, op: Int, parent: Int = -1)(f: Int => A): (A, Span) = {
    nextId += 1
    val id = nextId
    val t0 = System.nanoTime()
    val r = try f(id) finally buf += Span(id, parent, op, name, t0, System.nanoTime())
    (r, buf.last)
  }

  def all: Seq[Span] = buf.toSeq

  def toJsonLines: String = buf.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("\n")
}

/** Per-module job counters, filled from Spark's listener bus. A job is
  * attributed through its SQL execution's call site (joined on
  * `spark.sql.execution.id`); a job outside any SQL execution falls back to
  * its first stage's call site. The harness tags each job with the phase it
  * ran in through the `perfbench.phase` local property.
  */
final class ModuleListener extends SparkListener {
  import ModuleListener._

  private val execSite = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val stats: mutable.Map[String, ModuleStats] = mutable.LinkedHashMap(
    Attribution.Modules.map(m => m -> new ModuleStats): _*)
  val phaseJobs: mutable.Map[String, Int] = mutable.HashMap.empty.withDefaultValue(0)
  var ccRoundJobs = 0
  var compactNs = 0L
  var unattributed = 0

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => execSite.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
      .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.details))
    if (site.isEmpty) unattributed += 1
    val cs = site.getOrElse("")
    val rec = JobRec(Attribution.module(cs), e.time, Attribution.isCcRound(cs),
      Attribution.isCompaction(cs))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
    stats.getOrElseUpdate(rec.module, new ModuleStats).jobs += 1
    props.flatMap(p => Option(p.getProperty(PhaseProperty))).foreach(phaseJobs(_) += 1)
    if (rec.ccRound) ccRoundJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.remove(e.jobId)).foreach { rec =>
      val ms = e.time - rec.startMs
      stats(rec.module).jobWallMs += ms
      if (rec.compaction) compactNs += ms * 1000000L
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageJob.get(e.stageId)).foreach { rec =>
      val s = stats(rec.module)
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    for (rec <- Option(stageJob.get(id)); ts <- Option(stageTasks.remove(id))) {
      val sorted = ts.sorted
      val max = sorted.last
      val median = sorted(sorted.size / 2)
      if (sorted.size >= 2 && max >= SkewMinTaskMs) {
        val s = stats(rec.module)
        s.skew = math.max(s.skew, max.toDouble / math.max(median, 1L))
      }
    }
  }

  def totalJobs: Int = stats.values.map(_.jobs).sum
}

object ModuleListener {
  val PhaseProperty = "perfbench.phase"
  /** Stages whose slowest task is shorter than this are too small for a
    * skew ratio to mean anything. */
  val SkewMinTaskMs = 100L

  final case class JobRec(module: String, startMs: Long, ccRound: Boolean,
                          compaction: Boolean)

  final class ModuleStats {
    var jobs = 0
    var jobWallMs = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var failedTasks = 0
    var skew = 1.0
  }
}
