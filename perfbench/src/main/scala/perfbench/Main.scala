package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line arguments, as passed by perfbench/run.py. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, work: String, cache: String, expected: String,
                      result: String)

/** One successful operation: what it was (a board query, an ingest day),
  * its wall time and the items it processed. */
final case class Op(key: String, seconds: Double, items: Long)

/** What one round (a board pass, an ingest day) contributed: its
  * successful operations, and how many operations it attempted and how
  * many failed. */
final case class Round(ops: Seq[Op], attempted: Int, failed: Int) {
  def opSeconds: Seq[Double] = ops.map(_.seconds)
}

/** A workload: set-up (repeated; the median is `setup_s`), then warm-up
  * rounds and a fixed block of rounds in a closed loop, more rounds while
  * the measured time lasts, then a final check. */
trait Workload {
  /** Generates inputs; not timed. */
  def prepare(spark: SparkSession): Unit
  /** One complete set-up on a fresh session (the `rep`-th of several). */
  def setup(spark: SparkSession, rep: Int): Unit
  def round(spark: SparkSession, n: Int, spans: Spans): Round
  /** Checks the end state; returns (attempted, failed). */
  def finish(spark: SparkSession): (Int, Int) = (0, 0)
  /** Rounds run before the block: checked, not counted. */
  def warmupRounds: Int = 0
  /** Rounds the end-to-end metrics are computed from. */
  def rounds: Int
  /** The most rounds one run may hold. */
  def maxRounds: Int = Int.MaxValue
  /** Named per-layer values read from the end state (traced runs). */
  def layerValues(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("work"), m("cache"), m("expected"), m("result"))
  }

  def session(a: Args): SparkSession = {
    val spark = graft.core.GraftSession.builder("perfbench")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // traced runs keep the full call stack of each job for attribution
    if (a.trace) System.setProperty("spark.callstack.depth", "400")
    new File(a.work).mkdirs()
    val wl: Workload = a.workload match {
      case "board" => new BoardWorkload(a)
      case "ingest" => new IngestWorkload(a)
    }
    // Set-up runs several times, each on a fresh session; the last session
    // is measured. The first session also generates the inputs, untimed.
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (firstSession, firstStart) = timed(session(a))
    var spark = firstSession
    val (_, prepS) = timed(wl.prepare(spark))
    System.err.println(f"[perfbench] inputs prepared in $prepS%.1f s")
    val setupTimes = (1 to SetupReps).map { rep =>
      val t =
        if (rep == 1) firstStart + timed(wl.setup(spark, rep))._2
        else {
          spark.stop()
          timed { spark = session(a); wl.setup(spark, rep) }._2
        }
      System.err.println(f"[perfbench] set-up $rep: $t%.2f s")
      t
    }

    val spans = new Spans
    val listener = new ModuleListener
    val untraced = mutable.ArrayBuffer.empty[Round]
    val traced = mutable.ArrayBuffer.empty[Round]
    val uncounted = mutable.ArrayBuffer.empty[Round]
    val tracedSpans = mutable.ArrayBuffer.empty[Span]
    val gc0 = gcSeconds()
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // The metrics come from a fixed block of rounds after the warm-up
    // rounds, so that a faster program is measured on the same work as a
    // slower one. `--seconds` only decides whether the run goes on after
    // the block; warm-up rounds and later rounds are checked but not
    // counted. A traced run's block is four rounds ordered untraced, traced,
    // traced, untraced, so that drift over the run (warm-up, growing tables)
    // falls equally on both sides: the untraced rounds give the baseline for
    // the tracing overhead, the traced ones the per-layer counters. The listener is attached only around
    // traced rounds, with the bus drained on both sides so that no event
    // of an untraced round reaches it.
    val warm = wl.warmupRounds
    val block = if (a.trace) 4 else wl.rounds
    val sc = spark.sparkContext
    var n = 0
    while (n < warm + block || (elapsed < a.seconds && n < wl.maxRounds)) {
      n += 1
      val k = n - warm // position in the block
      val tracedRound = a.trace && (k == 2 || k == 3)
      if (tracedRound) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.addSparkListener(listener)
      }
      val before = spans.all.size
      val r = wl.round(spark, n, spans)
      val label = if (k < 1) " (warm-up)" else if (tracedRound) " (traced)" else ""
      System.err.println(f"[perfbench] round $n$label: " +
        f"${r.opSeconds.sum}%.2f s in ${r.opSeconds.size} ops, ${r.failed} failed")
      if (tracedRound) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        traced += r
        tracedSpans ++= spans.all.drop(before)
      } else if (k >= 1 && k <= block) untraced += r
      else uncounted += r
    }
    val gc = gcSeconds() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (checkAttempted, checkFailed) = wl.finish(spark)
    val rounds = (untraced ++ traced ++ uncounted).toSeq
    val attempted = rounds.map(_.attempted).sum + checkAttempted
    val failed = rounds.map(_.failed).sum + checkFailed

    // An operation repeated within the block (a board query, once per pass)
    // counts with its best time, the steady-state estimate Bench.scala uses.
    val ops = untraced.flatMap(_.ops).groupBy(_.key).values.map(_.minBy(_.seconds)).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        Seq(("setup_s", median(setupTimes), "s"),
          ("op_p50_s", median(ops.map(_.seconds)), "s"),
          ("items_per_s", ops.map(_.items).sum / ops.map(_.seconds).sum, "1/s"))
      } else layerMetrics(spark, wl, listener, tracedSpans.toSeq, untraced.toSeq,
        traced.toSeq, gc, heapPeakMb, rounds.size)
    Files.write(Paths.get(s"${a.work}/spans.jsonl"), spans.toJsonLines.getBytes(UTF_8))
    spark.stop()

    val body = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString("{", ",", "}")
    val json = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}"""
    Files.write(Paths.get(a.result), json.getBytes(UTF_8))
  }

  private def layerMetrics(spark: SparkSession, wl: Workload, l: ModuleListener,
                           tracedSpans: Seq[Span], untraced: Seq[Round], traced: Seq[Round],
                           gc: Double, heapPeakMb: Double,
                           nRounds: Int): Seq[(String, Double, String)] = {
    val k = traced.size.toDouble
    def phaseS(name: String) = tracedSpans.filter(_.name == name).map(_.seconds).sum / k
    val mb = 1048576.0
    val modules = Attribution.Modules.flatMap { m =>
      val s = l.stats(m)
      Seq((s"$m.jobs", s.jobs / k, "count"),
        (s"$m.job_wall_s", s.jobWallMs / 1000.0 / k, "s"),
        (s"$m.task_s", s.taskMs / 1000.0 / k, "s"),
        (s"$m.shuffle_write_mb", s.shuffleWriteBytes / mb / k, "MB"),
        (s"$m.spill_mb", s.spillBytes / mb / k, "MB"),
        (s"$m.failed_tasks", s.failedTasks / k, "count"),
        (s"$m.skew", s.skew, "ratio"))
    }
    val other = l.stats.filter { case (m, _) => !Attribution.Modules.contains(m) }
      .values.map(_.jobs).sum
    val ut = median(untraced.flatMap(_.opSeconds))
    val tt = median(traced.flatMap(_.opSeconds))
    val named = wl.layerValues(spark)
    Seq(("phase.build_s", phaseS("phase.build"), "s"),
      ("phase.plan_s", phaseS("phase.plan"), "s"),
      ("phase.exec_s", phaseS("phase.exec"), "s"),
      ("phase.build_jobs", l.phaseJobs("build") / k, "count"),
      ("phase.exec_jobs", l.phaseJobs("exec") / k, "count")) ++ modules ++
      Seq(("dedup.cc_round_jobs", l.ccRoundJobs / k, "count"),
        ("core.Bucketing.compact_s", l.compactNs / 1e9 / k, "s"),
        ("core.Bucketing.files_per_bucket", named.getOrElse("files_per_bucket", 0.0), "count"),
        ("core.Bucketing.stored_bytes_per_input_byte",
          named.getOrElse("stored_bytes_per_input_byte", 0.0), "ratio"),
        ("jvm.gc_s", gc / nRounds, "s"),
        ("jvm.heap_peak_mb", heapPeakMb, "MB"),
        ("trace.jobs", l.totalJobs / k, "count"),
        ("trace.other_module_jobs", other / k, "count"),
        ("trace.unattributed_jobs", l.unattributed.toDouble, "count"),
        ("trace.overhead_s", tt - ut, "s"),
        ("trace.overhead_ratio", tt / ut, "ratio"))
  }

  /** Checksum the board forces with: bit_xor of xxhash64 over every output
    * column (count() would let Catalyst prune projections), plus the row
    * count; 0 for an empty result. */
  def checksum(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*).as("__h"))
      .agg(coalesce(bit_xor(col("__h")), lit(0L)).as("h"), count(lit(1)).as("n"))

  /** Runs `f` with every job it starts tagged with `phase`. */
  def inPhase[A](spark: SparkSession, phase: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ModuleListener.PhaseProperty, phase)
    try f finally sc.setLocalProperty(ModuleListener.PhaseProperty, null)
  }

  /** Times one phase of an operation as a child span of `parent`. */
  def phase[A](spark: SparkSession, spans: Spans, op: Int, parent: Int, name: String)
              (f: => A): A =
    spans.span(s"phase.$name", op, parent)(_ => inPhase(spark, name)(f))._1

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil)
      .filterNot(c => c.getName.startsWith(".") || c.getName.startsWith("_"))
      .map(c => dirBytes(c.getPath)).sum
  }

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String, files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(d => (d.id, d.text, d.source)), files)
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(path)
  }
}
