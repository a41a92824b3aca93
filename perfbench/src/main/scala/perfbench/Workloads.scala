package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Main.{checksum, phase}

/** `board`: every query of the committed board table (perfbench/expected/
  * board.tsv), each built, planned and forced with the checksum, once per
  * pass, over tables generated at sf0.01. Set-up starts the session and
  * loads every table once; a first, uncounted pass warms every query. Each
  * query's row count and checksum must equal the table's.
  */
final class BoardWorkload(a: Args) extends Workload {
  import BoardWorkload._
  private val dataDir = s"${a.cache}/board-$DataVersion"
  private lazy val board: Seq[(String, Long, Long)] = readExpected(s"${a.expected}/board.tsv")

  def prepare(spark: SparkSession): Unit = ensureData(spark, dataDir)

  // Each query counts with its best of two warm passes. The warm-up is a
  // round rather than part of set-up because set-up repeats three times,
  // and three warm-up passes would make a run too long for the dozens of
  // runs a comparison makes.
  override def warmupRounds: Int = 1
  def rounds: Int = 2

  /** Isolates queries, outside their timing: cached intermediates and
    * scratch files of one query must not burden the next. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.core.Scratch.cleanupNow()
  }

  def setup(spark: SparkSession, rep: Int): Unit =
    graft.core.Tables.names.foreach(graft.core.Tables.load(spark, s"$dataDir/sf0.01", _))

  def round(spark: SparkSession, n: Int, spans: Spans): Round = {
    val dir = s"$dataDir/sf0.01"
    var failed = 0
    val times = board.flatMap { case (name, rows, sum) =>
      val op = spans.newOp()
      try {
        val (ok, sp) = spans.span("op", op) { id =>
          val df = phase(spark, spans, op, id, "build")(graft.SparkEntry.queries(name)(spark, dir))
          val c = checksum(df)
          phase(spark, spans, op, id, "plan")(c.queryExecution.executedPlan)
          val r = phase(spark, spans, op, id, "exec")(c.collect().head)
          val got = (r.getLong(1), r.getLong(0))
          if (got != (rows, sum))
            System.err.println(s"[perfbench] $name: rows/checksum $got, expected ${(rows, sum)}")
          got == (rows, sum)
        }
        System.err.println(f"[perfbench] $name%-24s ${sp.seconds}%.3f s")
        if (ok) Some(Op(name, sp.seconds, 1)) else { failed += 1; None }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        failed += 1
        None
      } finally cleanup(spark)
    }
    Round(times, board.size, failed)
  }
}

object BoardWorkload {
  /** Bump when BoardData's output changes, so cached tables regenerate. */
  val DataVersion = "v2"
  val DataSeed = 20240917L

  def ensureData(spark: SparkSession, dataDir: String): Unit = {
    val done = new File(s"$dataDir/_DONE")
    if (!done.exists) {
      BoardData.write(spark, s"$dataDir/sf0.01", 0.01, DataSeed)
      Files.write(done.toPath, Array.emptyByteArray)
    }
  }

  /** (query, rows, checksum) per line, tab-separated; `#` starts a comment. */
  def readExpected(path: String): Seq[(String, Long, Long)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => (f(0), f(1).toLong, f(2).toLong))
}

/** `ingest`: day 0 builds the band index, cluster table and pair log from a
  * base corpus with `ingest-daily` (this is the set-up), then each round
  * ingests one more daily shard with `--corpus`, `--cluster-table`,
  * `--pair-log`, `--audit` and `--compact-every`. At the end the maintained
  * cluster table must equal the planted components of all ingested days.
  */
final class IngestWorkload(a: Args) extends Workload {
  import IngestWorkload._
  private var corpus: IngestCorpus = _
  private val corpusDir = s"${a.work}/input/corpus"
  private def dayDir(d: Int) = s"$corpusDir/day=$d"
  private var tables: (String, String, String) = _
  private var lastDay = 0
  private var compactions = 0

  def prepare(spark: SparkSession): Unit = {
    corpus = new IngestCorpus(a.seed, BaseDocs, DayDocs, MaxDays)
    Main.writeDocs(spark, corpus.day(0), dayDir(0), a.cpus)
  }

  private def ingest(spark: SparkSession, d: Int): Unit = {
    val (bands, clusters, pairs) = tables
    graft.cli.Main.run(spark, Array("ingest-daily", "--docs", dayDir(d),
      "--band-table", bands, "--corpus", corpusDir, "--cluster-table", clusters,
      "--pair-log", pairs, "--buckets", Buckets.toString,
      "--compact-every", CompactEvery.toString, "--audit"))
  }

  private def tableNames = Seq(tables._1, tables._2, tables._3)

  private def bandFiles(spark: SparkSession): Set[String] =
    graft.core.Bucketing.dataFiles(spark, tables._1).toSet

  def setup(spark: SparkSession, rep: Int): Unit = {
    tables = (s"bands_$rep", s"clusters_$rep", s"pairs_$rep")
    ingest(spark, 0)
  }

  // two days, the second of which compacts the band index; a third day
  // would make a run too long for the dozens of runs a comparison makes
  def rounds: Int = 2
  override def maxRounds: Int = MaxDays

  def round(spark: SparkSession, n: Int, spans: Spans): Round = {
    Main.writeDocs(spark, corpus.day(n), dayDir(n), a.cpus)
    val before = bandFiles(spark)
    val op = spans.newOp()
    try {
      val (_, sp) = spans.span("op", op) { id =>
        phase(spark, spans, op, id, "build")(ingest(spark, n))
      }
      lastDay = n
      // a compaction rewrites every file; an append only adds files
      if (before.nonEmpty && (bandFiles(spark) & before).isEmpty) compactions += 1
      Round(Seq(Op(s"day$n", sp.seconds, DayDocs)), 1, 0)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] ingest day $n failed: ${e.getMessage}")
      lastDay = n
      Round(Nil, 1, 1)
    }
  }

  override def finish(spark: SparkSession): (Int, Int) = {
    val got = graft.dedup.Dedup.readClusterAssignment(spark, tables._2).collect()
      .groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    val want = corpus.truth(lastDay)
    val ok = got == want
    if (!ok) System.err.println(s"[perfbench] cluster table has ${got.size} clusters " +
      s"(${got.toSeq.map(_.size).sum} docs), planted ${want.size} (${want.toSeq.map(_.size).sum} docs)")
    if (compactions == 0) System.err.println("[perfbench] no compaction ran")
    (2, (if (ok) 0 else 1) + (if (compactions == 0) 1 else 0))
  }

  override def layerValues(spark: SparkSession): Map[String, Double] = {
    val perBucket = tableNames.map(t => graft.core.Bucketing.dataFiles(spark, t).size.toDouble /
      math.max(1, graft.core.Bucketing.bucketCount(spark, t)))
    val stored = tableNames.map(t => Main.dirBytes(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath)).sum
    val input = (0 to lastDay).map(d => Main.dirBytes(dayDir(d))).sum
    Map("files_per_bucket" -> perBucket.max,
      "stored_bytes_per_input_byte" -> stored.toDouble / input)
  }
}

object IngestWorkload {
  val BaseDocs = 1000
  val DayDocs = 1000
  /** Days a run may hold: a traced run's block of four. */
  val MaxDays = 4
  /** Buckets per maintained table, sized to a 1,000-document day. */
  val Buckets = 8
  /** Each append adds one file per bucket, so the band index compacts on
    * every second day. */
  val CompactEvery = 3
}
