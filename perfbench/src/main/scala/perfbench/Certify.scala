package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Builds the candidate board table over the generated sf0.01 tables: for
  * every query in `SparkEntry.queries`, its row count, its checksum from
  * three forced runs (a query is stable when all three agree), its median
  * warm time, and from a fourth run the seconds and Spark jobs of its build,
  * plan and forced-plan phases; and the Verify-format dump that
  * tools/check_oracle.py compares against DuckDB.
  *
  * Usage: perfbench.Certify <workDir> <cpus>
  *   then: python3 tools/check_oracle.py <flat copy of the sf0.01 tables> <workDir>/verify
  */
object Certify {
  def main(argv: Array[String]): Unit = {
    val Array(work, cpus) = argv
    val a = Args("board", 0L, 0.0, trace = false, cpus.toInt, work, s"$work/cache", "", "")
    val spark: SparkSession = Main.session(a)
    val dataDir = s"${a.cache}/board-${BoardWorkload.DataVersion}"
    BoardWorkload.ensureData(spark, dataDir)
    val dir = s"$dataDir/sf0.01"
    val sc = spark.sparkContext
    val listener = new ModuleListener
    sc.addSparkListener(listener)
    def reset(): Unit = { spark.catalog.clearCache(); graft.core.Scratch.cleanupNow() }
    def phaseJobs(): (Int, Int) = {
      org.apache.spark.PerfbenchBus.drain(sc)
      (listener.phaseJobs("build"), listener.phaseJobs("exec"))
    }
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val out = new StringBuilder(
      "#query\trows\tchecksum\tstable\twarm_s\tbuild_s\tplan_s\texec_s\tbuild_jobs\texec_jobs\n")
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        graft.SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/verify/$name")
        val runs = (1 to 3).map { _ =>
          val (r, t) = timed(Main.checksum(graft.SparkEntry.queries(name)(spark, dir)).collect().head)
          reset()
          ((r.getLong(1), r.getLong(0)), t)
        }
        val (rows, sum) = runs.head._1
        val stable = runs.map(_._1).distinct.size == 1
        // the board's phases, as BoardWorkload.round runs them
        val (b0, e0) = phaseJobs()
        val (df, buildS) = timed(Main.inPhase(spark, "build")(graft.SparkEntry.queries(name)(spark, dir)))
        val c = Main.checksum(df)
        val (_, planS) = timed(Main.inPhase(spark, "plan")(c.queryExecution.executedPlan))
        val (_, execS) = timed(Main.inPhase(spark, "exec")(c.collect()))
        val (b1, e1) = phaseJobs()
        out ++= s"$name\t$rows\t$sum\t$stable\t${Main.median(runs.map(_._2))}" +
          s"\t$buildS\t$planS\t$execS\t${b1 - b0}\t${e1 - e0}\n"
      } catch { case e: Exception =>
        System.err.println(s"[certify] $name failed: ${e.getMessage}")
      } finally reset()
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    Files.write(Paths.get(s"$work/verify/oracle_sql.json"),
      graft.SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}:${q(v)}" }
        .mkString("{", ",", "}").getBytes(UTF_8))
    Files.write(Paths.get(s"$work/board-all.tsv"), out.toString.getBytes(UTF_8))
    spark.stop()
  }
}
