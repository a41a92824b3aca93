package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  private def site(frames: String*) = frames.mkString("\n")

  test("an $anonfun frame maps to its enclosing object's module") {
    val s = site(
      "graft.dedup.Dedup$.$anonfun$connectedComponentsStar$3(Dedup.scala:1100)",
      "graft.pipelines.Pipelines$.dedupCorpusStages(Pipelines.scala:907)",
      "perfbench.DedupWorkload.round(Workloads.scala:120)")
    assert(Attribution.module(s) == "dedup")
    assert(!Attribution.isCcRound(s))
  }

  test("the innermost of nested graft frames wins, and core objects are their own module") {
    val s = site(
      "graft.core.Scratch$.materializeWithHandle(Scratch.scala:99)",
      "graft.core.Scratch$.materialize(Scratch.scala:90)",
      "graft.dedup.Dedup$.verifyCandidates(Dedup.scala:690)",
      "graft.pipelines.Pipelines$.dedupCorpusStages(Pipelines.scala:780)",
      "perfbench.DedupWorkload.round(Workloads.scala:120)")
    assert(Attribution.module(s) == "core.Scratch")
  }

  test("connected-components rounds are recognised through a local def") {
    val s = site(
      "graft.dedup.Dedup$.persistRound$1(Dedup.scala:1092)",
      "graft.dedup.Dedup$.$anonfun$connectedComponentsStar$3(Dedup.scala:1100)",
      "graft.pipelines.Pipelines$.dedupCorpusStages(Pipelines.scala:907)")
    assert(Attribution.module(s) == "dedup")
    assert(Attribution.isCcRound(s))
  }

  test("a harness-owned action with no engine frame goes to bench") {
    val s = site(
      "perfbench.BoardWorkload.$anonfun$round$3(Workloads.scala:55)",
      "perfbench.Spans.span(Trace.scala:86)",
      "perfbench.Main$.main(Main.scala:130)")
    assert(Attribution.module(s) == Attribution.Bench)
    assert(Attribution.module("") == Attribution.Bench)
  }

  test("loader prefixes and 'at' prefixes are ignored") {
    assert(Attribution.module("\tat app//graft.core.Tables$.load(Tables.scala:21)") == "core.Tables")
    assert(Attribution.module("graft.queries.QText$.$anonfun$queries$7(QText.scala:40)") == "queries")
  }

  test("compaction jobs are recognised") {
    val s = site(
      "graft.core.Bucketing$.compactBucketed(Bucketing.scala:110)",
      "graft.cli.Main$.ingestDailyBody$1(Main.scala:700)")
    assert(Attribution.module(s) == "core.Bucketing")
    assert(Attribution.isCompaction(s))
    assert(!Attribution.isCompaction(site("graft.cli.Main$.run(Main.scala:180)")))
  }
}
