package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusGenSpec extends AnyFunSuite {
  test("ingest shards are a pure function of their seed") {
    def shards(seed: Long) = {
      val g = new IngestCorpus(seed, 600, 200, 4)
      (0 to 4).map(d => CorpusGen.sha256(g.day(d)))
    }
    assert(shards(5L) == shards(5L))
    assert(shards(5L).zip(shards(6L)).forall { case (x, y) => x != y })
  }

  test("the planted structure is present and validated for several seeds") {
    (1L to 4L).foreach { seed =>
      val g = new IngestCorpus(seed, 600, 200, 4) // the constructor validates
      val docs = (0 to 4).flatMap(g.day)
      val comps = g.truth(4).toSeq.map(_.size)
      assert(docs.map(_.id).distinct.size == docs.size)
      assert(comps.sum - comps.size >= docs.size / 10, "duplicates were planted")
      assert(comps.max >= docs.size / 20, "one giant component")
      assert(docs.forall(_.text.split(" ").contains(CorpusGen.HeadTerm)), "head term in every doc")
    }
  }

  test("the ingest truth grows with the days ingested") {
    val g = new IngestCorpus(3L, 600, 200, 4)
    val sizes = (0 to 4).map(d => g.truth(d).toSeq.map(_.size).sum)
    assert(sizes.zip(sizes.tail).forall { case (x, y) => x < y })
  }

  test("the match model keeps unrelated fresh documents apart") {
    val g = new CorpusGen(9L)
    val docs = (1 to 200).map(_ => g.fresh())
    val grams = docs.map(i => MatchModel.charGrams(g.text(i)))
    val worst = (for (i <- grams.indices; j <- i + 1 until grams.size)
      yield MatchModel.jaccard(grams(i), grams(j))).max
    assert(worst < CorpusGen.MaxUnrelatedJaccard)
  }
}
