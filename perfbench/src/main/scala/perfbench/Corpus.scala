package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document. */
final case class Doc(id: Long, text: String, source: String)

/** An independent model of the dedup chain's documented matching rules,
  * used by [[CorpusGen]] to plant duplicates those rules must find and to
  * check that unrelated documents stay apart:
  *  - MinHash over the distinct lowercase word tokens, minimum of
  *    md5("<seed>|<token>") for seeds 0..7, in two bands of four seeds;
  *  - a (band, signature) bucket with more than 64 members is dropped whole;
  *  - a candidate pair is kept when the Jaccard similarity of the two
  *    texts' distinct character 3-grams, rounded to 6 places, is ≥ 0.3.
  * Generated text is lowercase ASCII, so tokens are `[a-z0-9]+` runs.
  */
object MatchModel {
  val K = 8
  val BandSize = 4
  val MaxBucket = 64
  val Ngram = 3
  val MinJaccard = 0.3

  private val md5 = MessageDigest.getInstance("MD5")
  private val hashCache = mutable.HashMap.empty[String, Array[Long]]

  /** Leading 64 bits of md5("<seed>|<token>") per seed; their unsigned
    * order is the digests' byte order. */
  def hashes(token: String): Array[Long] = hashCache.getOrElseUpdate(token,
    Array.tabulate(K) { s =>
      val d = md5.digest(s"$s|$token".getBytes(UTF_8))
      java.nio.ByteBuffer.wrap(d).getLong
    })

  def minima(tokens: Iterable[String]): Array[Long] = {
    val m = Array.fill(K)(-1L) // all ones: the unsigned maximum
    tokens.foreach { t =>
      val h = hashes(t)
      var s = 0
      while (s < K) {
        if (java.lang.Long.compareUnsigned(h(s), m(s)) < 0) m(s) = h(s)
        s += 1
      }
    }
    m
  }

  /** One key per band: equal keys ⇔ equal band signatures. */
  def bandKeys(minima: Array[Long]): Seq[String] =
    (0 until K / BandSize).map(b =>
      minima.slice(b * BandSize, (b + 1) * BandSize).mkString(s"$b:", ":", ""))

  /** Distinct character 3-grams, each packed into a Long, sorted. */
  def charGrams(text: String): Array[Long] =
    (0 to text.length - Ngram).map { i =>
      (text.charAt(i).toLong << 32) | (text.charAt(i + 1).toLong << 16) | text.charAt(i + 2)
    }.distinct.sorted.toArray

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var (i, j, inter) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else BigDecimal(inter.toDouble / union)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}

/** Seeded corpus generator with planted duplicate structure and truth.
  *
  * Every document holds one head term (a token present in every document)
  * and Zipf-distributed words from a random vocabulary; sources are
  * Zipf-skewed too. Planted on top:
  *  - exact copies of a document;
  *  - near copies: two adjacent distinct words swapped (same token set,
  *    different bytes);
  *  - one giant component: a tree of edits, each child inserting one word
  *    chosen so that exactly one MinHash band changes — the child shares
  *    the other band's bucket with its parent, and every bucket stays
  *    small (a node plus at most `MaxChildren` children).
  * [[validate]] checks the planted truth against [[MatchModel]]: every
  * planted edge shares a bucket under the cap and passes verification, and
  * no pair of unrelated documents in a shared bucket does.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rnd = new SplittableRandom(seed)

  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val w = randomWord(3 + rnd.nextInt(7))
      if (w != HeadTerm && !Stopwords.contains(w)) seen += w
    }
    seen.toArray
  }
  private val vocabCdf = zipfCdf(VocabSize, 0.7)
  private val sources = Array.tabulate(NumSources)(i => s"site$i.example")
  private val sourceCdf = zipfCdf(NumSources, 1.2)

  // documents in creation order
  private val words = mutable.ArrayBuffer.empty[Array[String]]
  private val srcs = mutable.ArrayBuffer.empty[String]
  private val parentOf = mutable.ArrayBuffer.empty[Int] // planted edge, -1 none
  private val copyOf = mutable.ArrayBuffer.empty[Int]   // exact copy source, -1 none
  private val depth = mutable.ArrayBuffer.empty[Int]    // tree depth, -1 off-tree
  private val children = mutable.ArrayBuffer.empty[Int]
  private val copies = mutable.ArrayBuffer.empty[Int]
  private val treeNodes = mutable.ArrayBuffer.empty[Int]

  private def randomWord(len: Int): String =
    new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))

  private def draw(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def add(ws: Array[String], src: String, parent: Int = -1,
                  copy: Int = -1, d: Int = -1): Int = {
    words += ws; srcs += src; parentOf += parent; copyOf += copy
    depth += d; children += 0; copies += 0
    if (parent >= 0) children(parent) += 1
    if (copy >= 0) copies(copy) += 1
    if (d >= 0) treeNodes += words.size - 1
    words.size - 1
  }

  def size: Int = words.size

  private def freshWords(): Array[String] = {
    val n = MinWords + rnd.nextInt(MaxWords - MinWords)
    val ws = Array.fill(n) {
      if (rnd.nextDouble() < 0.10) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(draw(vocabCdf))
    }
    ws(rnd.nextInt(n)) = HeadTerm
    ws
  }

  /** A new unrelated document. */
  def fresh(): Int = add(freshWords(), sources(draw(sourceCdf)))

  /** An exact copy of `of`, or a fresh document once `of` has
    * `MaxCopies` copies (bounding its buckets). */
  def exact(of: Int): Int =
    if (copies(of) >= MaxCopies) fresh()
    else add(words(of), sources(draw(sourceCdf)), copy = of)

  /** A near copy of `of`: two adjacent distinct words swapped. */
  def swap(of: Int): Int = {
    val ws = words(of).clone()
    val at = (0 until ws.length - 1).filter(i => ws(i) != ws(i + 1))
    if (at.isEmpty || copies(of) >= MaxCopies) fresh()
    else {
      val i = at(rnd.nextInt(at.size))
      val t = ws(i); ws(i) = ws(i + 1); ws(i + 1) = t
      add(ws, srcs(of), copy = of)
    }
  }

  /** Grows the giant component by one node, under a random node that has
    * room for another child (or as its root). */
  def treeNode(): Int = {
    val open = treeNodes.filter(children(_) < MaxChildren)
    if (open.isEmpty) return add(freshWords(), sources(draw(sourceCdf)), d = 0)
    val p = open(rnd.nextInt(open.size))
    val d = depth(p) + 1
    val band = d % 2
    val pMin = MatchModel.minima(words(p))
    val pTokens = words(p).toSet
    var w: String = null
    while (w == null) {
      val cand = randomWord(4 + rnd.nextInt(6))
      if (!pTokens.contains(cand)) {
        val h = MatchModel.hashes(cand)
        val seeds = (0 until MatchModel.K).filter(s =>
          java.lang.Long.compareUnsigned(h(s), pMin(s)) < 0)
        if (seeds.nonEmpty && seeds.forall(_ / MatchModel.BandSize == band)) w = cand
      }
    }
    val ws = words(p)
    val at = rnd.nextInt(ws.length + 1)
    add((ws.take(at) :+ w) ++ ws.drop(at), srcs(p), parent = p, d = d)
  }

  /** A random earlier document that can take a variant. */
  def anyBefore(limit: Int): Int = rnd.nextInt(limit)

  def nextDouble(): Double = rnd.nextDouble()

  def text(i: Int): String = words(i).mkString(" ")

  def sourceOf(i: Int): String = srcs(i)

  /** Planted components (creation indices), each of size ≥ 2, over the
    * first `upTo` documents. */
  def components(upTo: Int): Seq[Seq[Int]] = {
    val uf = Array.tabulate(upTo)(identity)
    def find(x: Int): Int = { var r = x; while (uf(r) != r) r = uf(r); uf(x) = r; r }
    (0 until upTo).foreach { i =>
      val j = if (parentOf(i) >= 0) parentOf(i) else copyOf(i)
      if (j >= 0) uf(find(i)) = find(j)
    }
    (0 until upTo).groupBy(find).values.filter(_.size >= 2).map(_.sorted).toSeq
  }

  /** Checks the planted truth against [[MatchModel]] over the first `upTo`
    * documents. */
  def validate(upTo: Int): Unit = {
    val keys = (0 until upTo).map(i => MatchModel.bandKeys(MatchModel.minima(words(i))))
    val buckets = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    keys.indices.foreach(i => keys(i).foreach(k => buckets.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += i))
    val comp = Array.fill(upTo)(-1)
    components(upTo).zipWithIndex.foreach { case (c, ci) => c.foreach(comp(_) = ci) }
    val grams = mutable.HashMap.empty[Int, Array[Long]]
    def g(i: Int) = grams.getOrElseUpdate(i, MatchModel.charGrams(text(i)))
    // every planted edge is found and verified
    keys.indices.foreach { i =>
      val j = if (parentOf(i) >= 0) parentOf(i) else copyOf(i)
      if (j >= 0) {
        val shared = keys(i).intersect(keys(j))
        require(shared.exists(k => buckets(k).size <= MatchModel.MaxBucket),
          s"planted edge $i-$j shares no bucket under the cap")
        require(MatchModel.jaccard(g(i), g(j)) >= MatchModel.MinJaccard,
          s"planted edge $i-$j fails verification")
      }
    }
    // unrelated documents sharing a bucket stay below the threshold
    buckets.values.filter(b => b.size > 1 && b.size <= MatchModel.MaxBucket).foreach { b =>
      for (x <- b.indices; y <- x + 1 until b.size) {
        val (i, j) = (b(x), b(y))
        if (comp(i) < 0 || comp(i) != comp(j))
          require(MatchModel.jaccard(g(i), g(j)) < MaxUnrelatedJaccard,
            s"unrelated documents $i and $j verify as duplicates")
      }
    }
  }
}

object CorpusGen {
  val HeadTerm = "omnia"
  val VocabSize = 50000
  val NumSources = 40
  val MinWords = 60
  val MaxWords = 110
  val MaxChildren = 16
  val MaxCopies = 3
  /** Unrelated pairs must stay clearly below MatchModel.MinJaccard. */
  val MaxUnrelatedJaccard = 0.2
  val Stopwords: IndexedSeq[String] =
    "the of and to in is that for it as with was on be by at from this are or".split(" ").toIndexedSeq

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / StrictMath.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Ids: a seeded permutation, so cluster minima are not creation order. */
  def ids(n: Int, seed: Long): Array[Long] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val a = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Canonical bytes of a document list: id, source, text per line. */
  def bytes(docs: Seq[Doc]): Array[Byte] =
    docs.map(d => s"${d.id}\t${d.source}\t${d.text}\n").mkString.getBytes(UTF_8)

  def sha256(docs: Seq[Doc]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes(docs)).map("%02x".format(_)).mkString
}

/** The `ingest` workload's inputs: a base corpus (day 0) and daily shards,
  * with the planted components over any prefix of days. */
final class IngestCorpus(seed: Long, nBase: Int, nDay: Int, days: Int) {
  private val g = new CorpusGen(seed)
  private val ends = mutable.ArrayBuffer.empty[Int]
  (0 to days).foreach { d =>
    val target = nBase + d * nDay
    while (g.size < target) {
      val r = g.nextDouble()
      if (g.size < 10 || r < 0.70) g.fresh()
      else if (r < 0.80) g.treeNode()
      else if (r < 0.90) g.swap(g.anyBefore(g.size))
      else g.exact(g.anyBefore(g.size))
    }
    ends += g.size
  }
  private val id = CorpusGen.ids(g.size, seed)
  g.validate(g.size)

  def day(d: Int): Seq[Doc] = {
    val from = if (d == 0) 0 else ends(d - 1)
    (from until ends(d)).map(i => Doc(id(i), g.text(i), g.sourceOf(i)))
  }

  /** Planted components (as id sets) over days 0..d. */
  def truth(d: Int): Set[Set[Long]] =
    g.components(ends(d)).map(_.map(id(_)).toSet).toSet
}
