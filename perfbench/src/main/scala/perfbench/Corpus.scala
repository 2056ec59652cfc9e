package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded documents and embeddings with planted near-duplicates, plus the
 * exact brute-force references the dedup checks compare against.
 *
 * Documents are word sequences over the fixture vocabulary (the words of
 * the harness `documents` table) extended with pseudo-words, Zipf-sampled,
 * lowercase and single-spaced (so they are their own normalized form).
 * A stated share of the documents are copies of a base document, grouped
 * in clusters: a few hot clusters of [[HotClusterSize]] copies, the rest
 * 1 + Geometric(1/2) copies. A copy is exact with probability
 * [[ExactCopyShare]], otherwise [[MutatedWords]] of its words are replaced.
 */
object Corpus {
  val DupRate = 0.25
  val HotClusters = 3
  val HotClusterSize = 20
  val ExactCopyShare = 0.3
  val MutatedWords = 3
  val ZipfExponent = 1.0

  val FixtureWords: Array[String] = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  private val Syllables = "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi mo mu " +
    "na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo vu"
  val Vocabulary: Array[String] = {
    val syl = Syllables.split(' ')
    val pseudo = for (a <- syl; b <- syl; c <- Seq("", "n", "r", "s")) yield a + b + c
    FixtureWords ++ pseudo.take(3000 - FixtureWords.length)
  }
  private val ZipfCdf: Array[Double] = {
    val w = Vocabulary.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    Vocabulary(math.min(if (i >= 0) i else -i - 1, Vocabulary.length - 1))
  }

  private def freshDoc(r: SplittableRandom): Array[String] =
    Array.fill(30 + r.nextInt(60))(word(r))

  private def mutate(base: Array[String], r: SplittableRandom): Array[String] = {
    val w = base.clone()
    (1 to MutatedWords).foreach { _ => w(r.nextInt(w.length)) = word(r) + "x" }
    w
  }

  final case class Doc(id: Long, text: String, source: String, score: Double)

  final case class Docs(docs: Array[Doc], clusters: Int, copies: Int, exactCopies: Int)

  /** `n` documents with ids from `firstId`. */
  def docs(seed: Long, n: Int, firstId: Long): Docs = {
    val r = new SplittableRandom(seed)
    val out = mutable.ArrayBuffer[Doc]()
    var clusters = 0
    var copies = 0
    var exact = 0
    def add(words: Array[String]): Doc = {
      val d = Doc(firstId + out.size, words.mkString(" "), s"src${r.nextInt(10)}", r.nextDouble())
      out += d
      d
    }
    val targetCopies = (n * DupRate).toInt
    while (out.size < n) {
      if (copies < targetCopies) {
        val size =
          if (clusters < HotClusters) HotClusterSize
          else { var s = 1; while (r.nextInt(2) == 0 && s < 8) s += 1; s }
        val base = freshDoc(r)
        add(base)
        clusters += 1
        (1 to size).foreach { _ =>
          if (r.nextDouble() < ExactCopyShare) { exact += 1; add(base) } else add(mutate(base, r))
          copies += 1
        }
      } else add(freshDoc(r))
    }
    Docs(out.take(n).toArray, clusters, copies, exact)
  }

  /** Distinct lowercase character 5-grams (the whole text when shorter). */
  def charShingles(text: String, n: Int = 5): Set[String] =
    if (text.length <= n) Set(text) else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  /**
   * Every pair with den·|A∩B| ≥ num·|A∪B|, exactly: an in-memory prefix
   * filter (tokens ranked rare-first, each set indexed by its
   * |S| − ceil(t·|S|) + 1 rarest tokens) followed by exact verification.
   * With `right` empty it is a self-join over `left` (id_a < id_b); otherwise
   * pairs run left × right. Returns (idA, idB, inter, uni).
   */
  def exactJaccard(left: Seq[(Long, Set[String])], right: Seq[(Long, Set[String])],
      num: Int, den: Int): Seq[(Long, Long, Int, Int)] = {
    val self = right.isEmpty
    val all = if (self) left else left ++ right
    val df = mutable.HashMap[String, Int]().withDefaultValue(0)
    all.foreach(_._2.foreach(t => df(t) += 1))
    val rank = df.toSeq.sortBy { case (t, c) => (c, t) }.map(_._1).zipWithIndex.toMap
    def encode(s: Set[String]): Array[Int] = s.iterator.map(rank).toArray.sorted
    def prefix(a: Array[Int]): Int = a.length - ((num.toLong * a.length + den - 1) / den).toInt + 1
    val index = mutable.HashMap[Int, mutable.ArrayBuffer[Int]]()
    val indexed = (if (self) left else right).map { case (id, s) => (id, encode(s)) }.toArray
    val probes = if (self) indexed else left.map { case (id, s) => (id, encode(s)) }.toArray
    def inter(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var n = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { n += 1; i += 1; j += 1 } else if (a(i) < b(j)) i += 1 else j += 1
      }
      n
    }
    val out = mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    def verify(x: (Long, Array[Int]), y: (Long, Array[Int])): Unit = {
      val i = inter(x._2, y._2)
      val u = x._2.length + y._2.length - i
      if (den.toLong * i >= num.toLong * u) out += ((x._1, y._1, i, u))
    }
    if (!self) indexed.indices.foreach(j => indexed(j)._2.take(prefix(indexed(j)._2))
      .foreach(t => index.getOrElseUpdate(t, mutable.ArrayBuffer()) += j))
    probes.indices.foreach { i =>
      val x = probes(i)
      val cands = mutable.HashSet[Int]()
      x._2.take(prefix(x._2)).foreach(t => index.get(t).foreach(cands ++= _))
      cands.foreach { j =>
        val y = indexed(j)
        if (!self) verify(x, y) else if (x._1 < y._1) verify(x, y) else verify(y, x)
      }
      if (self) x._2.take(prefix(x._2)).foreach(t => index.getOrElseUpdate(t, mutable.ArrayBuffer()) += i)
    }
    out.toSeq
  }

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]], copies: Int)

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  val Dims = 64
  val VecNoise = 0.025

  /** Unit vectors; a tenth are noisy copies of an earlier base vector
   * (cosine ≈ 0.98 to the base, ≈ 0.96 between copies), far from the 0.9
   * threshold either way: unrelated pairs sit near 0 ± 0.125. */
  def vectors(seed: Long, n: Int): Vectors = {
    val r = new SplittableRandom(seed)
    def gauss(): Double = {
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val bases = mutable.ArrayBuffer[Array[Float]]()
    var copies = 0
    while (vecs.size < n) {
      if (bases.nonEmpty && r.nextDouble() < 0.1) {
        val b = bases(r.nextInt(bases.size))
        vecs += normalize(b.map(x => x + VecNoise * gauss()))
        copies += 1
      } else {
        bases += normalize(Array.fill(Dims)(gauss()))
        vecs += bases.last
      }
    }
    Vectors(Array.tabulate(n)(_.toLong), vecs.toArray, copies)
  }

  /** Noisy copies of `count` corpus vectors: (query id, planted neighbour id, vector). */
  def queries(seed: Long, corpus: Vectors, count: Int): Array[(Long, Long, Array[Float])] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(count) { q =>
      val j = r.nextInt(corpus.vecs.length)
      val u1 = () => 1.0 - r.nextDouble()
      val noisy = corpus.vecs(j).map { x =>
        x + VecNoise * math.sqrt(-2 * math.log(u1())) * math.cos(2 * math.Pi * r.nextDouble())
      }
      (q.toLong, corpus.ids(j), normalize(noisy))
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Every pair at cosine ≥ `threshold`, by brute force. */
  def exactCosine(v: Vectors, threshold: Double): Set[(Long, Long)] =
    (for (i <- v.vecs.indices; j <- i + 1 until v.vecs.length
          if cosine(v.vecs(i), v.vecs(j)) >= threshold) yield (v.ids(i), v.ids(j))).toSet

  /** A few hundred documents for the dedup kernel loops. */
  def kernelDocs(seed: Long): Array[String] = docs(seed, 500, 0L).docs.map(_.text)
}
