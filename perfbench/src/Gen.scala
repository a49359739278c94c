package perfbench

import java.security.MessageDigest
import java.io.{BufferedOutputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.DigestOutputStream

import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and size: the same seed gives byte-identical inputs (see
  * [[Gen.selfTest]]). The "population" each workload samples from (class
  * weights, vocabulary, planted sentence) is fixed; the seed draws the
  * rows, so different seeds give different inputs of the same difficulty.
  */
object Gen {

  // ---- covtype-shaped frame ------------------------------------------

  val NDense = 10
  val NWild = 4
  val NSoil = 40
  val NFeatures: Int = NDense + NWild + NSoil // 54 once encoded, as in covtype
  val NClasses = 7

  /** covtype's raw layout: 10 numeric columns, a 4-level "wilderness"
    * and a 40-level "soil" column (covtype's 44 binary columns are the
    * one-hot encoding of these two), and a 7-class label.
    */
  final case class Covtype(num: Array[Array[Double]], wild: Array[Int],
                           soil: Array[Int], y: Array[Double]) {
    def n: Int = y.length
    def digest: String = Gen.digest { b =>
      num.foreach(_.foreach(b.writeDouble)); wild.foreach(b.writeInt)
      soil.foreach(b.writeInt); y.foreach(b.writeDouble)
    }
  }

  private lazy val classWeights: Array[Array[Double]] = {
    val r = new Random(7L)
    Array.fill(NClasses, NFeatures + 1)(r.nextGaussian() * 1.5)
  }

  /** Rows labelled by the argmax of a fixed 7-class linear score of the
    * (one-hot) row plus Gaussian noise. The noise keeps the Bayes
    * accuracy well below 1 and the linear signal keeps it far above
    * chance, so [[FitFloor]] holds on every seed. Numeric columns sit on
    * different scales, as covtype's do, so encoding matters.
    */
  def covtype(seed: Long, n: Int): Covtype = {
    val r = new Random(seed)
    val w = classWeights
    val num = Array.ofDim[Double](n, NDense)
    val wild = new Array[Int](n)
    val soil = new Array[Int](n)
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      val z = Array.fill(NDense)(r.nextGaussian())
      var j = 0
      while (j < NDense) { num(i)(j) = 100.0 * j + (j + 1) * z(j); j += 1 }
      wild(i) = r.nextInt(NWild); soil(i) = r.nextInt(NSoil)
      var best = 0; var bestS = Double.NegativeInfinity
      var k = 0
      while (k < NClasses) {
        var s = w(k)(NFeatures) + w(k)(NDense + wild(i)) +
          w(k)(NDense + NWild + soil(i)) + r.nextGaussian() * 1.5
        j = 0
        while (j < NDense) { s += w(k)(j) * z(j); j += 1 }
        if (s > bestS) { bestS = s; best = k }
        k += 1
      }
      y(i) = best
      i += 1
    }
    Covtype(num, wild, soil, y)
  }

  /** Accuracy every fitted model must reach on covtype-shaped rows.
    * Chance is 1/7 and the majority class holds well under a third.
    */
  val FitFloor = 0.45

  // ---- text corpus with planted duplicates ----------------------------

  final case class Corpus(ids: Array[Long], texts: Array[String],
                          junk: Set[Long],
                          exactCopies: Map[Long, Long], // copy -> original
                          nearPairs: Seq[(Long, Long)], // (original, near copy)
                          boilerplate: Set[Long]) {
    def digest: String = Gen.digest { b =>
      ids.indices.foreach { i => b.writeLong(ids(i)); b.write(texts(i).getBytes(UTF_8)) }
    }
    def nDocs: Int = ids.length
  }

  private val Stopwords = Array("the", "a", "an", "of", "to", "in", "and",
    "is", "it", "for")

  private lazy val vocab: Array[String] = {
    val r = new Random(11L)
    val letters = "abcdefghijklmnoprstuvwy"
    Array.fill(3000) {
      val len = 4 + r.nextInt(6)
      (0 until len).map(_ => letters(r.nextInt(letters.length))).mkString
    }.distinct.filterNot(Stopwords.contains)
  }

  // Zipf-like with a flattened head, so no single word nears the
  // repetition cap of the quality rules
  private lazy val vocabCdf: Array[Double] = {
    val w = vocab.indices.map(r => 1.0 / (r + 20.0))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail.toArray
  }

  private def word(r: Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(vocabCdf, u)
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  private def sentence(r: Random, nWords: Int): Array[String] =
    Array.tabulate(nWords) { i =>
      if (i % 8 == 3) Stopwords(r.nextInt(Stopwords.length)) else word(r)
    }

  /** Shared 16-word sentence planted verbatim into the boilerplate docs. */
  private lazy val boilerSentence: Array[String] = sentence(new Random(13L), 16)

  /** `n` documents, ids 0 until n. Roles are disjoint:
    *  - `junk`: fails the quality rules (too short, or one token repeated);
    *  - exact copies: verbatim text of an earlier clean document;
    *  - near copies: an earlier clean document with 1 word in 12 replaced
    *    (3-gram Jaccard to its original ~0.5-0.7);
    *  - boilerplate: otherwise unrelated documents sharing one planted
    *    16-word sentence (a duplicate span, but 3-gram Jaccard < 0.2).
    * Every other document is clean and unique.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new Random(seed)
    val nJunk = n / 50
    val nExact = n / 25
    val nNear = n / 25
    val nBoiler = 12
    val nBase = n - nJunk - nExact - nNear
    require(nBase > nExact + nNear + nBoiler, s"corpus of $n docs is too small")
    val base: Array[Array[String]] = Array.fill(nBase)(sentence(r, 45 + r.nextInt(30)))
    // disjoint source roles among the base docs
    val order = r.shuffle((0 until nBase).toVector)
    val exactSrc = order.take(nExact)
    val nearSrc = order.slice(nExact, nExact + nNear)
    val boilerSrc = order.slice(nExact + nNear, nExact + nNear + nBoiler)
    boilerSrc.foreach { i =>
      val d = base(i)
      val at = r.nextInt(d.length - 1)
      base(i) = d.take(at) ++ boilerSentence ++ d.drop(at)
    }
    val texts = Array.newBuilder[String]
    base.foreach(d => texts += d.mkString(" "))
    val exactCopies = exactSrc.zipWithIndex.map { case (src, i) =>
      texts += base(src).mkString(" ")
      (nBase + i).toLong -> src.toLong
    }.toMap
    val nearPairs = nearSrc.zipWithIndex.map { case (src, i) =>
      val d = base(src).clone()
      var p = r.nextInt(12)
      while (p < d.length) { d(p) = word(r) + "x"; p += 12 }
      texts += d.mkString(" ")
      (src.toLong, (nBase + nExact + i).toLong)
    }
    val junkStart = nBase + nExact + nNear
    (0 until nJunk).foreach { i =>
      texts += (if (i % 2 == 0) sentence(r, 8).mkString(" ")
      else (sentence(r, 20) ++ Array.fill(20)("spam")).mkString(" "))
    }
    Corpus((0 until n).map(_.toLong).toArray, texts.result(),
      (junkStart until n).map(_.toLong).toSet, exactCopies, nearPairs,
      boilerSrc.map(_.toLong).toSet)
  }

  // ---- embeddings with planted near-twins -----------------------------

  final case class Embeddings(ids: Array[Long], vecs: Array[Array[Double]],
                              twins: Seq[(Long, Long)]) {
    def digest: String = Gen.digest { b =>
      ids.indices.foreach { i => b.writeLong(ids(i)); vecs(i).foreach(b.writeDouble) }
    }
  }

  val EmbDim = 32

  /** `n` random Gaussian directions; the last n/10 are near-twins (cosine
    * > 0.99) of distinct earlier vectors. Unrelated 32-d directions have
    * cosine ~N(0, 1/32), far below any dedup threshold.
    */
  def embeddings(seed: Long, n: Int): Embeddings = {
    val r = new Random(seed ^ 0x5eedL)
    val nTwin = n / 10
    val nBase = n - nTwin
    val vecs = Array.fill(nBase)(Array.fill(EmbDim)(r.nextGaussian()))
    val src = r.shuffle((0 until nBase).toVector).take(nTwin)
    val twins = src.map { s =>
      vecs(s).map(v => v + r.nextGaussian() * 0.05)
    }
    Embeddings((0 until n).map(_.toLong).toArray, vecs ++ twins,
      src.zipWithIndex.map { case (s, i) => (s.toLong, (nBase + i).toLong) })
  }

  // ---- digests and self-test ------------------------------------------

  private def digest(fill: DataOutputStream => Unit): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new BufferedOutputStream(
      new DigestOutputStream(OutputStream.nullOutputStream(), md), 1 << 16))
    fill(out)
    out.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digests of every generator's output at `seed`, in a fixed order. */
  def digests(seed: Long, sizes: Sizes): Seq[String] = Seq(
    covtype(seed, sizes.fitRows + sizes.scoreRows).digest,
    corpus(seed, sizes.docs).digest,
    embeddings(seed, sizes.vectors).digest)

  /** Same seed gives byte-identical inputs; the next seed gives
    * different inputs from every generator.
    */
  def selfTest(seed: Long, sizes: Sizes): Option[String] = {
    val a = digests(seed, sizes)
    val b = digests(seed, sizes)
    val c = digests(seed + 1, sizes)
    if (a != b) Some(s"generators are not deterministic at seed $seed")
    else if (a.zip(c).exists { case (x, y) => x == y })
      Some(s"seeds $seed and ${seed + 1} give an identical input")
    else None
  }
}
