package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32
import scala.collection.mutable

/** Seeded input generators. Every input of a run is a pure function of the
  * seed and the workload's fixed sizes, so two runs with one seed see the
  * same bytes and the program receives only the generated data.
  */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A Zipf-ranked vocabulary of distinct lowercase words (3 to 9
    * letters). A large vocabulary with a heavy tail gives patterns of
    * every selectivity: a handful of words occur on a tenth of all lines,
    * most occur on a few.
    */
  final class Vocab(seed: Long, size: Int, exponent: Double) {
    val words: Array[String] = {
      val r = rng(seed, 1)
      val seen = new java.util.HashSet[String]()
      val out = Array.newBuilder[String]
      while (seen.size < size) {
        val w = Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
        if (seen.add(w)) out += w
      }
      out.result()
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, exponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def rank(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
    def draw(r: SplittableRandom): String = words(rank(r))
    def line(r: SplittableRandom, minWords: Int, maxWords: Int): String =
      Iterator.fill(minWords + r.nextInt(maxWords - minWords + 1))(draw(r)).mkString(" ")
  }

  /** A corpus of `n` lines drawn from `distinct` generated lines: line i
    * is `lines(assign(i))`, and `counts(j)` is how often line j occurs.
    * The distinct/total ratio sets the group count of every frequency
    * aggregation over it.
    */
  final case class Corpus(lines: Array[String], assign: Array[Int]) {
    lazy val counts: Array[Int] = {
      val c = new Array[Int](lines.length)
      assign.foreach(j => c(j) += 1)
      c
    }
    def n: Int = assign.length
    def bytes: Long = assign.iterator.map(j => lines(j).getBytes(UTF_8).length.toLong + 1).sum
    def distinctShare: Double = counts.count(_ > 0).toDouble / n
  }

  def corpus(vocab: Vocab, seed: Long, stream: Long, distinct: Int, n: Int,
             minWords: Int = 6, maxWords: Int = 14): Corpus = {
    val r = rng(seed, stream)
    val lines = Array.fill(distinct)(vocab.line(r, minWords, maxWords))
    Corpus(lines, Array.fill(n)(r.nextInt(distinct)))
  }

  /** Grep pattern pools by selectivity class, chosen from the lines' own
    * counts so that every seed gets patterns of the same selectivity: the
    * eight candidates nearest a target. `rare` words occur on about
    * `rareLines` lines, `common` words on about 4% of lines, `absent`
    * strings (with digits) on none, and `short` two-letter strings, which
    * have no trigram to prune with, on about 1% of lines.
    */
  final class Patterns(seed: Long, lines: Seq[(String, Int)], rareLines: Int) {
    private val total = lines.map(_._2.toLong).sum.toDouble
    private val r = rng(seed, 3)
    private def counted(keys: String => Seq[String]): collection.Map[String, Int] = {
      val m = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      lines.foreach { case (l, c) => keys(l).distinct.foreach(k => m(k) += c) }
      m
    }
    private def nearest(xs: collection.Map[String, Int], target: Double): Vector[String] = {
      val out = xs.toVector.sortBy { case (k, c) => (math.abs(math.log(c / target)), k) }.take(8).map(_._1)
      require(out.size == 8, s"too few candidate patterns for seed $seed")
      out
    }
    private val words = counted(_.split(' ').toSeq)
    val rare: Vector[String] = nearest(words.filter(_._1.length >= 5), rareLines)
    val common: Vector[String] = nearest(words.filter(_._1.length >= 4), 0.04 * total)
    val absent: Vector[String] = Vector.tabulate(8)(i => s"q${r.nextInt(1000)}x$i")
    lazy val short: Vector[String] =
      nearest(counted(_.sliding(2).filter(!_.contains(' ')).toSeq), 0.01 * total)
  }

  /** Unit-free clustered vectors: `centers` random directions plus
    * Gaussian noise, so an inverted-file index has real cells to prune.
    */
  final class VectorSpace(seed: Long, val dim: Int, centers: Int, noise: Double) {
    private val cs: Array[Array[Double]] = {
      val r = rng(seed, 7)
      Array.fill(centers)(Array.fill(dim)(gauss(r)))
    }
    def draw(r: SplittableRandom): Array[Float] = {
      val c = cs(r.nextInt(centers))
      Array.tabulate(dim)(i => (c(i) + noise * gauss(r)).toFloat)
    }
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Order-independent digest of a result: its row count and the sum of
    * CRC-32 over each row's fields joined by U+0001. [[Ops.digestOf]]
    * computes the same pair inside Spark, so a result can be checked
    * against an answer derived here without collecting it.
    */
  final case class Digest(rows: Long, crcSum: Long)

  def digest(rows: Iterable[Seq[Any]]): Digest = {
    var n, s = 0L
    val crc = new CRC32
    rows.foreach { fields =>
      crc.reset()
      crc.update(fields.map(_.toString).mkString("\u0001").getBytes(UTF_8))
      n += 1; s += crc.getValue
    }
    Digest(n, s)
  }
}
