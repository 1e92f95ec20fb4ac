package perfbench

import graft.engine.GrepEngine
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** grep_scan: the paper's query (filter lines by a pattern, count each
  * distinct matching line) and its siblings, scanning a generated corpus
  * in the `documents` schema. Bound by data: each call scans the whole
  * corpus in two jobs and touches neither stored indexes nor multi-job
  * operator loops. Read-only.
  */
object GrepScan {
  val ops: Seq[String] = Seq("engine.grep_freq", "engine.grep_regex", "engine.multi_grep", "engine.grep_topk")
  val Lines = 2000000
  val Distinct = 500000
  val VocabSize = 20000
  val TopK = 10
}

final class GrepScan(seed: Long, dir: String) extends Workload {
  import GrepScan._

  private val vocab = new Gen.Vocab(seed, VocabSize, 1.05)
  private val corpus = Gen.corpus(vocab, seed, 2, Distinct, Lines)
  private val path = s"$dir/inputs/documents.parquet"

  /** (distinct line, count) pairs that occur at least once. */
  private val present: Array[(String, Int)] =
    corpus.lines.indices.iterator.filter(corpus.counts(_) > 0)
      .map(j => (corpus.lines(j), corpus.counts(j))).toArray

  private val pools = new Gen.Patterns(seed, present.toSeq, rareLines = 60)
  private val regex = pools.common.take(4).map(w => s"\\b$w [a-e]")

  private val expectMemo = mutable.HashMap.empty[String, Array[(String, Int)]]
  private def matches(key: String)(pred: String => Boolean): Array[(String, Int)] =
    expectMemo.getOrElseUpdate(key, present.filter { case (l, _) => pred(l) })
  private def digest(m: Array[(String, Int)]) = Gen.digest(m.toSeq.map { case (l, c) => Seq(l, c) })

  def inputRecord: Seq[(String, Any)] = Seq(
    "lines" -> corpus.n, "bytes" -> corpus.bytes, "distinct_share" -> corpus.distinctShare,
    "vectors" -> 0, "vocabulary" -> VocabSize)

  def writeInputs(spark: SparkSession): Unit = {
    val lines = spark.sparkContext.broadcast(corpus.lines)
    val assign = spark.sparkContext.broadcast(corpus.assign)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val rdd = spark.sparkContext.parallelize(0 until corpus.n, 8).map { i =>
      val t = lines.value(assign.value(i))
      Row(i.toLong, t, "en", s"src${i % 16}", t.length.toLong)
    }
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(path)
    lines.destroy(); assign.destroy()
  }

  def pass(ops: Ops, p: Int): Unit = {
    def docs = ops.spark.read.parquet(path)
    val r = Gen.rng(seed, 1000 + p)
    def one[T](xs: Vector[T]): T = xs(r.nextInt(xs.size))
    val n = corpus.n.toLong

    val singles = Seq(one(pools.rare), one(pools.common), one(pools.absent))
    singles.foreach { pat =>
      val exp = digest(matches(s"s:$pat")(_.contains(pat)))
      ops.frame("engine.grep_freq", n)(GrepEngine.grepFreq(docs, "text", pat))(Ops.digestMatches(_, exp))
    }

    val rx = one(regex)
    val rxExp = digest(matches(s"r:$rx") { l => java.util.regex.Pattern.compile(rx).matcher(l).find() })
    ops.frame("engine.grep_regex", n)(GrepEngine.grepFreq(docs, "text", rx, GrepEngine.Regex))(
      Ops.digestMatches(_, rxExp))

    val multi = Seq(one(pools.rare), one(pools.common), one(pools.absent))
    val mExp = digest(matches(s"m:${multi.mkString("\u0001")}")(l => multi.exists(l.contains)))
    ops.frame("engine.multi_grep", n)(GrepEngine.multiGrep(docs, "text", multi))(Ops.digestMatches(_, mExp))

    val top = one(pools.common)
    val exact = matches(s"s:$top")(_.contains(top)).sortBy { case (l, c) => (-c, l) }.take(TopK).toSeq
    ops.rows("engine.grep_topk", n)(GrepEngine.grepTopK(docs, "text", top, TopK)) { rows =>
      val got = rows.toSeq.map(row => (row.getString(0), row.getLong(1).toInt))
      if (ops.timed) recalls += Workload.topOverlap(got.map(_._1), exact.map(_._1))
      got == exact
    }
  }

  def detailExtras(timed: Seq[Call]): Seq[(String, Any)] = {
    val secs = timed.filter(_.ok).map(_.seconds)
    val (t, pct) = Ops.tail(secs)
    Seq("grep_p50_s" -> Ops.median(secs), "grep_tail_s" -> t, "grep_tail_percentile" -> pct,
      "grep_lines_per_s" -> timed.filter(_.ok).map(_.lines).sum / secs.sum,
      "grep_samples" -> secs.size)
  }
}
