package perfbench

import graft.engine.GrepEngine
import graft.operators.Similarity
import graft.sources.{DedupIndexes, SimilarityIndexes, TextIndexes}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** index_serve: reads beside writes over the stored artifacts. Set-up
  * builds a trigram grep index and an IVF-PQ index over a base corpus;
  * the loop probes both and takes delivery appends, each followed by a
  * compaction to a new generation plus a pointer flip. Little data work
  * per operation and many driver round-trips.
  *
  * One pass is 14 operations: two rounds of five probes (grep with a
  * rare word the index prunes well, a common word it hardly prunes and a
  * two-letter string it cannot prune; multi-pattern grep; ANN), one
  * delivery (grep append, ANN append) and both compactions. Probes are
  * 10/14 of the calls, appends 2/14 and compactions 2/14. Grep probes
  * are the majority of the probes, so the median probe is a grep probe
  * rather than the midpoint of two kinds. The untimed warm-up pass is
  * the first round of probes alone.
  */
object IndexServe {
  val ops: Seq[String] = Seq("sources.text_probe", "sources.text_multi_probe", "sources.text_append",
    "sources.text_compact", "sources.ann_probe", "sources.ann_append", "sources.ann_compact")
  val VocabSize = 20000
  val BaseDistinct = 5000
  val BaseLines = 12000
  val DeliveryLines = 1500
  /** The delivery queue: the timed window ends early if it runs dry. */
  val Deliveries = 8
  val Dim = 16
  val BaseVectors = 3000
  val DeliveryVectors = 300
  val Buckets = 16
  val PqSubspaces = 4
  val Queries = 128
  val K = 10
  /** Below this mean recall@10 an ANN probe counts as failed. */
  val RecallFloor = 0.5
}

final class IndexServe(seed: Long, dir: String) extends Workload {
  import IndexServe._

  private val vocab = new Gen.Vocab(seed, VocabSize, 1.05)
  private val base = Gen.corpus(vocab, seed, 2, BaseDistinct, BaseLines)
  private val space = new Gen.VectorSpace(seed, Dim, 24, 0.6)
  private val baseVecs: Array[Array[Float]] = {
    val r = Gen.rng(seed, 4)
    Array.fill(BaseVectors)(space.draw(r))
  }
  /** Half of each delivery repeats base lines, half is new content. */
  private val deliveries: Array[Array[String]] = Array.tabulate(Deliveries) { d =>
    val r = Gen.rng(seed, 10000 + d)
    Array.fill(DeliveryLines) {
      if (r.nextBoolean()) base.lines(r.nextInt(BaseDistinct)) else vocab.line(r, 6, 14)
    }
  }
  private val deliveryVecs: Array[Array[Array[Float]]] = Array.tabulate(Deliveries) { d =>
    val r = Gen.rng(seed, 20000 + d)
    Array.fill(DeliveryVectors)(space.draw(r))
  }
  private def vecId(d: Int, i: Int): Long = BaseVectors.toLong + d.toLong * DeliveryVectors + i

  private val inputs = s"$dir/inputs"
  private val pools = new Gen.Patterns(seed,
    base.lines.indices.filter(base.counts(_) > 0).map(j => (base.lines(j), base.counts(j))), rareLines = 10)

  // the model of what the indexes hold: line -> total count, and vectors
  private val model = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var nextDelivery = 0
  private var gen = 0
  private var textBuildS, annBuildS = 0.0
  private var firstPassIndexBytes, firstPassAppendBytes = 0L

  private val textRoot = s"$dir/text"
  private val annRoot = s"$dir/ann"
  private def indexBytes(spark: SparkSession): Long =
    Workload.dirBytes(DedupIndexes.resolveIndex(spark, textRoot)) +
      Workload.dirBytes(DedupIndexes.resolveIndex(spark, annRoot))
  private def indexedLines: Long = model.valuesIterator.sum
  private def inputBytes: Long =
    model.iterator.map { case (l, c) => c * (l.getBytes(UTF_8).length + 1L) }.sum + vecs.size.toLong * Dim * 4

  def inputRecord: Seq[(String, Any)] = Seq(
    "lines" -> base.n, "bytes" -> base.bytes, "distinct_share" -> base.distinctShare,
    "vectors" -> BaseVectors, "vocabulary" -> VocabSize, "delivery_lines" -> DeliveryLines,
    "delivery_vectors" -> DeliveryVectors, "ann_queries" -> Queries)

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def writeInputs(spark: SparkSession): Unit = {
    import spark.implicits._
    base.assign.toSeq.zipWithIndex.map { case (j, i) => (i.toLong, base.lines(j)) }
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"$inputs/base_text")
    spark.createDataFrame(spark.sparkContext.parallelize(
        baseVecs.toSeq.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$inputs/base_vectors")
    deliveries.toSeq.zipWithIndex.flatMap { case (ls, d) => ls.toSeq.map(l => (d, l)) }
      .toDF("delivery", "text").write.mode("overwrite").partitionBy("delivery").parquet(s"$inputs/delivery_text")
    spark.createDataFrame(spark.sparkContext.parallelize(
        deliveryVecs.toSeq.zipWithIndex.flatMap { case (vs, d) =>
          vs.toSeq.zipWithIndex.map { case (v, i) => Row(vecId(d, i), v.toSeq, d) } }, 1),
        vecSchema.add(StructField("delivery", IntegerType)))
      .write.mode("overwrite").partitionBy("delivery").parquet(s"$inputs/delivery_vectors")
  }

  override def setup(spark: SparkSession): Unit = {
    base.assign.foreach(j => model(base.lines(j)) += 1)
    baseVecs.zipWithIndex.foreach { case (v, i) => vecs += ((i.toLong, v)) }
    var t = System.nanoTime()
    TextIndexes.writeGrepIndex(spark.read.parquet(s"$inputs/base_text"), "text", s"$textRoot/gen-0",
      nbuckets = Buckets)
    DedupIndexes.flipPointer(spark, textRoot, "gen-0")
    textBuildS = (System.nanoTime() - t) / 1e9
    t = System.nanoTime()
    SimilarityIndexes.writeIvfPqIndex(spark.read.parquet(s"$inputs/base_vectors"), s"$annRoot/gen-0",
      "perfbench-index-serve", m = PqSubspaces)
    DedupIndexes.flipPointer(spark, annRoot, "gen-0")
    annBuildS = (System.nanoTime() - t) / 1e9
    System.err.println(f"[perfbench] builds: text $textBuildS%.3f s, ann $annBuildS%.3f s")
    spark.catalog.clearCache()
  }

  private def textProbe(ops: Ops, name: String)(probe: (DataFrame, DataFrame, DataFrame) => DataFrame)
                       (pred: String => Boolean): Unit = {
    val spark = ops.spark
    val exp = Gen.digest(model.iterator.filter { case (l, _) => pred(l) }.map { case (l, c) => Seq(l, c) }.toSeq)
    ops.frame(name, indexedLines) {
      val (lines, postings, gramdf) = TextIndexes.readGrepIndex(spark, textRoot)
      probe(lines, postings, gramdf)
    }(Ops.digestMatches(_, exp))
  }

  private def annProbe(ops: Ops, n: Int): Unit = {
    val spark = ops.spark
    val r = Gen.rng(seed, 30000 + n)
    val queries = Seq.tabulate(Queries)(i => (-1L - i, space.draw(r)))
    val exact = queries.map { case (q, v) =>
      q -> vecs.map { case (id, u) => (id, Gen.cosine(v, u)) }
        .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSeq
    }.toMap
    ops.rows("sources.ann_probe", vecs.size) {
      val (centroids, books, codes, vectors) = SimilarityIndexes.readIvfPqIndex(spark, annRoot)
      val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
        queries.map { case (q, v) => Row(q, v.toSeq) }, 1), StructType(Seq(
        StructField("query_id", LongType), StructField("eq", ArrayType(FloatType, containsNull = false)))))
      Similarity.annTopKIvfPqFromIndex(centroids, books, codes, vectors, qdf, k = K)
    } { rows =>
      val got = rows.toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(2)).map(_.getLong(1)) }
      val recall = queries.map { case (q, _) =>
        Workload.topOverlap(got.getOrElse(q, Nil), exact(q)) }.sum / Queries
      if (ops.timed) recalls += recall
      queries.forall { case (q, _) => got.get(q).exists(_.size == K) } && recall >= RecallFloor
    }
  }

  private def deliver(ops: Ops): Unit = {
    val spark = ops.spark
    val d = nextDelivery
    nextDelivery += 1
    ops.action("sources.text_append", DeliveryLines) {
      TextIndexes.appendGrep(spark.read.parquet(s"$inputs/delivery_text").filter(col("delivery") === d),
        "text", textRoot, s"d$d")
    }(true)
    deliveries(d).foreach(l => model(l) += 1)
    ops.action("sources.ann_append", DeliveryVectors) {
      SimilarityIndexes.appendIvfPq(spark.read.parquet(s"$inputs/delivery_vectors")
        .filter(col("delivery") === d).select(col("vec_id"), col("embedding")), annRoot, s"d$d")
    }(true)
    deliveryVecs(d).zipWithIndex.foreach { case (v, i) => vecs += ((vecId(d, i), v)) }
  }

  private def compact(ops: Ops): Unit = {
    val spark = ops.spark
    val old = gen
    gen += 1
    Seq(("sources.text_compact", textRoot, indexedLines,
        (dst: String) => TextIndexes.compactGrepTo(spark, textRoot, dst)),
      ("sources.ann_compact", annRoot, vecs.size.toLong,
        (dst: String) => { SimilarityIndexes.compactIvfPqTo(spark, annRoot, dst); () })
    ).foreach { case (name, root, lines, compactTo) =>
      ops.action(name, lines) {
        compactTo(s"$root/gen-$gen")
        DedupIndexes.flipPointer(spark, root, s"gen-$gen")
      }(DedupIndexes.resolveIndex(spark, root) == s"$root/gen-$gen")
      Workload.deleteDir(s"$root/gen-$old")
    }
  }

  override def isQuery(op: String): Boolean = op.endsWith("probe")

  def pass(ops: Ops, p: Int): Unit = {
    if (ops.timed && nextDelivery >= Deliveries) throw new WindowOver
    val r = Gen.rng(seed, 1000 + p)
    def one[T](xs: Vector[T]): T = xs(r.nextInt(xs.size))
    // the warm-up is one round of probes: the set-up builds have already
    // run the write paths, and a first append or compaction measured no
    // slower than a later one
    (0 until (if (p < 0) 1 else 2)).foreach { c =>
      val pruned = one(pools.rare)
      textProbe(ops, "sources.text_probe")(GrepEngine.grepFreqFromIndex(_, _, _, pruned))(_.contains(pruned))
      val unpruned = one(pools.common)
      textProbe(ops, "sources.text_probe")(GrepEngine.grepFreqFromIndex(_, _, _, unpruned))(_.contains(unpruned))
      val trigramless = one(pools.short)
      textProbe(ops, "sources.text_probe")(GrepEngine.grepFreqFromIndex(_, _, _, trigramless))(
        _.contains(trigramless))
      val multi = Seq(one(pools.rare), one(pools.common), one(pools.absent), one(pools.short))
      textProbe(ops, "sources.text_multi_probe")(GrepEngine.multiGrepFromIndex(_, _, _, multi))(
        l => multi.exists(l.contains))
      annProbe(ops, 2 * p + c)
    }
    if (p < 0) return
    val before = indexBytes(ops.spark)
    deliver(ops)
    if (p == 0) firstPassAppendBytes = indexBytes(ops.spark) - before
    compact(ops)
    if (p == 0) firstPassIndexBytes = indexBytes(ops.spark)
  }

  override def layerExtras: Seq[(String, Double)] = Seq(
    "sources.text_build_s" -> textBuildS,
    "sources.ann_build_s" -> annBuildS,
    "sources.index_bytes" -> firstPassIndexBytes.toDouble,
    "sources.append_bytes_written" -> firstPassAppendBytes.toDouble)

  def detailExtras(timed: Seq[Call]): Seq[(String, Any)] = {
    val ok = timed.filter(_.ok)
    val probes = ok.filter(c => c.name.endsWith("probe")).map(_.seconds)
    // a delivery is a grep append followed by an ANN append
    def pairs(a: String, b: String): Seq[Double] =
      timed.sliding(2).collect { case Seq(x, y) if x.name == a && y.name == b && x.ok && y.ok =>
        x.seconds + y.seconds }.toSeq
    val appends = pairs("sources.text_append", "sources.ann_append")
    val compacts = pairs("sources.text_compact", "sources.ann_compact")
    val (t, pct) = Ops.tail(probes)
    val spark = SparkSession.active
    Seq("probe_p50_s" -> Ops.median(probes), "probe_tail_s" -> t, "probe_tail_percentile" -> pct,
      "probe_samples" -> probes.size,
      "append_p50_s" -> (if (appends.isEmpty) None else Some(Ops.median(appends))),
      "append_samples" -> appends.size,
      "compact_p50_s" -> (if (compacts.isEmpty) None else Some(Ops.median(compacts))),
      "compact_samples" -> compacts.size,
      "index_bytes_per_input_byte" -> indexBytes(spark).toDouble / inputBytes,
      "ann_recall_at_10" -> (if (recalls.isEmpty) None else Some(recalls.sum / recalls.size)),
      "text_build_s" -> textBuildS, "ann_build_s" -> annBuildS)
  }
}
