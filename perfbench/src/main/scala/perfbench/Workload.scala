package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** One benchmark workload: seeded inputs, the artifacts its set-up builds,
  * and a fixed mix of operations run in passes by one closed-loop client.
  */
trait Workload {
  /** The operations that answer queries; their latencies are the
    * workload's query metrics. Writes count in the pass time.
    */
  def isQuery(op: String): Boolean = true

  /** Input sizes for the environment record. */
  def inputRecord: Seq[(String, Any)]

  /** Writes the generated inputs where the program reads them. Input
    * generation: once per run, excluded from set-up time.
    */
  def writeInputs(spark: SparkSession): Unit

  /** Builds the stored artifacts a fresh deployment needs; timed as part
    * of set-up.
    */
  def setup(spark: SparkSession): Unit = ()

  /** One pass of the operation mix. Pass numbers below 0 are warm-up. */
  def pass(ops: Ops, p: Int): Unit

  /** Recall@10 samples of timed operations: the share of the exact top-10
    * that an operation returned.
    */
  val recalls = ArrayBuffer.empty[Double]

  /** Per-layer values the workload measures itself (`sources.*`). */
  def layerExtras: Seq[(String, Double)] = Nil

  /** Workload-specific end-to-end values for the detail file. */
  def detailExtras(timed: Seq[Call]): Seq[(String, Any)]
}

object Workload {
  /** Per-operation metric prefixes (`<layer>.<op>`) of every workload, in
    * report order; a traced run reports all of them, 0 for the operations
    * it did not call.
    */
  val allOps: Seq[String] = GrepScan.ops ++ IndexServe.ops

  def apply(name: String, seed: Long, dir: String): Workload = name match {
    case "grep_scan"    => new GrepScan(seed, dir)
    case "index_serve"  => new IndexServe(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new java.io.File(path))
  }

  def deleteDir(path: String): Unit = {
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new java.io.File(path))
  }

  def topOverlap[K](got: Seq[K], exact: Seq[K]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.toSet).size.toDouble / exact.size
}
