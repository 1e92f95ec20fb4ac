package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One call of a program function, as the benchmark timed it.
  * `buildNs` runs from the call to the returned DataFrame (eager jobs
  * included), `planNs` forces Catalyst's physical plan, and `execNs`
  * (which contains `planNs`) ends when the whole result is consumed.
  * `liveHeapBytes` is the heap in use after the GC that follows the call.
  */
final case class Call(seq: Int, name: String, pass: Int, timed: Boolean, lines: Long,
                      startMs: Long, endMs: Long, buildNs: Long, planNs: Long,
                      execNs: Long, ok: Boolean, liveHeapBytes: Long) {
  def seconds: Double = (buildNs + execNs) / 1e9
  def groups: Set[String] = Set(s"op$seq/build", s"op$seq/exec")
}

/** Raised by a workload whose inputs for another pass have run out. */
final class WindowOver extends RuntimeException(null, null, false, false)

/** Runs program calls one at a time (one closed-loop client), times them,
  * checks each output and clears caches and garbage outside the timed
  * region, as `graft.Bench` does.
  */
final class Ops(val spark: SparkSession, tracing: Boolean) {
  val calls = ArrayBuffer.empty[Call]
  var pass = -1
  var timed = false
  private var seq = 0

  /** Time `build`, then consume its result through an order-independent
    * digest (row count, CRC sum, and any `extra` aggregates), which reads
    * every result column the way a write would. `check` gets the digest
    * row: its fields 0 and 1 are the [[Gen.Digest]] pair.
    */
  def frame(name: String, lines: Long, extra: Seq[Column] = Nil)(build: => DataFrame)
           (check: Row => Boolean): Unit =
    run(name, lines)(build) { (df, plan) =>
      val q = Ops.digestOf(df, extra)
      plan(q.queryExecution.executedPlan)
      q.collect().head
    }(check)

  /** Time `build` and collect its (small) result to the driver. */
  def rows(name: String, lines: Long)(build: => DataFrame)(check: Array[Row] => Boolean): Unit =
    run(name, lines)(build) { (df, plan) =>
      plan(df.queryExecution.executedPlan)
      df.collect()
    }(check)

  /** Time a call that does its own work and returns nothing. */
  def action(name: String, lines: Long)(body: => Unit)(check: => Boolean): Unit =
    run(name, lines)(body)((_, _) => ())(_ => check)

  private def run[B, T](name: String, lines: Long)(build: => B)
                       (consume: (B, Any => Unit) => T)(check: T => Boolean): Unit = {
    val id = s"op$seq"
    val sc = spark.sparkContext
    if (tracing) sc.setJobGroup(s"$id/build", name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildNs, planNs, execNs = 0L
    val out =
      try {
        val b = build
        val t1 = System.nanoTime()
        buildNs = t1 - t0
        if (tracing) sc.setJobGroup(s"$id/exec", name)
        val v = consume(b, { _ => planNs = System.nanoTime() - t1 })
        execNs = System.nanoTime() - t1
        Some(v)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          e.printStackTrace()
          None
      } finally if (tracing) sc.clearJobGroup()
    val endMs = System.currentTimeMillis()
    val ok = out.exists { v =>
      val good = try check(v) catch {
        case e: Throwable => System.err.println(s"[perfbench] $name check threw: $e"); false
      }
      if (!good) System.err.println(s"[perfbench] $name output check FAILED (call $id)")
      good
    }
    System.err.println(f"[perfbench] pass $pass $name: build ${buildNs / 1e9}%.3f s, exec ${execNs / 1e9}%.3f s")
    spark.catalog.clearCache()
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    calls += Call(seq, name, pass, timed, lines, startMs, endMs, buildNs, planNs, execNs, ok, heap)
    seq += 1
  }
}

object Ops {
  def digestOf(df: DataFrame, extra: Seq[Column] = Nil): DataFrame = {
    val fields = df.columns.toSeq.map(c => df.col(s"`$c`").cast("string"))
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(crc32(concat_ws("\u0001", fields: _*).cast("binary"))), lit(0L)).as("crc") +:
        extra: _*)
  }

  def digestMatches(r: Row, d: Gen.Digest): Boolean = r.getLong(0) == d.rows && r.getLong(1) == d.crcSum

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p75/p90/p95/p99 with at least ten samples beyond it
    * (nearest rank), with that percentile. Under forty samples no such
    * percentile exists, and the maximum is given as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => (s(math.max(0, math.ceil(p / 100 * n).toInt - 1)), p)
      case None    => (s.last, 100.0)
    }
  }
}
