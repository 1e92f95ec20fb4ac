package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** The benchmark program: one JVM, one workload, one closed-loop client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --run-dir <dir> --detail <file> --cpus <n>
  *                  [--commit <id>] [--source-digest <sha256>]
  *
  * Set-up is session boot plus artifact builds, from scratch in the fresh
  * JVM, plus one untimed warm-up pass of the workload's mix. The timed
  * window then runs whole passes of the mix until `--seconds` have
  * elapsed, at least one. The last stdout line is the result; the detail
  * file holds the environment record, samples and counters.
  */
object Main {
  /** End-to-end metrics, reported by every workload (name -> unit). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_s" -> "s", "pass_s" -> "s",
    "lines_per_s" -> "lines/s", "live_heap_mb" -> "MB", "recall_at_10" -> "ratio")

  /** Counters that do not depend on host load; two traced runs with one
    * seed must agree on them exactly.
    */
  val repeatable: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.shuffle_records",
    "spark.output_records", "spark.output_bytes", "sources.index_bytes", "sources.append_bytes_written") ++
    Workload.allOps.flatMap(op => Seq(s"$op.jobs", s"$op.eager_jobs"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val runDir = arg("run-dir")
    val cpus = arg("cpus").toInt

    val g0 = System.nanoTime()
    val workload = Workload(name, seed, runDir)
    var generationS = (System.nanoTime() - g0) / 1e9
    System.err.println(f"[perfbench] inputs generated in $generationS%.3f s")

    // set-up, from scratch in this fresh JVM: boot + artifact builds, then
    // one untimed warm-up pass; writing the inputs is not part of it
    val t0 = System.nanoTime()
    val spark = boot(cpus, runDir)
    val tw = System.nanoTime()
    workload.writeInputs(spark)
    val inputNs = System.nanoTime() - tw
    generationS += inputNs / 1e9
    System.err.println(f"[perfbench] inputs written in ${inputNs / 1e9}%.3f s")
    workload.setup(spark)
    val buildS = (System.nanoTime() - t0 - inputNs) / 1e9
    System.err.println(f"[perfbench] boot and builds: $buildS%.3f s")
    val recorder = new Recorder
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val ops = new Ops(spark, trace)
    val w0 = System.nanoTime()
    workload.pass(ops, -1)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = buildS + warmupS
    System.err.println(f"[perfbench] warm-up pass: $warmupS%.3f s")
    workload.recalls.clear()

    // whole passes only, so every run samples the same operation mix
    ops.timed = true
    val windowStart = System.nanoTime()
    val stopAt = windowStart + seconds * 1000000000L
    var p = 0
    val complete = ArrayBuffer.empty[Int]
    try while (p == 0 || System.nanoTime() < stopAt) {
      ops.pass = p
      workload.pass(ops, p)
      complete += p
      p += 1
    } catch { case _: WindowOver => () }
    val windowS = (System.nanoTime() - windowStart) / 1e9
    if (trace) org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

    val timed = ops.calls.filter(_.timed).toSeq
    val allCalls = ops.calls.toSeq
    val failed = allCalls.count(!_.ok)
    val ok = timed.filter(c => c.ok && workload.isQuery(c.name))
    val secs = ok.map(_.seconds)
    val passS = complete.toSeq.map(q => timed.filter(_.pass == q).map(_.seconds).sum)
    val e2e = ListMap(
      "setup_s" -> setupS,
      "query_p50_s" -> Ops.median(secs),
      "pass_s" -> Ops.median(passS),
      "lines_per_s" -> ok.map(_.lines).sum / secs.sum,
      // what the program keeps between calls; a peak would catch the
      // previous call's broadcasts whenever Spark's asynchronous cleaner
      // has not yet released them
      "live_heap_mb" -> Ops.median(timed.map(_.liveHeapBytes / 1048576.0)),
      "recall_at_10" -> workload.recalls.sum / math.max(1, workload.recalls.size))

    val layer: Seq[(String, Double)] =
      if (trace) perLayer(workload, recorder, timed, cpus) else Nil
    val detail = ListMap(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> ListMap(
        "nproc" -> cpus, "master" -> s"local[$cpus]",
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "commit" -> a.get("commit"), "source_digest" -> a.get("source-digest")),
      "inputs" -> ListMap(workload.inputRecord: _*),
      "generation_s" -> generationS,
      "boot_and_builds_s" -> buildS, "warmup_pass_s" -> warmupS,
      "window_s" -> windowS, "peak_rss_mb" -> peakRssMb(),
      "peak_live_heap_mb" -> allCalls.map(_.liveHeapBytes).max / 1048576.0,
      "end_to_end" -> e2e,
      "samples" -> ListMap("queries" -> secs.size, "passes" -> passS.size,
        "recall_queries" -> workload.recalls.size),
      "workload_metrics" -> ListMap(workload.detailExtras(timed): _*),
      "attempted" -> allCalls.size, "failed" -> failed,
      "failed_ops_ratio" -> failed.toDouble / allCalls.size,
      "per_layer" -> ListMap(layer: _*),
      "repeatable_counters" -> (if (trace) ListMap(layer.filter(l => repeatable.contains(l._1)): _*) else ListMap()),
      "calls" -> timed.map(c => ListMap("op" -> c.name, "pass" -> c.pass, "s" -> c.seconds, "ok" -> c.ok,
        "live_heap_mb" -> c.liveHeapBytes / 1048576.0)))
    writeFile(arg("detail"), Json.write(detail) + "\n")
    spark.stop()

    val units = endToEnd.toMap
    val metrics =
      if (trace) ListMap(layer.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> layerUnit(k)) }: _*)
      else ListMap(e2e.toSeq.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> units(k)) }: _*)
    System.err.println(s"[perfbench] $name seed=$seed: ${secs.size} queries, ${passS.size} passes, " +
      s"failed $failed of ${allCalls.size}")
    println(Json.write(ListMap("correct" -> (failed == 0), "attempted" -> allCalls.size,
      "failed" -> failed, "metrics" -> metrics)))
  }

  /** Per-layer metrics of a traced run. Counts come from the first timed
    * pass, so they do not depend on how many passes fit in the window;
    * per-operation seconds are medians over every timed call. Operations
    * of other workloads read 0: they were not called.
    */
  private def perLayer(w: Workload, rec: Recorder, timed: Seq[Call], cpus: Int): Seq[(String, Double)] = {
    val first = timed.filter(_.pass == 0)
    val groups = first.flatMap(_.groups).toSet
    val s = rec.sumsOf(groups)
    val wallS = first.map(_.seconds).sum
    val run = Seq(
      "spark.jobs" -> rec.jobsOf(groups).size.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.executor_run_s" -> s.runMs / 1e3,
      "spark.executor_cpu_s" -> s.cpuNs / 1e9,
      "spark.jvm_gc_s" -> s.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
      "spark.shuffle_records" -> s.shuffleRecords.toDouble,
      "spark.spill_bytes" -> s.spillBytes.toDouble,
      "spark.input_bytes" -> s.inputBytes.toDouble,
      "spark.output_records" -> s.outputRecords.toDouble,
      "spark.output_bytes" -> s.outputBytes.toDouble,
      "spark.core_utilization" -> s.runMs / 1e3 / (wallS * cpus),
      "catalyst.plan_s" -> first.map(_.planNs).sum / 1e9)
    val perOp = Workload.allOps.flatMap { op =>
      val mine = timed.filter(c => c.name == op && c.ok)
      val mine0 = first.filter(_.name == op)
      def med(f: Call => Double) = if (mine.isEmpty) 0.0 else Ops.median(mine.map(f))
      def perCall(f: Call => Int) = if (mine0.isEmpty) 0.0 else mine0.map(f).sum.toDouble / mine0.size
      Seq(
        s"$op.build_s" -> med(_.buildNs / 1e9),
        s"$op.eager_jobs" -> perCall(c => rec.jobsOf(Set(s"op${c.seq}/build")).size),
        s"$op.exec_s" -> med(_.execNs / 1e9),
        s"$op.jobs" -> perCall(c => rec.jobsOf(c.groups).size),
        s"$op.driver_gap_s" -> med { c =>
          (c.endMs - c.startMs - Trace.coveredMs(rec.jobsOf(c.groups), c.startMs, c.endMs)) / 1e3
        })
    }
    val extras = w.layerExtras.toMap
    val sources = Seq("sources.text_build_s", "sources.ann_build_s", "sources.index_bytes",
      "sources.append_bytes_written").map(k => k -> extras.getOrElse(k, 0.0))
    run ++ perOp ++ sources
  }

  def layerUnit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("utilization")) "ratio"
    else "count"

  private def boot(cpus: Int, runDir: String): SparkSession = {
    val s = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Sessions.quietKnownBenignWindowWarnings()
    s
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def writeFile(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
}
