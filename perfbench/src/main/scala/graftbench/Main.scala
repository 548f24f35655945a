package graftbench

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`: raw latency samples per
  * operation kind (ms), correctness outcomes, and the per-layer numbers of
  * a traced run. Percentiles and the result line are computed in Python
  * (`stats.py`), so the rules live in one tested place.
  */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var firstOpWallMs = 0L

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Counts one attempted operation; `ok = false` counts it failed too. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, inputs: String, cpus: Int, out: String)

/** Benchmark JVM: starts one Spark session, runs the named workload for
  * the given seconds over the inputs `run.py` generated, and writes a JSON
  * result file. Usage (normally through `run.py`):
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *  <inputsDir> <cpus> <resultFile>`
  */
object Main {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5), argv(6).toInt, argv(7))
    val probe = new Probe(a.trace)
    val res = new Result
    val t0 = System.nanoTime()
    val spark = probe.span("session.start") {
      GraftSession.tune(GraftSession.builder("graftbench", s"local[${a.cpus}]")
        .config("spark.sql.shuffle.partitions", a.cpus.toString)
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        // keep every offsets/commits log entry: run.py maps staged files
        // to the batches that read them after the run
        .config("spark.sql.streaming.minBatchesToRetain", "100000")
        .getOrCreate())
    }
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    res.layer("session.start_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    probe.install(spark)
    try a.workload match {
      case "dashboard" => DashboardWorkload.run(spark, a, probe, res)
      case "realtime_chain" => ChainWorkload.run(spark, a, probe, res)
      case w => sys.error(s"unknown workload $w")
    } finally {
      probe.drain()
    }
    if (a.trace) {
      probe.writeSpans(java.nio.file.Paths.get(s"${a.work}/spans.jsonl"))
      res.extra("self_ms") = probe.selfTimesMs
    }
    val out = Map(
      "samples" -> res.samples, "layer" -> res.layer, "extra" -> res.extra,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "failures" -> res.failures, "first_op_wall_ms" -> res.firstOpWallMs,
      "peak_heap_mb" -> probe.peakHeapMb, "jvm_s" -> ms(t0) / 1000.0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json.render(out))
    spark.stop()
  }
}
