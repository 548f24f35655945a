package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.Tables
import graft.operators.CdcRoute
import graft.streaming.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `realtime_chain`: an open loop. This thread is the generator: on a
  * fixed schedule it atomically moves pre-built parquet files into the two
  * ODS topic dirs, one events file and one CDC file per step. Two queries
  * run in the session on the default trigger, as in the `Demo` topology:
  * `Pipelines.visitorStatsStream` into a parquet sink (DWS), and
  * `Pipelines.routeCdcBatch` in `foreachBatch` into the DWD dir and the
  * DIM `SnapshotTable`. Freshness is computed by `run.py` from the
  * schedule written here and the queries' checkpoint logs.
  */
object ChainWorkload {

  /** `inputs/chain.json` as written by `gen.py`: integers only. */
  private def manifest(path: String): Map[String, Long] =
    "\"(\\w+)\":\\s*(-?\\d+)".r.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  def run(spark: SparkSession, a: Args, probe: Probe, res: Result): Unit = {
    val m = manifest(s"${a.inputs}/chain.json")
    val (stepMs, warmupFiles, nFiles) = (m("step_ms"), m("warmup_files"), m("n_files"))
    val stage = s"${a.work}/stage"
    val out = s"${a.work}/out"
    val ckpt = s"${a.work}/ckpt"
    Seq("events", "cdc").foreach(t => Files.createDirectories(Paths.get(s"$stage/$t")))
    def prebuilt(t: String, k: Long) = Paths.get(f"${a.inputs}/$t/f$k%05d.parquet")
    val evSchema = spark.read.parquet(prebuilt("events", 0).toString).schema
    val cdcSchema = spark.read.parquet(prebuilt("cdc", 0).toString).schema

    val vs = Pipelines.visitorStatsStream(Tables.normalizeEvents(
        spark.readStream.schema(evSchema).parquet(s"$stage/events")))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckpt/vs")
      .format("parquet").option("path", s"$out/dws_visitor_stats")
      .start()
    val cfg = CdcRoute.config(spark).withColumn("sink_pk", lit("id"))
    val dimRoot = s"$out/dim/dim_order_info"
    @volatile var timing = false // route times are kept from the first timed file on
    val writes = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Int)]())
    val route = spark.readStream.schema(cdcSchema).parquet(s"$stage/cdc")
      .writeStream
      .option("checkpointLocation", s"$ckpt/cdc")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val before = if (a.trace) RootFiles.list(dimRoot) else Map.empty[String, Long]
        val t = System.nanoTime()
        probe.span("chain.route") {
          Pipelines.routeCdcBatch(batch, batchId, cfg, out)
        }
        // the DWD + DIM commit of a batch that read staged files
        if (timing) res.sample("route", Main.ms(t))
        if (a.trace) {
          val (bytes, files) = RootFiles.written(before, RootFiles.list(dimRoot))
          writes.add((batchId, bytes, files))
        }
        ()
      }
      .start()

    def stageFile(k: Long): Unit = Seq("events", "cdc").foreach { t =>
      Files.move(prebuilt(t, k), Paths.get(f"$stage/$t/f$k%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // set-up: the first `warmupFiles` files go in as two drained bursts, so
    // both queries have run a first and a later batch (the DIM upsert into
    // an existing table) before the clock starts
    Seq(0L until warmupFiles / 2, warmupFiles / 2 until warmupFiles).foreach { burst =>
      burst.foreach(stageFile)
      Seq(vs, route).foreach(_.processAllAvailable())
    }
    probe.markHeap()
    timing = true
    // the generator: file k is due at t0 + k * stepMs (event time k * step)
    val t0 = System.currentTimeMillis() + 200 - warmupFiles * stepMs
    val endMs = t0 + warmupFiles * stepMs + a.seconds * 1000L
    val sched = scala.collection.mutable.ArrayBuffer.empty[Long]
    val arrived = scala.collection.mutable.ArrayBuffer.empty[Long]
    var k = warmupFiles
    res.firstOpWallMs = t0 + warmupFiles * stepMs
    while (k < nFiles && t0 + k * stepMs < endMs) {
      val due = t0 + k * stepMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      stageFile(k)
      sched += due
      arrived += System.currentTimeMillis()
      k += 1
    }
    val stopMs = System.currentTimeMillis()
    // drain: every staged file must reach a committed batch
    Seq(vs, route).foreach(_.processAllAvailable())
    probe.markHeap()
    val watermark = Option(vs.lastProgress).map(_.eventTime.get("watermark"))
    Seq(vs, route).foreach(_.stop())
    res.extra("t0_ms") = t0
    res.extra("stop_ms") = stopMs
    res.extra("sched_ms") = sched.toSeq
    res.extra("arrived_ms") = arrived.toSeq
    res.extra("warmup_files") = warmupFiles
    res.extra("vs_query") = vs.id.toString
    res.extra("cdc_query") = route.id.toString

    check(spark, res, s"$stage", out, watermark)
    if (a.trace) layerMetrics(a, probe, res, vs.id.toString, route.id.toString,
      writes.toArray(Array.empty[(Long, Long, Int)]).toSeq, dimRoot)
  }

  /** Streamed DWS windows ≡ a batch aggregation of the same files (for
    * every window the final watermark closed), DIM head ≡ keep-latest by
    * `op_seq` per id, DWD rows ≡ the routed inserts.
    */
  private def check(spark: SparkSession, res: Result, stage: String, out: String,
      watermark: Option[String]): Unit = {
    val wm = watermark.map(w => java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.parse(w))).getOrElse("")
    // both sides are small (window rows, DIM ids): collected and compared
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val cols = Seq("stt", "edt", "event_type", "pv_ct", "uv_ct_approx", "dur_sum")
    val streamed = rows(spark.read.parquet(s"$out/dws_visitor_stats").select(cols.map(col): _*))
    val batch = rows(Pipelines.visitorStatsStream(
        Tables.normalizeEvents(spark.read.parquet(s"$stage/events")))
      .filter(col("edt") <= lit(wm)).select(cols.map(col): _*))
    val missing = batch.diff(streamed).size
    val extra = streamed.diff(batch).size
    res.check(s"DWS: $missing of ${batch.size} window rows missing or different, $extra extra",
      batch.nonEmpty && missing == 0 && extra == 0)
    res.extra("dws_rows_checked") = batch.size

    val cdc = spark.read.parquet(s"$stage/cdc")
    val latest = cdc.filter(col("type") === "update")
      .select(col("after")("id").as("id"), col("after")("total_amount").as("total_amount"),
        col("op_seq"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy(col("op_seq").desc)))
      .filter(col("rn") === 1).select("id", "total_amount")
    val expected = rows(latest).toSet
    val dim = Pipelines.readDim(spark, out, "dim_order_info")
      .map(d => rows(d.select("id", "total_amount"))).getOrElse(Nil)
    val bad = (expected -- dim).size + dim.count(r => !expected.contains(r))
    res.check(s"DIM: $bad rows differ from keep-latest by op_seq over ${expected.size} ids",
      dim.size == expected.size && bad == 0)
    val inserts = cdc.filter(col("type") === "insert").count()
    val dwd = spark.read.parquet(s"$out/kafka/dwd_order_info").count()
    res.check(s"DWD rows $dwd != routed inserts $inserts", dwd == inserts)
  }

  private def layerMetrics(a: Args, probe: Probe, res: Result, vsId: String,
      cdcId: String, writes: Seq[(Long, Long, Int)], dimRoot: String): Unit = {
    probe.drain()
    val routes = probe.roots("chain.route").map { case (s, _) => (s.endNs - s.startNs) / 1e6 }
    res.layer("chain.route_ms") = Stats.median(routes)
    val n = writes.size max 1
    res.layer("snapshot.bytes_per_commit") = writes.map(_._2).sum.toDouble / n
    res.layer("snapshot.files_per_version") = writes.map(_._3).sum.toDouble / n
    // bytes written per DIM commit, by batch: run.py divides by the bytes
    // of the staged CDC files each batch read (snapshot.write_amp)
    res.extra("dim_writes") = writes.map { case (b, bytes, _) => Map("batch" -> b, "bytes" -> bytes) }
    res.layer("snapshot.dim_mb") = RootFiles.list(dimRoot).values.sum / 1048576.0
    res.extra("stream_jobs") = Map(vsId -> probe.streamJobs(vsId), cdcId -> probe.streamJobs(cdcId))
    res.extra("progress") = probe.progressJson
  }
}
