package graftbench

import scala.jdk.CollectionConverters._

import graft.{CacheRegistry, SparkEntry}
import graft.sources.SnapshotTable
import graft.streaming.{PushStream, SearchStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `dashboard`: one writer and one dashboard client, in a closed loop.
  *
  * The writer commits one seeded batch to the two maintained twins:
  * page-pair edge deltas through `PushStream.applyBatch` (eps 1e6, 3 push
  * rounds, as the registry's `pagerank_push_maintained`) and the
  * `documents` table through `SearchStream.applyBatch`. The client then
  * reads every panel in whole passes, in [[Panels]] order, until the time
  * is up: the 13 ADS/DWS registry queries of [[Registry]], the
  * BM25 search box (`SearchStream.serve`) and the top-10 of
  * `PushStream.liveState`. A panel read runs between
  * `CacheRegistry.beginQuery`/`endQuery` and releases its per-query
  * persists with `clear` (process-global, hence one client). Only the
  * `enriched` DWD frame is warmed during set-up.
  */
object DashboardWorkload {
  val Registry: Seq[String] = Seq(
    "ads_trademark_topn", "ads_category3_topn", "ads_spu_stats",
    "ads_new_returning", "ads_priority_gmv", "ads_appraise_ratio",
    "ads_dau_summary", "ads_province_stats", "ads_keyword_weighted",
    "visitor_stats", "province_stats", "product_stats", "keyword_stats")
  val Search = "search_box"
  val Rank = "rank_top10"
  val Panels: Seq[String] = Registry :+ Search :+ Rank

  val Eps = 1000000L
  val PushRounds = 3
  // PushRank's fixed-point constants: total mass 1e12, damping 85%
  private val Mass = 1000000000000L
  private val Damp = 85L

  /** Order-insensitive digest of a result: row strings sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => java.lang.Double.toString(d)
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(canon).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(spark: SparkSession, a: Args, probe: Probe, res: Result): Unit = {
    val dir = a.inputs
    val registry = SparkEntry.queries
    val rt = PushStream.roots(s"${a.work}/mv/push")
    val sroot = s"${a.work}/mv/search"
    // set-up: the session's first scan + shuffle, then the shared DWD frame
    probe.span("cache.shared_build") {
      spark.range(1000).selectExpr("sum(id)").collect()
      val t = System.nanoTime()
      graft.operators.LogStats.enriched(spark, dir).count()
      res.layer("cache.shared_build_s") = Main.ms(t) / 1000.0
    }
    res.layer("cache.storage_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    probe.markHeap()

    // the writer: one batch into both twins, each commit timed alone
    res.firstOpWallMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val edges = spark.read.parquet(s"$dir/edges.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    // per-commit write accounting (traced runs only, outside the timing)
    val writes = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    def commit(kind: String, roots: Seq[String])(body: => Unit): Unit = {
      def files() = roots.map(RootFiles.list).reduce(_ ++ _)
      val before = if (a.trace) files() else Map.empty[String, Long]
      val t = System.nanoTime()
      try {
        probe.span(kind)(body)
        res.sample(kind, Main.ms(t))
        res.check(kind, ok = true)
      } catch { case scala.util.control.NonFatal(e) =>
        res.check(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false)
      }
      if (a.trace) writes += RootFiles.written(before, files())
    }
    commit("push.commit", Seq(rt.edges, rt.state, rt.scalars)) {
      PushStream.applyBatch(edges, 1L, rt, Eps, PushRounds)
    }
    commit("search.commit", Seq(sroot)) { SearchStream.applyBatch(docs, 1L, sroot) }
    probe.markHeap()

    // the client: whole passes over every panel, in one fixed order; the
    // clock is checked only between passes, so the first pass is the same
    // 15 reads on every host, and run.py gates its mean
    def panel(name: String): DataFrame = name match {
      case Search => SearchStream.serve(spark, sroot).get
      case Rank => PushStream.liveState(spark, rt).get
        .orderBy(col("p").desc, col("node")).limit(10)
      case q => registry(q)(spark, dir)
    }
    def spanName(name: String) = name match {
      case Search => "search.serve"
      case Rank => "rank.read"
      case _ => "operators.request"
    }
    val first = scala.collection.mutable.LinkedHashMap.empty[String,
      (org.apache.spark.sql.types.StructType, Array[Row])]
    val responses = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var passes = 0
    def request(name: String): Unit = {
      CacheRegistry.beginQuery(name)
      val t = System.nanoTime()
      val rows = try probe.span(spanName(name)) {
          val df = panel(name)
          Some((df.schema, df.collect()))
        } catch { case scala.util.control.NonFatal(e) =>
          res.check(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false)
          None
        } finally { CacheRegistry.endQuery(); CacheRegistry.clear() }
      rows.foreach { case (schema, rs) =>
        val ms = Main.ms(t)
        res.check(name, ok = true)
        res.sample(name, ms)
        if (!first.contains(name)) first(name) = (schema, rs)
        responses += Map("query" -> name, "pass" -> passes, "ms" -> ms,
          "rows" -> rs.length, "digest" -> digest(rs))
      }
    }
    do {
      Panels.foreach(request)
      passes += 1
    } while (System.nanoTime() < deadline)
    res.extra("passes") = passes
    probe.markHeap()

    // correctness inputs for run.py: each registry panel's first response
    // as parquet (checked against its DuckDB oracle) and every response's
    // row count and digest (checked against the panel's first response)
    first.foreach { case (name, (schema, rs)) if Registry.contains(name) =>
        spark.createDataFrame(rs.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${a.work}/ads_out/$name")
      case _ =>
    }
    res.extra("responses") = responses.toSeq
    res.extra("registry") = Registry
    res.extra("oracle_sql") = Registry.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    // correctness of the twins: the served search ≡ batch search_bm25 over
    // the same documents; the edge table ≡ the applied deltas; the push
    // state satisfies r = b + T(p) - p recomputed from scratch
    val served = first.get(Search).map(_._2.toSeq).getOrElse(Nil)
    val batch = registry("search_bm25")(spark, dir).collect().toSeq
    res.check(s"search serve != search_bm25: ${served.take(2)} vs ${batch.take(2)}",
      served.nonEmpty && served == batch)
    val table = SnapshotTable.read(spark, rt.edges)
    val deltas = edges.groupBy("src", "dst").agg(sum("n_d").as("n")).filter(col("n") =!= 0)
    val edgeDiff = table.map { e =>
      val live = e.filter(col("n") =!= 0).select("src", "dst", "n")
      deltas.exceptAll(live).count() + live.exceptAll(deltas).count()
    }
    res.check(s"edge table differs from the applied deltas: $edgeDiff", edgeDiff.contains(0L))
    val bad = for (e <- table; st <- PushStream.liveState(spark, rt)) yield bellmanViolations(st, e)
    res.check(s"push state violates r = b + T(p) - p: $bad", bad.contains(0L))

    if (a.trace) layerMetrics(a, probe, res, writes.toSeq, edges, docs)
  }

  /** Nodes whose maintained residual or out-degree differs from the
    * from-scratch Bellman residual over the committed edge table.
    */
  def bellmanViolations(state: DataFrame, edges: DataFrame): Long = {
    val st = state.cache()
    val row = st.agg(count(lit(1)), coalesce(sum(when(col("out_n") === 0, col("p"))), lit(0L)))
      .collect().head
    val (nn, dang) = (row.getLong(0), row.getLong(1))
    val b = ((100L - Damp) * Mass) / (100L * nn)
    val g = (Damp * (dang / nn)) / 100L
    val e = edges.filter(col("n") > 0)
    val out = e.groupBy(col("src").as("node")).agg(sum("n").as("out_exp"))
    val ppm = e.select(col("src"), col("dst"),
      expr("(n * 1000000) div (sum(n) OVER (PARTITION BY src))").as("p_ppm"))
    val contrib = ppm.join(st.select(col("node").as("src"), col("p")), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr(s"($Damp * ((p * p_ppm) div 1000000)) div 100")).as("c"))
    val n = st.join(contrib, Seq("node"), "left").join(out, Seq("node"), "left")
      .filter(col("r") =!= lit(b) + coalesce(col("c"), lit(0L)) + lit(g) - col("p") ||
        col("out_n") =!= coalesce(col("out_exp"), lit(0L)))
      .count()
    st.unpersist()
    n
  }

  private def layerMetrics(a: Args, probe: Probe, res: Result, writes: Seq[(Long, Int)],
      edges: DataFrame, docs: DataFrame): Unit = {
    probe.drain()
    def wall(xs: Seq[(Span, ReqCounts)]) = xs.map { case (s, _) => (s.endNs - s.startNs) / 1e6 }.sum
    def busy(xs: Seq[(Span, ReqCounts)]) = xs.map(_._2.runTimeMs).sum / (wall(xs) * a.cpus max 1.0)
    def perCall(xs: Seq[(Span, ReqCounts)], f: ReqCounts => Long) =
      xs.map(x => f(x._2)).sum.toDouble / (xs.size max 1)
    val reqs = probe.roots("operators.request")
    res.layer("operators.jobs_per_req") = perCall(reqs, _.jobs)
    res.layer("operators.tasks_per_req") = perCall(reqs, _.tasks)
    res.layer("operators.first_job_ms") = Stats.median(reqs.collect {
      case (s, c) if c.firstJobWallMs < Long.MaxValue => (c.firstJobWallMs - s.startWallMs).toDouble
    })
    res.layer("operators.exec_busy_share") = busy(reqs)
    res.layer("operators.shuffle_mb_per_req") = perCall(reqs, _.shuffleBytes) / 1048576.0
    val push = probe.roots("push.commit")
    val sc = probe.roots("search.commit")
    val ss = probe.roots("search.serve")
    res.layer("push.jobs_per_commit") = perCall(push, _.jobs)
    res.layer("push.tasks_per_commit") = perCall(push, _.tasks)
    res.layer("push.ms_per_job") = wall(push) / (push.map(_._2.jobs).sum max 1L)
    res.layer("push.exec_busy_share") = busy(push)
    res.layer("search.jobs_per_commit") = perCall(sc, _.jobs)
    res.layer("search.jobs_per_serve") = perCall(ss, _.jobs)
    res.layer("search.exec_busy_share") = busy(sc ++ ss)
    // bytes of the batch each commit read: the parquet files behind it
    val inBytes = Seq(edges, docs).flatMap(_.inputFiles)
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    res.layer("snapshot.bytes_per_commit") = writes.map(_._1).sum.toDouble / (writes.size max 1)
    res.layer("snapshot.write_amp") = writes.map(_._1).sum.toDouble / (inBytes max 1L)
    res.layer("snapshot.files_per_version") = writes.map(_._2).sum.toDouble / (writes.size max 1)
    // exact per-commit job counts: identical across runs of one seed
    res.extra("push_jobs") = push.map(_._2.jobs)
    res.extra("search_jobs") = sc.map(_._2.jobs)
  }
}
