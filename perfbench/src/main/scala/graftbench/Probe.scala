package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the result file `run.py` reads. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}

/** One span: a named interval the benchmark recorded around a call into
  * a layer. `parent` is the index of the enclosing span on the same
  * thread (-1 at the root); spans of one request share `req`.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
    req: Long, startWallMs: Long)

/** Per-request Spark work, attributed through the `graftbench.req` local
  * property the benchmark sets on the calling thread before each call.
  */
final class ReqCounts {
  var jobs = 0L
  var tasks = 0L
  var firstJobWallMs = Long.MaxValue
  var runTimeMs = 0L
  var shuffleBytes = 0L
}

/** The benchmark's own instrumentation. With `on = false` only the heap
  * marks run (peak heap is an end-to-end metric); spans, the
  * `SparkListener` and the streaming-progress listener are installed only
  * for traced runs, so untraced runs measure the program alone.
  */
final class Probe(val on: Boolean) {
  val ReqKey = "graftbench.req"
  private val nextReq = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val reqs = new ConcurrentHashMap[Long, ReqCounts]()
  private val stageReq = new ConcurrentHashMap[Int, Long]()
  // streaming query id → jobs run by triggers of that query
  private val queryJobs = new ConcurrentHashMap[String, AtomicLong]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  // the live set at the end of each phase: a full collection, then the
  // heap in use. Heap in use between collections mostly measures how full
  // the young generation was allowed to get, and which collections ran
  // when; a collection at fixed points reads the same live set every run.
  private var peakHeap = 0L

  /** Collects the heap and keeps the highest live set seen so far. Called
    * at phase ends only, outside every timed interval.
    */
  def markHeap(): Unit = {
    System.gc()
    peakHeap = peakHeap max
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def peakHeapMb: Double = peakHeap / 1048576.0

  private var sc: org.apache.spark.SparkContext = null

  def install(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(ReqKey))).map(_.toLong)
          .foreach { r =>
            val c = reqs.computeIfAbsent(r, _ => new ReqCounts)
            c.synchronized {
              c.jobs += 1
              c.firstJobWallMs = math.min(c.firstJobWallMs, e.time)
            }
            e.stageIds.foreach(s => stageReq.put(s, r))
          }
        props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(q => queryJobs.computeIfAbsent(q, _ => new AtomicLong).incrementAndGet())
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageReq.get(e.stageId)).foreach { r =>
          val c = reqs.get(r)
          val m = e.taskMetrics
          c.synchronized {
            c.tasks += 1
            if (m != null) {
              c.runTimeMs += m.executorRunTime
              c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
  }

  /** Waits until the listener bus has delivered every posted event, so
    * counts read after a call include all of its jobs and tasks.
    */
  def drain(): Unit = if (sc != null) org.apache.spark.GraftBenchAccess.drain(sc)

  def progressJson: Seq[String] = progress.asScala.toSeq

  /** Times `body` as span `name`. A root span (no enclosing span on this
    * thread) opens a new request id, and Spark jobs submitted from this
    * thread until it closes are counted against that request.
    */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val parents = stack.get
    val parentIdx = parents.headOption.getOrElse(-1)
    val req = if (parentIdx < 0) nextReq.incrementAndGet()
      else spans.synchronized(spans(parentIdx).req)
    val idx = spans.synchronized {
      spans += Span(name, System.nanoTime(), 0L, parentIdx, req,
        System.currentTimeMillis())
      spans.size - 1
    }
    val root = parentIdx < 0 && sc != null
    val prevProp = if (root) sc.getLocalProperty(ReqKey) else null
    if (root) sc.setLocalProperty(ReqKey, req.toString)
    stack.set(idx :: parents)
    try body
    finally {
      stack.set(parents)
      if (root) sc.setLocalProperty(ReqKey, prevProp)
      spans.synchronized { spans(idx) = spans(idx).copy(endNs = System.nanoTime()) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  def counts(req: Long): ReqCounts =
    Option(reqs.get(req)).getOrElse(new ReqCounts)

  /** Jobs run by triggers of streaming query `id`. */
  def streamJobs(id: String): Long = Option(queryJobs.get(id)).map(_.get).getOrElse(0L)

  /** Root spans named `name`, with their Spark work. */
  def roots(name: String): Seq[(Span, ReqCounts)] =
    allSpans.filter(s => s.name == name && s.parent < 0).map(s => (s, counts(s.req)))

  /** Self time per span name: each span's duration minus the part of its
    * interval its child spans cover, summed per name (ms).
    */
  def selfTimesMs: Map[String, Double] = {
    val ss = allSpans
    val children = ss.zipWithIndex.filter(_._1.parent >= 0).groupBy(_._1.parent)
    ss.zipWithIndex.map { case (s, i) =>
      val covered = children.getOrElse(i, Nil).map(_._1)
        .map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          val a2 = a max end
          if (b > a2) (acc + (b - a2), b) else (acc, end)
        }._1
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Writes every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map(s => Json.render(Map(
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "req" -> s.req)))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Sizes of a `SnapshotTable` root on disk, for bytes-written diffs
  * around a commit.
  */
object RootFiles {
  def list(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally w.close()
    }
  }

  /** (bytes, files) present in `after` and new or changed since `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Int) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.sum, fresh.size)
  }
}
