package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval of the span tree; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    attrs: Map[String, String] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span recorder; spans are written once, at the end of a
  * traced run. Disabled, it records nothing. */
final class Tracer(enabled: Boolean) {
  /** Recording switch inside a traced run, for untraced comparison passes. */
  @volatile var on: Boolean = enabled
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List(0)

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Record an interval measured elsewhere; returns its id. */
  def add(parent: Int, name: String, start: Double, end: Double): Int = synchronized {
    val id = nextId
    nextId += 1
    if (on) spans += Span(id, parent, name, start, end)
    id
  }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.head
    stack = id :: stack
    val t0 = now()
    try body
    finally {
      stack = stack.tail
      if (on) synchronized { spans += Span(id, parent, name, t0, now()) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** The finished tree: `extra` spans added, under one root "run" span
    * (id 0) covering everything recorded. */
  def tree(extra: Seq[Span]): Seq[Span] = {
    val ss = all ++ extra
    Span(0, -1, "run", ss.map(_.start).min, ss.map(_.end).max) +: ss
  }

  /** Attach spans recorded without a parent (Spark jobs) to the deepest
    * span whose interval contains their start. */
  def adopt(orphans: Seq[Span], within: Span => Boolean): Seq[Span] = {
    val candidates = all.filter(within)
    val byId = candidates.map(c => c.id -> c).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s)(c => byId.getOrElse(c.parent, null)).takeWhile(_ != null).size
    val ranked = candidates.map(s => s -> depth(s))
    orphans.map { o =>
      val home = ranked.filter { case (s, _) => s.start <= o.start && o.start <= s.end }
      if (home.isEmpty) o else o.copy(parent = home.maxBy(_._2)._1.id)
    }
  }

  /** Self time per span name: duration minus the part covered by the
    * span's children. */
  def selfTimes(tree: Seq[Span]): Map[String, Double] = {
    val kids = tree.groupBy(_.parent)
    tree.groupBy(s => Tracer.baseName(s.name)).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(k => (k.start max s.start, k.end min s.end)).filter(i => i._2 > i._1))
        s.dur - covered
      }.sum
    }
  }

  def write(path: String, tree: Seq[Span]): Unit = {
    val sb = new StringBuilder("[\n")
    tree.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""")
      sb.append(f""""start_ms":${s.start}%.3f,"dur_ms":${s.dur}%.3f""")
      s.attrs.foreach { case (k, v) => sb.append(s",${Json.str(k)}:${Json.str(v)}") }
      sb.append("}")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  def baseName(n: String): String = n.takeWhile(_ != '[')

  /** Total length of a set of possibly overlapping intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (s.isNaN || a > e) { if (!s.isNaN) total += e - s; s = a; e = b }
      else e = e max b
    }
    if (!s.isNaN) total += e - s
    total
  }
}

/** One Spark job: epoch-ms start and end (NaN until it ends) and the
  * local properties it was submitted with. */
final case class SparkJob(id: Int, start: Double, @volatile var end: Double,
    props: Map[String, String])

/** Spark jobs and shuffle bytes, captured through the public listener
  * API while tracing. */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, SparkJob]()
  val shuffleRead = new java.util.concurrent.atomic.LongAdder
  val shuffleWrite = new java.util.concurrent.atomic.LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    jobs.put(e.jobId, SparkJob(e.jobId, e.time.toDouble, Double.NaN, props))
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(e.taskMetrics).foreach { m =>
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def finished: Seq[SparkJob] = jobs.values.asScala.toSeq.filterNot(_.end.isNaN).sortBy(_.start)
  def reset(): Unit = { jobs.clear(); shuffleRead.reset(); shuffleWrite.reset() }

  /** Block until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(_.end.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

/** Streaming progress events, captured while tracing. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
}

object Jvm {
  /** Heap still in use after full collections, in MiB. Called after
    * the timed drains or passes; the pause between the two collections
    * lets Spark's cleaner drop what the first one released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Stat {
  def median(xs: Seq[Double]): Double = pct(xs, 50.0)

  /** Linear-interpolated percentile (the numpy default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = r.floor.toInt
    val hi = r.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
