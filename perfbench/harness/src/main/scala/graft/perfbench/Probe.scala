package graft.perfbench

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The local filesystem with a counter on every directory-listing call.
  * Traced runs install it as `fs.file.impl`, so listing work done by the
  * engine (CDC folder walks, index-tree digests, Spark's file index) is
  * counted without touching the engine's code.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet()
    super.listStatusIterator(p)
  }
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet()
    super.listLocatedStatus(f)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
}

/** One reading of every counter the benchmark tracks. */
final case class Snap(jobs: Long, tasks: Long, scanBytes: Long,
    inRecords: Long, shuffleWrite: Long, spillBytes: Long, outBytes: Long,
    outRecords: Long, listCalls: Long) {
  private def zip(o: Snap)(f: (Long, Long) => Long): Snap = Snap(
    f(jobs, o.jobs), f(tasks, o.tasks), f(scanBytes, o.scanBytes),
    f(inRecords, o.inRecords), f(shuffleWrite, o.shuffleWrite),
    f(spillBytes, o.spillBytes), f(outBytes, o.outBytes),
    f(outRecords, o.outRecords), f(listCalls, o.listCalls))
  def +(o: Snap): Snap = zip(o)(_ + _)
  def -(o: Snap): Snap = zip(o)(_ - _)
  def fields: Seq[(String, Any)] = Seq("jobs" -> jobs, "tasks" -> tasks,
    "scan_bytes" -> scanBytes, "in_records" -> inRecords,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spillBytes,
    "out_bytes" -> outBytes, "out_records" -> outRecords,
    "list_calls" -> listCalls)
}

object Snap {
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Bytes of the files each executed query's scans open: Spark's own
  * `size of files read` metric of every file scan in the final plan.
  * A scan under a cached relation is counted once, when the cache is
  * built; later reads of the cache read no file.
  */
final class ScanBytes extends QueryExecutionListener {
  val bytes = new AtomicLong
  // ids of the size metrics of scans under caches already counted (ids,
  // not plans, so that no dropped cache's plan is kept alive)
  private val cachedScans = ConcurrentHashMap.newKeySet[java.lang.Long]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = walk(qe.executedPlan, cached = false)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def walk(p: SparkPlan, cached: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, cached)
    case q: QueryStageExec => walk(q.plan, cached)
    case _: ReusedExchangeExec => ()
    case m: InMemoryTableScanExec =>
      walk(m.relation.cacheBuilder.cachedPlan, cached = true)
    case s: FileSourceScanExec =>
      s.metrics.get("filesSize").foreach { m =>
        if (!cached || cachedScans.add(m.id)) bytes.addAndGet(m.value)
      }
    case other =>
      other.children.foreach(walk(_, cached))
      other.subqueries.foreach(walk(_, cached))
  }
}

/** The benchmark's own Spark listener: job, task, shuffle, spill and
  * output counters, and each job's start/end time so that the share of a
  * pass during which no job ran (driver time) can be computed.
  */
final class Counters(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, inRecords, shuffleWrite, spill, outBytes,
    outRecords = new AtomicLong
  private val scans = new ScanBytes
  spark.listenerManager.register(scans)
  private val jobTimes = new ConcurrentHashMap[Int, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobTimes.put(e.jobId, Array(e.time, Long.MaxValue))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobTimes.get(e.jobId)).foreach(_(1) = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inRecords.addAndGet(m.inputMetrics.recordsRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
      outRecords.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Counters as of now, after every queued listener event is handled. */
  def snap(): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Snap(jobs.get, tasks.get, scans.bytes.get, inRecords.get,
      shuffleWrite.get, spill.get, outBytes.get, outRecords.get,
      CountingLocalFileSystem.lists.get)
  }

  /** Milliseconds of [from, to] (epoch ms) during which at least one
    * Spark job was running.
    */
  def busyMs(from: Long, to: Long): Long = {
    val iv = jobTimes.values.asScala.toSeq
      .map(a => (math.max(a(0), from), math.min(a(1), to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) busy += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) busy += curE - curS
    busy
  }
}

final case class Span(name: String, ms: Double, delta: Snap)

/** Timed spans with counter deltas. Every span is kept in memory and
  * written to the trace file when the run ends, one JSON object a line:
  * name, parent, the pass it belongs to (-1 for set-up), start and end
  * (ms since the JVM started) and the counters the span moved.
  */
final class Tracer(counters: Counters) {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var stack = List.empty[String]
  private val lines = scala.collection.mutable.ArrayBuffer.empty[String]
  // spans of the current pass, for its per-layer figures
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  var pass = -1

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val before = counters.snap()
    val wall0 = System.currentTimeMillis
    val t0 = System.nanoTime
    stack = name :: stack
    val result = try body finally stack = stack.tail
    val ms = (System.nanoTime - t0) / 1e6
    val d = counters.snap() - before
    spans += Span(name, ms, d)
    lines += Json.obj(Seq("name" -> name, "parent" -> parent,
      "pass" -> pass, "start_ms" -> (wall0 - jvmStart),
      "end_ms" -> (wall0 - jvmStart + ms.round)) ++ d.fields)
    result
  }

  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)

  /** Sum of the durations and deltas of every span with this name. */
  def total(name: String): (Double, Snap) = {
    val ss = spans.filter(_.name == name)
    (ss.map(_.ms).sum, ss.map(_.delta).foldLeft(Snap.zero)(_ + _))
  }

  def clear(): Unit = spans.clear()
}

/** Just enough JSON writing for the harness's result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
}
