package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into graft, recorded by the benchmark around the public
  * function it calls. `parent` is the enclosing span on the same thread
  * (0 = none); spans of one request or pass share `req`. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * body. Spans are written out once, at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val bookkeeping = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var req: Long = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, parent, req, t0, t1))
        stack.set(stack.get().tail)
        bookkeeping.addAndGet(t0 - b0 + System.nanoTime() - t1)
      }
    }

  /** Nanoseconds spent recording spans rather than in their bodies. */
  def overheadNs: Long = bookkeeping.get

  def all: Seq[Span] = spans.iterator().asScala.toSeq.sortBy(_.id)

  /** Count, total and self seconds per span name over the timed items
    * (req 0 is the untimed warm item). Self time is the span's duration
    * minus the union of its children's intervals. */
  def byName: Map[String, (Long, Double, Double)] = {
    val ss = all.filter(_.req != 0)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      val tot = group.map(s => (s.endNs - s.startNs) / 1e9).sum
      val self = group.map { s =>
        val covered = Probe.unionNs(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
      n -> ((group.size.toLong, tot, self))
    }
  }

  def totalSeconds(name: String): Double = byName.get(name).map(_._2).getOrElse(0.0)
}

/** Task-metric totals of one group of Spark jobs. */
final class Agg {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var recordsRead = 0L; var rddWrites = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def busySeconds: Double = Probe.unionNs(intervals.toSeq) / 1e3 // ms intervals
}

/** Spark-side counters, kept in benchmark files only: every job is
  * attributed to a graft module by the innermost `graft.*` frame of its
  * call site (the stage `details` Spark records at submission), or to
  * `streaming` when it carries a streaming query id. Jobs with no graft
  * frame go to `harness`. Task metrics fold into the job's module, its
  * graft source file, and the total. */
final class SparkProbe extends SparkListener {
  @volatile var recording = false
  val total = new Agg
  val byModule = mutable.Map.empty[String, Agg]
  val byFile = mutable.Map.empty[String, Agg]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val jobKey = mutable.Map.empty[Int, (String, String, Long)]

  private val execKey = mutable.Map.empty[Long, (String, String)]

  /** SQL executions carry the call site of the action that started them;
    * jobs they launch from helper threads (broadcasts, subqueries) have
    * no user frames of their own and inherit it. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      Probe.graftFrame(s.details).foreach(k => synchronized { execKey(s.executionId) = k })
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val key = Probe.graftFrame(e.stageInfos.map(_.details).mkString("\n"))
        .orElse(prop("spark.sql.execution.id").flatMap(id => execKey.get(id.toLong)))
        .getOrElse(
          if (prop("sql.streaming.queryId").isDefined) ("streaming", "<stream>")
          else ("harness", "<harness>"))
      e.stageIds.foreach(stageKey(_) = key)
      jobKey(e.jobId) = (key._1, key._2, e.time)
      Seq(total, byModule.getOrElseUpdate(key._1, new Agg),
        byFile.getOrElseUpdate(key._2, new Agg)).foreach { a =>
        a.jobs += 1; a.stages += e.stageIds.size
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (m, f, t0) =>
      Seq(total, byModule(m), byFile(f)).foreach(_.intervals += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { case (m, f) =>
      val tm = e.taskMetrics
      val info = e.taskInfo
      Seq(total, byModule(m), byFile(f)).foreach { a =>
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failedTasks += 1
        if (tm != null) {
          a.runMs += tm.executorRunTime
          a.cpuNs += tm.executorCpuTime
          a.gcMs += tm.jvmGCTime
          a.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          a.spill += tm.diskBytesSpilled
          a.recordsRead += tm.inputMetrics.recordsRead
          a.schedDelayMs += math.max(0L, info.duration - tm.executorRunTime -
            tm.executorDeserializeTime - tm.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }

  /** Stores of persisted-RDD partitions (first materialization,
    * recompute-stores and memory-to-disk moves), from the block manager's
    * updates, so no task-metrics setting differs between traced and
    * untraced runs. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (recording && b.blockId.isRDD && b.storageLevel.isValid) total.rddWrites += 1
  }

  def module(m: String): Agg = synchronized(byModule.getOrElse(m, new Agg))
  def file(f: String): Agg = synchronized(byFile.getOrElse(f, new Agg))
}

/** One StreamingQueryProgress, stamped when the driver received it. */
final case class Progress(query: String, batchId: Long, rows: Long,
    triggerMs: Long, commitMs: Long, stateRows: Long, stateBytes: Long, atNs: Long,
    endOffset: Long)

/** StreamingQueryProgress capture: batch durations, state-operator commit
  * time, state rows and memory, and each query's cumulative input rows
  * and source end offsets (which is how the stream workload learns when a
  * file is reflected).
  * Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * every session's query manager gets an instance, including the session
  * clones StreamingOps starts its queries on; all feed one queue. */
final class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators
    StreamProbe.progress.add(Progress(p.id.toString, p.batchId,
      p.numInputRows, Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, System.nanoTime(),
      p.sources.headOption.flatMap(s => StreamProbe.LogOffset.findFirstMatchIn(
        Option(s.endOffset).getOrElse("")).map(_.group(1).toLong)).getOrElse(-1L)))
    ()
  }
}

object StreamProbe {
  /** A file source's offset: `{"logOffset":N}`. */
  val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
  val progress = new ConcurrentLinkedQueue[Progress]()
  def all: Seq[Progress] = progress.iterator().asScala.toSeq
}

/** Background sampler of the block manager's used storage memory (the
  * driver's peak resident set is VmHWM, read once at the end). Traced runs
  * only; its own CPU is part of the tracing overhead. */
final class Sampler(sc: SparkContext, periodMs: Long) {
  @volatile private var running = true
  @volatile var storagePeakBytes = 0L
  @volatile private var cpuNs = 0L
  private val started = System.nanoTime()
  private var stopped = 0L
  private val t = new Thread(() => {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    while (running) {
      val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      storagePeakBytes = math.max(storagePeakBytes, used)
      cpuNs = threads.getCurrentThreadCpuTime
      try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
    }
  }, "graftbench-sampler")
  t.setDaemon(true)
  t.start()
  def stop(): Unit = { running = false; t.interrupt(); t.join(); stopped = System.nanoTime() }
  /** The share of one core the sampler thread used while it ran. */
  def cpuShare: Double = cpuNs.toDouble / math.max(1L, stopped - started)
}

object Probe {
  private val GraftFrame =
    """^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)(?:\.([A-Za-z0-9_]+))?[^(]*\(([^:)]+).*""".r

  /** (module, source file) of the innermost graft frame of a call-site
    * stack: graft.<package>.X maps to <package>, a top-level graft.X
    * object (CacheBook, Tables) to its lower-cased name. */
  def graftFrame(details: String): Option[(String, String)] =
    details.linesIterator.collectFirst { case GraftFrame(pkg, _, file) =>
      (if (pkg.head.isUpper) pkg.toLowerCase else pkg, file)
    }

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A `/proc/self/status` field in kB (0 where the file does not exist). */
  def procStatusKb(field: String): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}
