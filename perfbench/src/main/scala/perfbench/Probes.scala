package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One finished span. `parent` is 0 for a root span. Times are
  * `System.nanoTime` values, so spans of one run share a clock.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans are only appended
  * here and written once, after the measured work; with tracing off every
  * call is a pass-through, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean, val traceId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0)
  private var nextId = 1

  /** Runs `body` inside a span that is a child of the innermost open one.
    * Only the main thread calls this.
    */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.head
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        synchronized { spans += Span(id, parent, name, start, end) }
      }
    }

  /** Records a span measured elsewhere (engine phases from query progress)
    * and returns its id, so phases can hang under their batch.
    */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, startNs, endNs)
      id
    }

  /** Id of the innermost open span (0 at the root). */
  def current: Int = open.head

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: total duration minus the time its direct children
    * cover (children of one span do not overlap).
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def json: String = {
    val rows = all.sortBy(_.startNs).map { s =>
      s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Task, shuffle, spill and GC totals from Spark's own listener bus, over
  * the interval since the last [[reset]].
  */
final class TaskProbe extends SparkListener {
  private var tasks, failed, busyMs, gcMs, shuffleWritten, shuffleRead, spilled = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.failed) failed += 1
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spilled += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def reset(): Unit = synchronized {
    tasks = 0; failed = 0; busyMs = 0; gcMs = 0
    shuffleWritten = 0; shuffleRead = 0; spilled = 0
    stageTaskMs.clear()
  }

  /** Max over median task time in the stage with the most task time,
    * among stages of two or more tasks (one task cannot be skewed).
    */
  private def skew: Double = {
    val multi = stageTaskMs.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val heaviest = multi.maxBy(_.sum).sorted
      heaviest.last.toDouble / math.max(1L, heaviest(heaviest.size / 2))
    }
  }

  def metrics: Map[String, Double] = synchronized {
    Map("tasks.count" -> tasks.toDouble, "tasks.failed" -> failed.toDouble,
      "tasks.busy_ms" -> busyMs.toDouble, "tasks.gc_ms" -> gcMs.toDouble,
      "tasks.skew" -> skew, "shuffle.bytes_written" -> shuffleWritten.toDouble,
      "shuffle.bytes_read" -> shuffleRead.toDouble, "spill.bytes" -> spilled.toDouble)
  }

  def failedTasks: Long = synchronized(failed)
}

/** Every progress report of every streaming query, from the public
  * `StreamingQueryListener` bus.
  */
final class ProgressProbe extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of query `name` up to its batch `lastBatch`, in batch order.
    * The bus is asynchronous, so this waits (bounded) for the last report.
    */
  def of(name: String, lastBatch: Long): Seq[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + 5000
    def now = seen.asScala.filter(_.name == name).toSeq.sortBy(_.batchId)
    var ps = now
    while (!ps.exists(_.batchId >= lastBatch) && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      ps = now
    }
    ps
  }
}

/** Engine and state numbers summed over a set of progress reports. */
object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def duration(ps: Seq[StreamingQueryProgress], phase: String): Double =
    ps.map(p => Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)).sum

  def rowsIn(ps: Seq[StreamingQueryProgress]): Double = ps.map(_.numInputRows.toDouble).sum

  def observed(ps: Seq[StreamingQueryProgress], name: String): Double =
    ps.flatMap(p => Option(p.observedMetrics.get(name))).map(_.getLong(0).toDouble).sum

  def engine(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ops = ps.map(_.stateOperators.toSeq)
    Map(
      "engine.batches" -> ps.size.toDouble,
      "EventSource.latest_offset_ms" -> duration(ps, "latestOffset"),
      "engine.query_planning_ms" -> duration(ps, "queryPlanning"),
      "engine.wal_commit_ms" -> duration(ps, "walCommit"),
      "engine.commit_offsets_ms" -> duration(ps, "commitOffsets"),
      "state.commit_ms" -> ops.map(_.map(_.commitTimeMs).sum).sum.toDouble,
      "state.update_ms" -> ops.map(_.map(_.allUpdatesTimeMs).sum).sum.toDouble,
      "state.rows_total" -> (0L +: ops.map(_.map(_.numRowsTotal).sum)).max.toDouble,
      "state.memory_bytes" -> (0L +: ops.map(_.map(_.memoryUsedBytes).sum)).max.toDouble,
      "state.rows_dropped_by_watermark" ->
        ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
  }

  /** Engine phases of each batch as spans under `parent`, laid out in the
    * order the micro-batch engine runs them.
    */
  def trace(t: Tracer, parent: Int, ps: Seq[StreamingQueryProgress]): Unit =
    if (t.enabled) {
      // progress timestamps are wall-clock; spans use the nanoTime clock
      val clockShiftNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      for (p <- ps) {
        val start = startMs(p) * 1000000L + clockShiftNs
        val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val batch = t.record("engine.batch", parent, start, start + total * 1000000L)
        var at = start
        for (phase <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")) {
          val d = Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L) * 1000000L
          t.record(s"engine.$phase", batch, at, at + d)
          at += d
        }
      }
    }
}

/** File name -> micro-batch id, read from a file-source checkpoint's
  * metadata log (one JSON entry per admitted file).
  */
object SourceLog {
  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  def fileBatches(checkpoint: java.nio.file.Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else {
      val files = java.nio.file.Files.list(dir)
      try files.iterator().asScala.toList
        .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
        .flatMap { f =>
          java.nio.file.Files.readAllLines(f).asScala.collect {
            case Entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong
          }
        }.toMap
      finally files.close()
    }
  }
}
