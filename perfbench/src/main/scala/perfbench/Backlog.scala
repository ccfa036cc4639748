package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.operators.{CsvIngest, Sessions}
import graft.streaming.{StreamingSessions, TimerSessions}

/** backlog_refmix: a closed drain of the reference generator's four
  * phases, already on disk. One round is two AvailableNow drains over
  * several micro-batches, each on a fresh checkpoint and timed to a
  * complete, checked result:
  *  - t2: sessions (30 s gap) -> `StreamingSessions.bigCustomerAlertStream(1e6)`
  *  - t3: `TimerSessions.timerSessionStream(referenceDynamicGapSec)`
  * Rounds repeat while another fits the measured time; the time of a
  * round is the workload's result latency.
  */
object Backlog {
  val Threshold = 1e6
  val StaticGap = "30 seconds"
  /** Files per micro-batch: the 12-file backlog drains in 3 data batches. */
  val FilesPerBatch = 4

  private final case class Drain(kind: String, seconds: Double,
                                 failed: Long, attempted: Long, spanId: Int,
                                 progress: Seq[StreamingQueryProgress], pickupMs: Seq[Double])

  /** transformWithState needs the RocksDB provider; a cloned session
    * scopes that to the t3 drains.
    */
  private def rocksSession(spark: SparkSession): SparkSession = {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    rocks
  }

  /** `EventSource.csvLineStream` with a per-trigger file cap, so a drain
    * spans several micro-batches.
    */
  private def source(ctx: Ctx, session: SparkSession, in: String): DataFrame =
    observed(ctx, CsvIngest.parsePermissive(
        session.readStream.option("maxFilesPerTrigger", FilesPerBatch).text(in).toDF("value"))
      .withColumnRenamed("payload_value", "value"), "parsed")

  private def t2(ctx: Ctx)(events: DataFrame): DataFrame =
    StreamingSessions.bigCustomerAlertStream(
      observed(ctx, StreamingSessions.sessionAggStream(events, lit(StaticGap)), "sessions"),
      Threshold)

  private def t3(events: DataFrame): DataFrame =
    TimerSessions.timerSessionStream(events, TimerSessions.referenceDynamicGapSec)

  /** Both drains once, unmeasured, over a small file. */
  def warm(ctx: Ctx, root: java.nio.file.Path): Unit = {
    val in = LiveT1.warmInput(ctx, root)
    val rocks = rocksSession(ctx.spark)
    Streams.drainOnce(ctx.spark, "warm_t2", t2(ctx)(source(ctx, ctx.spark, in)), root.resolve("ck_t2"))
    Streams.drainOnce(rocks, "warm_t3", t3(source(ctx, rocks, in)), root.resolve("ck_t3"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val flushUser = ctx.opts("flush-user").toLong
    val in = ctx.dir.resolve("backlog_in").toString
    val m = ctx.manifest("backlog_manifest.json")
    val events = m.get("events").asLong
    val rocks = rocksSession(spark)
    rocks.streams.addListener(ctx.progress)

    // reference, outside the measured interval
    val refStart = System.nanoTime()
    val lines = spark.read.text(in).toDF("value")
    val nLines = lines.count()
    val good = CsvIngest.parsePermissive(lines).withColumnRenamed("payload_value", "value")
      .filter(col("user_id") =!= flushUser).localCheckpoint()
    val nGood = good.count() + 1 // + the flush event
    val t2Sessions = Sessions.sessionAgg(good, lit(StaticGap)).localCheckpoint()
    val alertUsers = Sessions.bigCustomers(t2Sessions, Threshold)
      .select(col("user_id")).collect().map(_.getLong(0)).toSet
    val qualifying = t2Sessions.filter(col("session_sum") >= Threshold)
      .select(col("user_id"), unix_micros(col("session_start")), col("session_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val t3Expected = sessionKeys(Sessions.sessionAgg(good, Sessions.referenceDynamicGap).collect().toSeq)
    val referenceMs = (System.nanoTime() - refStart) / 1e6

    ctx.tasks.reset()
    val rounds = ArrayBuffer.empty[Seq[Drain]]
    def seconds(round: Seq[Drain]) = round.map(_.seconds).sum
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    ctx.tracer.span("workload.backlog_refmix") {
      // another round only if it fits the measured time
      while (rounds.isEmpty || System.nanoTime() + seconds(rounds.last) * 1e9 <= deadline) {
        val i = 2 * rounds.size
        rounds += Seq(
          drain(ctx, spark, in, "t2", i, flushUser, t2(ctx)) { rows =>
            val got = rows.map(r => (r.getAs[Long]("user_id"),
              r.getAs[java.sql.Timestamp]("session_start"), r.getAs[Double]("session_sum")))
            val users = got.map(_._1)
            val wrong = got.count { case (u, s, sum) =>
              !qualifying.contains((u, s.getTime * 1000L + (s.getNanos / 1000) % 1000, sum))
            }
            (Stats.mismatches(alertUsers.toSeq, users) + wrong, alertUsers.size.toLong)
          },
          drain(ctx, rocks, in, "t3", i + 1, flushUser, t3) { rows =>
            (Stats.mismatches(t3Expected, sessionKeys(rows)), t3Expected.size.toLong)
          })
      }
    }
    val drains = rounds.flatten
    val heapMb = Heap.retainedMb()
    val tasks = ctx.tasks.metrics
    rocks.streams.removeListener(ctx.progress)

    drains.foreach(d => Progress.trace(ctx.tracer, d.spanId, d.progress))
    val all = drains.flatMap(_.progress).toSeq
    def of(kind: String) = drains.filter(_.kind == kind).flatMap(_.progress).toSeq
    def eps(kind: String) = Stats.median(drains.filter(_.kind == kind).map(events / _.seconds).toSeq)
    val probes =
      if (ctx.traced) Map("CsvIngest.parse_ms" -> ctx.parseProbeMs(in)) else Map.empty[String, Double]
    val rowsIn = Progress.rowsIn(all)
    val failed = drains.map(_.failed).sum + math.abs((nLines - nGood) - m.get("malformed").asLong)
    val flags = if (ctx.tasks.failedTasks > 0) Seq("task_failures") else Nil
    val lags = rounds.map(seconds).toSeq
    val layer = Progress.engine(all) ++ tasks ++ probes ++ Map(
      "EventSource.pickup_wait_ms" -> Stats.median(drains.flatMap(_.pickupMs).toSeq),
      "CsvIngest.rows_in" -> rowsIn,
      "CsvIngest.rows_dropped" -> (rowsIn - Progress.observed(all, "parsed")),
      "StreamingSessions.add_batch_ms" -> Progress.duration(of("t2"), "addBatch"),
      "TimerSessions.add_batch_ms" -> Progress.duration(of("t3"), "addBatch"),
      "StreamingSessions.sessions_out" -> Progress.observed(of("t2"), "sessions"),
      "StreamingSessions.alerts_out" -> Progress.observed(of("t2"), "results"),
      "TimerSessions.sessions_out" -> Progress.observed(of("t3"), "results"),
      "StreamingSessions.drain_eps" -> eps("t2"),
      "TimerSessions.drain_eps" -> eps("t3"),
      "Sessions.reference_ms" -> referenceMs,
      "result.samples" -> lags.size.toDouble,
      "gen.malformed_share" -> m.get("malformed_share").asDouble,
      "gen.hot_key_share" -> m.get("hot_key_share").asDouble)
    Outcome(drains.map(_.attempted).sum + 1, failed, flags,
      Map("result_lag_p50_s" -> Stats.median(lags),
        "result_lag_p99_s" -> Stats.pct(lags, 0.99),
        "work_rate_per_s" -> events * drains.size / drains.map(_.seconds).sum,
        "retained_heap_mb" -> heapMb),
      layer,
      Map("t2_drain_eps" -> f"${eps("t2")}%.0f", "t3_drain_eps" -> f"${eps("t3")}%.0f",
        "drains" -> drains.map(d => f"${d.kind}:${d.seconds}%.2fs").mkString(","),
        "events" -> events.toString))
  }

  /** One AvailableNow drain on a fresh checkpoint; `check` compares the
    * collected output with the reference and returns (failed, attempted).
    */
  private def drain(ctx: Ctx, session: SparkSession, in: String, kind: String, i: Int,
                    flushUser: Long, pipeline: DataFrame => DataFrame)
                   (check: Seq[Row] => (Long, Long)): Drain = {
    val ck = ctx.dir.resolve(s"ck_$i")
    val name = s"${kind}_$i"
    val out = new ConcurrentLinkedQueue[Row]()
    val sink = observed(ctx, pipeline(source(ctx, session, in)), "results")
      .writeStream.queryName(name).outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(out.add)
      }
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val (seconds, failed, attempted, spanId, lastBatch) = ctx.tracer.span(s"drain.$kind") {
      val q = sink.start()
      q.awaitTermination()
      val rows = out.asScala.filter(_.getAs[Long]("user_id") != flushUser).toSeq
      val (f, a) = check(rows)
      (Stats.secondsSince(start), f, a, ctx.tracer.current,
        Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
    }
    val fileBatch = SourceLog.fileBatches(ck)
    val ps = ctx.progress.of(name, lastBatch)
    val batchStart = ps.map(p => p.batchId -> Progress.startMs(p)).toMap
    val pickup = fileBatch.values.flatMap(batchStart.get).map(b => (b - startMs).toDouble).toSeq
    Dirs.deleteRecursively(ck)
    Drain(kind, seconds, failed, attempted, spanId, ps, pickup)
  }

  /** In the traced run, counts the rows of `df` into query progress. */
  private def observed(ctx: Ctx, df: DataFrame, name: String): DataFrame =
    if (ctx.traced) df.observe(name, count(lit(1))) else df

  /** Order-free identity of a session row. */
  private def sessionKeys(rows: Seq[Row]): Seq[String] = rows.map { r =>
    Seq("user_id", "session_start", "session_end", "event_count", "session_sum", "session_avg")
      .map(c => String.valueOf(r.getAs[Any](c))).mkString("|")
  }
}
