package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CsvIngest, Sessions}
import graft.sinks.ReportSink
import graft.sources.EventSource
import graft.streaming.StreamingSessions

/** live_t1: the reference deployment as an open loop. A generator process
  * appends CSV-line files on a fixed schedule while
  * `EventSource.csvLineStream -> StreamingSessions.sessionAggStream ->
  * ReportSink.fixedWidth` runs under the default trigger. Every user sends
  * one burst, so each emitted line names exactly one session, and its
  * emit lag is the sink's receive instant minus the session's closable
  * instant (last event due + gap), read from the batch reference.
  * Lags are those of a running query: a first batch on one early event
  * of the flush user runs before the schedule starts, so a new query's
  * one-off first-batch cost does not back up the first seconds of
  * traffic.
  */
object LiveT1 {

  /** Files of the warm-up feed, one per 100 ms. */
  val WarmFiles = 20

  /** The live pipeline under the default trigger for a few seconds of
    * traffic stamped with the wall clock: the per-batch engine code runs
    * once per micro-batch, so it needs many batches to be compiled.
    */
  def warm(ctx: Ctx, root: Path): Unit = {
    val in = root.resolve("live")
    val tmp = root.resolve("tmp")
    Files.createDirectories(in)
    Files.createDirectories(tmp)
    val q = pipeline(ctx, in.toString).writeStream.queryName("warm_live").outputMode("append")
      .option("checkpointLocation", root.resolve("ck").toString)
      .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
      .start()
    val fmt = java.time.format.DateTimeFormatter.ofPattern(CsvIngest.TsFormat)
      .withZone(java.time.ZoneOffset.UTC)
    for (k <- 0 until WarmFiles) {
      val ts = fmt.format(java.time.Instant.now())
      val lines = (0 until 20).map { i =>
        val user = 100000 + k * 5 + i / 4
        s"$ts,$user,${k * 20 + i},${user * 10}"
      }
      val name = s"part-$k.csv"
      Files.writeString(tmp.resolve(name), lines.mkString("", "\n", "\n"))
      Files.move(tmp.resolve(name), in.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Thread.sleep(100)
    }
    q.processAllAvailable()
    q.stop()
  }

  /** A directory holding one small CSV-line file: 50 users, the malformed
    * shapes, and a flush event that closes every session.
    */
  def warmInput(ctx: Ctx, root: Path): String = {
    val in = root.resolve("in")
    Files.createDirectories(in)
    val t0 = java.time.LocalDateTime.of(2024, 8, 26, 8, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern(CsvIngest.TsFormat)
    val lines = (0 until 200).map { i =>
      val user = 100000 + i / 4
      s"${t0.plusNanos(i * 50000000L).format(fmt)},$user,$i,${user * 10}"
    } ++ CsvIngest.malformedFixtures :+
      s"2024-09-30 00:00:00.000000,${ctx.opts("flush-user")},0,0"
    Files.writeString(in.resolve("part-0.csv"), lines.mkString("", "\n", "\n"))
    in.toString
  }

  private def pipeline(ctx: Ctx, in: String): DataFrame = {
    val events = EventSource.csvLineStream(ctx.spark, in)
      .withColumnRenamed("payload_value", "value")
    val parsed = if (ctx.traced) events.observe("parsed", count(lit(1))) else events
    val sessions = StreamingSessions.sessionAggStream(parsed, lit(s"${ctx.opts("gap")} seconds"))
    ReportSink.fixedWidth(if (ctx.traced) sessions.observe("sessions", count(lit(1))) else sessions)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gapS = ctx.opts("gap").toInt
    val flushUser = ctx.opts("flush-user").toLong
    val in = ctx.dir.resolve("live_in")
    Files.createDirectories(in)
    val ck = ctx.dir.resolve("ck_live")
    val emitted = new ConcurrentLinkedQueue[(String, Long)]()
    var lastBatch = -1L
    val lastEmitBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val rendered = pipeline(ctx, in.toString)

    ctx.tasks.reset()
    val writer = rendered.writeStream.queryName("live_t1").outputMode("append")
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the flush user is never a result
        val lines = batch.collect().map(_.getString(0))
          .filterNot(_.trim.split("\\s+")(0) == flushUser.toString)
        val now = System.currentTimeMillis()
        lines.foreach(l => emitted.add((l, now)))
        lastEmitBatch.set(id)
      }
    val manifestPath = ctx.dir.resolve("live_manifest.json")
    ctx.tracer.span("workload.live_t1") {
      val fmt = java.time.format.DateTimeFormatter.ofPattern(CsvIngest.TsFormat)
        .withZone(java.time.ZoneOffset.UTC)
      val early = fmt.format(java.time.Instant.now().minusSeconds(10))
      Files.writeString(in.resolve("prime.csv"), s"$early,$flushUser,0,0\n")
      val running = writer.start()
      val primeDeadline = System.currentTimeMillis() + 30000
      while (running.lastProgress == null && System.currentTimeMillis() < primeDeadline) Thread.sleep(10)
      // the schedule starts shortly after the first batch; from then on it
      // never waits for the engine
      val scheduleStartMs = System.currentTimeMillis() + 500
      val gen = new ProcessBuilder(ctx.opts("python"), ctx.opts("gen"), "live",
        "--seed", ctx.seed.toString, "--seconds", ctx.seconds.toString,
        "--dir", in.toString, "--t0", scheduleStartMs.toString,
        "--manifest", manifestPath.toString)
        .redirectErrorStream(true)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start()
      val genOk = gen.waitFor(ctx.seconds + gapS + 60L, TimeUnit.SECONDS) && gen.exitValue() == 0
      if (!genOk) { gen.destroyForcibly(); gen.waitFor(); running.stop() }
      require(genOk, "live generator failed")
      val users = ctx.manifest("live_manifest.json").get("users").asLong
      // every session closes once the flush event's watermark passes it
      val drainDeadline = System.currentTimeMillis() + 30000
      while (emitted.size < users && System.currentTimeMillis() < drainDeadline) Thread.sleep(20)
      // let the last emitting batch commit and report its progress
      while (Option(running.lastProgress).forall(_.batchId < lastEmitBatch.get) &&
        System.currentTimeMillis() < drainDeadline + 10000) Thread.sleep(20)
      running.stop()
      lastBatch = Option(running.lastProgress).map(_.batchId).getOrElse(-1L)
    }
    val m = ctx.manifest("live_manifest.json")
    // batch 0 is the first batch, on the early event
    val progress = ctx.progress.of("live_t1", lastBatch).filter(_.batchId > 0)
    // new files are due every 50 ms, so batches run back to back and their
    // total time is the schedule's length whatever a batch costs; the
    // median batch time is what a cheaper or dearer batch moves
    val batchMs = progress.filter(_.numInputRows > 0).map(p => Progress.duration(Seq(p), "triggerExecution"))
    val heapMb = Heap.retainedMb()
    val tasks = ctx.tasks.metrics

    // reference, outside the measured interval
    val refStart = System.nanoTime()
    val lines = spark.read.text(in.toString).toDF("value")
    val nLines = lines.count()
    val good = CsvIngest.parsePermissive(lines).withColumnRenamed("payload_value", "value")
    val nGood = good.count()
    val regular = good.filter(col("user_id") =!= flushUser)
    val ref = Sessions.sessionAgg(regular, lit(s"$gapS seconds")).localCheckpoint()
    val lastRegularMs = regular.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val closable = ref.select(col("user_id"), unix_millis(col("session_end")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedLines = ReportSink.fixedWidth(ref).collect().map(_.getString(0)).toSeq
    val referenceMs = (System.nanoTime() - refStart) / 1e6

    val got = emitted.asScala.toSeq
    val failed = Stats.mismatches(expectedLines, got.map(_._1)) +
      math.abs((nLines - nGood) - m.get("malformed").asLong)
    // lag samples: sessions that regular traffic closed, i.e. closable no
    // later than the last regular event (the flush event closes the rest,
    // which would measure the flush schedule)
    val lags = got.flatMap { case (line, at) =>
      closable.get(line.trim.split("\\s+")(0).toLong)
        .filter(_ <= lastRegularMs).map(c => (at - c) / 1000.0)
    }

    // generator health and pickup wait (file due -> batch start)
    val files = m.get("files").elements().asScala.toSeq
    val late = files.map(_.get("late_ms").asDouble)
    val batchStart = progress.map(p => p.batchId -> Progress.startMs(p)).toMap
    val fileBatch = SourceLog.fileBatches(ck)
    val pickup = files.dropRight(1).flatMap { f =>
      fileBatch.get(f.get("file").asText).flatMap(batchStart.get)
        .map(_ - f.get("due_ms").asDouble)
    }
    val quarter = math.max(1, pickup.size / 4)
    val backlogGrowthMs = Stats.median(pickup.takeRight(quarter)) - Stats.median(pickup.take(quarter))
    val flags = Seq(
      if (Stats.pct(late, 0.99) > 250) Some("generator_late") else None,
      if (backlogGrowthMs > 1000) Some("backlog_grew") else None,
      if (ctx.tasks.failedTasks > 0) Some("task_failures") else None).flatten

    if (ctx.traced) {
      val q = ctx.tracer.all.find(_.name == "workload.live_t1").map(_.id).getOrElse(0)
      Progress.trace(ctx.tracer, q, progress)
    }
    val probes = if (ctx.traced) layerProbes(ctx, in.toString, ref) else Map.empty[String, Double]
    val rowsIn = Progress.rowsIn(progress)
    val layer = Progress.engine(progress) ++ tasks ++ probes ++ Map(
      "EventSource.pickup_wait_ms" -> Stats.median(pickup),
      "CsvIngest.rows_in" -> rowsIn,
      "CsvIngest.rows_dropped" -> (rowsIn - Progress.observed(progress, "parsed")),
      "StreamingSessions.add_batch_ms" -> Progress.duration(progress, "addBatch"),
      "StreamingSessions.sessions_out" -> Progress.observed(progress, "sessions"),
      "Sessions.reference_ms" -> referenceMs,
      "result.samples" -> lags.size.toDouble,
      "gen.late_p99_ms" -> Stats.pct(late, 0.99),
      "gen.malformed_share" -> m.get("malformed_share").asDouble,
      "gen.hot_key_share" -> m.get("hot_key_share").asDouble)
    Outcome(expectedLines.size.toLong, failed, flags,
      Map("result_lag_p50_s" -> Stats.median(lags),
        "result_lag_p99_s" -> Stats.pct(lags, 0.99),
        "work_rate_per_s" -> 1000.0 / Stats.median(batchMs),
        "retained_heap_mb" -> heapMb),
      layer,
      Map("emit_lag_p50_s" -> f"${Stats.median(lags)}%.3f",
        "emit_lag_p99_s" -> f"${Stats.pct(lags, 0.99)}%.3f (n=${lags.size})",
        "offered_rate" -> m.get("rate").asText,
        "batch_ms_p50" -> f"${Stats.median(batchMs)}%.0f (n=${batchMs.size})",
        "events" -> m.get("events").asText))
  }

  /** Layers fused inside each micro-batch, timed alone on the same input:
    * the permissive parse and the report render.
    */
  private def layerProbes(ctx: Ctx, in: String, ref: DataFrame): Map[String, Double] =
    Map("CsvIngest.parse_ms" -> ctx.parseProbeMs(in),
      "ReportSink.render_ms" -> ctx.timedMs("ReportSink.fixedWidth") {
        ReportSink.fixedWidth(ref).write.format("noop").mode("overwrite").save()
      })
}
