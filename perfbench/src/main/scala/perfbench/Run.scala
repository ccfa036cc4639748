package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Everything one workload run needs: the session, its run directory
  * (inputs, checkpoints, manifests; deleted by the runner afterwards),
  * the measured duration, and the probes.
  */
final class Ctx(val spark: SparkSession, val dir: Path, val seconds: Int,
                val seed: Long, val tracer: Tracer, val tasks: TaskProbe,
                val progress: ProgressProbe, val opts: Map[String, String]) {
  def traced: Boolean = tracer.enabled
  def manifest(name: String): JsonNode = new ObjectMapper().readTree(dir.resolve(name).toFile)

  /** Runs `body` in a span named `name` and returns its milliseconds. */
  def timedMs(name: String)(body: => Unit): Double = {
    val s = System.nanoTime()
    tracer.span(name)(body)
    (System.nanoTime() - s) / 1e6
  }

  /** The permissive parse alone over the CSV files in `in`: in a stream it
    * runs fused inside each micro-batch, where it has no time of its own.
    */
  def parseProbeMs(in: String): Double = timedMs("CsvIngest.parsePermissive") {
    graft.operators.CsvIngest.parsePermissive(spark.read.text(in).toDF("value"))
      .write.format("noop").mode("overwrite").save()
  }
}

/** What a workload reports. `attempted` counts expected results,
  * `failed` the wrong, missing or extra ones; `flags` name conditions
  * that invalidate the measurement (a late generator, a growing backlog).
  */
final case class Outcome(attempted: Long, failed: Long, flags: Seq[String],
                         e2e: Map[String, Double], layer: Map[String, Double],
                         info: Map[String, String] = Map.empty)

object Stats {
  /** Nearest-rank percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Multiset difference size: entries missing from `got` plus extras.
    * A few of them go to stderr, which the runner keeps in its log.
    */
  def mismatches[T](expected: Seq[T], got: Seq[T]): Long = {
    val e = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val diff = (e.keySet ++ g.keySet).toSeq
      .map(k => k -> (g.getOrElse(k, 0) - e.getOrElse(k, 0))).filter(_._2 != 0)
    diff.take(5).foreach { case (k, d) => System.err.println(s"mismatch ${if (d > 0) "extra" else "missing"} x${math.abs(d)}: $k") }
    diff.map(d => math.abs(d._2).toLong).sum
  }

  def secondsSince(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9
}

object Streams {
  /** Runs `out` once to completion with AvailableNow, discarding the rows. */
  def drainOnce(session: SparkSession, name: String, out: DataFrame, checkpoint: Path): Unit =
    out.writeStream.queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
      .start()
      .awaitTermination()
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
}

object Heap {
  /** Heap in use after full collections, in MB. */
  def retainedMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
