package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: build and warm the session (the
  * measured set-up), run one workload, print one `PERFBENCH_RESULT` JSON
  * line. `perfbench/run.py` generates the inputs, launches this, and turns
  * the line into the benchmark's result.
  *
  * Arguments are `--key value` pairs: workload, dir, seconds, seed, trace,
  * threads, gap, flush-user, python, gen, trace-out.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val threads = opts("threads").toInt
    val tracer = new Tracer(opts("trace") == "1", s"$workload-${opts("seed")}")

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tasks = new TaskProbe
    val progress = new ProgressProbe
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, dir, opts("seconds").toInt, opts("seed").toLong,
      tracer, tasks, progress, opts)
    warm(ctx, workload)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val outcome = workload match {
      case "live_t1" => LiveT1.run(ctx)
      case "backlog_refmix" => Backlog.run(ctx)
      case "curate_corpus" => Curate.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val self = tracer.selfMs
    val e2e = outcome.e2e + ("setup_s" -> setupS)
    if (tracer.enabled)
      Files.writeString(Paths.get(opts("trace-out")),
        s"""{"e2e":${Json.nums(e2e)},"self_ms":${Json.nums(self)},"spans":${tracer.json}}""")
    val layer = outcome.layer ++ Map(
      "trace.spans" -> tracer.all.size.toDouble,
      "trace.unattributed_ms" -> self.filter(_._1.startsWith("workload.")).values.sum)
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "flags" -> outcome.flags.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.nums(e2e),
      "layer" -> Json.nums(layer),
      "info" -> Json.obj(outcome.info.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }

  /** Set-up work users pay once per process: each workload's pipeline runs
    * once, unmeasured, so the first streaming query's engine init (state
    * store, micro-batch scheduler, codegen) and JIT compilation happen here.
    */
  private def warm(ctx: Ctx, workload: String): Unit = {
    val root = ctx.dir.resolve("warm")
    workload match {
      case "live_t1" => LiveT1.warm(ctx, root)
      case "backlog_refmix" => Backlog.warm(ctx, root)
      case "curate_corpus" => Curate.warm(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    Dirs.deleteRecursively(root)
  }
}

/** Minimal JSON writing for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
