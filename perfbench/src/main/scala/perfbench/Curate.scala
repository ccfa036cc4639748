package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, NearDup, Similarity}

/** curate_corpus: the LLM-pipeline batch path, repeated until the measured
  * time is up. One round reads the corpus and runs
  * `Curation.gateBySource` -> `Curation.qualityQuantileGate` ->
  * `NearDup.minhashNearDups` -> `NearDup.clustersFromPairs` ->
  * `Curation.packShards` over the survivors, plus `Similarity.ivfTopK`
  * lookups. No streaming layer runs.
  */
object Curate {
  val Queries = 20
  val K = 10
  val ShardTokens = 20000L
  /** IVF recall@10 below this fails the run: the 140-of-200 floor the
    * `ann_topk_ivf` oracle holds `Similarity.ivfTopK` to.
    */
  val RecallFloor = 0.7

  /** `Curation.gateBySource` and `qualityQuantileGate` defaults. */
  private val MinAvgTtrBp = 4800L
  private val MaxDupBp = 2000L
  private val KeepBps = 7500L

  private final case class Round(seconds: Double, pairs: Seq[(Long, Long)],
                                 kept: Seq[Long], shards: Seq[Row], ann: Seq[(Long, Long)],
                                 counts: Map[String, Double])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath(ctx))
    val m = ctx.manifest("curate_manifest.json")
    val nDocs = m.get("docs").asLong

    ctx.tasks.reset()
    val rounds = ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    ctx.tracer.span("workload.curate_corpus") {
      // another round only if it fits the measured time
      while (rounds.isEmpty || System.nanoTime() + rounds.last.seconds * 1e9 <= deadline)
        rounds += ctx.tracer.span("round")(round(spark, ctx.tracer, docsPath(ctx), embPath(ctx)))
    }
    val heapMb = Heap.retainedMb()
    val tasks = ctx.tasks.metrics

    // reference, outside the measured interval: the gates replayed on the
    // collected corpus, exact Jaccard pairs over the docs they keep,
    // brute-force neighbours, and an in-memory cluster + prefix-sum replay
    // of the shard layout
    val corpus = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val (expectedKept, rejected) = gateReplay(corpus)
    val planted = m.get("rejected_sources").elements().asScala.map(_.asText).toSet
    val keptDocs = docs.join(spark.createDataFrame(expectedKept.map(Tuple1(_))).toDF("doc_id"), "doc_id")
    val exact = NearDup.jaccardNearDupsExact(keptDocs).select("doc_i", "doc_j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = Similarity.bruteForceTopK(spark.read.parquet(embPath(ctx)), Queries, K)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tokens = corpus.map { case (id, _, text) => id -> text.split(" ", -1).length.toLong }.toMap
    val expectedShards = shardReplay(expectedKept, exact, tokens)

    var failed = 0L
    var attempted = 0L
    val recalls = rounds.map { r =>
      val recall = r.ann.count(brute.contains).toDouble / brute.size
      val shards = r.shards.map(s => (s.getLong(0), s.getLong(1), s.getLong(2)))
      failed += Stats.mismatches(exact, r.pairs) + Stats.mismatches(expectedShards, shards) +
        Stats.mismatches(expectedKept, r.kept) + (if (recall < RecallFloor) 1 else 0)
      attempted += exact.size + expectedShards.size + expectedKept.size + 1
      recall
    }
    val secs = rounds.map(_.seconds).toSeq
    val counts = rounds.last.counts
    val layer = tasks ++ counts ++ Map(
      "NearDup.verified_per_candidate" ->
        counts.getOrElse("NearDup.verified_pairs", 0.0) /
          math.max(1.0, counts.getOrElse("NearDup.candidates", 0.0)),
      "Similarity.recall_at_10" -> Stats.median(recalls.toSeq),
      "result.samples" -> rounds.size.toDouble,
      "gen.neardup_share" -> m.get("neardup_share").asDouble)
    // the generator plants exactly these sources for the source gate to reject
    val flags = Seq(
      if (rejected != planted) Some("generator_sources") else None,
      if (ctx.tasks.failedTasks > 0) Some("task_failures") else None).flatten
    Outcome(attempted, failed, flags,
      Map("result_lag_p50_s" -> Stats.median(secs),
        "result_lag_p99_s" -> Stats.pct(secs, 0.99),
        "work_rate_per_s" -> nDocs / Stats.median(secs),
        "retained_heap_mb" -> heapMb),
      layer,
      Map("curate_docs_per_s" -> f"${nDocs / Stats.median(secs)}%.0f",
        "ann_recall_at_10" -> f"${Stats.median(recalls.toSeq)}%.3f",
        "rounds" -> rounds.map(r => f"${r.seconds}%.2fs").mkString(","),
        "kept" -> s"${expectedKept.size} of $nDocs",
        "pairs" -> exact.size.toString))
  }

  /** One untraced, unmeasured round on the run's corpus, as set-up: the
    * first rounds in a JVM are slower until the kernels are compiled.
    */
  def warm(ctx: Ctx): Unit = round(ctx.spark, new Tracer(false, "warm"), docsPath(ctx), embPath(ctx))

  private def docsPath(ctx: Ctx) = ctx.dir.resolve("curate_in").resolve("documents.parquet").toString
  private def embPath(ctx: Ctx) = ctx.dir.resolve("curate_in").resolve("embeddings.parquet").toString

  /** One curation round from the files to collected results. The traced
    * run materializes each layer's output inside that layer's span, so
    * spans hold the layer's own work; the untraced run leaves the plan to
    * Spark.
    */
  private def round(spark: SparkSession, t: Tracer, docsPath: String, embPath: String): Round = {
    val start = System.nanoTime()
    val counts = mutable.Map.empty[String, Double]
    def timed[T](name: String, metric: String)(body: => T): T = {
      val s = System.nanoTime()
      val out = t.span(name)(body)
      if (t.enabled) counts(metric) = (System.nanoTime() - s) / 1e6
      out
    }
    def cut(df: DataFrame): DataFrame = if (t.enabled) df.localCheckpoint() else df

    val docs = spark.read.parquet(docsPath)
    val kept = timed("Curation.gate", "Curation.gate_ms") {
      val bySource = cut(Curation.gateBySource(docs))
      Curation.qualityQuantileGate(docs.join(bySource.select("doc_id"), "doc_id"))
        .select("doc_id").localCheckpoint()
    }
    val keptDocs = docs.join(kept, "doc_id")
    val pairs = if (!t.enabled) NearDup.minhashNearDups(keptDocs)
    else {
      // minhashNearDups, one layer at a time
      val sh = timed("NearDup.shingle", "NearDup.shingle_ms")(NearDup.shingled(keptDocs).localCheckpoint())
      val sigs = timed("NearDup.minhash", "NearDup.minhash_ms")(NearDup.minhashSignatures(sh).localCheckpoint())
      val cands = timed("NearDup.lsh", "NearDup.lsh_ms")(NearDup.lshCandidates(sigs).localCheckpoint())
      counts("NearDup.candidates") = cands.count().toDouble
      val verified = timed("NearDup.verify", "NearDup.verify_ms")(NearDup.verifyJaccard(cands, sh).localCheckpoint())
      counts("NearDup.verified_pairs") = verified.count().toDouble
      verified
    }
    val clusters = timed("NearDup.cluster", "NearDup.cluster_ms")(
      NearDup.clustersFromPairs(pairs.select("doc_i", "doc_j")).localCheckpoint())
    val survivors = keptDocs.join(
      clusters.filter(col("cluster_id") =!= col("doc_id")).select("doc_id"), Seq("doc_id"), "left_anti")
    val shards = timed("Curation.pack", "Curation.pack_ms")(
      Curation.packShards(survivors, ShardTokens).collect().toSeq)
    val ann = timed("Similarity.ivfTopK", "Similarity.ivf_topk_ms")(
      Similarity.ivfTopK(spark.read.parquet(embPath), Queries, K)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val seconds = Stats.secondsSince(start)
    Round(seconds,
      pairs.select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
      kept.collect().map(_.getLong(0)).toSeq.sorted, shards, ann, counts.toMap)
  }

  /** The two gates in plain Scala over (doc_id, source, text): the docs
    * of sources whose mean type-token ratio or duplicate share fails the
    * reputation rule go, then of the rest every doc scored below the
    * highest ratio whose docs at or above it reach `KeepBps` basis
    * points of them. Returns the kept ids, sorted, and the rejected
    * sources.
    */
  private def gateReplay(docs: Seq[(Long, String, String)]): (Seq[Long], Set[String]) = {
    val ttrBp = docs.map { case (id, _, text) =>
      val toks = text.split(" ", -1)
      id -> (toks.distinct.length * 20000L + toks.length) / (2L * toks.length)
    }.toMap
    val rejected = docs.groupBy(_._2).filter { case (_, ds) =>
      val n = ds.size.toLong
      val dupBp = ((n - ds.map(_._3).distinct.size) * 20000L + n) / (2 * n)
      val avgTtrBp = (ds.map(d => ttrBp(d._1)).sum * 2 + n) / (2 * n)
      avgTtrBp < MinAvgTtrBp || dupBp > MaxDupBp
    }.keySet
    val scored = docs.filterNot(d => rejected(d._2)).map(d => d._1 -> ttrBp(d._1))
    val desc = scored.groupBy(_._2).map { case (bp, ds) => bp -> ds.size.toLong }.toSeq.sortBy(-_._1)
    val atOrAbove = desc.scanLeft(0L)(_ + _._2).tail
    val threshold = desc.map(_._1).zip(atOrAbove)
      .collectFirst { case (bp, c) if c * 10000 >= scored.size * KeepBps => bp }
    (scored.collect { case (id, bp) if threshold.exists(bp >= _) => id }.sorted, rejected)
  }

  /** Shard layout of the kept docs minus every non-canonical near-dup
    * (canonical = smallest id of its connected component), by an in-memory
    * union-find and prefix sum.
    */
  private def shardReplay(kept: Seq[Long], pairs: Seq[(Long, Long)],
                          tokens: Map[Long, Long]): Seq[(Long, Long, Long)] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    var prefix = 0L
    kept.sorted.filter(d => find(d) == d).map { d =>
      val n = tokens(d)
      val row = (d, n, prefix / ShardTokens)
      prefix += n
      row
    }
  }
}
