package graft

// Stage-level profiler for ivfPqResTopK at scale (dev aid): replicates the
// operator's stages over /tmp/scale_vecs with timers so the expensive one
// is named, not guessed.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps

object DevResProfile {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity._
    val ve = spark.read.parquet(args.headOption.getOrElse("/tmp/scale_vecs"))
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[resprof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val v = col("embedding").cast("array<double>")
    val prepIvf = time("prepIvf ckpt") {
      ve.select(col("vec_id"), v.as("v"))
        .withColumn("nrm", sqrt(ArrayOps.dotNative(spark, col("v"), col("v"))))
        .localCheckpoint()
    }
    val centroids = time("kmeans (3 iters)") {
      graft.operators.Similarity.kmeansCentroids(prepIvf, 16, 3,
        portableSeed = true)
    }
    val assigned = time("assign ckpt") {
      prepIvf.withColumn("cells2", ArrayOps.nearestCells(spark,
          col("v"), col("nrm"), centroids, 8))
        .withColumn("cell", element_at(col("cells2"), 1))
        .localCheckpoint()
    }
    val prepCell = time("prepCell ckpt") {
      assigned.filter(col("nrm") > 0)
        .select(col("vec_id"),
          ArrayOps.divScalarNative(spark, col("v"), col("nrm")).as("vn"),
          col("cell"), col("cells2"))
        .localCheckpoint()
    }
    val dim = 64
    val scale = 1L << 20
    val moff = Array.fill(16)(Array.fill(dim)(0.0))
    time("per-cell mean agg") {
      val sumCols = count(lit(1)).as("n") +: (0 until dim).map(i =>
        sum(ArrayOps.roundScaledLong(spark, element_at(col("vn"), i + 1),
          scale)).as(s"sx$i"))
      prepCell.groupBy(col("cell")).agg(sumCols.head, sumCols.tail: _*)
        .collect().foreach { r =>
          val n = r.getLong(1)
          (0 until dim).foreach { i =>
            moff(r.getInt(0))(i) = r.getLong(2 + i).toDouble / (n.toDouble * scale)
          }
        }
    }
    val chat: Seq[Seq[Double]] = moff.map(_.toSeq).toSeq
    val trRes = time("train sample + residual") {
      prepCell.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(6400).localCheckpoint()
        .withColumn("rv", ArrayOps.subNative(spark, col("vn"),
          element_at(typedlit(chat), (col("cell") + 1).cast("int"))))
        .select(col("vec_id"), col("rv").as("vn"))
    }
    val books = time("train 8 codebooks") {
      graft.operators.Similarity.pqTrainAllSubspaces(trRes)
    }
    val corpus = time("encode fold count") {
      val chatS = (0 until 8).map(s => chat.map(_.slice(s * 8, (s + 1) * 8)))
      val enc = (0 until 8).foldLeft(prepCell) { (d, s) =>
        d.withColumn(s"code$s", ArrayOps.nearestCodeL2(spark,
          ArrayOps.subNative(spark,
            slice(col("vn"), s * 8 + 1, 8),
            element_at(typedlit(chatS(s)), (col("cell") + 1).cast("int"))),
          books(s)))
      }.select(col("vec_id") +: col("cell") +:
        (0 until 8).map(s => col(s"code$s")): _*)
      enc.queryExecution.toRdd.count()
      enc
    }
    // search phase in isolation: queries side + scored BHJ + two-level topk
    val queries = time("query luts") {
      val queryCols =
        Seq(col("vec_id").as("query_id"), col("vn").as("qn")) ++
          (0 until 8).map(s => slice(col("vn"), s * 8 + 1, 8).as(s"q$s")) ++
          Seq(explode(col("cells2")).as("q_cell"))
      val base = prepCell.filter(col("vec_id") < 20).select(queryCols: _*)
      val withLuts = (0 until 8).foldLeft(base) { (d, s) =>
        d.withColumn(s"lut$s",
          transform(typedlit(books(s)), cb => ArrayOps.dotNative(spark, col(s"q$s"), cb)))
      }
      withLuts.withColumn("lutc",
        transform(typedlit(chat), m => ArrayOps.dotNative(spark, col("qn"), m)))
        .localCheckpoint()
    }
    def searchFrom(c: org.apache.spark.sql.DataFrame, name: String): Unit =
      time(name) {
        val term0 = element_at(col("lutc"), (col("cell") + 1).cast("int"))
        val luts = (0 until 8).map(s =>
          element_at(col(s"lut$s"), (col(s"code$s") + 1).cast("int")))
        val scored = c.join(broadcast(queries),
            col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
          .withColumn("cos_r", round((term0 +: luts).reduce(_ + _), 6))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("query_id")).orderBy(desc("cos_r"), col("vec_id"))
        scored.select(col("query_id"), col("vec_id"), col("cos_r"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .queryExecution.toRdd.count()
      }
    val corpusCkpt = time("corpus ckpt") { corpus.localCheckpoint() }
    searchFrom(corpusCkpt, "search from ckpt codes")
    searchFrom(corpus, "search from lazy codes")
    time("full ivfPqResTopK") {
      graft.operators.Similarity.ivfPqResTopK(ve, 20, 10)
        .queryExecution.toRdd.count()
    }
    spark.stop()
  }
}
