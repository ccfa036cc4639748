package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, NearDup}

class CurationSpec extends SparkSpec {

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("deterministic sample: reproducible, subset semantics, sane rate") {
    val a = Curation.deterministicSample(docs, 2000).collect().map(_.getLong(0)).toSeq
    val b = Curation.deterministicSample(docs, 2000).collect().map(_.getLong(0)).toSeq
    assert(a == b, "same key, same rate -> same sample, always")
    val n = docs.count().toDouble
    assert(a.length > n * 0.1 && a.length < n * 0.3,
      s"20% target, got ${a.length} of $n")
    // monotone in rate: a lower-bps sample is a subset of a higher-bps one
    val small = Curation.deterministicSample(docs, 500).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a.toSet))
  }

  test("clean corpus: every survivor passes all three gates") {
    val survivors = Curation.cleanCorpus(docs, 30L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(survivors.nonEmpty)
    assert(survivors.values.forall(_ >= 30L), "quality gate")
    val texts = docs.filter(col("doc_id").isin(survivors.keys.toSeq: _*))
      .select(md5(col("text"))).collect().map(_.getString(0))
    assert(texts.length == texts.distinct.length, "exact-dedup gate")
    val nonCanonical = NearDup.nearDupClusters(docs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .collect().map(_.getLong(0)).toSet
    assert(survivors.keySet.intersect(nonCanonical).isEmpty, "near-dup gate")
  }

  test("stratified sample: per-stratum cap, deterministic membership") {
    val s = Curation.stratifiedSample(docs, 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byLang = s.groupBy(_._2)
    assert(byLang.nonEmpty)
    byLang.foreach { case (_, rows) =>
      assert(rows.length <= 10)
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    val again = Curation.stratifiedSample(docs, 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(s.toSet == again.toSet)
  }

  test("mixture sample: per-language rates, drop-all and keep-all strata") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val lang = graft.functions.TextAnalysis.langId(docs)
      .select(col("doc_id"), col("pred_lang"))
    val langOf = lang.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rates = Map("en" -> 2500, "es" -> 7500, "de" -> 10000, "zh" -> 5000)
    val got = Curation.mixtureSample(docs, rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // sample ids are strictly ascending (orderBy contract)
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    // language labels match the language-ID operator
    got.foreach { case (id, l) => assert(langOf(id) == l) }
    // keep-all stratum is complete; absent stratum ('fr', rate 0) is empty
    val gotByLang = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val allByLang = langOf.groupBy(_._2).view.mapValues(_.keySet).toMap
    assert(gotByLang.getOrElse("de", Set.empty) == allByLang.getOrElse("de", Set.empty))
    assert(!gotByLang.contains("fr") && allByLang.contains("fr"))
    // membership is exactly the sampleBucket rule per language
    val buckets = docs.select(col("doc_id"),
        Curation.sampleBucket(col("doc_id")).as("bkt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = langOf.collect {
      case (id, l) if buckets(id) < rates.getOrElse(l, 0) => (id, l)
    }.toSet
    assert(got.toSet == want)
  }

  test("token-budget mixture: kept set equals the flat per-language prefix rule") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val budgets = Map("en" -> 2500L, "es" -> 1200L, "de" -> 100000L, "zh" -> 800L)
    val got = Curation.mixtureSampleTokens(docs, budgets).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // driver-side flat reference over the operator's own building blocks:
    // per-language cumulative tokens in (bucket, doc_id) order
    val rows = graft.functions.TextAnalysis.langId(docs)
      .select(col("doc_id"), col("pred_lang"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        Curation.sampleBucket(col("doc_id")).as("bkt")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = rows.groupBy(_._2).toSeq.flatMap { case (lang, rs) =>
      var acc = 0L
      rs.sortBy(r => (r._4, r._1)).flatMap { case (id, l, n, _) =>
        val keep = budgets.get(l).exists(acc < _)
        val out = if (keep) Some((id, l, n, acc)) else None
        acc += n
        out
      }
    }.sortBy(_._1)
    assert(got.toSeq == want)
    // the cut is real: partial languages stop mid-stream, keep-all is whole
    val keptBy = got.groupBy(_._2).view.mapValues(_.length).toMap
    val allBy = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(keptBy("en") < allBy("en") && keptBy("de") == allBy("de"))
    assert(!keptBy.contains("fr") && allBy.contains("fr"))
    // overshoot is bounded by one document per language
    got.groupBy(_._2).foreach { case (l, rs) =>
      val tot = rs.map(_._3).sum
      assert(tot < budgets(l) + rs.map(_._3).max, s"$l over budget: $tot")
    }
    // physical layout must not move the cut
    val re = Curation.mixtureSampleTokens(docs.repartition(13), budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(re.toSeq == got.toSeq)
  }

  test("decontamination: planted 8-gram leak is flagged; clean docs are not") {
    import spark.implicits._
    // pick ids by their actual md5 bucket so the planted split is stable
    val buckets = (0L until 200L).toDF("doc_id")
      .select(col("doc_id"), Curation.sampleBucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evalId = (0L until 200L).find(buckets(_) < 1000).get
    val Seq(badId, cleanId) = (0L until 200L).filter(buckets(_) >= 1000).take(2)
    val leak = "p1 p2 p3 p4 p5 p6 p7 p8" // exactly one shared 8-gram
    val df = Seq(
      evalId -> s"e0 $leak e9 e10",
      badId -> s"t1 t2 $leak t9",
      cleanId -> "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10").toDF("doc_id", "text")
    val out = Curation.decontaminate(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((badId, 1L, 1L)))
  }

  test("decontaminate matches a string-keyed brute formulation on sf0.001") {
    val sh = docs.select(col("doc_id"),
        explode(graft.functions.TextHashOps
          .shinglesNative(spark, col("text"), 8)).as("ng"))
      .withColumn("is_eval", Curation.sampleBucket(col("doc_id")) < 1000)
    val ev = sh.filter(col("is_eval"))
      .select(col("ng"), col("doc_id").as("eval_doc_id"))
    val brute = sh.filter(!col("is_eval")).join(ev, "ng")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("eval_doc_id")).as("n_eval_docs"),
        count_distinct(col("ng")).as("n_shared_ngrams"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = Curation.decontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == brute)
    // contamination is train-side only
    val evalIds = docs.select(col("doc_id"))
      .filter(Curation.sampleBucket(col("doc_id")) < 1000)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.intersect(evalIds).isEmpty)
  }

  test("bloom decontaminate ≡ exact decontaminate; bloom prune is in the plan") {
    val exact = Curation.decontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bloomed = Curation.decontaminateBloom(docs)
    val got = bloomed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the exact post-join removes Bloom false positives: bit-identical output
    assert(got == exact)
    // the prune predicate must sit in the plan (map-side, before the join)
    assert(bloomed.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("bloom prune never drops a true member (no false negatives)") {
    import spark.implicits._
    val keys = (0L until 1000L).toDF("k")
    val bloom = graft.functions.BloomOps.buildLongBloom(keys, "k", 1000L)
    val kept = (0L until 1000L).toDF("k")
      .filter(graft.functions.BloomOps.mightContain(spark, bloom, col("k")))
      .count()
    assert(kept == 1000L)
  }

  test("quality gate: threshold semantics, tie inclusion, keep-all bound") {
    import spark.implicits._
    // scores are driven by distinct/total token ratio; craft docs with
    // known ttr_bp: all-distinct = (n*20000+n)/(2n) = 10000 (plus div
    // truncation), heavy repetition scores low
    val d = Seq(
      (0L, "a b c d e f g h"),          // all distinct → high
      (1L, "x x x x x x x x"),          // 1 distinct  → low
      (2L, "p q r s p q r s"),          // mid
      (3L, "k l m n o aa bb cc")        // all distinct → high (tie with 0)
    ).toDF("doc_id", "text")
    val scores = graft.functions.TextAnalysis.qualityScore(d)
      .select(col("doc_id"), col("ttr_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // keep top 50% of 4 docs → K=2; docs 0 and 3 tie at the top, both kept
    val kept50 = Curation.qualityQuantileGate(d, 5000).collect()
      .map(_.getLong(0)).toSet
    assert(kept50 == Set(0L, 3L), s"scores were $scores")
    // keepBps=10000 keeps everything
    val keptAll = Curation.qualityQuantileGate(d, 10000).collect()
      .map(_.getLong(0)).toSet
    assert(keptAll == Set(0L, 1L, 2L, 3L))
    // membership is a pure function of score: every kept score >= every
    // dropped score, and no kept/dropped pair shares a score
    val kept25 = Curation.qualityQuantileGate(d, 2500).collect()
      .map(_.getLong(0)).toSet
    val (k, dr) = scores.partition { case (id, _) => kept25(id) }
    assert(k.nonEmpty && k.values.min > dr.values.max)
  }

  test("chunking: coverage, overlap, tail, and empty-doc contract") {
    import spark.implicits._
    // lengths straddling the boundaries: 0 (dropped), 1, exactly one
    // stride, one chunk, chunk+1, several chunks
    val d = Seq(
      (0L, ""), (1L, "a" * 1), (2L, "b" * 150), (3L, "c" * 200),
      (4L, "d" * 201), (5L, "e" * 1000)).toDF("doc_id", "text")
    val got = Curation.chunkDocs(d, 200, 150).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!byDoc.contains(0L))                       // empty doc → no chunks
    assert(byDoc(1L).map(_._4).toSeq == Seq(1L))      // single short chunk
    assert(byDoc(2L).map(_._4).toSeq == Seq(150L))    // len == stride → 1 chunk
    assert(byDoc(3L).map(_._4).toSeq == Seq(200L, 50L)) // len == chunk → tail at 150
    assert(byDoc(4L).map(_._4).toSeq == Seq(200L, 51L))
    // reconstruction: stitching chunk i's first `stride` chars re-derives
    // the doc (overlap is redundant, nothing is lost at boundaries)
    val stitched = byDoc(5L).map { case (_, i, t, _) =>
      if (i == byDoc(5L).last._2) t else t.take(150) }.mkString
    assert(stitched == "e" * 1000)
    // every non-tail chunk overlaps the next by chunk - stride chars
    byDoc(5L).toSeq.sliding(2).foreach {
      case Seq((_, _, a, _), (_, _, b, _)) => assert(a.drop(150) == b.take(50))
      case _ => ()
    }
  }

  test("distinctive tokens: rank by integer tf/df, rare beats common") {
    import spark.implicits._
    val d = Seq(
      (0L, "common common rare"),
      (1L, "common common common")).toDF("doc_id", "text")
    val out = graft.functions.TextAnalysis.distinctiveTokens(d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
    // doc 0: "rare" df=1 tf=1 -> 1e6; "common" df=2 tf=2 -> 1e6... tie
    // broken by token string: "common" < "rare", so common ranks 1
    assert(out.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq ==
      Seq("common", "rare"))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq("common"))
  }

  test("corpus stats: one integer row consistent with direct counts") {
    val r = Curation.corpusStats(docs).collect().head
    assert(r.getAs[Long]("n_docs") == docs.count())
    assert(r.getAs[Long]("min_tokens") >= 1L)
    assert(r.getAs[Long]("max_tokens") >= r.getAs[Long]("min_tokens"))
    assert(r.getAs[Long]("total_tokens") >=
      r.getAs[Long]("n_docs") * r.getAs[Long]("min_tokens"))
  }

  test("shard packing equals the naive global prefix sum; per-doc windows stay partitioned") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    // small buckets so the test actually exercises the multi-bucket path
    val fast = Curation.packShards(real, 2048L, bucketSize = 64)
    val wg = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = real
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("prefix", coalesce(sum(col("n_tokens")).over(wg), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), expr("prefix div 2048").as("shard_id"))
      .orderBy(col("doc_id"))
    assert(fast.collect().toSeq.map(_.toSeq) == naive.collect().toSeq.map(_.toSeq))
    // scale shape: no window may run unpartitioned over a
    // corpus-proportional frame — per-doc prefixes are partitioned by
    // bucket, bucket offsets by super-bucket; the single allowed
    // unpartitioned window runs over SUPER-bucket totals
    // (|corpus|/bucketSize² rows)
    val wins = fast.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1,
      s"expected exactly one unpartitioned window (super-bucket totals), got ${unpart.size}")
    assert(unpart.head.orderSpec.flatMap(_.references.toSeq.map(_.name))
      .forall(_ == "sbkt"),
      "the unpartitioned window must range over super-bucket totals only")
    assert(wins.exists(_.partitionSpec.exists(_.references.exists(_.name == "bkt"))),
      "per-doc prefix window is not bucket-partitioned")
    assert(wins.exists(_.partitionSpec.exists(_.references.exists(_.name == "sbkt"))),
      "bucket-offset window is not super-bucket-partitioned")
    // and the result is bucketSize-invariant (the prefix sum is exact,
    // not an approximation tied to the chosen bucketing)
    val other = Curation.packShards(real, 2048L, bucketSize = 7)
      .collect().toSeq.map(_.toSeq)
    assert(other == fast.collect().toSeq.map(_.toSeq))
  }

  test("sequence packing tiles the concatenated token stream into exact-length sequences") {
    import org.apache.spark.sql.functions._
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val L = 128L
    val packed = Curation.packSequences(real, L, bucketSize = 64)
    val got = packed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // driver-side reference stream: all docs' tokens in doc_id order
    val docToks = real.select(col("doc_id"), split(col("text"), " ").as("w"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    val byDoc = docToks.toMap
    val global = docToks.flatMap { case (id, w) => w.map(t => (id, t)) }
    // each span must reproduce the exact global-stream slice it claims
    got.foreach { case (seq, doc, dOff, sOff, len) =>
      val slice = global.slice((seq * L + sOff).toInt, (seq * L + sOff + len).toInt)
      assert(slice.forall(_._1 == doc), s"seq $seq span of doc $doc overlaps others")
      assert(slice.map(_._2).toSeq ==
        byDoc(doc).slice(dOff.toInt, (dOff + len).toInt).toSeq)
    }
    // sequences tile [0, L) gaplessly; all but the last are exactly L
    val nSeq = got.map(_._1).max + 1
    assert(nSeq == (global.length + L - 1) / L)
    got.groupBy(_._1).foreach { case (seq, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"seq $seq does not start at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"gap inside seq $seq")
        case _ =>
      }
      val total = sorted.map(_._5).sum
      if (seq < nSeq - 1) assert(total == L, s"seq $seq is not full")
      else assert(total <= L)
    }
    // docs really do split across boundaries at this seqLen
    assert(got.groupBy(_._2).values.exists(_.size > 1))
    // scale shape: the shared prefix sum keeps its single unpartitioned
    // window (super-bucket totals); layout + bucketSize must not move rows
    val unpart = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.size == 1)
    val re = Curation.packSequences(real.repartition(13), L, bucketSize = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(re.toSeq == got.toSeq)
  }

  test("incremental sequence packing continues the stream exactly where the union pack would") {
    import org.apache.spark.sql.functions._
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val L = 128L
    val cut = real.agg(expr("(max(doc_id) * 4) div 5")).head().getLong(0)
    val index = real.filter(col("doc_id") < cut)
    val batch = real.filter(col("doc_id") >= cut)
    val whole = Curation.packSequences(real, L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val inc = Curation.packSequencesWith(Curation.packState(index), batch, L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(inc.toSeq == whole.filter(_._2 >= cut).toSeq)
    // the boundary sequence really is shared: the batch's first span
    // completes a sequence the index left partially filled
    assert(inc.head._4 > 0L, "batch should continue a partially-filled sequence")
    // empty state packs identically to a fresh whole-corpus run
    val fresh = Curation.packSequencesWith(
      Curation.packState(real.filter(lit(false))), real, L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(fresh.toSeq == whole.toSeq)
    // state update is O(batch) and equals a recount of the union
    val after = Curation.packStateAfter(Curation.packState(index), batch).head()
    val direct = Curation.packState(real).head()
    assert(after.toSeq == direct.toSeq)
    // monotone-id guard: an interleaving batch is rejected loudly
    val err = intercept[IllegalArgumentException] {
      Curation.packSequencesWith(Curation.packState(real), batch, L)
    }
    assert(err.getMessage.contains("frontier"))
    // layout invariance: partitioning and bucketSize must not move spans
    val re = Curation.packSequencesWith(Curation.packState(index),
      batch.repartition(13), L, bucketSize = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(re.toSeq == inc.toSeq)
  }

  test("epoch shuffle: per-epoch bijection, distinct permutations, bounded windows") {
    import org.apache.spark.sql.functions._
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val L = 128L
    val out = Curation.shuffleEpochs(real, L, nEpochs = 2, nShards = 8)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = real.agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    val nSeqs = (total + L - 1) / L
    // every sequence appears exactly once per epoch
    (0L to 1L).foreach { e =>
      val seqs = got.filter(_._1 == e).map(_._2)
      assert(seqs.length == nSeqs && seqs.toSet == (0L until nSeqs).toSet)
    }
    // positions are contiguous 1..n within each (epoch, shard)
    got.groupBy(r => (r._1, r._3)).foreach { case ((e, s), rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"non-contiguous positions in epoch $e shard $s")
    }
    // epochs are genuinely different permutations of the same sequences
    val order0 = got.filter(_._1 == 0L).sortBy(r => (r._3, r._4)).map(_._2)
    val order1 = got.filter(_._1 == 1L).sortBy(r => (r._3, r._4)).map(_._2)
    assert(order0.toSeq != order1.toSeq)
    // reproducible bit-for-bit, and epochOffset slices the same table
    val again = Curation.shuffleEpochs(real, L, nEpochs = 2, nShards = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == got.toSeq)
    val e1 = Curation.shuffleEpochs(real, L, nEpochs = 1, nShards = 8,
      epochOffset = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(e1.toSeq == got.filter(_._1 == 1L).toSeq)
    // scale shape: position windows are partitioned (epoch, shard) — no
    // unpartitioned window anywhere in the plan
    val unpart = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty)
  }

  test("corpus writer: language partition dirs on disk, pruned reads, full manifest") {
    import org.apache.spark.sql.functions._
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    val root = java.nio.file.Files.createTempDirectory("corpus_spec_")
    val out = root.resolve("docs").toString
    val manifest = graft.sinks.CorpusSink.writePartitioned(real, out)
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("pred_lang=")),
      s"expected pred_lang= partition dirs, got ${dirs.mkString(",")}")
    assert(manifest.agg(sum(col("n_docs"))).head.getLong(0) == real.count(),
      "manifest must account for every input doc")
    // consumers prune whole partitions: a pred_lang filter must land in
    // PartitionFilters, not a post-scan Filter
    val plan = spark.read.parquet(out).filter(col("pred_lang") === "en")
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("pred_lang")),
      s"pred_lang filter did not reach PartitionFilters: $plan")
    graft.streaming.StreamingSessions.deleteRecursively(root)
  }

  test("source reputation: known dup rate and TTR on a fixed fixture") {
    import spark.implicits._
    // source A: 4 docs, 2 distinct texts -> dup_bp 5000; B: all unique
    val fixture = Seq(
      (1L, "a b c d", "A"), (2L, "a b c d", "A"),
      (3L, "x y x y", "A"), (4L, "x y x y", "A"),
      (5L, "p q r s", "B"), (6L, "p p p p", "B"))
      .toDF("doc_id", "text", "source")
    val rep = Curation.sourceReputation(fixture).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = rep("A")
    assert(a.getLong(1) == 4 && a.getLong(2) == 2, "A: 4 docs, 2 unique")
    assert(a.getLong(3) == 5000, s"A dup_bp: got ${a.getLong(3)}")
    assert(a.getLong(4) == 4, "A avg_tokens")
    // A ttr: docs 1,2 -> 10000; docs 3,4 -> 2/4 = 5000 bp exactly;
    // mean = (2*10000 + 2*5000) / 4 = 7500
    assert(a.getLong(5) == 7500, s"A avg_ttr_bp: got ${a.getLong(5)}")
    val b = rep("B")
    assert(b.getLong(3) == 0, "B has no duplicates")
    // corpus accounting: per-source doc counts cover every doc exactly once
    val real = docs
    val total = Curation.sourceReputation(real)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(total == real.count(), "reputation rows must cover the corpus")
  }

  test("source gate: whole-source drops, survivors pass the floor") {
    val real = docs
    val rep = Curation.sourceReputation(real).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(5))).toSeq
    val badSources = rep.filter { case (_, dup, ttr) =>
      ttr < 4800 || dup > 2000 }.map(_._1).toSet
    assert(badSources.nonEmpty && badSources.size < rep.size,
      s"thresholds must split the fixture sources, got ${badSources.size}/${rep.size}")
    val kept = Curation.gateBySource(real).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.forall { case (_, src) => !badSources.contains(src) },
      "no document from a gated source may survive")
    // whole-source semantics: every doc of every surviving source is kept
    val keptBySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    val inputBySrc = real.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    keptBySrc.foreach { case (src, n) =>
      assert(n == inputBySrc(src), s"source $src partially dropped") }
  }

  test("row-local gate scores equal the exploded-token spelling on degenerate texts") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // the sf0.001 corpus plus one doc of each degenerate text shape:
    // null, empty, double spaces, a single token, repeated tokens
    val edge = Seq(
      (9001L, null: String, "edge.a"), (9002L, "", "edge.a"),
      (9003L, "a  b", "edge.a"), (9004L, "solo", "edge.b"),
      (9005L, "x x y x", "edge.b"), (9006L, "y  y ", "edge.b"),
      (9007L, null: String, "edge.c"))
      .toDF("doc_id", "text", "source")
    val corpus = docs.select("doc_id", "text", "source").union(edge)
    // the reference spelling: the distinct count is an exploded
    // (doc_id, tok) distinct joined back on doc_id
    def explodedReputation(d: DataFrame): DataFrame = {
      val nDistinct = d
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_distinct"))
      d.select(col("doc_id"), col("source"), md5(col("text")).as("text_key"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(nDistinct, "doc_id")
        .select(col("source"), col("text_key"), col("n_tokens"),
          expr("(n_distinct * 20000 + n_tokens) div (2 * n_tokens)").as("ttr_bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text_key")).as("n_unique_texts"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("ttr_bp")).as("sum_ttr"))
        .select(col("source"), col("n_docs"), col("n_unique_texts"),
          expr("((n_docs - n_unique_texts) * 20000 + n_docs) div (2 * n_docs)")
            .as("dup_bp"),
          expr("(total_tokens * 2 + n_docs) div (2 * n_docs)").as("avg_tokens"),
          expr("(sum_ttr * 2 + n_docs) div (2 * n_docs)").as("avg_ttr_bp"))
    }
    def rows(d: DataFrame) = d.collect().map(_.toSeq).toSet
    assert(rows(Curation.sourceReputation(corpus)) == rows(explodedReputation(corpus)))
    // a null-text doc gets no reputation row: 501 docs count as 500
    val oneNull = docs.select("doc_id", "text", "source")
      .union(Seq((9001L, null: String, "edge.a")).toDF("doc_id", "text", "source"))
    assert(Curation.sourceReputation(oneNull)
      .agg(sum(col("n_docs"))).head.getLong(0) == 500L)

    // gateBySource: the anti-join against the exploded reputation
    for ((minTtr, maxDup) <- Seq((4800L, 2000L), (0L, 10000L), (9000L, 0L))) {
      val bad = explodedReputation(corpus)
        .filter(col("avg_ttr_bp") < minTtr || col("dup_bp") > maxDup)
        .select(col("source").as("bad_source"))
      val want = corpus.join(bad, col("source") <=> col("bad_source"), "left_anti")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long"))
      assert(rows(Curation.gateBySource(corpus, minTtr, maxDup)) == rows(want),
        s"gateBySource($minTtr, $maxDup)")
    }

    // qualityQuantileGate: the reference score is TextAnalysis.qualityScore's
    // exploded ttr_bp; the kept set is every score >= the highest score
    // whose docs at or above it reach keepBps of the scored docs
    val scored = graft.functions.TextAnalysis.qualityScore(corpus)
      .select(col("doc_id"), col("ttr_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(!scored.exists(r => r._1 == 9001L || r._1 == 9007L))
    for (keepBps <- Seq(2500, 7500, 10000)) {
      val desc = scored.groupBy(_._2).map { case (bp, ds) => bp -> ds.size.toLong }
        .toSeq.sortBy(-_._1)
      val atOrAbove = desc.scanLeft(0L)(_ + _._2).tail
      val thr = desc.map(_._1).zip(atOrAbove)
        .collectFirst { case (bp, c) if c * 10000 >= scored.size * keepBps => bp }.get
      val want = scored.filter(_._2 >= thr).sortBy(_._1)
      val got = Curation.qualityQuantileGate(corpus, keepBps).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got == want, s"qualityQuantileGate($keepBps)")
    }
    // keep-all on the edge docs alone: every doc but the two null texts
    assert(Curation.qualityQuantileGate(edge, 10000).count() == 5L)
  }

  test("training-data pipeline: every survivor passes every stage, shards respect capacity") {
    val rows = SparkEntry.queries("pipeline_training_data")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val survivors = rows.map(_._1).toSet
    val real = docs
    // stage 4: no survivor is a non-canonical near-dup member
    val nonCanonical = NearDup.nearDupClusters(real)
      .filter(col("doc_id") =!= col("cluster_id"))
      .collect().map(_.getLong(0)).toSet
    assert(survivors.intersect(nonCanonical).isEmpty, "near-dup gate")
    // stage 3: survivor texts are pairwise distinct
    val texts = real.filter(col("doc_id").isin(survivors.toSeq: _*))
      .select(md5(col("text"))).collect().map(_.getString(0))
    assert(texts.length == texts.distinct.length, "exact-dedup gate")
    // stage 1: no survivor comes from a gated-out source
    val keptSources = Curation.gateBySource(real).collect()
      .map(_.getString(1)).toSet
    val survivorSources = real
      .filter(col("doc_id").isin(survivors.toSeq: _*))
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(survivorSources.subsetOf(keptSources), "domain gate")
    // stage 5: consecutive-doc packing never splits a shard's budget
    // (prefix-sum contract: shard_id is monotone non-decreasing in doc_id
    // and each shard's token total stays under capacity + one doc)
    val byShard = rows.groupBy(_._3)
    assert(rows.sortBy(_._1).map(_._3).toSeq.sliding(2)
      .forall(s => s.length < 2 || s(0) <= s(1)), "shard ids monotone")
    byShard.foreach { case (sid, docsIn) =>
      val tot = docsIn.map(_._2).sum
      val maxDoc = docsIn.map(_._2).max
      assert(tot < 2048L + maxDoc, s"shard $sid over budget: $tot")
    }
  }

  test("weighted sample: membership is exactly bucket < score, reproducible") {
    val real = docs
    val kept = Curation.weightedSample(real).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.nonEmpty && kept.size < real.count())
    // exact membership rule, recomputed independently
    val scored = graft.functions.TextAnalysis.qualityScore(real)
      .select(col("doc_id"), col("ttr_bp"),
        Curation.sampleBucket(col("doc_id")).as("bkt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    scored.foreach { case (id, ttr, bkt) =>
      assert(kept.contains(id) == (bkt < ttr), s"doc $id: bkt=$bkt ttr=$ttr")
    }
    // reproducible
    val again = Curation.weightedSample(real).collect()
      .map(r => r.getLong(0)).toSet
    assert(again == kept.keySet)
  }

  test("corpus diff: all four statuses, exactly once per id") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(old, neu).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")), s"got ${got.toSeq}")
    // self-diff of the real corpus: everything unchanged
    val real = docs
    val self = Curation.corpusDiff(real, real)
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
    assert(self.count() == real.count())
  }

  test("vocab + token-id encoding: dense ids, exact roundtrip, OOV = 0") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "the cat sat"), (2L, "the dog sat"), (3L, "the cat ran far"))
      .toDF("doc_id", "text")
    // k=3 vocab: the(3) > cat(2) = sat(2) -> tie broken by token asc
    val vocab = graft.functions.TextAnalysis.buildVocab(fixture, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(vocab.toSeq == Seq((1L, "the", 3L), (2L, "cat", 2L), (3L, "sat", 2L)),
      s"got ${vocab.toSeq}")
    val enc = graft.functions.TextAnalysis.encodeTokenIds(fixture, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(enc.toSeq == Seq(
      (1L, 3L, 0L, "1 2 3"), (2L, 3L, 1L, "1 0 3"), (3L, 4L, 2L, "1 2 0 0")),
      s"got ${enc.toSeq}")
    // real-corpus invariants: id-string arity == token count, OOV bounded
    val real = docs
    val e = graft.functions.TextAnalysis.encodeTokenIds(real, 100).collect()
    e.foreach { r =>
      assert(r.getString(3).split(" ").length == r.getLong(1),
        s"doc ${r.getLong(0)}: ids arity != n_tokens")
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("constraint suite: exact violation counts on a planted-defect fixture") {
    import spark.implicits._
    // 6 rows, one planted violation per check (row 5 violates two checks)
    val bad = Seq(
      (Option(1L), Option("abc"), Option("en"), Option("src1"), Option(3L)),   // clean
      (Option(2L), Option("xy"), Option("xx"), Option("src2"), Option(2L)),    // bad lang
      (None, Option("ok"), Option("en"), Option("src3"), Option(2L)),          // null key
      (Option(4L), None, Option("en"), Option("web"), Option(2L)),             // null text + bad source
      (Option(4L), Option(""), Option("en"), Option("src4"), Option(0L)),      // dup key + empty text
      (Option(6L), Option("abcd"), None, None, Option(9L)))                    // null lang/source + wrong len
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curation.validateConstraints(bad).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet == Set("doc_id_complete", "doc_id_unique", "text_nonempty",
      "lang_in_domain", "source_format", "n_chars_consistent", "n_chars_nonnegative"))
    assert(got("doc_id_complete") == ((1L, 6L, false)))
    // duplicates judged among NON-NULL keys only: the null-key row is
    // doc_id_complete's finding and must not double-bill here
    assert(got("doc_id_unique") == ((1L, 6L, false)),
      "5 non-null keys − 4 distinct = 1 duplicate (null key excluded)")
    assert(got("text_nonempty") == ((2L, 6L, false)), "null text + empty text")
    assert(got("lang_in_domain") == ((2L, 6L, false)), "xx + null lang")
    assert(got("source_format") == ((2L, 6L, false)), "web + null source")
    assert(got("n_chars_consistent") == ((1L, 6L, false)), "len('abcd')=4 != 9")
    assert(got("n_chars_nonnegative") == ((0L, 6L, true)))
  }

  test("constraint suite: empty corpus passes vacuously (0 rows, 0 violations)") {
    val rows = Curation.validateConstraints(docs.limit(0)).collect()
    assert(rows.length == 7, "all 7 checks still report")
    rows.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getBoolean(3),
        s"${r.getString(0)}: empty input must be 0 violations / 0 rows / passed")
    }
  }

  test("constraint suite: the shipped corpus passes every check in one scan") {
    val rows = Curation.validateConstraints(docs).collect()
    assert(rows.length == 7)
    rows.foreach(r => assert(r.getBoolean(3),
      s"fixture violates ${r.getString(0)}: ${r.getLong(1)} rows"))
    // single scan modulo the distinct-aggregate Expand: exactly one
    // parquet scan of documents in the plan (string-match through the
    // AQE wrapper, same technique as PlanAuditSpec)
    val plan = Curation.validateConstraints(docs).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"constraint suite must be one pass, saw $scans scans")
  }

  test("leakage guard: cross-split near-dup quarantined, intra-split kept") {
    import spark.implicits._
    // the split is a pure function of doc_id (md5 bucket), so first find
    // one test id and three train ids at testBps = 5000, then plant texts
    val buckets = (1L to 40L).map { id =>
      id -> Curation.sampleBucket(lit(id))
    }
    val bucketVals = spark.range(1)
      .select(buckets.map { case (id, c) => c.as(s"b$id") }: _*).head()
    val isTest = (1L to 40L).map(id =>
      id -> (bucketVals.getAs[Long](s"b$id") < 5000L)).toMap
    val testId = (1L to 40L).find(isTest(_)).get
    val trains = (1L to 40L).filterNot(isTest(_)).take(3)
    val Seq(leakyId, pairAId, pairBId) = trains
    val held = "alpha beta gamma delta epsilon zeta"
    val other = "omega psi chi phi upsilon tau"
    val docs = Seq(
      (testId, held),                 // test doc
      (leakyId, held + " eta"),       // train near-dup of the TEST doc
      (pairAId, other),               // train-train near-dup pair:
      (pairBId, other + " sigma"))    //   both must STAY train
      .toDF("doc_id", "text")
    val out = Curation.splitWithLeakageGuard(docs, testBps = 5000).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(testId) == "test")
    assert(out(leakyId) == "quarantine",
      "train-side near-dup of a held-out doc must be culled")
    assert(out(pairAId) == "train" && out(pairBId) == "train",
      "train-train duplicates do not cross the split boundary")
  }

  test("fuzzy decontamination: equals the exact Jaccard cross-set restriction") {
    val out = Curation.decontaminateFuzzy(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.nonEmpty, "fixture must contain cross-set near-dups")
    val isEval = docs.select(col("doc_id"),
        (Curation.sampleBucket(col("doc_id")) < 1000).as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // independent derivation: the exact inverted-index Jaccard pair set
    // (no minhash anywhere), restricted to pairs crossing the eval split
    val expected = NearDup.jaccardNearDupsExact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .flatMap { case (i, j, bp) => (isEval(i), isEval(j)) match {
        case (false, true) => Some((i, j, bp))
        case (true, false) => Some((j, i, bp))
        case _ => None
      }}
      .groupBy(_._1).map { case (d, hits) =>
        (d, hits.length.toLong, hits.map(_._3).max)
      }.toSet
    assert(out == expected, "LSH candidates + verify must equal brute cross-set")
    assert(out.forall { case (d, _, _) => !isEval(d) }, "eval docs never flagged")
  }

  test("importance sampling: quota with tie class, target enrichment, exact weights") {
    val kept = Curation.importanceSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = docs.count()
    assert(kept.length * 10000L >= n * 2500, "kept set must reach the quota")
    // minimality: dropping the boundary tie class falls below the quota
    val thr = kept.map(_._3).min
    assert(kept.count(_._3 > thr) * 10000L < n * 2500,
      "threshold must be the HIGHEST score meeting the quota")
    // determinism
    val again = Curation.importanceSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept.toSeq == again.toSeq)
    // target enrichment: en share among kept exceeds the pool's en share
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptEn = kept.count(k => langOf(k._1) == "en").toDouble / kept.length
    val poolEn = langOf.values.count(_ == "en").toDouble / n
    assert(keptEn > poolEn,
      f"importance weights must enrich the target: kept $keptEn%.2f vs pool $poolEn%.2f")
    // weight table: raw totals exact, milli-ratio inside its domain bound
    val wt = Curation.importanceWeights(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val totT = wt.map(_._1).sum; val totR = wt.map(_._2).sum
    assert(wt.forall { case (t, r, _) => t <= r })
    val bound = 1000L * (totR + 4096) / (totT + 4096)
    assert(wt.forall(_._3 <= bound),
      s"w_milli must respect the 1000/target-fraction histogram bound $bound")
  }

  test("frozen-artifact decontamination equals the whole-corpus screen restricted to the batch") {
    val whole = Curation.decontaminate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(whole.nonEmpty)
    // artifact round-trip through parquet (what a deployment ships)
    val root = java.nio.file.Files.createTempDirectory("graft-decon-art")
    try {
      Curation.evalNgramArtifact(docs)
        .write.parquet(root.resolve("eval_ngrams").toString)
      val art = spark.read.parquet(root.resolve("eval_ngrams").toString)
      // screen an arbitrary slice (odd doc ids, eval excluded) as a batch
      val batch = docs.filter(col("doc_id") % 2 === 1 &&
        Curation.sampleBucket(col("doc_id")) >= 1000)
      val got = Curation.decontaminateWith(art, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val expected = whole.filter(r => r._1 % 2 == 1)
      assert(got == expected,
        "batch screening against the frozen artifact must equal the " +
          "whole-corpus screen's restriction")
    } finally graft.streaming.StreamingSessions.deleteRecursively(root)
  }

  test("frozen-artifact fuzzy screen equals the whole-corpus screen restricted to the batch") {
    val whole = Curation.decontaminateFuzzy(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(whole.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft-fuzzy-art")
    try {
      val (bands, shingles) = Curation.evalFuzzyArtifacts(docs)
      bands.write.parquet(root.resolve("bands").toString)
      shingles.write.parquet(root.resolve("shingles").toString)
      val batch = docs.filter(col("doc_id") % 2 === 1 &&
        Curation.sampleBucket(col("doc_id")) >= 1000)
      val got = Curation.decontaminateFuzzyWith(
          spark.read.parquet(root.resolve("bands").toString),
          spark.read.parquet(root.resolve("shingles").toString), batch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == whole.filter(r => r._1 % 2 == 1),
        "batch screening against frozen band/shingle artifacts must equal " +
          "the whole-corpus screen's restriction")
    } finally graft.streaming.StreamingSessions.deleteRecursively(root)
  }

  test("decontaminated corpus: survivors + flagged + eval partition the corpus") {
    val survivors = Curation.decontaminatedCorpus(docs).collect()
      .map(_.getLong(0)).toSet
    assert(survivors.nonEmpty)
    val flagged = Curation.decontaminate(docs).collect().map(_.getLong(0)).toSet ++
      Curation.decontaminateFuzzy(docs).collect().map(_.getLong(0)).toSet
    val eval = docs.filter(Curation.sampleBucket(col("doc_id")) < 1000)
      .collect().map(_.getLong(0)).toSet
    assert(survivors.intersect(flagged).isEmpty, "no flagged doc survives")
    assert(survivors.intersect(eval).isEmpty, "the eval slice never ships")
    val all = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(survivors ++ flagged ++ eval == all,
      "every doc is accounted for (screens only flag non-eval docs)")
  }

  test("incremental importance admission: frozen artifacts, per-doc purity") {
    val cut = docs.agg(expr("(max(doc_id) * 4) div 5").cast("long"))
      .head().getLong(0)
    val pool = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    val admitted = Curation.importanceSampleIncremental(pool, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(admitted.nonEmpty, "fixture batch must have admissions")
    // per-doc purity: a batch doc's verdict cannot depend on its batch —
    // replaying ONE admitted and ONE rejected doc as singleton batches
    // must reproduce their verdicts exactly
    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0))
    val rejectedId = batchIds.filterNot(admitted.contains).head
    val admittedId = admitted.keys.min
    val aloneA = Curation.importanceSampleIncremental(pool,
      batch.filter(col("doc_id") === admittedId)).collect()
    assert(aloneA.length == 1 && aloneA.head.getLong(2) == admitted(admittedId),
      "admitted doc must be admitted alone, with the same score")
    val aloneR = Curation.importanceSampleIncremental(pool,
      batch.filter(col("doc_id") === rejectedId)).collect()
    assert(aloneR.isEmpty, "rejected doc must be rejected alone too")
    // the frozen threshold is the POOL quantile gate's: every admitted
    // score clears the one-shot sampler's threshold on the pool
    val poolThr = Curation.importanceSample(pool).collect()
      .map(_.getLong(2)).min
    assert(admitted.values.forall(_ >= poolThr),
      "admission threshold must be the pool-trained quantile threshold")
  }
}
