package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators (north-star extension): the
  * sample/measure/clean funnel a data pipeline runs in front of model
  * training. No reference equivalent.
  *
  * Scale shapes:
  *  - [[deterministicSample]] is a pure map-side filter on a content-free
  *    hash of the key — no shuffle, no RNG state, reproducible across
  *    runs/engines/partitionings (the property that matters when a 100 TB
  *    sample must be re-derivable months later).
  *  - [[corpusStats]] is one partial-aggregated rollup — integer-only
  *    outputs so the oracle comparison is exact.
  *  - [[cleanCorpus]] composes the quality gate, exact dedup, and
  *    near-dup canonicalization into the standard curation DAG: every
  *    stage is a relational operator from this engine, and the near-dup
  *    exclusion is a plain left-anti equi-join against the cluster frame
  *    (duplicate-rate-proportional, so never hint-broadcast).
  */
object Curation {

  /** Uniform-in-[0,10000) deterministic bucket for a key: the first 8 hex
    * chars of md5(key as string) mod 10000. Engine-portable (md5 and
    * hex→decimal agree everywhere) — unlike xxhash-based buckets, an
    * independent SQL engine can replicate it bit-for-bit.
    */
  def sampleBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % 10000

  /** Keep ~`bps`/10000 of rows, deterministically by `doc_id`. */
  def deterministicSample(documents: DataFrame, bps: Int): DataFrame =
    documents
      .filter(sampleBucket(col("doc_id")) < bps)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** One-row corpus rollup: doc/text/token/char totals, all integers —
    * including on an EMPTY corpus (sum/min/max aggregate to null there;
    * the coalesce keeps the integer-only oracle contract for empty daily
    * batches).
    */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_unique_texts"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"),
        coalesce(min(col("n_tokens")), lit(0L)).as("min_tokens"),
        coalesce(max(col("n_tokens")), lit(0L)).as("max_tokens"),
        coalesce(sum(col("n_chars")), lit(0L)).as("total_chars"))

  /** Stratified deterministic sample: `perStratum` docs per predicted
    * language, chosen by the content-free [[sampleBucket]] order (so the
    * within-stratum choice is reproducible and unbiased by doc order).
    * Composition of the language-ID operator with the sampler — the
    * "balance the corpus across languages" step of a curation pipeline.
    */
  def stratifiedSample(documents: DataFrame, perStratum: Int,
                       subStrata: Int = 16): DataFrame = {
    // langId already emits exactly one row per doc_id of `documents`
    // (minus token-less docs, which have no stratum) — joining back
    // against the documents id set would be an identity at the cost of a
    // corpus-proportional shuffle join
    val keyed = graft.functions.TextAnalysis.langId(documents)
      .select(col("doc_id"), col("pred_lang"))
      .withColumn("bkt", sampleBucket(col("doc_id")))
    // Two-level top-k so no stratum ever needs a single-reducer sort of
    // its full population. Level 1 ranks inside (stratum, bucket-range)
    // sub-strata — `subStrata`-way parallel windows over ~1/subStrata of
    // each stratum. Because sub-strata are contiguous ranges of the
    // global (bkt, doc_id) order, any row in a stratum's global
    // top-perStratum has at most perStratum-1 predecessors in its own
    // sub-stratum too, so the local filter is EXACT (a prefix property,
    // not a probabilistic cutoff). Level 2 then ranks at most
    // subStrata × perStratum survivors per stratum — bounded by
    // constants, independent of corpus size. On a cluster, size
    // subStrata ≈ stratum-rows / rows-per-task.
    val wLocal = Window.partitionBy(col("pred_lang"), col("sub"))
      .orderBy(col("bkt"), col("doc_id"))
    // width ≥ 1: more sub-strata than bucket values degenerates to
    // per-bucket groups (still exact); integer-dividing by 0 would
    // instead collapse the stratum into one null group — the very
    // single-reducer sort this operator exists to avoid
    val subWidth = math.max(1, 10000 / math.max(1, subStrata))
    val pruned = keyed
      .withColumn("sub", floor(col("bkt") / lit(subWidth)))
      .withColumn("local_rank", row_number().over(wLocal))
      .filter(col("local_rank") <= perStratum)
    val w = Window.partitionBy(col("pred_lang"))
      .orderBy(col("bkt"), col("doc_id"))
    pruned
      .withColumn("stratum_rank", row_number().over(w).cast("long"))
      .filter(col("stratum_rank") <= perStratum)
      .select(col("doc_id"), col("pred_lang"), col("stratum_rank"))
      .orderBy(col("pred_lang"), col("stratum_rank"))
  }

  /** Deterministic mixture sampler — the data-MIXING step of training
    * corpus assembly: each language keeps `ratesBps(lang)`/10000 of its
    * documents (the per-source weights of a training mixture), applied as
    * content-free Bernoulli thinning by [[sampleBucket]] on `doc_id`.
    * Languages absent from `ratesBps` are dropped (rate 0).
    *
    * Reproducibility is the design constraint: re-deriving the same
    * mixture months later, on different partitioning, must give the same
    * rows — hence hash thinning, no RNG. Scale shape: language-ID's token
    * aggregate is the only shuffle; the rate lookup and threshold are a
    * map-side filter over its output.
    */
  def mixtureSample(documents: DataFrame, ratesBps: Map[String, Int]): DataFrame = {
    // disjoint per-language conditions, so map iteration order is
    // irrelevant to the result
    val rateCol = ratesBps.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("pred_lang") === l, lit(r)).otherwise(acc)
    }
    graft.functions.TextAnalysis.langId(documents)
      .select(col("doc_id"), col("pred_lang"))
      .filter(sampleBucket(col("doc_id")) < rateCol)
      .orderBy(col("doc_id"))
  }

  /** Token-budget mixture sampler — [[mixtureSample]] re-expressed in the
    * unit a training run actually budgets: N TOKENS per language, not a
    * per-document keep rate. Documents are admitted per language in
    * content-free ([[sampleBucket]], doc_id) order until the language's
    * token budget is exhausted: a document is kept iff the total tokens
    * of all earlier documents in that order (its exclusive prefix) sit
    * below the budget — overshoot is at most one document, and
    * re-deriving the mixture months later on any partitioning reproduces
    * it row-for-row. Languages absent from `budgetTokens` are dropped.
    *
    * Scale shape: the per-language running total follows the
    * [[packShards]] prefix-sum recipe with the md5 bucket ITSELF as the
    * grouping level — per-(lang, bucket) token totals (≤ 10k groups per
    * language, bounded), running offsets over those totals (windows over
    * ≤ 10k rows per language), then intra-bucket exclusive prefixes
    * (windows partitioned by (lang, bucket), each ~1/10000 of a
    * language, all parallel). No window runs unpartitioned over a
    * corpus-proportional frame.
    */
  def mixtureSampleTokens(documents: DataFrame,
                          budgetTokens: Map[String, Long]): DataFrame = {
    // -1 sentinel for absent languages: no exclusive prefix is < -1, so
    // they drop; disjoint conditions make map order irrelevant
    val budgetCol = budgetTokens.foldLeft(lit(-1L)) { case (acc, (l, b)) =>
      when(col("pred_lang") === l, lit(b)).otherwise(acc)
    }
    val toks = graft.functions.TextAnalysis.langId(documents)
      .select(col("doc_id"), col("pred_lang"))
      .join(documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
      .withColumn("bkt", sampleBucket(col("doc_id")))
    val wB = Window.partitionBy(col("pred_lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("pred_lang"), col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn("bkt_offset",
        coalesce(sum(col("bkt_tokens")).over(wB), lit(0L)))
      .select(col("pred_lang"), col("bkt"), col("bkt_offset"))
    val wI = Window.partitionBy(col("pred_lang"), col("bkt"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    toks.join(offsets, Seq("pred_lang", "bkt"))
      .withColumn("prefix_tokens",
        col("bkt_offset") + coalesce(sum(col("n_tokens")).over(wI), lit(0L)))
      .filter(col("prefix_tokens") < budgetCol)
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"),
        col("prefix_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing — the "cut the corpus into ~N-token
    * training shards" step of an LLM data pipeline. Contract: documents
    * are packed in `doc_id` order and a document belongs to shard
    * `floor(exclusive_prefix_tokens / capacity)` — deterministic,
    * order-stable, and SQL-expressible, so the oracle pins it exactly.
    *
    * Scale shape: a global running sum is the textbook distributed
    * prefix-sum, NOT one global window (which would serialize the corpus
    * through a single reducer). Two recursion levels: (1) per-bucket token
    * totals — a parallel aggregation over `doc_id div bucketSize` buckets;
    * (2) bucket offsets via SUPER-buckets of `bucketSize` buckets each —
    * running offsets across super-bucket totals (the only unpartitioned
    * window, over |corpus|/bucketSize² rows: ~600 rows at 10^10 docs —
    * sub-dimension-sized at any plausible corpus) plus per-super-bucket
    * running offsets of its buckets (windows partitioned by super-bucket,
    * ≤ bucketSize rows each, all parallel); (3) intra-bucket exclusive
    * prefix sums — windows partitioned by bucket, all parallel — plus the
    * bucket offset. No window anywhere runs unpartitioned over a
    * corpus-proportional frame (plan-asserted in CurationSpec).
    */
  def packShards(documents: DataFrame, capacityTokens: Long,
                 bucketSize: Long = 4096): DataFrame = {
    require(capacityTokens > 0,
      s"capacityTokens must be positive, got $capacityTokens")
    tokenPrefix(documents, bucketSize)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"prefix div $capacityTokens").as("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** `(doc_id, n_tokens, prefix)` where `prefix` is the exclusive global
    * running token total in `doc_id` order — the distributed prefix sum
    * described in [[packShards]]'s scale note, shared by [[packShards]]
    * and [[packSequences]].
    */
  private def tokenPrefix(documents: DataFrame,
                          bucketSize: Long): DataFrame = {
    // a non-positive bucket size makes `doc_id div bucketSize` reverse
    // (or explode) the bucket order the offset windows sort by — the
    // prefix sum would be silently wrong, not slow
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr(s"doc_id div $bucketSize").as("bkt"))
    val bktTotals = toks.groupBy(col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn("sbkt", expr(s"bkt div $bucketSize"))
    val wSB = Window.orderBy(col("sbkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sbOffsets = bktTotals.groupBy(col("sbkt"))
      .agg(sum(col("bkt_tokens")).as("sb_tokens"))
      .withColumn("sb_offset",
        coalesce(sum(col("sb_tokens")).over(wSB), lit(0L)))
      .select(col("sbkt"), col("sb_offset"))
    val wBinSB = Window.partitionBy(col("sbkt")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bktTotals.join(sbOffsets, "sbkt")
      .withColumn("bkt_offset", col("sb_offset") +
        coalesce(sum(col("bkt_tokens")).over(wBinSB), lit(0L)))
      .select(col("bkt"), col("bkt_offset"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(offsets, "bkt")
      .withColumn("prefix",
        col("bkt_offset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("prefix"))
  }

  /** Sequence packing — the step AFTER tokenization in a training-data
    * pipeline: the corpus token streams, concatenated in `doc_id` order,
    * are cut into fixed-length training sequences of exactly `seqLen`
    * tokens, and documents SPLIT across sequence boundaries (unlike
    * [[packShards]], which assigns whole documents, and [[chunkDocs]],
    * which windows each document independently). The result is the
    * placement table a sequence writer materializes from: one row per
    * (sequence, document) overlap with the document's token span
    * `[doc_offset, doc_offset+len)` landing at `seq_offset` within
    * `seq_id`. Every sequence except the last is exactly `seqLen` tokens
    * with zero padding waste, and the layout is a pure function of
    * (corpus, seqLen) — any engine reproduces it bit-for-bit.
    *
    * Scale shape: the global token offset per document comes from the
    * shared [[tokenPrefix]] distributed prefix sum; everything after is
    * map-only — each document explodes into the `n/seqLen + 1`-bounded
    * list of sequences it touches, and the spans are arithmetic on the
    * offset. Tokens are never materialized (the table holds spans, not
    * token arrays), so the output is ~|corpus| + |tokens|/seqLen fixed-
    * width rows, never token-proportional.
    */
  def packSequences(documents: DataFrame, seqLen: Long,
                    bucketSize: Long = 4096): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    sequenceSpans(tokenPrefix(documents, bucketSize), seqLen)
  }

  /** The map-only tail of [[packSequences]]: explode each prefixed doc
    * into its (sequence, span) overlap rows. `prefixed` must carry
    * `(doc_id, n_tokens, prefix)` with `prefix` the exclusive global
    * token offset of the doc in the concatenated stream.
    */
  private def sequenceSpans(prefixed: DataFrame, seqLen: Long): DataFrame =
    prefixed
      .withColumn("seq_id", explode(sequence(
        expr(s"prefix div $seqLen"),
        expr(s"(prefix + n_tokens - 1) div $seqLen"))))
      .withColumn("slice_start",
        greatest(col("prefix"), col("seq_id") * seqLen))
      .select(
        col("seq_id"),
        col("doc_id"),
        (col("slice_start") - col("prefix")).as("doc_offset"),
        (col("slice_start") - col("seq_id") * seqLen).as("seq_offset"),
        (least(col("prefix") + col("n_tokens"), (col("seq_id") + 1) * seqLen)
          - col("slice_start")).as("len"))
      .orderBy(col("seq_id"), col("doc_id"))

  /** The single-row pack-state artifact a [[packSequencesWith]] deployment
    * persists between runs: how much of the concatenated token stream the
    * already-packed corpus occupies, and the id frontier new batches must
    * stay above. Build once per corpus (one map-combined aggregation);
    * update per batch with [[packStateAfter]] — never rescan the index.
    */
  def packState(documents: DataFrame): DataFrame =
    documents.agg(
      count(lit(1)).as("n_docs"),
      coalesce(max(col("doc_id")), lit(-1L)).as("max_doc_id"),
      coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L))
        .as("total_tokens"))

  /** The updated artifact after a batch is packed: the next run's
    * [[packState]], computed from the old state plus one aggregation over
    * the BATCH only (O(batch), equal to `packState(index ∪ batch)`).
    *
    * Guards the same monotone-id frontier as [[packSequencesWith]]: a
    * batch overlapping the packed corpus would DOUBLE-COUNT its docs and
    * tokens here (a union would dedup them), silently corrupting the
    * persisted state and shifting every later placement.
    */
  def packStateAfter(state: DataFrame, newDocs: DataFrame): DataFrame = {
    val maxId = state.select(col("max_doc_id").cast("long")).head().getLong(0)
    val lo = newDocs.agg(min(col("doc_id")).cast("long")).head()
    require(lo.isNullAt(0) || lo.getLong(0) > maxId,
      s"packStateAfter: batch min doc_id ${lo.get(0)} is not above the " +
        s"packed corpus frontier $maxId — the state would double-count " +
        "overlapping documents; re-derive it with packState on the union")
    state.crossJoin(packState(newDocs)
        .select(col("n_docs").as("b_docs"), col("max_doc_id").as("b_max"),
          col("total_tokens").as("b_tokens")))
      .select(
        (col("n_docs") + col("b_docs")).as("n_docs"),
        greatest(col("max_doc_id"), col("b_max")).as("max_doc_id"),
        (col("total_tokens") + col("b_tokens")).as("total_tokens"))
  }

  /** Incremental sequence packing — pack a NEW batch of documents as the
    * continuation of the already-packed token stream summarized by
    * `state` ([[packState]]): the batch's spans land exactly where
    * whole-corpus [[packSequences]] over index ∪ batch would place them
    * (oracle-checked as `pack_sequences_incremental`), so a daily run
    * appends placement rows without ever touching the packed corpus. The
    * final index sequence is continued — its unfilled tail is completed
    * by the batch's first tokens, keeping the zero-padding-waste
    * invariant across runs.
    *
    * Requires the monotone-id invariant every incremental operator here
    * shares: all batch ids above the state's `max_doc_id` (checked
    * loudly; a violation means the batch would interleave with already-
    * packed docs and the placement table is no longer append-only).
    *
    * Scale: O(batch) — the state is one row, the guard is one bounded
    * aggregate, and everything else is [[packSequences]]'s prefix sum and
    * map-only explode over the batch alone.
    */
  def packSequencesWith(state: DataFrame, newDocs: DataFrame, seqLen: Long,
                        bucketSize: Long = 4096): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val st = state.select(col("max_doc_id").cast("long"),
      col("total_tokens").cast("long")).head()
    val (maxId, base) = (st.getLong(0), st.getLong(1))
    val lo = newDocs.agg(min(col("doc_id")).cast("long")).head()
    require(lo.isNullAt(0) || lo.getLong(0) > maxId,
      s"packSequencesWith: batch min doc_id ${lo.get(0)} is not above the " +
        s"packed corpus frontier $maxId — the batch would interleave with " +
        "already-packed documents; re-pack the union instead")
    sequenceSpans(
      tokenPrefix(newDocs, bucketSize)
        .withColumn("prefix", col("prefix") + lit(base)),
      seqLen)
  }

  /** Deterministic epoch shuffle — training-order randomization for the
    * sequences [[packSequences]] lays out: for each epoch, every sequence
    * is assigned a shard (≈ one shuffled training file) and a position
    * within it, by sorting on the content-free key
    * `md5(epoch:seq_id)` — a different pseudo-random permutation per
    * epoch, reproducible bit-for-bit across runs, engines, and
    * partitionings (no RNG state; the same property [[sampleBucket]]
    * gives sampling). A trainer streams shard files in (shard, pos)
    * order and reads each sequence's spans from the placement table.
    *
    * Scale shape: the sequence ids are regenerated from ONE bounded
    * scalar (total corpus tokens → sequence count, the same number
    * [[packState]] tracks), so there is no corpus scan beyond one
    * map-combined aggregate and no join back to the data. The only
    * shuffle is the hash partition on (epoch, shard); position numbering
    * is a window per (epoch, shard) — `nShards` is the scale knob (size
    * shards to ~fixed token budgets, so windows stay bounded as the
    * corpus grows; at 10^10 sequences and 10^5 shards each window ranks
    * ~10^5 rows). Materializing all epochs at once is the table form —
    * a deployment that shuffles one epoch ahead of training calls with
    * `nEpochs = 1` and varies `epochOffset`.
    */
  def shuffleEpochs(documents: DataFrame, seqLen: Long, nEpochs: Int,
                    nShards: Int, epochOffset: Int = 0): DataFrame = {
    require(seqLen > 0 && nEpochs > 0 && nShards > 0,
      s"seqLen/nEpochs/nShards must be positive, got $seqLen/$nEpochs/$nShards")
    val spark = documents.sparkSession
    val total = documents
      .agg(coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)))
      .head().getLong(0)
    val nSeqs = (total + seqLen - 1) / seqLen
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("skey"), col("seq_id"))
    spark.range(nSeqs).select(col("id").as("seq_id"))
      .withColumn("epoch",
        explode(sequence(lit(epochOffset.toLong),
          lit(epochOffset.toLong + nEpochs - 1))))
      .withColumn("skey",
        md5(concat_ws(":", col("epoch"), col("seq_id"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 8), 16, 10).cast("long") % nShards)
      .select(col("epoch"), col("seq_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** Global-quantile quality gate — "keep the top `keepBps`/10000 of the
    * corpus by quality score", the relative form of a quality filter (an
    * absolute threshold drifts as the corpus mix changes; a quantile
    * doesn't). Score = type-token ratio in basis points ([[ttrScored]],
    * the `ttr_bp` of [[graft.functions.TextAnalysis.qualityScore]]); a
    * null-text doc has no score and is never kept. The kept set is
    * `score >= T*` where `T*` is the highest score whose cumulative count
    * reaches `⌈n·keepBps/10000⌉` — the whole tie class at the boundary
    * stays in, so membership is a pure function of a doc's score
    * (deterministic, engine-portable, no per-doc global rank).
    *
    * Scale shape: the score is row-local (map-only, no token shuffle).
    * The threshold comes from a score HISTOGRAM — one
    * partial-aggregated groupBy over scores, then a cumulative window over
    * the distinct-score frame, which is bounded by the score domain
    * (`ttr_bp` ∈ [0, 10000]) rather than the corpus, so the
    * single-partition window is safe at any corpus size. The kept-set
    * filter is then a 1-row-broadcast join — never a global sort of the
    * corpus (the row_number formulation would funnel 100 TB through one
    * reducer). Integer cross-multiply (`cum·10000 ≥ total·keepBps`) avoids
    * FP quantile math entirely.
    */
  def qualityQuantileGate(documents: DataFrame, keepBps: Int = 7500): DataFrame = {
    require(keepBps > 0 && keepBps <= 10000, "keepBps must be in (0, 10000]")
    // materialize the (doc_id, ttr_bp) score frame once: the eager
    // threshold probe and the returned filter both consume it, and left
    // lazy the whole upstream plan — whatever gates the caller composed
    // underneath (the pipeline entries feed this from a source-reputation
    // join) — executed twice (guide §1.2). Bounded: two longs per doc.
    val scored = ttrScored(documents, col("doc_id"))
      .select(col("doc_id"), col("ttr_bp")).localCheckpoint()
    val hist = scored.groupBy(col("ttr_bp")).agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy(col("ttr_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // bounded scalar collect (the dedup_incremental cut pattern): one long
    // from a domain-bounded frame, then a plain pushdown-able filter —
    // keeps the corpus-side plan join-free
    val thrRow = hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("total", sum(col("cnt")).over(allW))
      .filter(col("cum") * 10000 >= col("total") * keepBps)
      .agg(max(col("ttr_bp")).as("thr"))
      .head()
    if (thrRow.isNullAt(0)) scored.filter(lit(false)) // empty corpus
    else scored.filter(col("ttr_bp") >= thrRow.getLong(0))
      .select(col("doc_id"), col("ttr_bp"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking — split each document into fixed-size
    * overlapping character windows, the step that turns a curated corpus
    * into model-ready training sequences. Chunk `i` covers
    * `[i·stride, i·stride + chunkChars)`; `stride < chunkChars` gives the
    * usual overlap so no span is lost at a chunk boundary. A non-empty doc
    * of length L yields `⌊(L-1)/stride⌋ + 1` chunks (every offset below L
    * starts one; the tail chunk is naturally short); empty/null texts yield
    * none.
    *
    * Scale shape: map-only — `sequence` + `explode` + `substring`, all
    * codegen'd, no shuffle, no state. The one ordering shuffle here is the
    * driver-compare `orderBy`; a production writer would drop it and let
    * chunks stay wherever their parent doc's partition is.
    */
  def chunkDocs(documents: DataFrame, chunkChars: Int = 200,
                strideChars: Int = 150): DataFrame = {
    require(chunkChars > 0 && strideChars > 0, "chunk and stride must be positive")
    require(strideChars <= chunkChars,
      s"strideChars ($strideChars) > chunkChars ($chunkChars) would drop " +
        "the characters between consecutive chunks — the documented " +
        "no-span-lost contract requires stride <= chunk")
    documents
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(CAST(length(text) AS BIGINT) - 1L) div $strideChars")))
          .as("chunk_idx"),
        col("text"))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, CAST(chunk_idx * $strideChars + 1 AS INT), $chunkChars)")
          .as("chunk_text"))
      .withColumn("n_chars", length(col("chunk_text")).cast("long"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Benchmark decontamination — the "did my training corpus leak the eval
    * set?" screen every LLM data pipeline runs before training. A training
    * doc is contaminated when it shares at least one long word-`n`-gram
    * (default 8; the published screens use 8-13) with any held-out doc.
    *
    * The held-out split here is carved from the corpus by the same
    * content-free [[sampleBucket]] that drives sampling (`doc_id` bucket <
    * `evalBps`), standing in for the external benchmark table a production
    * run would read; the operator body only sees two frames, so swapping in
    * a real eval table is the same plan.
    *
    * Scale shape: inverted-index equi-join, never doc × doc. Both sides
    * explode to (ngram-hash, doc) postings; the join key is the 8-byte
    * `xxhash64` of the n-gram (the shuffle never carries n-gram text);
    * counts aggregate per training doc. The eval side is benchmark-sized
    * (thousands of rows) — AQE broadcasts it on its own; no hint, same
    * rule as the dedup verify joins.
    *
    * Output: one row per CONTAMINATED training doc — `doc_id`,
    * `n_eval_docs` (distinct eval docs hit), `n_shared_ngrams` (distinct
    * leaked n-grams).
    */
  def decontaminate(documents: DataFrame, evalBps: Int = 1000,
                    n: Int = 8): DataFrame = {
    val postings = contaminationPostings(documents, evalBps, n)
    // no distinct needed: shingles are already distinct WITHIN a doc, so
    // (ngh, doc) posting rows are unique on both sides
    val evalSide = postings.filter(col("is_eval"))
      .select(col("ngh"), col("doc_id").as("eval_doc_id"))
    contaminationReport(postings.filter(!col("is_eval")), evalSide)
  }

  /** (ngram-hash, doc, is_eval) posting rows shared by the decontamination
    * variants: word-`n`-gram shingles hashed to 8 bytes, eval membership by
    * the content-free id bucket.
    */
  private def contaminationPostings(documents: DataFrame, evalBps: Int,
                                    n: Int): DataFrame = {
    val spark = documents.sparkSession
    documents.select(col("doc_id"),
        explode(graft.functions.TextHashOps
          .shinglesNative(spark, col("text"), n)).as("ng"))
      .select(col("doc_id"), xxhash64(col("ng")).as("ngh"),
        (sampleBucket(col("doc_id")) < evalBps).as("is_eval"))
  }

  private def contaminationReport(trainSide: DataFrame,
                                  evalSide: DataFrame): DataFrame =
    trainSide.join(evalSide, "ngh")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("eval_doc_id")).as("n_eval_docs"),
        count_distinct(col("ngh")).as("n_shared_ngrams"))
      .orderBy(col("doc_id"))

  /** [[decontaminate]] with a Bloom prefilter on the training side — the
    * shape that survives 100 TB. The exact screen shuffles EVERY training
    * posting to the join, but almost all of them miss (contamination is
    * rare by construction); at corpus scale the training-posting shuffle is
    * the entire cost. Here the eval n-gram hashes — benchmark-sized, fixed
    * as the corpus grows — are aggregated into a Bloom filter
    * ([[graft.functions.BloomOps.buildLongBloom]], bits ∝ eval items only),
    * which rides the plan to every task and drops non-member training
    * postings map-side, BEFORE the shuffle. The surviving ~fpp-fraction
    * still goes through the exact equi-join, so false positives are
    * eliminated and the output is bit-identical to [[decontaminate]] (same
    * oracle); false negatives don't exist. Costs one extra pass over the
    * eval slice (doc count + bloom aggregate) — O(benchmark), not
    * O(corpus).
    */
  def decontaminateBloom(documents: DataFrame, evalBps: Int = 1000,
                         n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val spark = documents.sparkSession
    val postings = contaminationPostings(documents, evalBps, n)
    // benchmark-sized and consumed three times (sizing count, bloom
    // aggregate, exact join) — materialize once so eval shingling runs
    // once and nothing here touches the corpus side
    val evalSide = postings.filter(col("is_eval"))
      .select(col("ngh"), col("doc_id").as("eval_doc_id"))
      .localCheckpoint()
    // sizing: the EXACT distinct n-gram count from the materialized eval
    // postings. A docs-times-constant estimate undersizes the filter for
    // eval docs longer than the constant, silently raising the effective
    // fpp (more survivors to the shuffle — correct but degraded); the
    // exact count costs one benchmark-sized aggregate on the checkpoint.
    val items = evalSide.select(col("ngh")).distinct().count()
    val bloom = graft.functions.BloomOps.buildLongBloom(
      evalSide.select(col("ngh")), "ngh", items, fpp)
    val pruned = postings.filter(!col("is_eval"))
      .filter(graft.functions.BloomOps.mightContain(spark, bloom, col("ngh")))
    contaminationReport(pruned, evalSide)
  }

  /** The persistable decontamination artifact: the eval split's n-gram
    * postings `(ngh, eval_doc_id)` — benchmark-sized, fixed as the
    * corpus grows. A deployment shingles the benchmark ONCE at eval-set
    * freeze time and ships this table to every arriving-batch screen
    * ([[decontaminateWith]]), instead of re-shingling the eval side per
    * run the way the whole-corpus [[decontaminate]] does.
    */
  def evalNgramArtifact(documents: DataFrame, evalBps: Int = 1000,
                        n: Int = 8): DataFrame =
    contaminationPostings(documents, evalBps, n)
      .filter(col("is_eval"))
      .select(col("ngh"), col("doc_id").as("eval_doc_id"))

  /** Screen a training batch against a FROZEN [[evalNgramArtifact]] —
    * the incremental form of [[decontaminate]]: per-batch cost is the
    * batch's own shingle explode plus one equi-join against the
    * benchmark-sized artifact (AQE broadcasts it), O(batch) with the
    * eval side never recomputed. A doc's report is a pure function of
    * (doc, artifact), so screening in any batching equals the
    * whole-corpus screen restricted to those docs — the same purity
    * contract as the importance admission.
    *
    * Precondition: `batch` must already EXCLUDE the eval bucket
    * (`sampleBucket(doc_id) >= evalBps` — how every in-repo caller
    * slices). An eval doc streamed through here self-matches its own
    * artifact postings and is reported as contaminated, which is not the
    * whole-corpus screen's restriction (that screen never scores eval
    * docs). The operator cannot enforce this itself: given only the
    * frozen postings it no longer knows `evalBps`.
    */
  def decontaminateWith(evalPostings: DataFrame, batch: DataFrame,
                        n: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val trainSide = batch.select(col("doc_id"),
        explode(graft.functions.TextHashOps
          .shinglesNative(spark, col("text"), n)).as("ng"))
      .select(col("doc_id"), xxhash64(col("ng")).as("ngh"))
    contaminationReport(trainSide, evalPostings)
  }

  /** Fuzzy (near-duplicate) decontamination: flag training docs whose
    * word-shingle Jaccard against ANY eval doc is ≥ 1/2 — the
    * benchmark-leak class exact n-gram [[decontaminate]] cannot see
    * (a paraphrased or lightly-edited eval question shares few exact
    * 8-grams but keeps most of its 3-shingle set). Same content-free
    * eval split as the exact variant, so the two reports compose on the
    * same doc ids.
    *
    * Scale shape: the [[NearDup.minhashNearDups]] candidates-then-verify
    * pipeline restricted to CROSS-SET pairs — signatures are the same
    * map-only codegen kernels, but the band join keys the corpus side
    * against only the eval side's band table (benchmark-sized, fixed as
    * the corpus grows; AQE broadcasts it — same no-hint rule as the
    * dedup verify joins). The corpus is never self-joined: candidate
    * volume is bounded by eval-band collisions, not the corpus's own
    * duplicate rate. Verification is the shared integer-exact
    * [[NearDup.verifyJaccard]], so the oracle (a brute cross-set Jaccard)
    * matches exactly; LSH capture at the ≥1/2 verify threshold carries
    * the same 32-band×4-row miss bound as `dedup_minhash_lsh`
    * ((1-j⁴)³² ≤ 1.5e-15 at the planted j ≥ 0.9 — nothing in this data
    * sits in [0.1, 0.5)).
    *
    * Output: one row per CONTAMINATED training doc — `doc_id`,
    * `n_eval_neardups` (eval docs hit), `max_jac_bp` (closest leak, basis
    * points).
    */
  def decontaminateFuzzy(documents: DataFrame, evalBps: Int = 1000): DataFrame = {
    val sh = NearDup.shingled(documents)
      .withColumn("is_eval", sampleBucket(col("doc_id")) < evalBps)
      .persist()
    try {
      val bands = sh
        .select(col("doc_id"), col("is_eval"),
          graft.functions.TextHashOps
            .minhashNative(sh.sparkSession, col("shingles")).as("sig"))
        .select(col("doc_id"), col("is_eval"),
          posexplode(graft.functions.TextHashOps
            .bandKeysNative(sh.sparkSession, col("sig"))))
        .select(col("doc_id"), col("is_eval"),
          col("pos").cast("int").as("band_idx"), col("col").as("band_key"))
      val trainBands = bands.filter(!col("is_eval"))
        .select(col("doc_id").as("doc_i"), col("band_idx"), col("band_key"))
      val evalBands = bands.filter(col("is_eval"))
        .select(col("doc_id").as("doc_j"), col("band_idx"), col("band_key"))
      val cands = trainBands.join(evalBands, Seq("band_idx", "band_key"))
        .select(col("doc_i"), col("doc_j")).distinct()
      NearDup.verifyJaccard(cands, sh.select(col("doc_id"), col("shingles")))
        .groupBy(col("doc_i").as("doc_id"))
        .agg(count(lit(1)).as("n_eval_neardups"),
          max(col("jac_bp")).as("max_jac_bp"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    } finally sh.unpersist()
  }

  /** The fuzzy screen's persistable artifact pair: the eval split's
    * MinHash band table `(band_idx, band_key, doc_j)` — what batch
    * candidates equi-join against — and the eval shingle sets
    * `(doc_id, shingles)` the exact verify needs. Both benchmark-sized;
    * a deployment shingles + signs the benchmark ONCE at eval-freeze
    * time ([[evalNgramArtifact]]'s contract, for the near-dup channel).
    */
  def evalFuzzyArtifacts(documents: DataFrame,
                         evalBps: Int = 1000): (DataFrame, DataFrame) = {
    val evalSh = NearDup.shingled(
      documents.filter(sampleBucket(col("doc_id")) < evalBps))
    val bands = evalSh
      .select(col("doc_id").as("doc_j"),
        posexplode(graft.functions.TextHashOps.bandKeysNative(
          evalSh.sparkSession,
          graft.functions.TextHashOps.minhashNative(
            evalSh.sparkSession, col("shingles")))))
      .select(col("pos").cast("int").as("band_idx"),
        col("col").as("band_key"), col("doc_j"))
    (bands, evalSh)
  }

  /** Screen a training batch against FROZEN [[evalFuzzyArtifacts]] —
    * the incremental form of [[decontaminateFuzzy]]: the batch's band
    * keys equi-join the persisted eval band table (benchmark-sized, AQE
    * broadcasts it), survivors verify by exact Jaccard against the
    * persisted eval shingle sets. Pure per-doc given the artifacts, so
    * any batching equals the whole-corpus screen's restriction.
    *
    * Precondition: `batch` must already EXCLUDE the eval bucket
    * ([[decontaminateWith]]'s contract) — an eval doc replayed through
    * here band-collides with itself and verifies at Jaccard 1 (its
    * shingle row is duplicated in the unionAll verify table), a
    * self-match the whole-corpus screen never emits.
    */
  def decontaminateFuzzyWith(evalBands: DataFrame, evalShingles: DataFrame,
                             batch: DataFrame): DataFrame = {
    val sh = NearDup.shingled(batch).persist()
    try {
      val cands = sh
        .select(col("doc_id").as("doc_i"),
          posexplode(graft.functions.TextHashOps.bandKeysNative(
            sh.sparkSession,
            graft.functions.TextHashOps.minhashNative(
              sh.sparkSession, col("shingles")))))
        .select(col("doc_i"), col("pos").cast("int").as("band_idx"),
          col("col").as("band_key"))
        .join(evalBands, Seq("band_idx", "band_key"))
        .select(col("doc_i"), col("doc_j")).distinct()
      NearDup.verifyJaccard(cands,
          sh.select(col("doc_id"), col("shingles"))
            .unionAll(evalShingles.select(col("doc_id"), col("shingles"))))
        .groupBy(col("doc_i").as("doc_id"))
        .agg(count(lit(1)).as("n_eval_neardups"),
          max(col("jac_bp")).as("max_jac_bp"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    } finally sh.unpersist()
  }

  /** The decontaminated training corpus: every non-eval doc that BOTH
    * surface screens clear — the exact 8-gram overlap ([[decontaminate]])
    * and the fuzzy 3-shingle Jaccard ([[decontaminateFuzzy]]) — composed
    * the way a release pipeline runs them: each screen is the unchanged
    * oracle-gated operator, survivors are one left-anti equi-join against
    * the union of flagged ids (leak-rate-proportional, so never
    * hint-broadcast). Emits survivors with whitespace token counts, the
    * [[cleanCorpus]] output shape.
    */
  def decontaminatedCorpus(documents: DataFrame,
                           evalBps: Int = 1000): DataFrame = {
    val flagged = decontaminate(documents, evalBps).select(col("doc_id"))
      .union(decontaminateFuzzy(documents, evalBps).select(col("doc_id")))
      .distinct()
    documents.filter(sampleBucket(col("doc_id")) >= evalBps)
      .join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, carried..., feat) occurrence rows for the
    * importance-sampling feature space: whitespace unigrams plus adjacent
    * bigrams, WITH multiplicity (the n-gram model counts occurrences, not
    * doc sets — unlike the shingle paths). Map-only, and ONE corpus scan:
    * the unigram and bigram lists are concatenated row-local and exploded
    * once (the earlier two-branch `unionAll` spelling scanned the corpus
    * twice per consumer — at 100 TB the scan is the cost). `carry` names
    * the extra columns to thread through (the weight trainer needs
    * `lang`; scoring needs none — a streamed batch carries only
    * doc_id/text).
    */
  private def featureOccurrences(documents: DataFrame,
                                 carry: Seq[String] = Seq.empty): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    val t = documents.select(keep :+ split(col("text"), " ").as("w"): _*)
    t.select(keep :+ explode(expr(
      """concat(w, CASE WHEN size(w) >= 2
        |  THEN transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))
        |  ELSE CAST(array() AS array<string>) END)""".stripMargin))
      .as("feat"): _*)
  }

  /** Hashed-feature importance weights (the DSIR recipe — Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): bucket every unigram/bigram occurrence into `buckets`
    * hash bins, estimate the target (`lang = targetLang`) and raw (whole
    * pool) occurrence distributions over bins, and weight each bin by the
    * smoothed probability ratio — milli-scaled INTEGER
    * `w_milli = (1000·(cnt_t+1)·(tot_r+B)) div ((cnt_r+1)·(tot_t+B))`.
    *
    * Two deliberate engine-portability choices, same discipline as the
    * milli-integer BM25: the bin hash is the md5-prefix bucket (not
    * xxhash — an independent SQL engine replicates it bit-for-bit), and
    * the weight is the smoothed probability RATIO rather than its log —
    * a per-bin monotone transform of the same evidence, kept in exact
    * integer math so no cross-engine `ln` ulp can flip a score. (DSIR's
    * log turns the per-doc product into a sum; summing milli-ratios
    * instead changes how multi-bin evidence composes, not which bins look
    * target-like — and buys an oracle that matches exactly.)
    *
    * Scale shape: one partial-aggregated groupBy over occurrence rows →
    * a ≤`buckets`-row weight table; the corpus totals come from an
    * unpartitioned window over THAT bounded frame (never the corpus).
    * Long arithmetic is exact to ~3·10⁹ target occurrences per the 1000×
    * headroom under 2⁶³; beyond that (a 100 TB pool) promote the two
    * products to decimal(38,0) — multiplication stays exact, only the
    * formula's div needs the wider type.
    */
  def importanceWeights(documents: DataFrame, targetLang: String = "en",
                        buckets: Int = 4096): DataFrame = {
    val occ = featureOccurrences(documents, Seq("lang"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("feat")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    occ.groupBy(col("b"))
      .agg(count(when(col("lang") === targetLang, 1)).as("cnt_t"),
        count(lit(1)).as("cnt_r"))
      .withColumn("tot_t", sum(col("cnt_t")).over(allW))
      .withColumn("tot_r", sum(col("cnt_r")).over(allW))
      .withColumn("w_milli", expr(
        s"(1000 * (cnt_t + 1) * (tot_r + $buckets)) div " +
          s"((cnt_r + 1) * (tot_t + $buckets))"))
      .select(col("b"), col("cnt_t"), col("cnt_r"), col("w_milli"))
  }

  /** Importance-resampling selection: score each doc by the mean
    * [[importanceWeights]] milli-ratio over its feature occurrences
    * (mean, not sum — sum is length, not target-likeness) and keep the
    * top `keepBps`/10000 by the [[qualityQuantileGate]] threshold
    * contract: `w_avg_milli ≥ T*` where `T*` is the highest score whose
    * cumulative count reaches the quota, whole boundary tie class kept —
    * membership is a pure function of a doc's score, no per-doc global
    * rank.
    *
    * Scale shape: the weight table is ≤`buckets` rows, so the score join
    * is an AQE broadcast against the occurrence stream (map-side); the
    * per-doc aggregate is one partial-aggregated groupBy. The threshold
    * histogram is domain-bounded — `w_milli ≤ 1000·(tot_r+B)/(tot_t+B)`,
    * i.e. 1000/target-fraction, a few thousand distinct values for any
    * target that is ≥ a few percent of the pool — so the unpartitioned
    * cumulative window never sees a corpus-proportional frame.
    *
    * On this fixture (`targetLang` = en, 44% of docs) the kept quartile
    * runs ~92% en — the hashed ratio signal separates the planted
    * language vocabularies.
    */
  def importanceSample(documents: DataFrame, targetLang: String = "en",
                       keepBps: Int = 2500, buckets: Int = 4096): DataFrame = {
    require(keepBps > 0 && keepBps <= 10000, "keepBps must be in (0, 10000]")
    // materialize both bounded intermediates ONCE: the weight table
    // (≤ buckets rows) and the per-doc score frame (3 longs per doc).
    // Without the checkpoints the threshold probe and the returned
    // filter each re-ran the full occurrence pipeline — split + explode
    // + per-occurrence md5 over the corpus — 4 passes where 2 (train,
    // score) are the algorithmic floor (guide §1.2; r14 benched 5.8 s,
    // checkpointed 3.5 s at sf0.1)
    val wt = importanceWeights(documents, targetLang, buckets)
      .select(col("b"), col("w_milli")).localCheckpoint()
    val ds = importanceScores(documents, wt, buckets).localCheckpoint()
    // threshold via the shared quantile-gate spelling — one definition for
    // the one-shot, incremental, and artifact paths, so they cannot diverge
    importanceThreshold(ds, keepBps) match {
      case None => ds.filter(lit(false))
      case Some(thr) =>
        ds.filter(col("w_avg_milli") >= thr).orderBy(col("doc_id"))
    }
  }

  /** Per-doc mean importance score against a FROZEN weight table — the
    * map-only scoring half of [[importanceSample]], shared by the
    * one-shot and incremental paths so the two can never diverge on
    * scoring semantics.
    */
  private[graft] def importanceScores(documents: DataFrame, weights: DataFrame,
                                      buckets: Int): DataFrame = {
    val occ = featureOccurrences(documents)
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("feat")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    occ.join(weights.select(col("b"), col("w_milli")), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        expr("sum(w_milli) div count(1)").as("w_avg_milli"))
  }

  /** The quantile-gate threshold over a score frame: highest score whose
    * cumulative count reaches the `keepBps` quota (whole tie class in) —
    * the one spelling [[importanceSample]], [[importanceSampleIncremental]],
    * and the artifact builder all share. None on an empty frame.
    */
  private[graft] def importanceThreshold(scores: DataFrame,
                                         keepBps: Int): Option[Long] = {
    val hist = scores.groupBy(col("w_avg_milli")).agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy(col("w_avg_milli").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val thrRow = hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("total", sum(col("cnt")).over(allW))
      .filter(col("cum") * 10000 >= col("total") * keepBps)
      .agg(max(col("w_avg_milli")).as("thr"))
      .head()
    if (thrRow.isNullAt(0)) None else Some(thrRow.getLong(0))
  }

  /** The persistable importance-selection artifact pair: the frozen
    * weight table `(b, w_milli)` and a one-row `(thr_milli)` threshold
    * frame — what a deployment writes at training time and ships to
    * every admission job ([[importanceSampleIncremental]], the streamed
    * admission loop). Both bounded: ≤`buckets` rows + 1 row.
    */
  def importanceArtifacts(indexDocs: DataFrame, targetLang: String = "en",
                          keepBps: Int = 2500,
                          buckets: Int = 4096): (DataFrame, DataFrame) = {
    require(keepBps > 0 && keepBps <= 10000, "keepBps must be in (0, 10000]")
    val spark = indexDocs.sparkSession
    import spark.implicits._
    // the weight table is consumed twice (pool scoring for the
    // threshold, then shipped) — bounded at <= buckets rows, so
    // materialize it once rather than re-running the pool aggregate
    val wt = importanceWeights(indexDocs, targetLang, buckets)
      .select(col("b"), col("w_milli")).localCheckpoint()
    val thr = importanceThreshold(importanceScores(indexDocs, wt, buckets),
      keepBps)
    (wt, thr.toSeq.toDF("thr_milli"))
  }

  /** Incremental importance-resampling admission — the deployment shape
    * of [[importanceSample]]: the weight table AND the selection
    * threshold are trained ONCE on the standing pool (`indexDocs`) and
    * frozen; a new batch is then scored and admitted against those
    * artifacts without touching the pool again. Admission is a pure
    * per-doc function of the frozen artifacts (batch docs cannot see each
    * other — no quota re-fit per batch), so admitting a doc alone or in
    * any batch gives the same verdict, and daily batches cost
    * O(batch): one map-side broadcast join against the ≤`buckets`-row
    * weight table plus one partial-aggregated groupBy. The threshold
    * derivation is the same histogram quantile gate, run once at
    * training time over the pool's scores. Retrain cadence is a drift
    * decision — compose [[graft.operators.Sketches]] token drift against
    * the pool exactly like the ANN artifact gate.
    *
    * Batch occurrences hashing to buckets the pool never saw are absent
    * from the frozen table and drop out of the mean (inner join on `b`,
    * both here and in the oracle); with 4096 buckets, any real pool
    * occupies every bucket, so the case is a fixture-scale artifact.
    *
    * Emits the ADMITTED batch docs `(doc_id, n_feats, w_avg_milli)`.
    */
  def importanceSampleIncremental(indexDocs: DataFrame, batchDocs: DataFrame,
                                  targetLang: String = "en",
                                  keepBps: Int = 2500,
                                  buckets: Int = 4096): DataFrame = {
    val (wt, thrFrame) = importanceArtifacts(indexDocs, targetLang, keepBps,
      buckets)
    val thr = thrFrame.collect().headOption.map(_.getLong(0)) // 1-row artifact
    if (thr.isEmpty) importanceScores(batchDocs, wt, buckets).filter(lit(false))
    else importanceScores(batchDocs, wt, buckets)
      .filter(col("w_avg_milli") >= thr.get)
      .orderBy(col("doc_id"))
  }

  /** The curation funnel: (1) quality gate — at least `minTokens`
    * whitespace tokens; (2) exact dedup — keep the lowest doc_id per
    * md5(text); (3) near-dup canonicalization — drop every non-canonical
    * member of a MinHash+LSH near-dup cluster (cluster labels from
    * [[NearDup.nearDupClusters]] over the full corpus, so the exclusion
    * set does not depend on the upstream gates). Emits survivors with
    * their token counts.
    */
  def cleanCorpus(documents: DataFrame, minTokens: Long): DataFrame = {
    val toks = documents.select(col("doc_id"), col("text"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val quality = toks.filter(col("n_tokens") >= minTokens)
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val exact = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    // no broadcast hint: the non-canonical set scales with the corpus's
    // duplicate rate (often 20-50% of an LLM corpus), so a forced
    // broadcast is a driver/executor-OOM path at 100 TB; the plain
    // left-anti equi-join lets AQE broadcast only when genuinely small
    val nonCanonical = NearDup.nearDupClusters(documents)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    exact.join(nonCanonical, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** `carry` plus `n_tokens` and `ttr_bp`, the type-token ratio of the
    * space-split text in basis points (round-half-up integer math), for
    * every doc with non-null text. Row-local: `array_distinct` is a
    * plain builtin expression, not a lambda, so the distinct count needs
    * no exploded token aggregation. A null-text doc has no score and gets
    * no row.
    */
  private def ttrScored(documents: DataFrame, carry: Column*): DataFrame = {
    val toks = split(col("text"), " ")
    documents.filter(col("text").isNotNull)
      .select(carry :+ size(toks).cast("long").as("n_tokens") :+
        size(array_distinct(toks)).cast("long").as("n_distinct"): _*)
      .withColumn("ttr_bp",
        expr("(n_distinct * 20000 + n_tokens) div (2 * n_tokens)"))
  }

  /** Per-source (domain-level) reputation table: document count, exact
    * duplicate rate, mean length, and mean type-token-ratio quality per
    * `source` — the statistics behind domain-level curation (a web corpus
    * is filtered by DOMAIN reputation before any per-document gate,
    * because a spam domain's documents are individually plausible but
    * collectively near-identical). All integer math, round-half-up.
    *
    * Scale shape: the per-doc scores are row-local ([[ttrScored]]), so
    * the only shuffle is the groupBy on `source`, which is
    * domain-dimension-sized; its
    * distinct-text count expands to (source, text_key) keys first, so a
    * hot domain splits across partitions in the partial stage rather
    * than funneling through one reducer.
    */
  def sourceReputation(documents: DataFrame): DataFrame = {
    // a null-id doc gets no reputation row, like a null-text one
    ttrScored(documents.filter(col("doc_id").isNotNull), col("source"),
        md5(col("text")).as("text_key"))
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
      .orderBy(col("source"))
  }

  /** Quality-weighted deterministic sampling: keep each document with
    * probability proportional to its quality score (TTR basis points /
    * 10000) — the soft form of a quality gate (a hard threshold throws
    * away ALL below-bar text; weighted sampling keeps a calibrated
    * fraction, the standard way to de-bias without cliff effects).
    * Membership is `sampleBucket(doc_id) < ttr_bp`: content-free bucket,
    * so re-runs, engines, and partitionings agree bit-for-bit, and raising
    * a doc's score can only ADD it to the sample (monotone, like the
    * rate-monotone subset property of [[deterministicSample]]).
    *
    * Scale shape: the score is one exploded hash aggregation (the
    * [[graft.functions.TextAnalysis.qualityScore]] shape); the keep
    * decision is a per-row comparison — no shuffle beyond the score agg.
    */
  def weightedSample(documents: DataFrame): DataFrame =
    graft.functions.TextAnalysis.qualityScore(documents)
      .select(col("doc_id"), col("ttr_bp"))
      .filter(sampleBucket(col("doc_id")) < col("ttr_bp"))
      .orderBy(col("doc_id"))

  /** Corpus-version diff: which documents were added, removed, or had
    * their text changed between two corpus snapshots — the audit step
    * between "yesterday's curated corpus" and "today's" that every
    * incremental pipeline (exact/near-dup/span admission) assumes
    * upstream. Content comparison is by md5, so the diff never holds two
    * copies of the text in the join.
    *
    * Scale shape: one full outer equi-join on `doc_id` of two map-only
    * (doc_id, md5) projections — both sides corpus-proportional,
    * shuffle-partitioned by the join key; output rows are fixed-width.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence comes from explicit join-side flags, NOT key nullability:
    // md5(null text) is null, so key-based presence would misreport a
    // null-text doc present on both sides as added/removed. Null-safe
    // key equality then classifies null-vs-null as unchanged and
    // null-vs-text as changed.
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_key"),
      lit(true).as("in_old"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_key"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("old_key") <=> col("new_key"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Domain-level gate: drop every document whose SOURCE fails the
    * reputation floor — mean TTR below `minAvgTtrBp` or exact-duplicate
    * rate above `maxDupBp`. The whole-domain exclusion is the point: a
    * low-reputation domain's documents are removed even when they would
    * individually pass a per-document gate.
    *
    * Scale shape: the bad-source list is a filter over [[sourceReputation]]
    * (domain-dimension-sized, never corpus-proportional), so the left-anti
    * equi-join on `source` auto-broadcasts under AQE — no hint, per the
    * corpus-side no-forced-broadcast rule.
    */
  def gateBySource(documents: DataFrame, minAvgTtrBp: Long = 4800,
                   maxDupBp: Long = 2000): DataFrame = {
    val bad = sourceReputation(documents)
      .filter(col("avg_ttr_bp") < minAvgTtrBp || col("dup_bp") > maxDupBp)
      .select(col("source").as("bad_source"))
    // null-safe anti-join key: sourceReputation groups null sources into
    // their own domain row, and a plain equi-join key would never match
    // null — every null-source doc would silently bypass the gate even
    // when its "domain" fails the reputation floor
    documents.join(bad, col("source") <=> col("bad_source"), "left_anti")
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Declarative data-quality constraint suite (the Deequ pattern): every
    * check the corpus contract makes — completeness, key uniqueness,
    * value-domain membership, format, cross-column consistency — compiled
    * into ONE partial-aggregated pass over the table, emitted as one row
    * per check with its exact violation count. At 100 TB this is the
    * admission gate in front of every training run: a single scan (no
    * per-check jobs, no driver-side row inspection), integer-exact
    * outputs (violation COUNTS, not float ratios — nothing to drift
    * between engines), and `passed` booleans a scheduler can alert on.
    *
    * Null semantics are explicit per check, not inherited from SQL
    * three-valued logic: a NULL lang/source VIOLATES the domain/format
    * checks (an unknown domain is not a pass), while the length-consistency
    * check only judges rows where both sides are present (missing text is
    * `text_nonempty`'s finding, and counting it twice would double-bill
    * one defect). The uniqueness check likewise judges only NON-NULL keys
    * (`count(doc_id) − count(DISTINCT doc_id)`) — a null key is
    * `doc_id_complete`'s finding, not also a duplicate. The distinct
    * aggregate costs the planner's Expand, which doubles scanned rows
    * when a distinct
    * aggregate mixes with plain ones, the same trade [[corpusStats]]'
    * sibling documents; acceptable here because the whole suite is still
    * one scan of a projected 6-column slice.
    */
  def validateConstraints(documents: DataFrame): DataFrame = {
    // coalesce: sum over an EMPTY table is null, and an empty corpus must
    // read as "0 violations, passed" — vacuous truth, not null poison
    def violations(pred: Column) =
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
    val langs = Seq("en", "es", "zh", "de", "fr")
    val m = documents.agg(
      count(lit(1)).as("n_rows"),
      violations(col("doc_id").isNull).as("v_key_null"),
      (count(col("doc_id")) - count_distinct(col("doc_id"))).as("v_key_dup"),
      violations(col("text").isNull || length(col("text")) === 0)
        .as("v_text_empty"),
      violations(col("lang").isNull || !col("lang").isin(langs.map(lit): _*))
        .as("v_lang_domain"),
      violations(col("source").isNull || !col("source").rlike("^src[0-9]+$"))
        .as("v_source_format"),
      violations(col("text").isNotNull && col("n_chars").isNotNull &&
        col("n_chars") =!= length(col("text"))).as("v_len_consistent"),
      violations(col("n_chars").isNull || col("n_chars") < 0)
        .as("v_len_nonneg"))
    // one row per check: stack the single aggregate row (no extra scan)
    m.selectExpr(
      """stack(7,
        |  'doc_id_complete',   v_key_null,
        |  'doc_id_unique',     v_key_dup,
        |  'text_nonempty',     v_text_empty,
        |  'lang_in_domain',    v_lang_domain,
        |  'source_format',     v_source_format,
        |  'n_chars_consistent', v_len_consistent,
        |  'n_chars_nonnegative', v_len_nonneg
        |) AS (check_name, violations)""".stripMargin,
      "n_rows")
      .select(col("check_name"), col("violations"), col("n_rows"),
        (col("violations") === 0L).as("passed"))
      .orderBy(col("check_name"))
  }

  /** Train/test split with a NEAR-DUP leakage guard: a deterministic
    * md5-bucket split (engine-portable, [[sampleBucket]]) whose train
    * side then quarantines every doc that is a near-duplicate of ANY test
    * doc — the leak an exact-match decontaminator
    * ([[graft.functions.TextAnalysis]] decontaminate) structurally
    * misses: a one-token-edited copy of a held-out doc in the train set
    * inflates eval exactly like the verbatim copy would. Test-side
    * near-dups of other test docs stay in `test` (intra-split duplicates
    * bias nothing across the boundary); only the train side is culled.
    *
    * Output: every doc labeled `test` / `train` / `quarantine`.
    *
    * Scale shape: the pair generation is the whole cost and reuses the
    * dedup machinery. The DEFAULT edge source is the banded
    * [[graft.operators.NearDup.minhashNearDups]] — candidate counts are
    * bounded by the LSH band-collision rate, so the guard survives
    * hot-shingle corpora where an exact posting join
    * ([[graft.operators.NearDup.jaccardNearDupsExact]]) fans out as
    * Σ df(shingle)². The banded source's pair-set equality with exact
    * jac ≥ 1/2 at these parameters is itself oracle-gated
    * (`dedup_minhash_lsh` vs the brute-Jaccard oracle), which is what
    * keeps THIS query oracle-checkable with the exact-pair SQL.
    *
    * ==Probabilistic default — read before relying on the guard==
    * LSH banding is only PROBABILISTICALLY equivalent to exact
    * jac ≥ 1/2: at 32×4 bands a true pair at jaccard j survives with
    * probability 1 − (1 − j⁴)³², ≈ 1 − 1.5e-15 at j = 0.9 but only
    * ≈ 0.87 at j = 0.5 — borderline near-dups CAN slip past the guard
    * and leak test content into train. The oracle equality above is a
    * measured property of the bench corpus (whose planted pairs sit at
    * j ≥ 0.9), not a theorem. When the corpus is small enough for the
    * posting join, or when missing ANY true pair is unacceptable, inject
    * the exact source:
    * `splitWithLeakageGuard(docs, edgeSource = d => NearDup.jaccardNearDupsExact(d))`.
    * Callers can likewise inject any (documents → doc_i/doc_j pairs)
    * frame. The guard itself is two edge-table equi-joins —
    * duplicate-rate-proportional, never broadcast-hinted.
    */
  def splitWithLeakageGuard(documents: DataFrame,
                            testBps: Int = 1000,
                            edgeSource: DataFrame => DataFrame =
                              graft.operators.NearDup.minhashNearDups): DataFrame = {
    val ids = documents.select(col("doc_id"),
      (sampleBucket(col("doc_id")) < testBps).as("is_test"))
    val pairs = edgeSource(documents)
    val edges = pairs.select(col("doc_i").as("a"), col("doc_j").as("b"))
      .unionByName(pairs.select(col("doc_j").as("a"), col("doc_i").as("b")))
    val leakyTrain = edges
      .join(ids.filter(col("is_test")).select(col("doc_id").as("b")), "b")
      .select(col("a").as("doc_id")).distinct()
      .withColumn("leaky", lit(true))
    ids.join(leakyTrain, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_test"), lit("test"))
          .when(col("leaky").isNotNull, lit("quarantine"))
          .otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }
}
