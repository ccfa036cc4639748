package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis extension operators over the `documents` table (builder
  * north star; no reference equivalent — the reference's only string ops
  * are strip/split, `flink_stream_task1.py:24-28`).
  *
  * Everything here is pure builtin expression work (`split`, higher-order
  * `filter`, `regexp_count`, `md5`) — codegen-friendly, no UDFs, no
  * shuffles except the final aggregation where one exists. At 100 TB these
  * are embarrassingly parallel scans; the only design rule is to keep the
  * token arrays inside one projection (never explode unless a group-by
  * follows) so row counts don't blow up mid-plan.
  *
  * Determinism: ratio-like outputs use integer basis-point math
  * (`(a*20000 + b) div (2*b)` = round-half-up of a*10000/b) so the DuckDB
  * oracle matches exactly.
  */
object TextAnalysis {

  private val toks: Column = split(col("text"), " ")

  /** Marker vocabularies for the n-gram-style language-ID heuristic. The
    * testdata's docs are same-vocabulary word salad (FIXTURES.md §2), so
    * accuracy against the `lang` column is not meaningful — the operator
    * contract is a deterministic argmax over per-language marker hits with
    * a fixed tie-break order (en > es > de > fr > zh).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "query"),
    "de" -> Seq("window", "batch"),
    "fr" -> Seq("merge", "join"),
    "zh" -> Seq("hash", "scan"))

  /** doc_id (+ any carried columns) exploded to one row per token —
    * higher-order array functions (lambdas such as `filter`) are
    * interpreted, not codegen'd, in Spark, so per-token statistics are
    * computed as exploded aggregations instead: hash-agg with map-side
    * combine, whole-stage codegen throughout, and the shape that scales
    * (token rows never carry the document text). `array_distinct` is a
    * plain builtin, not a lambda: a per-doc distinct count needs no
    * explode (the curation gates compute it in the row).
    */
  private def tokenRows(documents: DataFrame, carry: Column*): DataFrame =
    documents.select(col("doc_id") +: carry :+ explode(toks).as("tok"): _*)

  private def hits(words: Seq[String]): Column =
    sum(when(col("tok").isInCollection(words), 1L).otherwise(0L))

  /** Language-ID: per-language marker counts + argmax prediction. */
  def langId(documents: DataFrame): DataFrame = {
    val scores = tokenRows(documents).groupBy(col("doc_id"))
      .agg(hits(langMarkers.head._2).as("c_en"),
        hits(langMarkers(1)._2).as("c_es"),
        hits(langMarkers(2)._2).as("c_de"),
        hits(langMarkers(3)._2).as("c_fr"),
        hits(langMarkers(4)._2).as("c_zh"))
    val Seq(en, es, de, fr, zh) = Seq("c_en", "c_es", "c_de", "c_fr", "c_zh").map(col)
    scores
      .withColumn("pred_lang",
        when(en >= es && en >= de && en >= fr && en >= zh, "en")
          .when(es >= de && es >= fr && es >= zh, "es")
          .when(de >= fr && de >= zh, "de")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .select(col("doc_id"), col("pred_lang"), en, es, de, fr, zh)
      .orderBy(col("doc_id"))
  }

  /** Top-`k` distinctive tokens per document, TF-IDF-shaped but in exact
    * integer math: score = `(tf * 1e6) div df` (term frequency over
    * corpus document frequency — the log in classic IDF is monotone, so
    * integer tf/df ranks identically for fixed tf, and stays
    * engine-portable where `ln` is not guaranteed bit-identical).
    * Ranking ties break on the token string.
    *
    * Scale shape: tf is one exploded hash-aggregate (tokens never carry
    * the document text); df derives from the tf frame — the same
    * two-stage skew-safe shape as [[tokenDocFrequency]]; the tf⋈df join
    * is an equi-join on the token key.
    */
  def distinctiveTokens(documents: DataFrame, k: Int = 3): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(expr("(tf * 1000000) div df").desc, col("tok"))
    tf.join(df, "tok")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Quality scoring: length, token counts, type-token ratio (basis
    * points), stopword hits, average token length (centi-chars) — all in
    * exact integer math over an exploded token aggregation.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    tokenRows(documents, length(col("text")).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("n_chars"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        hits(Seq("the", "a", "of")).as("stop_cnt"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
        expr("(n_distinct * 20000 + n_tokens) div (2 * n_tokens)").as("ttr_bp"),
        col("stop_cnt"),
        // single-space-joined text ⇒ total token chars = n_chars - (n_tokens-1)
        expr("((n_chars - n_tokens + 1) * 200 + n_tokens) div (2 * n_tokens)")
          .as("avg_tok_len_cp"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens, alpha runs (BPE-ish regex pieces),
    * and the classic chars/4 BPE estimate — integer math only.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).cast("long").as("alpha_runs"),
      expr("cast((length(text) + 3) div 4 as bigint)").as("bpe_est"))
      .orderBy(col("doc_id"))

  /** Token document-frequency — the skew-aware distinct-count shape.
    *
    * The naive plan (`groupBy(token).agg(countDistinct(doc_id))`) funnels
    * every row of a hot token to one reducer that must hold its distinct
    * set; with a 31-word vocabulary EVERY token is hot, and at 100 TB this
    * is the classic skew wreck. The two-stage form used here first
    * distincts (token, doc_id) PAIRS — the shuffle key includes doc_id, so
    * load spreads over reducers regardless of token skew — then counts
    * per token (tiny input, partial-agg combined). Same technique as
    * explicit salting, with the "salt" being the second key column itself.
    */
  def tokenDocFrequency(documents: DataFrame): DataFrame =
    tokenRows(documents)
      .select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("tok"))

  /** Corpus-wide top-`k` most frequent token `n`-grams with their doc
    * frequency — boilerplate mining: the header/footer/template phrases
    * that repeat across an LLM corpus surface at the top of this list,
    * feeding both the span-dedup and quality-filter thresholds.
    *
    * Scale shape: gram rows are one map-side explode (grams never carry
    * the doc text); total counts and doc frequencies are the two-stage
    * skew-safe aggregates ([[tokenDocFrequency]]); the global top-k is
    * `orderBy(...).limit(k)` — Spark plans `TakeOrdered`, a per-partition
    * top-k merged on the driver, NOT a global sort. The final rank window
    * runs on k rows (bounded).
    */
  def topNgrams(documents: DataFrame, n: Int = 3, k: Int = 20): DataFrame = {
    val grams = documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), " +
          s"i -> array_join(slice(w, i + 1, $n), ' '))")).as("gram"))
    val occ = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences"))
    val docs = grams.distinct().groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
    val top = occ.join(docs, "gram")
      .orderBy(desc("n_occurrences"), col("gram")).limit(k)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("n_occurrences"), col("gram"))).cast("long"))
      .select(col("gram"), col("n_occurrences"), col("n_docs"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** Unigram "typicality" score — the exact-integer stand-in for the
    * unigram-LM log-prob quality filter (CCNet/Gopher-style "does this doc
    * read like the corpus?"): mean corpus frequency of the doc's token
    * occurrences in parts-per-million (round-half-up), the rarest token's
    * ppm, and a rare-token count (< 100 ppm ⇒ rarer than 0.01% of the
    * corpus). Log-prob itself is monotone in these and NOT bit-portable
    * across engines (`ln` has no cross-libm guarantee), so the score stays
    * in integer math like the rest of the family.
    *
    * Scale shape: tf is one skew-safe exploded hash aggregate (map-side
    * combined); the corpus total is a bounded scalar collect (ONE long —
    * the quality-gate cut pattern, keeping the per-token plan join-free
    * where a 1-row broadcast cross join would plan a
    * BroadcastNestedLoopJoin); the occurrences⋈ppm join is an equi-join on
    * the token key whose build side is one fixed-width row per DISTINCT
    * token — hot-token skew splits cleanly on the probe side (AQE skew
    * join), because the build side has exactly one row per key.
    */
  def typicality(documents: DataFrame): DataFrame = {
    val occ = tokenRows(documents)
    val tf = occ.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val totRow = tf.agg(sum(col("tf"))).head()
    if (totRow.isNullAt(0))
      return documents.select(col("doc_id"), lit(0L).as("n_tokens"),
        lit(0L).as("mean_tf_ppm"), lit(0L).as("min_tf_ppm"),
        lit(0L).as("rare_cnt")).filter(lit(false))
    val nTotal = totRow.getLong(0)
    val ppm = tf.select(col("tok"),
      expr(s"(tf * 1000000) div ${nTotal}L").as("tf_ppm"))
    occ.join(ppm, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tf_ppm")).as("sum_ppm"),
        min(col("tf_ppm")).as("min_tf_ppm"),
        sum(when(col("tf_ppm") < 100, 1L).otherwise(0L)).as("rare_cnt"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(sum_ppm * 2 + n_tokens) div (2 * n_tokens)").as("mean_tf_ppm"),
        col("min_tf_ppm"), col("rare_cnt"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM "fluency" score — the conditional-probability step up
    * from [[typicality]]'s unigram model (the CCNet-style LM filter):
    * for every bigram occurrence `w1 w2`, the corpus-estimated
    * P(w2|w1) ≈ count(w1 w2) / count(w1) in integer ppm, aggregated to
    * a per-document mean and minimum. Fluent text chains high-probability
    * transitions; shuffled or template text scores low even when every
    * UNIGRAM is common — which is exactly what the unigram filter can't
    * see. Integer math end-to-end (`log`-free for the same cross-libm
    * reason as [[typicality]] / [[searchBm25]]).
    *
    * Scale shape: bigram and unigram counts are two map-combined hash
    * aggregations; the occurrence⋈count joins have one fixed-width row
    * per DISTINCT gram on the build side, so hot-gram skew splits on the
    * probe side (AQE). Nothing carries document text past the explode.
    */
  def bigramLmScore(documents: DataFrame): DataFrame = {
    val grams = documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, concat_ws(' ', w[i], w[i+1]) AS gram))"))
        .as("g"))
      .select(col("doc_id"), col("g.w1"), col("g.gram"))
    val uni = tokenRows(documents).groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val bi = grams.groupBy(col("gram")).agg(count(lit(1)).as("c2"))
    grams
      .join(bi, "gram")
      .join(uni.withColumnRenamed("tok", "w1"), "w1")
      .withColumn("cond_ppm", expr("(c2 * 1000000) div c1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("cond_ppm")).as("sum_ppm"),
        min(col("cond_ppm")).as("min_cond_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(sum_ppm * 2 + n_bigrams) div (2 * n_bigrams)").as("mean_cond_ppm"),
        col("min_cond_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Character-bigram profiles for the n-gram language-ID variant: a few
    * discriminative bigrams per language, scored by occurrence count.
    */
  val bigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he"),
    "es" -> Seq("qu", "ue"),
    "de" -> Seq("sc", "ch"),
    "fr" -> Seq("me", "rg"),
    "zh" -> Seq("ha", "an"))

  /** Count of non-overlapping occurrences of `s` — the length-difference
    * trick, expressible identically in Spark and DuckDB (both `replace`
    * functions substitute non-overlapping left-to-right).
    */
  private def occurrences(s: String): Column =
    ((length(col("text")) - length(expr(s"replace(text, '$s', '')"))) / s.length)
      .cast("long")

  /** Language-ID over character bigram profiles (n-gram heuristic proper;
    * row-local arithmetic only — no explode, no shuffle).
    */
  def langIdNgram(documents: DataFrame): DataFrame = {
    val withScores = bigramProfiles.foldLeft(documents.select(col("doc_id"), col("text"))) {
      case (df, (lang, grams)) =>
        df.withColumn(s"b_$lang", grams.map(occurrences).reduce(_ + _))
    }
    val Seq(en, es, de, fr, zh) = bigramProfiles.map { case (l, _) => col(s"b_$l") }
    withScores
      .withColumn("pred_lang",
        when(en >= es && en >= de && en >= fr && en >= zh, "en")
          .when(es >= de && es >= fr && es >= zh, "es")
          .when(de >= fr && de >= zh, "de")
          .when(fr >= zh, "fr")
          .otherwise("zh"))
      .select(col("doc_id"), col("pred_lang"), en.as("b_en"), es.as("b_es"),
        de.as("b_de"), fr.as("b_fr"), zh.as("b_zh"))
      .orderBy(col("doc_id"))
  }

  /** Repetition metrics — the Gopher-style "is this doc degenerate
    * boilerplate?" quality signals: share of 2-gram instances taken by the
    * single most frequent 2-gram, and share of 3-gram instances that are
    * repeats of an earlier 3-gram. High values flag the spammy/templated
    * docs a curation pipeline drops before training. Docs shorter than 3
    * tokens are skipped (no trigram exists to measure).
    *
    * Scale shape: the top-2-gram count is a two-level hash aggregation over
    * exploded position indices (`sequence`+`element_at` stays in codegen;
    * gram rows never carry the document text); the distinct-3-gram count is
    * the row-local [[TextHashOps.shinglesNative]] kernel — map-only. Both
    * ratios are exact integer basis points.
    */
  def repetitionMetrics(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents
      .select(col("doc_id"), toks.as("w"),
        size(toks).cast("long").as("n_tokens"),
        size(graft.functions.TextHashOps.shinglesNative(spark, col("text")))
          .cast("long").as("d3"))
      .filter(col("n_tokens") >= 3)
    val top2 = base
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("w"), col("i")),
        element_at(col("w"), col("i") + 1)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2"))
    base.select(col("doc_id"), col("n_tokens"), col("d3")).join(top2, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        expr("(top2 * 20000 + (n_tokens - 1)) div (2 * (n_tokens - 1))")
          .as("top_2gram_bp"),
        expr("((n_tokens - 2 - d3) * 20000 + (n_tokens - 2)) div (2 * (n_tokens - 2))")
          .as("dup_3gram_bp"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns for [[piiRedact]] — deliberately simple classes (email,
    * 555-prefixed phone, dotted-quad IP) written in the regex subset where
    * Java's engine and RE2-style engines agree, so an independent SQL
    * oracle can replicate the redaction byte-for-byte.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9.]+@[a-z0-9.]+[a-z]", "<EMAIL>"),
    ("phone", "555-[0-9]{4}", "<PHONE>"),
    ("ip", "10\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>"))

  /** Deterministic synthetic-PII fixture: appends an email (two for every
    * third doc), a phone, and an IP derived from `doc_id` — the corpus
    * itself is PII-free word salad, so the redaction operator needs planted
    * positives the oracle can reconstruct (same trick as the malformed-CSV
    * fixtures in [[graft.operators.CsvIngest]]).
    */
  def withSyntheticPii(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), concat(
      col("text"),
      lit(" contact doc"), col("doc_id").cast("string"), lit("@mail.example"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" alt doc"), col("doc_id").cast("string"), lit("@alt.example")))
        .otherwise(lit("")),
      lit(" phone 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))
      .as("text"))

  /** PII detection + redaction over `text`: per-class match counts and the
    * md5 of the fully redacted text (emails → `<EMAIL>`, phones →
    * `<PHONE>`, IPs → `<IP>`, applied in that order). Row-local regex work
    * — codegen'd `regexp_count`/`regexp_replace`, no shuffle; at 100 TB
    * this is a pure map pass.
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val redacted = piiPatterns.foldLeft(col("text")) {
      case (c, (_, re, tag)) => regexp_replace(c, re, tag)
    }
    documents.select(
      col("doc_id") +:
        piiPatterns.map { case (name, re, _) =>
          regexp_count(col("text"), lit(re)).cast("long").as(s"n_${name}s")
        } :+ md5(redacted).as("redacted_key"): _*)
      .orderBy(col("doc_id"))
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text.
    * (The rolling-hash shingle fingerprint lives in [[graft.operators.Dedup]]
    * where it feeds MinHash.)
    */
  def fingerprintCol: Column =
    md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprintCol.as("fingerprint"))
      .orderBy(col("doc_id"))

  /** BM25-shaped keyword search over the corpus: top-`k` documents for a
    * fixed term set, scored by an exact-integer BM25 variant
    * (k1 = 1.2, b = 0.75, both ×100). The idf factor is the RATIONAL
    * surrogate `(N - df + 1)/(df + 1)` ×1000 rather than the textbook
    * log — same ordering for a fixed query, and `ln` has no cross-libm
    * bit guarantee (the [[typicality]] precedent), so scores stay
    * engine-portable integers.
    *
    * Scale shape: the exploded token frame is filtered to the query terms
    * BEFORE any aggregation (term-proportional, not corpus-proportional);
    * df is one tiny rollup of the tf frame (≤ |terms| rows, AQE
    * broadcast); N/avgdl are one bounded scalar collect (two longs — the
    * quality-gate cut pattern, keeping the per-doc plan join-free); the
    * final top-k is `TakeOrdered`, never a global sort.
    */
  def searchBm25(documents: DataFrame,
                 terms: Seq[String] = Seq("customer", "join", "dup"),
                 k: Int = 20): DataFrame = {
    require(terms.nonEmpty && k > 0, "searchBm25 needs terms and k > 0")
    val dl = documents.select(col("doc_id"),
      size(toks).cast("long").as("dl"))
    val totRow = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val n = totRow.getLong(0)
    if (n == 0)
      return documents.select(col("doc_id"), lit(0L).as("score_milli"),
        lit(0L).as("n_terms_hit"), lit(0L).as("rank")).filter(lit(false))
    val avgdlX100 = (totRow.getLong(1) * 200 + n) / (2 * n)
    val tf = tokenRows(documents).filter(col("tok").isInCollection(terms))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(df, "tok").join(dl, "doc_id")
      .withColumn("idf_milli", expr(s"((${n}L - df + 1) * 1000) div (df + 1)"))
      .withColumn("denom_x100", expr(
        s"tf * 100 + (120 * (25 + (75 * ((dl * 10000) div ${avgdlX100}L)) div 100)) div 100"))
      .withColumn("tf_part_milli", expr("(tf * 220 * 1000) div denom_x100"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("(idf_milli * tf_part_milli) div 1000")).as("score_milli"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score_milli"), col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("score_milli"), col("doc_id"))).cast("long"))
      .orderBy(col("rank"))
  }

  /** Corpus-frequency vocabulary: the `k` most frequent whitespace tokens,
    * densely numbered 1..k by (count desc, token asc) — a total order, so
    * the id assignment is deterministic across runs and engines. Id 0 is
    * reserved for out-of-vocabulary tokens by [[encodeTokenIds]].
    *
    * Scale shape: one map-side-combined token count, then a global top-k
    * (`TakeOrdered`, the [[topNgrams]] shape — never a full sort of the
    * token dictionary); the ranking window runs over k rows only.
    */
  def buildVocab(documents: DataFrame, k: Int = 1000): DataFrame = {
    require(k > 0, "vocab size must be positive")
    val tf = tokenRows(documents).groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"))
    tf.orderBy(desc("tf"), col("tok")).limit(k)
      .withColumn("token_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("tf"), col("tok"))).cast("long"))
      .select(col("token_id"), col("tok"), col("tf"))
      .orderBy(col("token_id"))
  }

  /** Token-id encoding: each document rendered as its sequence of
    * [[buildVocab]] ids (OOV → 0), space-joined — the corpus →
    * "token ids ready for packing" step between [[tokenCounts]] and
    * [[graft.operators.Curation.packShards]]. Emits the id string plus
    * token/OOV counts so coverage is measurable per document.
    *
    * Scale shape: the exploded token frame joins the k-row vocabulary —
    * corpus-side probe vs dimension-sized build, AQE broadcasts without a
    * hint, so the encode is effectively map-side. Order is restored
    * per-document by sorting the collected (pos, id) structs — a per-doc
    * array bounded by document length, never a corpus-wide sort.
    */
  /** BPE pre-tokenization: lowercased whitespace tokens restricted to
    * `[a-z]+` — a defined normalization (like real pipelines' byte-level
    * pre-tokenizers, scoped to what both engines hash identically). The
    * restriction also guarantees the `.`-separator symbol encoding below
    * can never collide with symbol text.
    */
  private val BpeWordRe = "^[a-z]+$"

  /** A word's symbol sequence is encoded as one string with a TWO-dot
    * boundary between symbols (and at both ends): `low` → `..l..o..w..`.
    * Applying merge (a,b)→ab is then a plain `replace` of `.a..b.` with
    * `.ab.`: the pattern consumes ONE dot from each outer boundary (so
    * back-to-back occurrences still match — each boundary keeps a dot for
    * its neighbor) and both dots of the inner boundary. `replace` is
    * leftmost non-overlapping in Spark and DuckDB alike, which IS the
    * canonical greedy BPE application order (`aaa` → `aa`,`a`).
    */
  private def bpeInitSymseq(word: Column): Column =
    concat(regexp_replace(word, "(.)", "..$1"), lit(".."))

  private def bpeMergePattern(lhs: String, rhs: String): (String, String) =
    (s".$lhs..$rhs.", s".$lhs$rhs.")

  /** Symbols of a symseq string: split on the double-dot boundary and drop
    * the leading/trailing empties (`..a..b..` → ["", a, b, ""]).
    */
  private def bpeSymbols(symseq: Column): Column = {
    val arr = split(symseq, "[.][.]")
    slice(arr, lit(2), size(arr) - lit(2))
  }

  /** The chained-`replace` spelling of BPE application — one leftmost
    * non-overlapping pass per merge rank over the symseq string, in rank
    * order. Retained as the semantic REFERENCE: the DuckDB oracles replay
    * exactly these passes as unrolled CTEs, and `BpeSpec` pins the
    * codegen'd kernel ([[graft.functions.BpeEncodeWord]] — which skips
    * the no-op passes but applies the identical sequence of effective
    * ones) to this form symbol-for-symbol.
    */
  private[graft] def bpeChainedSyms(word: Column,
                                    merges: Seq[(String, String)]): Column = {
    val symseq = merges.foldLeft(bpeInitSymseq(word)) { case (c, (lhs, rhs)) =>
      val (pat, rep) = bpeMergePattern(lhs, rhs)
      replace(c, lit(pat), lit(rep))
    }
    bpeSymbols(symseq)
  }

  /** BYTE-level initial symseq: one lowercase 2-hex-digit symbol per UTF-8
    * byte of the word (`é` → `..c3..a9..`) — the production-tokenizer
    * symbol domain (initial inventory 256, closed over ALL input, so no
    * pre-tokenization filter and no OOV are ever needed). Hex chars
    * `[0-9a-f]` exclude the `.` boundary, so the symseq machinery is
    * shared with the char-level path; `hex()` hex-encodes a string's
    * UTF-8 bytes identically in Spark and DuckDB (both uppercase —
    * lowered on both sides).
    */
  private def bpeBytesInitSymseq(word: Column): Column =
    concat(regexp_replace(lower(hex(word)), "(..)", "..$1"), lit(".."))

  /** Chained-replace spelling of byte-level application — the BpeSpec
    * parity pin for the `byteLevel` kernel and the oracle's CTE shape.
    */
  private[graft] def bpeChainedSymsBytes(word: Column,
                                         merges: Seq[(String, String)]): Column = {
    val symseq = merges.foldLeft(bpeBytesInitSymseq(word)) {
      case (c, (lhs, rhs)) =>
        val (pat, rep) = bpeMergePattern(lhs, rhs)
        replace(c, lit(pat), lit(rep))
    }
    bpeSymbols(symseq)
  }

  /** Driver-side twin of [[bpeBytesInitSymseq]]: a word's initial
    * byte-level symbol array.
    */
  private[graft] def byteSymsOf(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x")

  /** The BPE training loop: `numMerges` rounds of (pair-count, argmax,
    * apply) over the word-TYPE table — each round's winning pair is
    * collected to the driver (ONE bounded row per round, the
    * [[graft.operators.Similarity.clusterEmbeddings]] fixed-point-loop
    * shape), so the whole training replays as unrolled CTEs in the oracle.
    *
    * Determinism: argmax order is (count DESC, lhs ASC, rhs ASC) — a total
    * order over distinct pairs; both engines compare [a-z]+ strings
    * bytewise, so ties break identically.
    *
    * Scale shape: the corpus is touched ONCE (one map-side-combined word
    * count that reduces to the TYPE table immediately); the rounds are
    * argmax-SEQUENTIAL, so how they run is an adaptive choice on the type
    * table's size:
    *   - ≤ [[BpeDriverTypeLimit]] types: collect `(word, count)` once — a
    *     bounded artifact, the same budget class as the centroid and
    *     vocab collects elsewhere in this library — and run all rounds in
    *     driver memory: ZERO per-round Spark jobs. Per-round scheduling
    *     and codegen otherwise dominate small-vocabulary corpora.
    *   - larger vocabularies (millions of types at 100 TB against
    *     trillions of corpus tokens): every round runs on the cached
    *     distributed type table as a map-combined hash aggregate; the
    *     driver holds one (lhs, rhs, count) row per round.
    * Both paths implement the identical argmax total order and greedy
    * leftmost non-overlapping merge, so the choice is invisible in the
    * output (spec-pinned equality).
    */
  private[graft] def bpeMerges(documents: DataFrame,
                               numMerges: Int): Seq[(Long, String, String, Long)] = {
    // 65536 is a sanity bound, not a plan-size constraint: the encode is
    // one codegen'd kernel regardless of table size ([[graft.functions
    // .BpeEncodeWord]]), and training is one bounded argmax per round
    require(numMerges > 0 && numMerges <= 65536,
      "numMerges must be in 1..65536")
    // the corpus-sized word count is built and CACHED once, before the
    // probe: the probe's limit only materializes the partitions it
    // fetches, and on the big-vocabulary handoff the distributed loop
    // finishes the fill from the probe's own shuffle output — the corpus
    // is scanned exactly once on either path
    val wordTypes = documents
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .withColumn("symseq", bpeInitSymseq(col("word")))
      .cache()
    var handoff = false
    try {
      // one probe job: if the whole type table comes back under the
      // limit we already hold it — no separate count() pass
      val probe = wordTypes.limit(BpeDriverTypeLimit + 1).collect()
      if (probe.length <= BpeDriverTypeLimit)
        bpeMergesLocal(probe.map(r => (r.getString(0), r.getLong(1))), numMerges)
      else {
        handoff = true // bpeMergesDistributed owns the unpersist
        bpeMergesDistributed(wordTypes, numMerges)
      }
    } finally if (!handoff) wordTypes.unpersist()
  }

  /** Byte-level training loop — [[bpeMerges]] with the symbol domain
    * switched to lowercase-hex UTF-8 bytes and the pre-tokenization
    * widened to EVERY non-empty whitespace token (byte-level needs no
    * `[a-z]+` normalization: the 256-byte inventory closes over any
    * input, which is the point of byte BPE). Same adaptive driver /
    * distributed split, same argmax total order (hex symbols compare
    * bytewise identically in both engines), same greedy leftmost pass.
    */
  private[graft] def bpeBytesMerges(documents: DataFrame,
                                    numMerges: Int): Seq[(Long, String, String, Long)] = {
    require(numMerges > 0 && numMerges <= 65536,
      "numMerges must be in 1..65536")
    val wordTypes = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .withColumn("symseq", bpeBytesInitSymseq(col("word")))
      .cache()
    var handoff = false
    try {
      val probe = wordTypes.limit(BpeDriverTypeLimit + 1).collect()
      if (probe.length <= BpeDriverTypeLimit)
        bpeMergesLocalSyms(
          probe.map(r => (byteSymsOf(r.getString(0)), r.getLong(1))), numMerges)
      else {
        handoff = true // bpeMergesDistributed owns the unpersist
        bpeMergesDistributed(wordTypes, numMerges)
      }
    } finally if (!handoff) wordTypes.unpersist()
  }

  /** Bounded-artifact budget for the driver-side training path: 100k
    * `(word, count)` rows is a few MB on the driver — the same order as
    * the IVF centroid tables [[graft.operators.Similarity]] collects.
    */
  private[graft] val BpeDriverTypeLimit = 100000

  /** Driver-memory merge rounds over a collected type table. Semantics
    * pinned to the distributed path: pair counts include overlapping
    * adjacent occurrences (`aaa` counts (a,a) twice), argmax order is
    * (count DESC, lhs ASC, rhs ASC), and each merge applies greedy
    * leftmost non-overlapping per word — exactly what the symseq string
    * `replace` does.
    *
    * Incremental (the Sennrich-codebase optimization, re-derived): pair
    * counts are delta-maintained — a merge touches only the words that
    * contain its pair, subtracting their old adjacent-pair contributions
    * and adding the post-merge ones — and the argmax reads the head of an
    * ordered set kept in the same (count DESC, lhs, rhs) total order, so
    * each round costs O(touched words × |word| · log) instead of a full
    * vocabulary recount. At 20k types × 1000 merges the recounting loop
    * was ~35 s of driver latency; counts and argmax picks are exactly the
    * recount's (the per-word delta is the recount restricted to changed
    * words), which the Sennrich fixture + random-corpora property suites
    * pin.
    */
  private[graft] def bpeMergesLocal(types: Array[(String, Long)],
                             numMerges: Int): Seq[(Long, String, String, Long)] =
    bpeMergesLocalSyms(
      types.map { case (w, c) => (w.map(_.toString).toArray, c) }, numMerges)

  /** Symbol-domain-agnostic core of the driver-side trainer: takes each
    * word TYPE as its pre-split initial symbol array (chars for the
    * char-level path, lowercase-hex UTF-8 bytes for the byte-level one) —
    * the merge loop itself never looks inside a symbol.
    */
  private[graft] def bpeMergesLocalSyms(types: Array[(Array[String], Long)],
                             numMerges: Int): Seq[(Long, String, String, Long)] = {
    // the loop rewrites word arrays in place — own a copy
    val words: Array[Array[String]] = types.map(_._1.clone())
    val wc: Array[Long] = types.map(_._2)
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // word indices that EVER contained a pair; entries can go stale after
    // later merges rewrite a word — consumers re-check the live word
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    // (count, lhs, rhs) in argmax-first order; kept in lockstep with cnt
    val ord: Ordering[(Long, String, String)] =
      Ordering.by[(Long, String, String), (Long, String, String)] {
        case (n, l, r) => (-n, l, r)
      }
    val heap = scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)
    def bump(k: (String, String), delta: Long, wi: Int): Unit = {
      val old = cnt.getOrElse(k, 0L)
      if (old != 0L) heap.remove((old, k._1, k._2))
      val next = old + delta
      if (next == 0L) cnt.remove(k)
      else { cnt(k) = next; heap.add((next, k._1, k._2)) }
      if (delta > 0L && wi >= 0) {
        occ.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[Int])
          .append(wi)
      }
    }
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), wc(wi), wi); i += 1
      }
      wi += 1
    }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    while (r <= numMerges) {
      require(heap.nonEmpty,
        s"corpus exhausted adjacent symbol pairs after ${r - 1} merges; " +
          s"lower numMerges (wanted $numMerges)")
      val (c, lhs, rhs) = heap.head
      out += ((r.toLong, lhs, rhs, c))
      val touched = occ.getOrElse((lhs, rhs),
        scala.collection.mutable.ArrayBuffer.empty[Int]).distinct
      occ.remove((lhs, rhs))
      touched.foreach { ti =>
        val syms = words(ti)
        // stale occ entry (the word was rewritten since) → pair may be gone
        var has = false
        var i = 0
        while (!has && i < syms.length - 1) {
          has = syms(i) == lhs && syms(i + 1) == rhs; i += 1
        }
        if (has) {
          // delta = recount of THIS word: remove old pair contributions,
          // apply the greedy leftmost merge, add the new ones
          i = 0
          while (i < syms.length - 1) {
            bump((syms(i), syms(i + 1)), -wc(ti), -1); i += 1
          }
          val merged = Array.newBuilder[String]
          i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == lhs && syms(i + 1) == rhs) {
              merged += lhs + rhs; i += 2
            } else { merged += syms(i); i += 1 }
          }
          val next = merged.result()
          words(ti) = next
          i = 0
          while (i < next.length - 1) {
            bump((next(i), next(i + 1)), wc(ti), ti); i += 1
          }
        }
      }
      r += 1
    }
    out.result()
  }

  /** Distributed merge rounds — the > [[BpeDriverTypeLimit]] path.
    * Accepts the `(word, c, symseq)` type table; caches it (idempotent
    * when [[bpeMerges]] hands off an already-cached frame) and unpersists
    * it on exit.
    */
  private[graft] def bpeMergesDistributed(typeCounts: DataFrame,
                                   numMerges: Int): Seq[(Long, String, String, Long)] = {
    val wordTypes =
      if (typeCounts.columns.contains("symseq")) typeCounts.cache()
      else typeCounts.withColumn("symseq", bpeInitSymseq(col("word"))).cache()
    try {
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var cur = wordTypes
      var r = 1
      while (r <= numMerges) {
        // adjacent pairs in one row-local projection (slice keeps the
        // lambda index in bounds; a 1-symbol word slices to empty and
        // explode drops it) — each round is a scan of the cached type
        // table + one map-combined aggregate, no window shuffle
        val top = cur
          .withColumn("syms", bpeSymbols(col("symseq")))
          .select(col("c"), explode(expr(
            """transform(slice(syms, 1, greatest(size(syms) - 1, 0)),
              |  (s, i) -> struct(s AS lhs, syms[i + 1] AS rhs))""".stripMargin))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("c")).as("cnt"))
          .orderBy(desc("cnt"), col("lhs"), col("rhs"))
          .limit(1).collect()
        require(top.nonEmpty,
          s"corpus exhausted adjacent symbol pairs after ${r - 1} merges; " +
            s"lower numMerges (wanted $numMerges)")
        val (lhs, rhs, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r.toLong, lhs, rhs, cnt))
        val (pat, rep) = bpeMergePattern(lhs, rhs)
        cur = cur.withColumn("symseq", replace(col("symseq"), lit(pat), lit(rep)))
        r += 1
      }
      out.result()
    } finally wordTypes.unpersist()
  }

  /** Byte-pair-encoding merge table: the `numMerges` highest-count adjacent
    * symbol-pair merges, trained from a character-level start over the
    * corpus's lowercased `[a-z]+` words (Sennrich et al. 2016, without the
    * end-of-word marker). Row r is the pair merged in round r with its
    * pre-merge corpus pair count — the merge rules a real subword
    * tokenizer ships ([[encodeBpe]] applies them).
    */
  def trainBpeMerges(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeMerges(documents, numMerges)
      .map { case (r, lhs, rhs, cnt) => (r, lhs, rhs, lhs + rhs, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Subword (BPE) token-id encoding: apply [[trainBpeMerges]]'s rules in
    * rank order to every word, then encode the resulting subword tokens
    * with dense ids ranked by (corpus count DESC, token ASC) — the
    * [[buildVocab]] numbering contract, but over the POST-MERGE symbol
    * inventory, so ids are never position- or merge-rank-ambiguous (two
    * different merges can produce the same string). No OOV is possible:
    * the symbol inventory is closed over the same corpus it encodes.
    *
    * Scale shape: encoding is map-only — ONE codegen'd kernel
    * ([[graft.functions.BpeEncodeWord]]) applies the whole rank-ordered
    * merge table per word, with cost tracking merges APPLIED (≤ |word|−1)
    * rather than table size, so a 32k-merge production vocabulary encodes
    * at the same per-word cost as the 10-merge fixture — and symbols stay
    * as per-WORD arrays end-to-end: the per-symbol exploded form exists
    * only inside the map-combined vocabulary count (a scan, never a
    * shuffle of symbol rows), the ≤ 26 + numMerges symbol dictionary is
    * collected as one bounded driver map (the k-means-centroid pattern)
    * and applied as a literal map lookup, and the per-doc reassembly
    * shuffles one row per WORD with its id array. Per-doc order is
    * restored by sorting bounded (word_pos, ids) structs, never a
    * corpus-wide sort. Measured in DevScale at 500k docs / 27.5M
    * tokens: 46.8 s → 12.7 s (~3.7×) over the exploded-row
    * join+collect spelling.
    */
  def encodeBpe(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    val merges = bpeMerges(documents, numMerges)
    val words = documents.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
      .filter(col("word").rlike(BpeWordRe))
    // one codegen'd kernel applies the whole rank-ordered table per word
    // (cost tracks merges APPLIED, ≤ |word|−1, not table size) — the
    // chained numMerges-replace projection it replaces is retained as
    // [[bpeChainedSyms]], the BpeSpec parity pin and the oracle's shape.
    // Consumed twice (vocab count + the encode): materialize — the
    // persist a production pipeline would give this stage
    val symArrs = words.select(col("doc_id"), col("pos"),
      graft.functions.BpeOps.encodeNative(spark, col("word"),
        merges.map(m => (m._2, m._3))).as("syms"))
      .localCheckpoint()
    val idOf = symArrs.select(explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("sym"))
      .collect() // bounded: the post-merge inventory is ≤ 26 + numMerges
      .zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val idMap = typedlit(idOf)
    symArrs
      .withColumn("ids", transform(col("syms"), s => element_at(idMap, s)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_tokens"),
        concat_ws(" ", transform(
          flatten(transform(
            array_sort(collect_list(struct(col("pos"), col("ids")))),
            s => s.getField("ids"))),
          i => i.cast("string"))).as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Byte-level BPE merge table — [[trainBpeMerges]] with the symbol
    * domain generalized from `[a-z]` characters to UTF-8 bytes (lowercase
    * 2-hex-digit symbols, initial inventory 256). This is the real
    * production-tokenizer shape (GPT-2/SentencePiece byte fallback): any
    * input — accents, CJK, emoji — tokenizes with zero OOV, so the
    * pre-tokenizer keeps every non-empty whitespace token instead of
    * filtering to an alphabet.
    */
  def trainBpeBytesMerges(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeBytesMerges(documents, numMerges)
      .map { case (r, lhs, rhs, cnt) => (r, lhs, rhs, lhs + rhs, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Byte-level subword encoding — [[encodeBpe]] over the
    * [[trainBpeBytesMerges]] symbol domain: every non-empty whitespace
    * token's UTF-8 bytes seed the symbol sequence, the codegen'd kernel
    * applies the rank-ordered merges (`byteLevel = true`), and the final
    * hex symbols get dense (count DESC, sym ASC) ids. Same scale shape as
    * the char-level path: map-only encode, one bounded vocab collect
    * (≤ 256 + numMerges post-merge symbols), per-doc reassembly shuffles
    * one row per word.
    */
  def encodeBpeBytes(documents: DataFrame, numMerges: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    val merges = bpeBytesMerges(documents, numMerges)
    val words = documents.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val symArrs = words.select(col("doc_id"), col("pos"),
      graft.functions.BpeOps.encodeNative(spark, col("word"),
        merges.map(m => (m._2, m._3)), byteLevel = true).as("syms"))
      .localCheckpoint()
    val idOf = symArrs.select(explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("sym"))
      .collect() // bounded: the post-merge inventory is ≤ 256 + numMerges
      .zipWithIndex.map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
    val idMap = typedlit(idOf)
    symArrs
      .withColumn("ids", transform(col("syms"), s => element_at(idMap, s)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_tokens"),
        concat_ws(" ", transform(
          flatten(transform(
            array_sort(collect_list(struct(col("pos"), col("ids")))),
            s => s.getField("ids"))),
          i => i.cast("string"))).as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Persistable tokenizer artifacts — the two tables a production
    * pipeline freezes at tokenizer-training time and ships to every
    * encode job thereafter:
    *   - merges: `(merge_rank, lhs, rhs, merged, pair_count)`, the
    *     [[trainBpeMerges]] table verbatim;
    *   - vocab: `(sym, id, n)`, the post-merge symbol inventory of the
    *     TRAINING corpus with dense (n DESC, sym ASC) ids, where n is the
    *     token-weighted occurrence count (type count × word frequency —
    *     identical to counting over exploded corpus tokens, computed
    *     vocabulary-sized).
    * Training touches the corpus twice (the merge loop's word-type count
    * and this frozen-vocab count), both map-side-combined scans that
    * reduce to the TYPE table immediately; the artifacts themselves are
    * bounded (≤ 64 and ≤ 26 + numMerges rows) and live as parquet next
    * to the corpus.
    */
  def bpeArtifacts(documents: DataFrame,
                   numMerges: Int = 10): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val merges = bpeMerges(documents, numMerges)
    val mergesDf = merges
      .map { case (r, lhs, rhs, cnt) => (r, lhs, rhs, lhs + rhs, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val types = documents
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val vocabDf = types
      .select(col("c"), explode(graft.functions.BpeOps.encodeNative(
        spark, col("word"), merges.map(m => (m._2, m._3)))).as("sym"))
      .groupBy(col("sym")).agg(sum(col("c")).as("n"))
      .orderBy(desc("n"), col("sym"))
      .collect() // bounded: ≤ 26 + numMerges post-merge symbols
      .zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1L, r.getLong(1)) }
      .toSeq.toDF("sym", "id", "n")
    (mergesDf, vocabDf)
  }

  /** Encode a batch against FROZEN [[bpeArtifacts]] — the incremental
    * twin of [[encodeBpe]]: same output contract, but merge rules and
    * vocabulary ids come from the artifact tables instead of the batch
    * itself, so batches encoded months apart agree token-for-token.
    *
    * O(batch): both artifacts are bounded and collected once
    * driver-side (≤ 64 merge rows, ≤ 26 + numMerges vocab rows), so the
    * encode is the same one-row-per-word map shape as [[encodeBpe]] with
    * zero corpus-side joins and no second pass for a vocabulary count.
    * A symbol with no vocab id — a letter the training corpus never saw,
    * or a merged symbol that training consumed entirely into a later
    * merge but that survives standalone in a batch word — encodes as
    * id 0, the [[encodeTokenIds]] OOV convention.
    */
  def encodeBpeWith(merges: DataFrame, vocab: DataFrame,
                    batch: DataFrame): DataFrame = {
    val mseq = merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .orderBy(col("merge_rank"))
      .collect() // bounded by the 64-merge training cap
      .map(r => (r.getString(1), r.getString(2)))
    val idOf = vocab.select(col("sym"), col("id"))
      .collect() // bounded post-merge symbol inventory
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = batch.select(col("doc_id"),
      posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
      .filter(col("word").rlike(BpeWordRe))
    val idMap = typedlit(idOf)
    words
      .withColumn("ids", transform(
        graft.functions.BpeOps.encodeNative(batch.sparkSession, col("word"),
          mseq.toSeq),
        s => coalesce(element_at(idMap, s), lit(0L))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_tokens"),
        concat_ws(" ", transform(
          flatten(transform(
            array_sort(collect_list(struct(col("pos"), col("ids")))),
            s => s.getField("ids"))),
          i => i.cast("string"))).as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Byte-level tokenizer artifacts — [[bpeArtifacts]] in the
    * [[trainBpeBytesMerges]] symbol domain: merges over hex-byte symbols
    * and the token-weighted post-merge vocabulary (≤ 256 + numMerges
    * rows), both bounded parquet-able tables.
    */
  def bpeBytesArtifacts(documents: DataFrame,
                        numMerges: Int = 10): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val merges = bpeBytesMerges(documents, numMerges)
    val mergesDf = merges
      .map { case (r, lhs, rhs, cnt) => (r, lhs, rhs, lhs + rhs, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    val types = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val vocabDf = types
      .select(col("c"), explode(graft.functions.BpeOps.encodeNative(
        spark, col("word"), merges.map(m => (m._2, m._3)),
        byteLevel = true)).as("sym"))
      .groupBy(col("sym")).agg(sum(col("c")).as("n"))
      .orderBy(desc("n"), col("sym"))
      .collect() // bounded: ≤ 256 + numMerges post-merge symbols
      .zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1L, r.getLong(1)) }
      .toSeq.toDF("sym", "id", "n")
    (mergesDf, vocabDf)
  }

  /** Encode a batch against FROZEN [[bpeBytesArtifacts]] — the byte-level
    * [[encodeBpeWith]]: O(batch), map-only, artifacts collected once.
    * OOV (id 0) is still possible — not for raw bytes the training corpus
    * never saw when they survive as standalone symbols (byte coverage is
    * total), but for a MERGED symbol training consumed entirely into a
    * later merge that survives standalone in a batch word; real byte-level
    * tokenizers close this by seeding the vocabulary with all 256 bytes,
    * which the id-0 convention models without a 256-row floor.
    */
  def encodeBpeBytesWith(merges: DataFrame, vocab: DataFrame,
                         batch: DataFrame): DataFrame = {
    val mseq = merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .orderBy(col("merge_rank"))
      .collect() // bounded by the training cap
      .map(r => (r.getString(1), r.getString(2)))
    val idOf = vocab.select(col("sym"), col("id"))
      .collect() // bounded post-merge symbol inventory
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = batch.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val idMap = typedlit(idOf)
    words
      .withColumn("ids", transform(
        graft.functions.BpeOps.encodeNative(batch.sparkSession, col("word"),
          mseq.toSeq, byteLevel = true),
        s => coalesce(element_at(idMap, s), lit(0L))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_tokens"),
        concat_ws(" ", transform(
          flatten(transform(
            array_sort(collect_list(struct(col("pos"), col("ids")))),
            s => s.getField("ids"))),
          i => i.cast("string"))).as("ids_str"))
      .orderBy(col("doc_id"))
  }

  def encodeTokenIds(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val vocab = buildVocab(documents, vocabSize).select(col("tok"), col("token_id"))
    val posToks = documents.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "tok")))
    posToks.join(vocab, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("token_id"), lit(0L)).as("id")))),
          s => s.getField("id").cast("string"))).as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Per-document word-entropy quality signal: Shannon entropy (bits) of
    * the token distribution, via the single-pass identity
    * `H = log2(N) − (Σ c·log2 c) / N` over per-(doc, token) counts — no
    * probabilities materialized, so everything before the final division
    * is a plain partial-aggregable sum. Low entropy flags boilerplate /
    * keyword-stuffed / repetitive docs that length or stopword ratios
    * miss; near-`log2(n_distinct)` entropy with tiny `n_distinct` flags
    * gibberish. Rounded to 4 dp for the cross-engine hash (the sum order
    * differs across engines at ~1 ulp).
    *
    * Scale shape: one shuffle on (doc_id, token) — doc_id in the key
    * spreads hot tokens like [[tokenDocFrequency]] — then a per-doc
    * combine; output is one row per doc.
    */
  /** Vocabulary-growth (Heaps'-law) curve: cumulative token count vs
    * cumulative distinct-type count in doc_id order, reported per
    * `bucketSize`-doc bucket. The sub-linear type curve is the corpus
    * health diagnostic — a growth kink flags a source switch or a
    * boilerplate flood, and the fitted exponent predicts vocab size at
    * 100× corpus growth (what a tokenizer budget is sized against).
    *
    * Scalable formulation of an inherently sequential quantity: "distinct
    * types so far" = count of tokens whose FIRST occurrence (min doc_id —
    * a plain aggregate) lands at or before the bucket, so the whole curve
    * is two shuffles (token first-occurrence, per-bucket rollup) plus a
    * running sum over BUCKETS. The unpartitioned window ranges over the
    * bucket dimension only (~|docs|/bucketSize rows — the
    * [[graft.operators.Curation.packShards]] super-bucket argument), never
    * over docs or tokens.
    */
  def vocabGrowth(documents: DataFrame, bucketSize: Long = 100L): DataFrame = {
    val tokRows = documents
      .select(col("doc_id"), explode(toks).as("tok"))
    val perBucket = tokRows
      .groupBy(expr(s"doc_id div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = tokRows.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .orderBy(col("bucket"))
  }

  def wordEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (round((log2(col("n_tokens")) - col("clog") / col("n_tokens"))
          * 10000, 0) / 10000.0).as("entropy_bits"))
      .orderBy(col("doc_id"))
}
