package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (BASELINE.json north-star; TESTDATA.md).
  *
  * Everything here is pure `functions._` column algebra — codegen'd, no
  * UDFs — so the operators run inside whole-stage codegen and scale
  * embarrassingly (per-row, no shuffle). Counting is regex-based
  * (`regexp_count`), which both Spark (Java regex) and the DuckDB oracle
  * (RE2) evaluate identically for the character-class patterns used here.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokensWs(text: Column): Column =
    regexp_count(trim(text), lit("""\S+""")).cast("long")

  /** BPE-ish token count: lowercase runs, digit runs, or single
    * non-alphanumeric marks — a proxy for subword tokenizer cost.
    */
  val bpePattern = """[a-z]+|[0-9]+|[^a-z0-9\s]"""
  def tokensBpe(text: Column): Column =
    regexp_count(text, lit(bpePattern)).cast("long")

  /** Occurrences of any of `words` as whole words. */
  def wordHits(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit(s"""\\b(${words.mkString("|")})\\b""")).cast("long")

  val stopwords: Seq[String] = Seq("the", "a")

  /** Per-document stats + a composite quality score (length, punctuation,
    * stopword-ratio heuristics — the standard pre-training quality gates).
    */
  def stats(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("long")
    val nTokens = tokensWs(t)
    val nStop = wordHits(t, stopwords)
    val nPunct = regexp_count(t, lit("""[^a-z0-9\s]""")).cast("long")
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      tokensBpe(t).as("n_tokens_bpe"),
      nStop.as("n_stopwords"),
      nPunct.as("n_punct"),
      when(nTokens > 0, nChars.cast("double") / nTokens.cast("double"))
        .otherwise(0.0).as("avg_token_len"),
      when(nTokens > 0, nStop.cast("double") / nTokens.cast("double"))
        .otherwise(0.0).as("stopword_ratio"),
      when(nChars > 0, nPunct.cast("double") / nChars.cast("double"))
        .otherwise(0.0).as("punct_ratio"))
  }

  /** Quality gate: keep documents that look like prose-ish training data.
    * Thresholds follow the usual Gopher-style length/stopword rules.
    */
  def qualityFiltered(docs: DataFrame,
      minTokens: Long = 20, maxAvgTokenLen: Double = 12.0,
      minStopwordRatio: Double = 0.0): DataFrame =
    stats(docs).withColumn("quality_pass",
      (col("n_tokens") >= minTokens) &&
        (col("avg_token_len") <= maxAvgTokenLen) &&
        (col("stopword_ratio") >= minStopwordRatio))

  /** Language-ID by marker-word voting (n-gram heuristic): score each
    * candidate language by whole-word marker hits, predict the argmax with
    * a fixed preference order on ties. Deterministic by construction.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value", "data"),
    "es" -> Seq("el", "la", "los", "datos"),
    "fr" -> Seq("le", "la", "les", "est"),
    "de" -> Seq("der", "die", "das", "und"),
    "zh" -> Seq("zh"))

  def langId(docs: DataFrame): DataFrame = {
    val t = col("text")
    val scored = docs.select(
      col("doc_id") +: col("lang").as("lang_true") +:
        langMarkers.map { case (l, ws) => wordHits(t, ws).as(s"score_$l") }: _*)
    // argmax via greatest + first-match CASE (linear in #languages; the
    // naive running-max fold doubles the expression tree per language);
    // first-listed language wins ties, and a language must score at least
    // one marker hit to beat the "und" default
    val maxScore = greatest(langMarkers.map { case (l, _) => col(s"score_$l") }: _*)
    val firstAtMax = langMarkers.foldRight(lit("und")) {
      case ((l, _), elseExpr) =>
        when(col(s"score_$l") === maxScore, lit(l)).otherwise(elseExpr)
    }
    scored.withColumn("lang_pred",
      when(maxScore > 0, firstAtMax).otherwise(lit("und")))
  }

  /** Intra-document n-gram repetition ratio — share of the document's
    * word n-grams taken by its single most frequent n-gram (duplicates
    * kept, unlike the dedup shingle SET). High values flag boilerplate /
    * template spam — a standard pre-training quality signal alongside
    * [[stats]]. Documents with fewer than `n` words have no n-grams and
    * are excluded, as in the oracle.
    *
    * Scale shape: explode → groupBy(doc_id, gram) with map-side combine →
    * groupBy(doc_id); both aggregations cluster by doc_id so the second
    * needs no extra exchange beyond the first.
    */
  /** (doc_id, gram) rows: every word n-gram of every document, duplicates
    * kept, empty tokens dropped. THE tokenization shared by this module
    * and the dedup shinglers (`Dedup.shingles` = this + distinct) — one
    * definition, so the operators can never disagree on what a token is.
    */
  def wordNgrams(docs: DataFrame, n: Int, gramAs: String = "gram"): DataFrame = {
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    docs
      .select(col("doc_id"), words.as("w"), size(words).as("nw"))
      .filter(col("nw") >= n)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), col("nw") - n),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(n))))).as(gramAs))
  }

  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    val grams = wordNgrams(docs, n)
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        (max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("repetition_ratio"),
        sum(col("c")).cast("long").as("n_grams"))
  }

  /** Document fingerprints: md5 content hash (exact-dup key) and a
    * simhash-style 16-bit sketch derived from md5 nibbles of each token —
    * fully deterministic and oracle-expressible (no engine-specific hash).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("content_md5"),
      substring(md5(col("text").cast("binary")), 1, 8).as("fingerprint_prefix"))

  /** Per-document top-`k` terms by smoothed tf-idf — keyword extraction
    * for corpus exploration / topic tagging. Terms are the module's shared
    * word tokenization ([[wordNgrams]] with n = 1); idf is the smoothed
    * `ln((N + 1) / (df + 1))` (never divides by zero, never negative for
    * df ≤ N); scores are rounded to 9 decimals BEFORE ranking so a
    * last-ulp `ln` difference between engines can neither reorder nor
    * change an emitted value (the same convention as Similarity's
    * cosines). Ties break on the term, so top-k is fully deterministic.
    *
    * Scale shape: explode → tf aggregation clustered by doc_id → df
    * aggregation shuffled by term (hot stop-terms are ONE row per
    * (term, doc) by then — df is bounded by |docs|, not occurrences).
    * The idf join is left to Catalyst/AQE: a small vocabulary broadcasts
    * at runtime, a web-scale one (too big to broadcast) sort-merge-joins
    * on term — both correct. The per-doc top-k then uses the same
    * rank-limit pushdown as [[graft.ops.CapPerGroup]]. The corpus size N
    * rides in as a 1-row broadcast, not a driver-side collect.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = wordNgrams(docs, 1, "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf").cast("double") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")), 9)
          .as("tfidf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"),
        col("tfidf"), col("rank").cast("long").as("rank"))
  }

  /** Corpus vocabulary: the global top-`k` terms by corpus frequency,
    * with document frequency — the token-histogram pass of tokenizer
    * training and corpus QA. Terms are the module's shared word
    * tokenization ([[wordNgrams]] n = 1); ties break on the term so the
    * cut is fully deterministic.
    *
    * Scale shape: the (term, doc) pre-aggregate combines map-side, so a
    * stop word crossing a 100 TB corpus reaches the term shuffle once
    * per document, not once per occurrence; tf and df then come from ONE
    * pass over that pre-aggregate (sum + count — no second scan, no
    * count_distinct expand). The top-k is `orderBy.limit` =
    * TakeOrderedAndProject: per-partition k-heaps merged on the driver,
    * never a global sort of the vocabulary.
    */
  def vocabulary(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = wordNgrams(docs, 1, "term")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    val agg = perDoc.groupBy("term").agg(
      sum(col("c")).cast("long").as("tf"),
      count(lit(1)).as("df"))
    // the rank window needs no partitionBy: it runs after `limit(k)`,
    // over at most k rows
    agg.orderBy(col("tf").desc, col("term").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("term").asc))
          .cast("long"))
  }

  /** Sampled-candidates corpus top-k — the 100 TB shape of [[vocabulary]].
    *
    * The exact operator shuffles EVERY distinct term of the corpus to
    * compute global counts, then keeps k of them; at web-crawl scale the
    * vocabulary shuffle (hundreds of billions of distinct long-tail
    * tokens) dwarfs the answer. This variant runs two cheap passes
    * instead: (1) candidate generation — exact term counts over a
    * deterministic `samplePerMille` content-hash sample of DOCUMENTS
    * ([[graft.ops.HashSplit]]: membership is a pure function of doc_id,
    * so the sample is identical across engines, partitionings, and
    * reruns — no seeded-RNG drift), keeping the top `k × candidateFactor`
    * sample terms; (2) exact re-count — global tf/df for the candidate
    * terms ONLY, the candidate set broadcast so the term stream is pruned
    * map-side before any shuffle. A frequent term missing from a 30%
    * document sample's top-4k is vanishingly unlikely (Chernoff on
    * per-document Bernoulli inclusion), but the contract is honest:
    * the result is "top-k by EXACT count among sampled candidates", and
    * the oracle computes that same definition, so correctness is
    * hash-verified rather than assumed. Reported tf/df are exact counts,
    * never scaled sample estimates.
    */
  def vocabularySampled(docs: DataFrame, k: Int = 50,
      samplePerMille: Int = 300, candidateFactor: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sample = docs.filter(
      graft.ops.HashSplit.bucket(col("doc_id"), 1000) < samplePerMille)
    val candidates = wordNgrams(sample, 1, "term")
      .groupBy("term").agg(count(lit(1)).as("stf"))
      .orderBy(col("stf").desc, col("term").asc)
      .limit(k * candidateFactor)
      .select("term")
    val perDoc = wordNgrams(docs, 1, "term")
      .join(broadcast(candidates), Seq("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("c"))
    val agg = perDoc.groupBy("term").agg(
      sum(col("c")).cast("long").as("tf"),
      count(lit(1)).as("df"))
    // the rank window needs no partitionBy: it runs after `limit(k)`,
    // over at most k rows
    agg.orderBy(col("tf").desc, col("term").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("term").asc))
          .cast("long"))
  }

  /** Corpus bigram language model → per-document fluency score: average
    * negative log-probability of the document's word bigrams under an
    * add-1-smoothed bigram model trained on the SAME corpus — the
    * classic perplexity-style quality signal (gibberish and boilerplate
    * score high/low outliers; KenLM-shaped pipelines do exactly this
    * with a bigger n). Tokens are the module's shared word tokenization
    * ([[wordNgrams]]); documents with fewer than two tokens have no
    * bigrams and are excluded, as in the oracle.
    *
    * Model: P(w₂|w₁) = (c(w₁,w₂) + 1) / (c(w₁) + V), context counts
    * summed from the bigram table itself (no second corpus pass), V =
    * distinct token types, riding in as a 1-row broadcast like tfidf's
    * corpus size.
    *
    * Determinism: counts are identical integers on both engines, so each
    * P is the identical double; per-pair ln values are rounded into
    * DECIMAL(18,9) before the per-document sum (row-order independence —
    * the money-sum convention), and the final average is rounded to 6
    * decimals so a last-ulp `ln` difference between engines cannot
    * surface.
    *
    * Scale shape: explode → two clustered aggregates for the model
    * (bigram counts shuffle once on (w₁,w₂); context counts reuse that
    * table, bounded by observed vocabulary², not corpus size) → one join
    * of pairs onto the model (broadcast when the model is small, AQE
    * decides) → per-doc aggregate clustered by doc_id.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val w = filter(split(col("text"), " "), t => length(t) > 0)
    val pairs = docs
      .select(col("doc_id"), w.as("w"), size(w).as("nw"))
      .filter(col("nw") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nw") - 2),
          i => struct(col("w")(i).as("w1"), col("w")(i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val v = wordNgrams(docs, 1, "t").agg(countDistinct(col("t")).as("v"))
    pairs
      .join(c12.join(c1, Seq("w1")), Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        log((col("c12") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
          .cast("decimal(18,9)").as("lp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((-sum(col("lp")).cast("double")) / count(lit(1)), 6).as("avg_nll"))
  }

  /** PII scrubbing: replace URLs, emails, and phone-shaped digit runs
    * with typed placeholders, and count what was redacted (the audit
    * signal a curation run reports). Pure per-row `regexp_replace` /
    * `regexp_count` — codegen'd, no shuffle, and the patterns stay
    * within the regex subset Java and RE2 evaluate identically:
    * character classes, bounded repetition, alternation, `\b` — and NO
    * `\s`/`\S` shorthand in a negated class (Java's `\s` includes
    * vertical tab `\x0B`, RE2's does not; the URL terminator below
    * spells the whitespace set out so both engines stop at the same
    * character).
    *
    * Order matters and is part of the contract: URLs are redacted
    * FIRST, so a URL with userinfo (`http://user@example.com`) is ONE
    * `<URL>` — not an email torn out of it and double-counted in the
    * audit; phones run last, so digits inside a URL path never count
    * as a phone. Each count is taken on the text the corresponding
    * pass actually sees (`n_urls` on the raw text, `n_emails` after
    * URL removal, `n_phones` after both).
    */
  val emailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val urlPattern = """https?://[^\t\n\f\r \x0B]+"""
  val phonePattern = """\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"""

  def redactPii(docs: DataFrame): DataFrame = {
    val t = col("text")
    val afterUrl = regexp_replace(t, urlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, emailPattern, "<EMAIL>")
    val clean = regexp_replace(afterEmail, phonePattern, "<PHONE>")
    docs.select(
      col("doc_id"),
      regexp_count(afterUrl, lit(emailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(urlPattern)).cast("long").as("n_urls"),
      regexp_count(afterEmail, lit(phonePattern)).cast("long").as("n_phones"),
      clean.as("text_clean"))
  }
}
