package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, n-gram/stopword language identification, and document
  * fingerprinting. All column expressions (codegen-friendly, no UDFs) so
  * they fuse into one projection over the scan at any scale.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column =
    when(length(trim(textCol)) === 0, 0)
      .otherwise(size(split(trim(textCol), "\\s+")))

  /** BPE-ish subword count estimate: words plus extra units for long words
    * (a word of length L contributes ceil(L/4) units, mimicking byte-pair
    * segment density without a vocabulary). */
  def subwordCountEstimate(textCol: Column): Column =
    when(length(trim(textCol)) === 0, 0)
      .otherwise(aggregate(split(trim(textCol), "\\s+"), lit(0),
        (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int")))

  /** Punctuation character count. */
  def punctCount(textCol: Column): Column =
    length(textCol) - length(regexp_replace(textCol, "[\\.,;:!\\?]", ""))

  /** Mean word length. */
  def meanWordLength(textCol: Column): Column = {
    val toks = split(trim(textCol), "\\s+")
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0), (acc, w) => acc + length(w))
        .cast("double") / size(toks))
  }

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "in", "den", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de", "en", "por"))

  /** Fraction of tokens that are stopwords of the given language. */
  def stopwordRatio(textCol: Column, lang: String = "en"): Column = {
    val toks = Dedup.tokens(textCol)
    when(size(toks) === 0, 0.0)
      .otherwise(size(array_intersect(toks,
        array(stopwords(lang).map(lit): _*))).cast("double") / size(toks))
    // note: array_intersect dedups — ratio of *distinct* stopword hits;
    // cheap and monotone in true stopword density
  }

  /** Heuristic quality score in [0,1]: combines length adequacy, moderate
    * punctuation, word-length plausibility, and stopword presence. */
  def qualityScore(textCol: Column): Column = {
    val lenScore = least(length(textCol).cast("double") / 200.0, lit(1.0))
    val punctRatio = punctCount(textCol).cast("double") /
      greatest(length(textCol), lit(1))
    val punctScore = lit(1.0) - least(punctRatio * 10.0, lit(1.0))
    val mwl = meanWordLength(textCol)
    val wordScore = when(mwl.between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(textCol) * 5.0, lit(1.0))
    // +1e-9 before rounding: component ratios are small-denominator
    // rationals, so the mean often lands exactly on a decimal rounding
    // boundary (e.g. 0.59625), where Spark (rounds the shortest decimal
    // repr) and DuckDB (rounds the binary value) disagree. The epsilon
    // pushes boundary values consistently up on both engines.
    round((lenScore + punctScore + wordScore + stopScore) / 4.0 + 1e-9, 4)
  }

  /** Language identification by stopword-hit ratio across the built-in
    * lexicons; returns the best language code or "und" when nothing hits. */
  def detectLanguage(textCol: Column): Column = {
    val toks = Dedup.tokens(textCol)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(langCode).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Fraction of word 2-grams that are repeats of an earlier 2-gram in
    * the same document (1 - distinct/total) — the standard repetition
    * signal for filtering degenerate/looping text. 0 for documents with
    * fewer than two tokens. */
  def duplicateBigramRatio(textCol: Column): Column = {
    val toks = Dedup.tokens(textCol)
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - lit(2), lit(0))),
      i => concat_ws(" ", element_at(toks, i + lit(1)), element_at(toks, i + lit(2))))
    when(size(toks) < 2, 0.0)
      .otherwise(lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams))
  }

  /** Share of tokens taken by the single most frequent token — high
    * values flag keyword-stuffed or looping documents. O(distinct ×
    * tokens) per row, fine for natural documents. */
  def topTokenShare(textCol: Column): Column = {
    val toks = Dedup.tokens(textCol)
    when(size(toks) === 0, 0.0)
      .otherwise(
        array_max(transform(array_distinct(toks),
          t => size(filter(toks, x => x === t)))).cast("double") / size(toks))
  }

  /** Order-insensitive content fingerprint: a hash over the sorted
    * distinct token set — robust to shuffling/duplication, cheap to
    * compare across a corpus. xxhash64 by default; pass `Dedup.md5Long`
    * for an engine-portable value (DuckDB-replayable, used by the gate). */
  def contentFingerprint(textCol: Column,
      hashFn: Column => Column = xxhash64(_)): Column =
    hashFn(array_join(array_sort(array_distinct(Dedup.tokens(textCol))), " "))

  /** Rolling-hash (winnowing-style) fingerprint set: hashes of word
    * 4-grams, keeping each window's minimum — a compact sketch for
    * containment/overlap detection. Same `hashFn` contract as
    * `contentFingerprint`. */
  def winnowedFingerprints(textCol: Column, k: Int = 4, window: Int = 5,
      hashFn: Column => Column = xxhash64(_)): Column = {
    val sh = Dedup.shingles(textCol, k)
    // the hashes are bound once per row, as the single element of a
    // one-element array: inlined into the window lambda, the shingling and
    // hashing would run again for every window
    element_at(transform(array(transform(sh, s => hashFn(s))), hashes =>
      array_distinct(transform(
        sequence(lit(0), greatest(size(hashes) - window, lit(0))),
        i => array_min(slice(hashes, i + lit(1), lit(window)))))), 1)
  }

  /** Training-corpus text cleaning: mask URLs then emails, strip control
    * characters, collapse whitespace runs, trim. Plain regexp_replace
    * chain (codegen, no UDF); patterns restricted to the syntax Java and
    * RE2 share so the same cleaning is reproducible outside Spark (the
    * gate oracle replays it in DuckDB and md5-compares the bytes). */
  def cleanText(textCol: Column): Column = {
    val noUrl = regexp_replace(textCol, "https?://[^ ]+", "<URL>")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noCtl = regexp_replace(noEmail, "[\\x00-\\x1F]", " ")
    trim(regexp_replace(noCtl, "\\s+", " "))
  }

  /** Count of matches of a masking pattern (for curation stats). */
  def matchCount(textCol: Column, pattern: String): Column =
    size(regexp_extract_all(textCol, lit(pattern), lit(0)))

  /** PII redaction for training corpora: masks emails, phone numbers,
    * IPv4 addresses and long digit runs (account/card numbers) with
    * typed placeholders. All patterns are in the Java∩RE2 regex subset
    * (no lookarounds/backrefs), so the exact masking is replayable by
    * any RE2-based engine — DuckDB included, which is what the gate
    * oracle does. Order matters: emails before phones (an email's
    * digits must not be phone-masked), IPv4 before digit runs. */
  def maskPii(textCol: Column): Column = {
    val noEmail = regexp_replace(textCol,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noIp = regexp_replace(noEmail,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    val noPhone = regexp_replace(noIp,
      "\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{3,4}([-. ]\\d{1,4})?\\b", "<PHONE>")
    regexp_replace(noPhone, "\\b\\d{9,18}\\b", "<ID>")
  }

  /** Per-document PII hit counts (email/ip/phone/id), for audit stats
    * before and after masking. */
  def piiCounts(textCol: Column): Column =
    struct(
      matchCount(textCol, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
        .as("emails"),
      matchCount(textCol, "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
        .as("ips"),
      matchCount(textCol, "\\b\\d{9,18}\\b").as("long_ids"))

  /** Sliding character n-grams WITH multiplicity (unlike the distinct
    * sets `Dedup.charNgramJaccard` uses) — an LM needs counts. A doc
    * shorter than n contributes its single truncated prefix gram. */
  private def charGrams(textCol: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(length(textCol) - (n - 1), lit(1))),
      i => textCol.substr(i, lit(n)))

  /** Character-n-gram language model: gram occurrence counts over a
    * reference corpus. ONE explode + hash aggregate (map-side combine
    * collapses each partition to its local vocabulary before the
    * shuffle); the result is vocabulary-bounded — ~1e5-1e6 rows for
    * char trigrams regardless of corpus size — so downstream scoring
    * joins broadcast it under AQE even at 100 TB. */
  def charNgramLm(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    graft.Tables.fanOut(corpus)
      // null text yields an array of one NULL gram (Spark's greatest()
      // skips nulls where DuckDB's propagates) — drop those rows so
      // both engines agree that null documents contribute nothing
      .filter(col(textCol).isNotNull)
      .select(explode(charGrams(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"))

  /** CCNet-style LM quality scoring ("CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data", Wenzek et al. 2020,
    * which filters by KenLM perplexity; here an add-one-smoothed char
    * n-gram LM keeps it engine-portable): mean negative log-likelihood
    * (and perplexity) of each document under an add-one-smoothed character
    * n-gram model — low perplexity = LM-like (template/boilerplate or
    * clean prose, depending on the reference corpus), high = unusual
    * byte soup. The canonical curation use trains the LM on a trusted
    * corpus and drops the high-perplexity tail of the candidate pool.
    *
    * logp(g) = ln((c_g + 1) / (N + V)) with N total training grams and
    * V the vocabulary size; unseen grams take c_g = 0, so scoring is
    * total over any input. ppl is exp of the ROUNDED mean nlp — both
    * engines exponentiate the same 6-decimal value, keeping the gate
    * hash stable across libm implementations.
    *
    * Dataflow: the (N, V) scalar is a 1-row cross join; the gram join
    * is vocabulary-sized on the LM side (broadcastable, see
    * [[charNgramLm]]); one per-doc hash aggregate closes it. */
  def perplexityScores(docs: DataFrame, lm: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val stats = lm.agg(sum(col("c")).as("N"), count(lit(1)).as("V"))
    val nlp = graft.Tables.fanOut(docs)
      .filter(col(textCol).isNotNull) // see charNgramLm: cross-engine null contract
      .select(col(idCol), explode(charGrams(col(textCol), n)).as("gram"))
      .join(lm, Seq("gram"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (-log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("N") + col("V")).cast("double"))).as("nlp"))
    nlp.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("nlp")), 6).as("avg_neg_logp"))
      .withColumn("ppl", round(exp(col("avg_neg_logp")), 3))
  }

  /** Shannon entropy (bits) of the document's word-unigram distribution
    * — a quality/diversity signal (boilerplate and keyword-stuffed spam
    * score low; natural prose scores near log2 of its vocabulary).
    *
    * Shuffle-FREE: tokens sort in-row, then one `aggregate` fold over
    * the sorted array counts runs and accumulates Σ c·log2(c), giving
    * H = log2(n) − Σ c·log2(c) / n without ever exploding tokens into
    * rows — the whole thing is a projection fused into the scan.
    */
  def wordEntropy(textCol: Column): Column = {
    val toks = sort_array(split(lower(trim(textCol)), "\\s+"))
    val n = size(toks)
    // acc: (prev token, current run length, Σ c·log2(c) over closed runs)
    val folded = aggregate(toks,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0d).as("acc")),
      (acc, tk) => struct(
        tk.as("prev"),
        when(tk === acc("prev"), acc("run") + 1L).otherwise(lit(1L)).as("run"),
        when(tk === acc("prev"), acc("acc"))
          .otherwise(acc("acc") + when(acc("run") > 0,
            acc("run") * log2(acc("run"))).otherwise(lit(0.0d))).as("acc")),
      acc => acc("acc") + when(acc("run") > 0,
        acc("run") * log2(acc("run"))).otherwise(lit(0.0d)))
    when(length(trim(textCol)) === 0, 0.0)
      .otherwise(log2(n) - folded / n)
  }

  /** One-call document profile used by the pipeline queries. */
  def profile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars_computed"),
      tokenCount(col(textCol)).as("n_tokens"),
      subwordCountEstimate(col(textCol)).as("n_subwords"),
      round(meanWordLength(col(textCol)) + 1e-9, 4).as("mean_word_len"),
      punctCount(col(textCol)).as("n_punct"),
      qualityScore(col(textCol)).as("quality"),
      detectLanguage(col(textCol)).as("lang_pred"),
      contentFingerprint(col(textCol)).as("fingerprint"),
      size(winnowedFingerprints(col(textCol))).as("n_winnowed"))
}
