package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, and document fingerprinting.
  * All pure Column expressions (codegen'd; no UDFs), applied per row —
  * embarrassingly parallel at any corpus size.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: word pieces = letter runs + digit runs +
    * single non-space punctuation marks — the usual cheap proxy for
    * tokenizer load. Extract-all formulation (not boundary split): no
    * whitespace pieces, and the pattern stays inside the Java-regex/RE2
    * common subset so the DuckDB oracle re-runs it (ASCII classes there;
    * identical on the all-ASCII corpus).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Real subword tokenization: vocabulary-driven greedy longest-match
    * wordpiece counting over ASCII-letter word runs — see
    * [[graft.expr.WordpieceKernel]]. struct(n_words, n_pieces), null for a
    * null text; a per-row kernel call, no shuffle.
    */
  def subwordStats(text: Column): Column =
    Bridge.invoke(graft.expr.WordpieceKernel, "stats", graft.expr.WordpieceKernel.statsType,
      Seq(text))

  /** Quality metrics struct: n_chars, n_tokens, punct chars, digit chars,
    * stopword hits, mean token length — inputs for a curation filter.
    */
  def qualityMetrics(text: Column): Column = {
    val punct = length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))
    val digits = length(text) - length(regexp_replace(text, "[0-9]", ""))
    val toks = Dedup.tokens(text)
    val stop = size(filter(toks, t => t.isin(StopwordsEn.map(lit): _*)))
    struct(
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      punct.as("n_punct"),
      digits.as("n_digits"),
      stop.as("n_stopwords"),
      (length(text).cast("double") / greatest(tokenCount(text), lit(1))).as("mean_token_len"))
  }

  /** Boolean quality gate with the standard cheap heuristics (Gopher-style
    * thresholds, integer-only so it is oracle-checkable).
    */
  def qualityPass(text: Column): Column = {
    val m = qualityMetrics(text)
    m.getField("n_tokens").between(5, 100000) &&
      m.getField("n_punct") * 4 <= m.getField("n_chars") &&
      m.getField("n_digits") * 4 <= m.getField("n_chars")
  }

  val StopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "are", "was", "for", "on", "with", "that", "this", "it", "as")

  /** Per-language marker words for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "que", "pour", "avec", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"))

  /** Language-ID heuristic: argmax over marker-word hit counts (ties and
    * zero hits -> "und", ISO for undetermined). Pure columns: a greatest()
    * over (score, lang) structs.
    */
  def langId(text: Column): Column =
    // bindOnce: one tokenizing split per row, not one per language's filter
    // (see Dedup.bindOnce — each HOF argument re-evaluates its input)
    Dedup.bindOnce(Dedup.tokens(text)) { toks =>
      val scored = LangMarkers.map { case (lang, words) =>
        struct(
          size(filter(toks, t => t.isin(words.map(lit): _*))).as("score"),
          lit(lang).as("lang"))
      }
      val best = greatest(scored: _*)
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
    }

  /** Character-n-gram language profiles for [[langIdNgram]]: per language,
    * distinctive digraphs/trigraphs plus space-padded function words (the
    * standard char-n-gram langid feature set). Occurrence counting uses
    * non-overlapping replace() semantics — identical in Spark and DuckDB —
    * so the oracle recomputes every score exactly; grams avoid
    * self-overlapping shapes so replace() counting is unambiguous.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die ", "sch", "cht", "ei", "ue"),
    "en" -> Seq(" the ", " and ", "th", "he", " of "),
    "es" -> Seq(" el ", " la ", " y ", " que ", "cion", "rro"),
    "fr" -> Seq(" le ", " les ", " et ", " que ", "eux", "oir"),
    "it" -> Seq(" il ", " di ", " al ", "che", "ere", " poi "))

  /** Character-n-gram language ID: argmax over per-language profile-gram
    * occurrence totals ([[LangProfiles]]), ties to the lexicographically
    * larger code, zero signal -> "und". Upgrades the 10-marker-word
    * heuristic ([[langId]]): profile grams fire on morphology (digraphs,
    * suffixes) and function words, so short or marker-free text still
    * scores. Pure codegen'd columns, no shuffle.
    */
  def langIdNgram(text: Column): Column =
    // one kernel call (SketchExprs.langIdNgram) instead of a
    // greatest() over ~31 per-gram replace()-count columns, each of which
    // allocated a rewritten copy of the text per row; value parity with
    // the column formulation (including the null -> "und" path, handled
    // here since the kernel null-propagates) is pinned in OpsSpec
    when(text.isNotNull,
      graft.expr.SketchExprs.langIdNgram(lower(text), LangProfiles))
      .otherwise(lit("und"))

  /** Deterministic per-language pangram-style snippets used to derive a
    * multilingual test corpus from the (English-ish) synthetic documents
    * table — ASCII-only so the hash/char oracles stay exact.
    */
  val LangSnippets: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog and then the other dog barks at the moon while the cat sleeps near the warm fire",
    "de" -> "der schnelle braune fuchs springt ueber den faulen hund und dann bellt der andere hund waehrend die katze nicht schlafen kann",
    "es" -> "el rapido zorro marron salta sobre el perro perezoso y luego el otro perro ladra mientras el gato duerme cerca de la chimenea",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux et puis le autre chien aboie pendant que le chat dort pres du feu",
    "it" -> "la veloce volpe marrone salta sopra il cane pigro e poi il altro cane abbaia mentre il gatto dorme vicino al fuoco caldo")

  /** Corpus vocabulary top-k: term frequencies over whitespace tokens,
    * ordered (count desc, term asc) for a deterministic cut. Catalyst gives
    * the two-phase (partial map-side combine) aggregate for free; the final
    * top-k is a TakeOrdered over the term-count table, never a global sort
    * of the corpus.
    */
  def topKTerms(df: DataFrame, text: Column, k: Int = 100): DataFrame =
    df.select(explode(filter(Dedup.tokens(text), t => length(t) > 0)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)

  /** Per-document distinctive terms: the k terms with the highest term
    * frequency, rarer-in-corpus terms first on ties — an integer-exact
    * tf-idf surrogate (ordering by (tf DESC, df ASC, term ASC) is the
    * tf·idf ranking whenever tf ties break by idf, without cross-engine
    * floating-point log hazards). `df` is the number of documents
    * containing the term.
    *
    * Scale shape: tokens partial-aggregate to (doc, term, tf) map-side;
    * the document-frequency table derives from the SAME (doc, term) frame
    * and joins back on term, so Catalyst reuses one term-hashed exchange
    * for both sides; the final top-k window partitions by DOCUMENT —
    * bounded by a doc's vocabulary, never by a term's corpus frequency
    * (no hot-term skew).
    */
  def distinctiveTerms(df: DataFrame, id: Column, text: Column,
      k: Int = 3): DataFrame = {
    val tf = df
      .select(id.as("doc_id"),
        explode(filter(Dedup.tokens(text), t => length(t) > 0)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df must CONSUME the tf value: with count(1) (or count(tf), which the
    // optimizer rewrites away since tf is non-null) this branch prunes tf's
    // count column, the partial aggregates diverge from the tf branch, and
    // ReuseExchange cannot dedupe the two (doc, term) subplans — the corpus
    // would be scanned and tokenized TWICE. sum(tf >= 1) is the same doc
    // count but needs tf, so both branches share one exchange (verified on
    // the executed plan).
    val dfc = tf.groupBy(col("term"))
      .agg(sum(when(col("tf") >= 1, 1L).otherwise(0L)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfc, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
  }

  /** Intra-document repetition stats (Gopher-style quality signal): total
    * vs distinct word n-grams — a high n_grams/n_distinct ratio marks
    * boilerplate/spam. Integer counts so the oracle check is exact; the
    * caller derives the ratio.
    */
  def repetitionStats(text: Column, n: Int = 3): Column = {
    val grams = Dedup.rawShingles(text, n)
    struct(size(grams).as("n_grams"),
      size(array_distinct(grams)).as("n_distinct"))
  }

  /** PII patterns for [[redactPii]] — deliberately conservative regexes
    * using only constructs with identical semantics in Java regex and RE2
    * (character classes, bounded repeats, \b), so the DuckDB oracle can
    * re-run them verbatim.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\b[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction (the standard pretraining scrub pass): emails, then
    * IPv4 addresses, then phone-shaped digit groups are replaced with
    * typed placeholders. Order matters — the email pattern consumes
    * dotted hosts before the IP pattern can mis-tag them. Pure codegen'd
    * regexp_replace chain: no shuffle, no UDF, embarrassingly parallel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")

  /** Per-kind PII match counts on the raw text (audit companion of
    * [[redactPii]]).
    */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailPat), lit(0))).as("n_email"),
    size(regexp_extract_all(text, lit(Ipv4Pat), lit(0))).as("n_ip"),
    size(regexp_extract_all(text, lit(PhonePat), lit(0))).as("n_phone"))

  /** Deterministic hash sampling: keep a row iff
    * pmod(fnv64(key || salt), 1e6) < rate * 1e6. Unlike `df.sample`, the
    * kept set is a pure function of the KEY — stable across reruns,
    * partitionings, cluster sizes, and Spark versions, which is what a
    * reproducible 100 TB training-data subset requires (and what lets the
    * DuckDB oracle recompute the exact sample). Different `salt` values
    * draw independent samples; map-side filter, no shuffle.
    */
  def sampleByHash(df: DataFrame, key: Column, rate: Double,
      salt: String = ""): DataFrame =
    df.where(Sampling.hashSlot(key, salt) < lit(Sampling.slotThreshold(rate)))

  /** Winnowing-style document fingerprint: k-gram hashes, window minima,
    * distinct — robust to small edits. Composed from higher-order
    * functions; `size(array_intersect(fp_a, fp_b))` estimates overlap.
    * Gram hash is FNV-1a ([[graft.expr.SketchExprs.fnv64]]) so the whole pipeline is
    * reproducible by the DuckDB oracle in plain SQL (signed-min semantics
    * over the two's-complement hash values).
    */
  def fingerprint(text: Column, k: Int = 5, window: Int = 4): Column =
    // bindOnce: the window-minima lambda references the gram-hash array —
    // unbound, each window position would re-shingle and re-hash the whole
    // document (O(grams²·k) per row; see Dedup.bindOnce)
    Dedup.bindOnce(
      transform(Dedup.shingles(text, k), g => graft.expr.SketchExprs.fnv64(g))) {
      hashes =>
        val mins = when(size(hashes) >= window,
          transform(sequence(lit(0), size(hashes) - window),
            i => array_min(slice(hashes, i + 1, lit(window)))))
          .otherwise(array(array_min(hashes)))
        array_sort(array_distinct(mins))
    }
}
