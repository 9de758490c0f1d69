package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vocabulary-driven greedy longest-match wordpiece counting — the real
  * subword tokenization the token-budget accounting of a training-data
  * pipeline needs (the regex letter/digit-run count it replaces was a stated
  * proxy).
  *
  * Semantics (deterministic, SQL-reproducible): words are ASCII-letter runs
  * of the lowercased text; within a word, scan left to right taking at each
  * position the LONGEST vocabulary piece that matches, else one character
  * (the unknown-piece fallback). `n_pieces` is the total piece count,
  * `n_words` the word count. The DuckDB oracle replays the identical greedy
  * scan with a recursive CTE over (word, position) states against the same
  * vocabulary literal.
  *
  * Scale shape: pure per-row codegen'd kernel — no shuffle, no UDF; the
  * inner loop is allocation-free (pieces are packed into length-tagged
  * longs and probed against a static hash set, O(maxPieceLen) probes per
  * character).
  */
object WordpieceKernel {

  /** The wordpiece vocabulary (multi-character pieces only; single
    * characters are the implicit fallback). Frequent English suffixes/
    * prefixes/digraphs — small by design so the oracle can inline it as a
    * SQL literal. MUST stay in sync with the `text_subword_bpe` oracle
    * (SparkEntry builds the SQL literal from this seq).
    */
  val Vocab: Seq[String] = Seq(
    "ing", "tion", "ment", "ness", "able", "ation", "ally", "ity", "ous",
    "ive", "ant", "ent", "ion", "est", "ers", "ed", "er", "es", "ly", "re",
    "un", "pre", "con", "com", "de", "dis", "en", "in", "al", "ar", "or",
    "an", "at", "is", "it", "th", "he", "nd", "st", "on", "le", "ti", "te",
    "se", "ra", "ro", "li", "la")

  private val MaxPieceLen: Int = Vocab.map(_.length).max
  require(MaxPieceLen <= 7, "piece packing uses one byte per char + length tag")

  // piece -> length-tagged packed long: chars in the low bytes (first char
  // most significant), length in byte 7 — so equal-length pieces never
  // collide with shorter prefixes
  private def pack(s: String): Long = {
    var key = 0L
    var i = 0
    while (i < s.length) { key = (key << 8) | (s.charAt(i) & 0xffL); i += 1 }
    key | (s.length.toLong << 56)
  }

  private val vocabSet: java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long](Vocab.size * 2)
    Vocab.foreach { t =>
      require(t.length >= 2 && t.forall(c => c >= 'a' && c <= 'z'),
        s"vocab pieces must be >=2 lowercase ASCII letters: '$t'")
      set.add(pack(t))
    }
    set
  }

  val statsType: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_pieces", IntegerType, nullable = false)))

  /** (n_words, n_pieces) of one text: the kernel of
    * [[graft.ops.TextAnalysis.subwordStats]].
    */
  def stats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var words = 0
    var pieces = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      var c = bytes(i).toInt
      if (c >= 'A' && c <= 'Z') c += 32
      if (c >= 'a' && c <= 'z') {
        // find the word end (letters only, lowercased view)
        var end = i + 1
        var keep = true
        while (end < n && keep) {
          var d = bytes(end).toInt
          if (d >= 'A' && d <= 'Z') d += 32
          if (d >= 'a' && d <= 'z') end += 1 else keep = false
        }
        words += 1
        // greedy longest-match scan inside [i, end)
        var p = i
        while (p < end) {
          var best = 1
          var key = 0L
          var l = 0
          val maxL = math.min(MaxPieceLen, end - p)
          while (l < maxL) {
            var e = bytes(p + l).toInt
            if (e >= 'A' && e <= 'Z') e += 32
            key = (key << 8) | (e & 0xffL)
            l += 1
            if (l >= 2 && vocabSet.contains(key | (l.toLong << 56))) best = l
          }
          pieces += 1
          p += best
        }
        i = end
      } else i += 1
    }
    InternalRow(words, pieces)
  }
}
