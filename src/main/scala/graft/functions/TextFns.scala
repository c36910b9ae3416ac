package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Text-analysis expression helpers for large-scale training-data
  * pipelines: normalization, tokenization, quality scoring, language
  * ID, shingling, fingerprinting.
  *
  * Everything here is composed from built-ins (split / regexp / array
  * functions) — no UDFs, no closures in the hot path.
  *
  * EVALUATION-COST CONTRACT: Spark's higher-order functions
  * (transform/aggregate/filter) are interpreted, not codegen'd, and a
  * non-attribute argument referenced inside a lambda is RE-EVALUATED
  * per element. Composing these helpers around a raw text column
  * inside further lambdas multiplies regex work (observed: a minhash
  * signature inlining tokenization ran the normText regexes 128× per
  * doc). Consumers doing repeated derivation must therefore stage the
  * token array once per row (`withColumn("__toks", tokens(text))` —
  * CollapseProject keeps non-cheap multi-referenced projections
  * separate) and use the `*Of(toks)` variants, which only reference
  * the materialized attribute.
  */
object TextFns {

  /** Canonical text normalization for dedup: lowercase, strip
    * punctuation to spaces, collapse whitespace, trim. Deterministic
    * and engine-portable (same regexes run in any SQL oracle).
    */
  def normText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokenization of normalized text. Empty and
    * punctuation-only docs yield an empty array (splitting "" would
    * otherwise give [""], making counts 1 and ratios nonzero).
    */
  def tokens(text: Column): Column =
    filter(split(normText(text), " "), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Content-addressed hash for stable sampling / splitting: md5 of
    * the raw UTF-8 text, lowercase hex. Engine-portable (md5 is md5
    * everywhere), content-stable (re-ingesting the same doc lands in
    * the same sample/split regardless of id or order) — the property
    * a reproducible training-data pipeline needs from its sampler.
    */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Deterministic content-hash sample: keep a doc iff the first two
    * hex digits of its md5 are < `hexThreshold` ("29" ≈ a 16% sample;
    * "80" = 50%). Lexicographic hex comparison is portable to any SQL
    * engine — no engine-specific hash, no RNG, no seed.
    */
  def stableSample(text: Column, hexThreshold: String): Column =
    substring(contentHash(text), 1, 2) < lit(hexThreshold)

  /** Deterministic 3-way train/val/test split on the content hash:
    * first byte < 'cc' (204/256 ≈ 80%) → train, < 'e6' (≈ 10%) → val,
    * else test.
    */
  def stableSplit(text: Column): Column = {
    val b = substring(contentHash(text), 1, 2)
    when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
  }

  /** BPE-ish subword count estimate: word chunks + digit runs +
    * punctuation marks each count as a token (GPT-2-style pre-tokenizer
    * regex, simplified to an engine-portable character-class form).
    * The SQL-oracle-expressible upper bound; [[bpeTokenCountLearned]]
    * is the real learned count.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** TRUE learned-BPE token count under a trained merge table
    * ([[Bpe.train]]): per-word greedy merge application evaluated by
    * the native `graft_bpe_count` expression — the merge table rides
    * the plan as a foldable literal, one shared encoder per plan.
    */
  def bpeTokenCountLearned(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(graft.plans.BpeCount(
      ColumnBridge.expression(text), Literal(Bpe.serializeMerges(merges))))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))

  /** Mean token length over normalized tokens (0 for empty docs). */
  def avgWordLen(text: Column): Column = avgWordLenOf(tokens(text))

  /** [[avgWordLen]] over a pre-staged token array. */
  def avgWordLenOf(t: Column): Column =
    when(size(t) === 0, lit(0.0)).otherwise(
      aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(t))

  /** English stopword hit ratio: fraction of tokens in a fixed small
    * stopword set. A classic C4/Gopher-style quality signal.
    */
  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are")

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  /** [[stopwordRatio]] over a pre-staged token array. */
  def stopwordRatioOf(t: Column): Column =
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, w => w.isInCollection(StopWords))).cast("double") / size(t))

  /** Composite quality score in [0,1]: rewards mid-length docs, prose-
    * like word length, some stopwords, low punctuation noise. Weights
    * are Gopher-rule-inspired; the exact blend is ours (deterministic,
    * portable arithmetic only).
    */
  def qualityScore(text: Column): Column = qualityScoreOf(text, tokens(text))

  /** [[qualityScore]] with a pre-staged token array for the token-
    * derived terms (length/punct terms still read the raw text).
    */
  def qualityScoreOf(text: Column, toks: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val wordScore = when(avgWordLenOf(toks).between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatioOf(toks) * 5.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    round(lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.2 + punctScore * 0.2, 6)
  }

  /** Tiny per-language marker lexicons for n-gram-free heuristic
    * language ID. Public-knowledge function-word lists.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"),
    "es" -> Seq("el", "la", "los", "las", "es", "una", "por", "que", "para", "con"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "ni", "ta", "men", "zai", "you"))

  /** Per-language marker hit count over whitespace tokens. */
  def langHits(text: Column, lang: String): Column = langHitsOf(tokens(text), lang)

  /** [[langHits]] over a pre-staged token array. */
  def langHitsOf(t: Column, lang: String): Column = {
    val markers = LangMarkers.toMap.apply(lang)
    size(filter(t, w => w.isInCollection(markers)))
  }

  /** Heuristic language guess: argmax marker hits, ties broken by the
    * fixed language order in [[LangMarkers]]; "und" (undetermined) when
    * nothing matches.
    */
  def langGuess(text: Column): Column = langGuessOf(tokens(text))

  /** [[langGuess]] over a pre-staged token array. */
  def langGuessOf(t: Column): Column = {
    val hits = LangMarkers.map { case (l, _) => l -> langHitsOf(t, l) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.reverse.foldLeft(lit("und")) { case (acc, (l, h)) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Word n-gram shingles over normalized tokens (for MinHash /
    * Jaccard dedup). Produces an array of space-joined n-grams;
    * docs shorter than n yield a single shingle of the whole doc.
    */
  def wordShingles(text: Column, n: Int): Column = wordShinglesOf(tokens(text), n)

  /** [[wordShingles]] over a pre-staged token array — `t` must be a
    * materialized attribute or the slice lambda re-tokenizes per
    * shingle (see class doc).
    */
  def wordShinglesOf(t: Column, n: Int): Column =
    when(size(t) < n, array(array_join(t, " "))).otherwise(
      transform(sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))

  /** 64-bit document fingerprint: xxhash64 over normalized text.
    * Collision-safe enough for exact-dup detection at 100 TB scale
    * (2^64 space), and computed without shuffling the full text.
    */
  def fingerprint(text: Column): Column = xxhash64(normText(text))

  // --- PII / noise scrubbing (pre-training cleanup) ---------------
  // Patterns are deliberately restricted to syntax with identical
  // semantics in Java regex (Spark) and RE2 (oracle engines): char
  // classes, {m,n} repetition, \s/\S, groups without backrefs.

  /** URL: scheme to the next whitespace. */
  val urlPattern = "https?://\\S+"

  /** RFC-ish email: local part @ domain with an alphabetic TLD. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"

  /** Dotted-quad IPv4 (syntactic — no octet range check). */
  val ipPattern = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"

  /** Occurrences of `pattern` in `text`, as long (the oracle's
    * `len(regexp_extract_all(...))` is BIGINT; the gate hashes types).
    */
  def countMatches(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** Fused PII alternation: recognizes a URL, email, or IPv4 at each
    * position in ONE pass. Alternation is leftmost-first in BOTH Java
    * regex and RE2, so at the same start position a URL beats an email
    * beats an IP, and each character is consumed by at most one match —
    * a well-defined single-consumption semantic (the chained
    * replace-URL-then-email-then-IP form had the same effect on
    * disjoint matches but 7 full-text traversals; this form needs 3:
    * one extract_all for counts, one fused replace, one whitespace
    * collapse).
    *
    * COUNT-SEMANTICS CONTRACT: the per-kind counts derived from this
    * pass (n_urls / n_emails / n_ips) count single-consumption
    * matches, NOT independent per-pattern occurrences. On ADJACENT
    * PII with no separator the two differ: in `a@b.cohttp://x` the
    * email match consumes through `cohttp`, so this pass counts
    * 1 email + 0 URLs where three independent countMatches passes
    * counted 1 email + 1 URL. Scrub output is identical either way
    * (both replace every consumed span); only the counts on such
    * degenerate adjacency differ. Consumers that need the old
    * independent counts should call [[countMatches]] per pattern on
    * the ORIGINAL text.
    */
  val piiPattern: String = s"($urlPattern)|($emailPattern)|($ipPattern)"

  /** All PII matches (whole-match text, document order) under the
    * fused pattern. Stage this array once per row (class doc) and
    * derive the per-kind counts with the `*Of` classifiers below —
    * the array is short (a handful of matches), so classification is
    * O(matches), not O(document).
    */
  def piiMatches(text: Column): Column =
    regexp_extract_all(text, lit(piiPattern), lit(0))

  /** URL count over a staged [[piiMatches]] array. Classification by
    * containment is exact: only the URL alternative can produce "://"
    * (the email and IP character classes admit neither ':' nor '/').
    */
  def countUrlsOf(pii: Column): Column =
    size(filter(pii, m => m.contains("://"))).cast("long")

  /** Email count over a staged [[piiMatches]] array: a non-URL match
    * containing '@' (the IP alternative is digits and dots only).
    */
  def countEmailsOf(pii: Column): Column =
    size(filter(pii, m => !m.contains("://") && m.contains("@"))).cast("long")

  /** IPv4 count over a staged [[piiMatches]] array: the remainder. */
  def countIpsOf(pii: Column): Column =
    size(filter(pii, m => !m.contains("://") && !m.contains("@"))).cast("long")

  /** All URLs in `text`, in document order — the extraction dual of
    * the scrub: link-graph and per-domain statistics for web-corpus
    * curation start here.
    */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** Host part of a URL (scheme to the next `/` or end). */
  def urlHost(url: Column): Column =
    regexp_extract(url, "https?://([^/\\s]+)", 1)

  /** Scrub URLs, emails and IPv4s to spaces, collapse whitespace,
    * trim — the standard redaction pass before tokenization. One
    * fused [[piiPattern]] replace + one whitespace collapse (2
    * traversals, vs 4 for the chained form); leftmost-first
    * alternation resolves overlaps identically in every engine.
    */
  def scrubText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, piiPattern, " "),
      "\\s+", " "))
}
