package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-pipeline surface (SURVEY.md
  * §2.4): tokenization, shingling, MinHash signatures, LSH banding,
  * language-ID heuristics, quality scoring, rolling-hash fingerprints.
  *
  * Everything here is a composition of built-ins and graft's own kernels
  * — columnar, no UDFs, no serialization boundary — and scales linearly
  * with input splits. The kernels and most built-ins compile into
  * whole-stage codegen; the higher-order functions (`transform`,
  * `filter`, `aggregate`, `zip_with`) do not: Spark runs them
  * interpreted, and an operator holding one leaves its codegen stage.
  */
object TextFunctions {

  /** Whitespace tokenization (lowercased, trimmed — without the trim,
    * leading/trailing whitespace yields empty-string tokens that skew
    * shingles, signatures, and quality ratios). One fused codegen'd byte
    * scan ([[WhitespaceTokens]]), bit-identical to the regex chain
    * `split(trim(lower(text)), "\\s+")` it replaced (round 13) — the
    * equivalence is property-pinned by TokenizeExprSpec.
    */
  def tokens(text: Column): Column = WhitespaceTokens.tokens(text)

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric-non-space characters each count as one token — a
    * cheap, deterministic proxy for subword tokenizer output.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Word n-gram shingles as strings; documents shorter than n collapse to
    * a single whole-text shingle.
    *
    * PASS AN ATTRIBUTE for `toks` (materialize `tokens(...)` through its
    * own projection first — `df.select(tokens(col).as("toks")).select(
    * shingles(col("toks"), n))`): the position lambda's body references
    * the token array per position, and a lambda CAPTURES its argument
    * expression rather than a computed value, so an inline
    * `tokens(text)` argument re-runs the whole split O(tokens) times per
    * row — measured 6× end-to-end on the sf0.1 shingle explode. The
    * two-step select is safe: CollapseProject never merges projections
    * when it would duplicate a non-cheap expression.
    */
  def shingles(toks: Column, n: Int): Column = {
    val t = toks
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => array_join(slice(t, i + 1, lit(n)), " ")))
      .otherwise(array(array_join(t, " ")))
  }

  // MinHash signatures live in [[graft.functions.MinHashSignature]] — a
  // custom Expression; the naive HOF composition re-evaluates the shingle
  // subtree per slot and is ~1000× slower (measured at sf0.1).

  /** LSH band keys for a signature: `bands` hashes, each over a contiguous
    * row-slice of the signature. Docs sharing any band key are candidates.
    */
  def minhashBands(sig: Column, k: Int, bands: Int): Column = {
    // bands > k would make every band slice empty (one global bucket → a
    // full cross join); a non-dividing k silently drops tail slots and
    // changes the recall S-curve from what the caller asked for
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k with bands <= k, got k=$k bands=$bands")
    val rows = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(j, slice(sig, j * rows + 1, lit(rows))))
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * slots.
    */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      x => x === 1)).cast("double") / size(sigA)

  /** Tiny per-language stopword profiles for the heuristic language ID.
    * Public knowledge: most-frequent function words per language.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "es", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "est", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein", "den", "zu", "mit"))

  /** Fraction of tokens found in `words`. */
  def stopwordRatio(toks: Column, words: Seq[String]): Column = {
    val set = words.map(lit(_))
    size(filter(toks, w => w.isin(set: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Heuristic language ID: argmax of stopword-profile ratios; score ties
    * break to the lexicographically GREATEST language code (struct
    * comparison in `greatest` orders by score, then lang — argument order
    * is irrelevant). "und" (undetermined) when every score is zero.
    */
  def langId(toks: Column): Column = {
    val scored = stopwordProfiles.toSeq.map { case (lang, words) =>
      struct(stopwordRatio(toks, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling polynomial fingerprint over tokens — each token contributes
    * `len(token)*131 + ascii(first char)`, folded as acc*31 + c mod 1e9+7.
    * Order-sensitive (a reordered document fingerprints differently), cheap,
    * and expressible identically in any SQL engine with list folds.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, x => length(x) * 131 + ascii(substring(x, 1, 1))),
      lit(0L),
      (acc, c) => pmod(acc * 31 + c, lit(1000000007L)))

  /** Distinct-token ratio — the word-salad "lexical diversity" quality cue. */
  def distinctRatio(toks: Column): Column =
    size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Composite quality score in [0,1]: blends length adequacy, lexical
    * diversity, and (inverse) stopword saturation — the standard cheap
    * pre-filter shape for LLM training corpora.
    */
  /** PII patterns conservative enough to mean the same thing under Java
    * regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround, greedy
    * quantifiers only — both engines produce identical matches, so the
    * redaction is cross-engine replayable (t15's oracle).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}"

  /** Redact emails and phone numbers — the minimum-viable PII scrub every
    * training-data pipeline runs before anything else. Pure codegen'd
    * regexp_replace composition: zero shuffle, row-parallel at any scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  def qualityScore(text: Column): Column = {
    val tk = tokens(text)
    val lenScore = least(size(tk).cast("double") / 100.0, lit(1.0))
    val divScore = distinctRatio(tk)
    val stopScore = lit(1.0) - stopwordRatio(tk, stopwordProfiles("en"))
    round((lenScore * 0.3 + divScore * 0.5 + stopScore * 0.2) + 1e-9, 4)
  }

  /** Stopwords the Gopher/C4 hard-filter rules probe for (kept tiny so the
    * DuckDB oracle can inline them).
    */
  val FilterRuleStopwords: Seq[String] = Seq("the", "a")

  /** Per-document metrics the hard-filter rule bundle evaluates — the ONE
    * definition shared by the t24 rule report and the t25 pipeline's
    * stage 1, so the composed pipeline can never drift from the component
    * it claims to compose. Ratios are exact int/int IEEE quotients, so
    * both engines compare identically at the rule boundaries.
    */
  def ruleMetrics(text: Column): Column = {
    val toks = tokens(text)
    struct(
      size(toks).cast("long").as("n_tokens"),
      (length(regexp_replace(text, "\\s+", "")).cast("double") / size(toks))
        .as("mwl"),
      size(filter(toks, x => x.isin(FilterRuleStopwords: _*))).cast("long")
        .as("n_stopwords"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq"))
  }

  /** Rule bitmask over [[ruleMetrics]]: 1 = token count in [30, 5000],
    * 2 = mean word length in [2.5, 8], 4 = ≥2 stopwords, 8 = ≥0.3 unique
    * ratio. A document passes the bundle iff the mask is 15.
    */
  def ruleMask(m: Column): Column =
    (when(m.getField("n_tokens").between(30, 5000), 1).otherwise(0)
      + when(m.getField("mwl") >= 2.5 && m.getField("mwl") <= 8.0, 2).otherwise(0)
      + when(m.getField("n_stopwords") >= 2, 4).otherwise(0)
      + when(m.getField("uniq") >= 0.3, 8).otherwise(0)).cast("int")
}
