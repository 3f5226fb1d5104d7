package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language-ID scoring, quality metrics, shingling and
  * document fingerprints. Everything is a native column expression (no
  * UDFs) so whole-stage codegen / vectorization applies and the same
  * math is expressible in the DuckDB oracle SQL.
  *
  * Hash portability convention: all content hashes are `md5` hex strings
  * (identical in Spark and DuckDB); "random" values derived from them use
  * only ascii()/bit arithmetic so both engines agree bit-for-bit.
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped — the maximal non-space runs.
    * Expressed as trim + regex split (all codegen'd builtins) rather than
    * `filter(split(text, " "), _ =!= "")`: the filter lambda evaluates
    * interpreted per token, which dominated every corpus-wide text pass.
    * The two forms agree exactly: splitting the space-trimmed string on
    * runs of spaces yields precisely the non-empty single-space segments
    * (the all-space/empty input, where split would return [""], is routed
    * to an empty array explicitly).
    */
  def tokens(text: Column): Column = {
    val trimmed = trim(text)
    when(trimmed === "", array().cast("array<string>"))
      .otherwise(split(trimmed, " +"))
  }

  /** BPE-ish regex tokens: alphanumeric runs (a cheap proxy for subword
    * token counting when no tokenizer model is shipped).
    */
  def reTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))

  /** Canonical normalization for exact dedup: lowercase, collapse runs of
    * whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Unicode accent stripping (NFD + drop combining marks) — the P7
    * string-hygiene primitive ([[graft.expressions.StripAccents]]).
    */
  def stripAccents(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.StripAccents(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Exact-dedup fingerprint: md5 of the normalized text. */
  def exactFingerprint(text: Column): Column = md5(normalize(text))

  /** Word n-gram shingles over the token array (n consecutive tokens,
    * space-joined). Documents shorter than n tokens yield an empty array.
    * Compiled ([[graft.expressions.TokenShingles]], r12): the former
    * `transform`+`slice` HOF evaluated its lambda interpreted with a
    * slice copy per position — byte-identical output, one codegen loop.
    */
  def shingles(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.TokenShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), n))

  /** Long-form word n-gram shingles: (idCol, shingle) rows — one
    * compiled row-local pass ([[graft.expressions.TokenShingles]]) plus
    * an explode. Until r12 this was a posexplode + window-`lead`
    * assembly, defended against the interpreted HOF form; the compiled
    * kernel beats both and drops the window's doc-keyed exchange of
    * every token row — on a corpus pass that exchange was the whole
    * corpus shuffled once per shingling, and downstream per-doc
    * aggregates are better served by map-side partial aggregation over
    * the exploded stream than by reusing a pre-aggregation exchange.
    * Documents with fewer than n tokens contribute no rows — restore
    * them with a left join from the doc base if needed.
    */
  def explodedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      explode(shingles(tokens(col(textCol)), n)).as("shingle"))

  /** Per-document DISTINCT shingles: identical row set to
    * `explodedShingles(...).distinct()` — the id column rides every row,
    * so that global distinct only ever deduped WITHIN a document — but
    * deduped ROW-LOCALLY (`array_distinct` before the explode), which
    * deletes the corpus-wide (id, shingle) exchange the distinct paid.
    * At 100 TB that exchange was the whole exploded corpus shuffled once
    * per consumer (the single biggest frame of the overlap-gate
    * pipelines); downstream per-doc aggregates run map-side over the
    * scan partitioning instead.
    *
    * Precondition: each (id, text) row is unique. The identity above only
    * holds then: a duplicated row emits its shingles twice, where the
    * global distinct merged them, so per-id shingle counts double. Callers
    * dedup ids upstream or accept that inflation.
    */
  def explodedDistinctShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("shingle"))

  /** Multiset count of tokens in a fixed word set — a codegen hash-probe
    * per token ([[graft.expressions.CountInSet]]); the HOF form
    * `size(filter(toks, isin))` runs interpreted with an O(|words|) scan
    * per token and dominated the corpus language-ID pass.
    */
  def countInSet(toks: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.CountInSet(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), words))

  /** Fraction of tokens found in `words` (a small function-word list) —
    * the language-ID / quality signal.
    */
  def stopwordRatio(toks: Column, words: Seq[String]): Column =
    // branch-free on purpose: a when(size>0, ...) guard puts the count and
    // the token expression inside a conditional branch, which excludes
    // them from whole-stage codegen's common-subexpression elimination —
    // language-ID then re-tokenizes the text once PER PROFILE. Divide
    // yields null on a zero denominator (ANSI off), so coalesce restores
    // the 0.0-for-empty contract with every subtree unconditionally
    // evaluated and shareable.
    coalesce(countInSet(toks, words).cast("double") / size(toks), lit(0.0))

  /** Per-language function-word profiles (public-knowledge closed classes;
    * deliberately tiny so the oracle SQL can inline them).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "en", "un"),
  )

  /** Argmax-by-score language prediction with deterministic tiebreak
    * (higher score wins; ties break to the lexicographically first code;
    * all-zero scores → "und" i.e. undetermined, ISO 639-3 style).
    */
  def predictLang(toks: Column): Column = {
    // Argmax via struct max over (score, -profileIndex): the max struct has
    // the highest score, ties resolving to the highest -index = EARLIEST
    // profile (same semantics as a strictly-greater fold). Each profile's
    // score expression appears exactly once — a when/greatest fold instead
    // embeds every earlier score in every later comparison, a quadratic
    // expression tree that dominated the corpus language-ID pass.
    val scored = LangProfiles.zipWithIndex.map { case ((_, words), i) =>
      struct(stopwordRatio(toks, words).as("s"), lit(-i).as("ni"))
    }
    val codes = array(LangProfiles.map(p => lit(p._1)): _*)
    val best = array_max(array(scored: _*))
    when(best("s") > 0.0, element_at(codes, lit(1) - best("ni"))).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: rewards reasonable length, function
    * words, and mid-length tokens; penalizes very short docs. Weights are
    * arbitrary-but-fixed (documented, reproducible).
    */
  def qualityScore(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    // Σ token lengths == length of the concatenation (array_join) — one
    // codegen call instead of an interpreted per-token aggregate lambda;
    // branch-free for the same CSE reason as stopwordRatio.
    val meanLen = coalesce(
      length(array_join(toks, "")).cast("double") / nTok, lit(0.0))
    val stop = stopwordRatio(toks, LangProfiles.flatMap(_._2).distinct)
    val lenScore = least(nTok / 50.0, lit(1.0))
    val wordScore = when(meanLen >= 3 && meanLen <= 10, 1.0).otherwise(0.5)
    round(lenScore * 0.4 + wordScore * 0.3 + least(stop * 5.0, lit(1.0)) * 0.3, 6)
  }

  /** The published Gopher document-quality rules (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", §A1.1 — public paper) as one
    * struct of integer pass-flags, all computed in a single projection
    * over (text, toks, lines):
    *  1. word count in [minWords, maxWords]
    *  2. mean word length in [3, 10]
    *  3. hash/ellipsis symbol-to-word ratio ≤ 0.1
    *  4. < 90% of lines start with a bullet
    *  5. < 30% of lines end with an ellipsis
    *  6. ≥ 80% of words contain an alphabetic character
    *  7. at least `minStopwords` distinct common-word hits
    * Flags are ints (not booleans) so the frame hashes identically across
    * engines; `keep` is the conjunction.
    */
  def gopherFlags(text: Column, toks: Column, minWords: Int = 50,
      maxWords: Int = 100000, minStopwords: Int = 2): Column = {
    val nWords = size(toks).cast("double")
    val meanLen = coalesce(length(array_join(toks, "")).cast("double") / nWords, lit(0.0))
    def occurrences(needle: String) =
      (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))
        .cast("double") / needle.length
    val symbolRatio = (occurrences("#") + occurrences("...") + occurrences("…")) / nWords
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    val nLines = greatest(size(lines).cast("double"), lit(1.0))
    val bulletLines = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•"))).cast("double")
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("double")
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double")
    val stopHits = size(array_intersect(toks,
      typedLit(LangProfiles.flatMap(_._2).distinct))).cast("int")
    val f = (c: Column) => c.cast("int")
    struct(
      f(nWords >= minWords && nWords <= maxWords).as("ok_word_count"),
      f(meanLen >= 3 && meanLen <= 10).as("ok_mean_word_len"),
      f(coalesce(symbolRatio <= 0.1, lit(false))).as("ok_symbol_ratio"),
      f(bulletLines / nLines < 0.9).as("ok_bullets"),
      f(ellipsisLines / nLines < 0.3).as("ok_ellipses"),
      f(coalesce(alphaWords / nWords, lit(0.0)) >= 0.8).as("ok_alpha_words"),
      f(stopHits >= minStopwords).as("ok_stopwords"))
  }

  /** Sketch fingerprint: md5 over the k lexicographically-smallest distinct
    * shingle hashes (a winnowing-style content signature robust to small
    * edits at the end of the document).
    */
  def sketchFingerprint(sh: Column, k: Int): Column =
    md5(concat_ws("|", slice(array_sort(array_distinct(transform(sh, s => md5(s)))), 1, k)))

  /** Deterministic sampling bucket in [0, 100): the first 60 bits of
    * md5(key) mod 100. Content-addressed sampling is the scale-safe
    * alternative to `rand()`-based `sample()` — reproducible across
    * runs/engines/partitionings, no RNG state per task, and the SAME doc
    * is kept or dropped when the pipeline reruns (so downstream caches
    * and oracles stay stable).
    */
  def sampleBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % 100

  /** Duplicate-n-gram fraction (Gopher-style repetition signal):
    * 1 − distinct/total over the doc's n-gram shingles; 0 for docs too
    * short to have any. Entirely row-local (array HOFs), no shuffle.
    */
  def dupNgramFraction(toks: Column, n: Int): Column = {
    val sh = shingles(toks, n)
    when(size(sh) > 0,
      round(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 6))
      .otherwise(lit(0.0))
  }

  // --- URL parsing (domain-level filtering / stats, all row-local) ---
  // Pure-regexp forms (not Spark's parse_url) so the DuckDB oracles run
  // the SAME extraction; patterns stay in the RE2 ∩ Java dialect.

  /** Hostname of a URL: the authority between `scheme://` and the first
    * `/` (no userinfo/port handling — training-data URL hygiene operates
    * on crawl URLs, which carry neither).
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/]+)", 1)

  /** Registered domain: the last two dot-labels of the host (the
    * public-suffix-list refinement is a lookup-table join at real scale;
    * two labels is the standard crawl-pipeline heuristic for gTLDs).
    */
  def urlRegisteredDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Top-level domain (last dot-label of the host). */
  def urlTld(url: Column): Column =
    regexp_extract(urlHost(url), "\\.([^.]+)$", 1)

  /** Path depth: number of `/`-separated segments after the authority
    * (`https://h/a/b` → 2; a bare host or trailing slash contributes 0).
    */
  def urlPathDepth(url: Column): Column = {
    val path = regexp_replace(url, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    size(filter(split(path, "/"), s => length(s) > 0)).cast("long")
  }

  /** BPE merge list (rank-ordered, classic English digraphs plus two
    * compound merges), shared verbatim with the DuckDB oracle so both
    * engines apply the IDENTICAL sequence. A learned merge table drops in
    * unchanged — apply-order semantics, not the table, are the operator.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "r" -> "e", "o" -> "n", "a" -> "t", "e" -> "n", "o" -> "r",
    "s" -> "t", "a" -> "r", "a" -> "l", "o" -> "u", "l" -> "e",
    "in" -> "g", "e" -> "s", "t" -> "o", "c" -> "o", "d" -> "e")

  /** Apply a BPE merge table to one word — the ENCODE half of byte-pair
    * encoding (Sennrich et al. 2016), exactly as tokenizers apply a
    * learned vocabulary: symbols start as characters and each merge, in
    * rank order, fuses its pair left-to-right non-overlapping.
    *
    * State encoding makes each merge ONE literal string replace: every
    * symbol is wrapped as `/sym/`, so interior boundaries carry TWO
    * slashes (`/t//h//e/`) and the pair pattern `/a//b/` → `/ab/`
    * consumes exactly one slash from each side — neighbors keep their
    * own, so consecutive occurrences of the same pair merge in one pass
    * exactly like a real BPE scan (`aaaa` → `aa aa`, `aaa` → `aa a`).
    * The whole encode is a fixed chain of codegen'd replaces — no loop,
    * no UDF — and the DuckDB oracle runs the IDENTICAL chain with its
    * own `replace` (both engines replace left-to-right non-overlapping).
    * Returns the delimited symbol string (`/th//e/` for "the").
    *
    * Because '/' is the state delimiter, a literal '/' INSIDE a word
    * ("and/or", URLs — whitespace tokenization permits both) would wrap
    * to '///' and corrupt the slashes/2 symbol-count invariant. The word
    * is therefore normalized by deleting '/' before wrapping — the same
    * normalization appears verbatim in the oracle chain, so cross-engine
    * parity covers it.
    */
  def bpeSymbols(word: Column, merges: Seq[(String, String)] = BpeMerges): Column = {
    val clean = call_function("replace", word, lit("/"), lit(""))
    val chars = regexp_replace(clean, "(.)", "/$1/")
    merges.foldLeft(chars) { case (acc, (a, b)) =>
      call_function("replace", acc, lit(s"/$a//$b/"), lit(s"/$a$b/"))
    }
  }

  /** Subword count of a [[bpeSymbols]] string: every symbol contributes
    * exactly two slashes (its own wrapping), so count = slashes / 2.
    */
  def bpeSubwordCount(syms: Column): Column =
    ((length(syms) - length(call_function("replace", syms, lit("/"), lit(""))))
      / 2).cast("long")

  /** Hashed-feature token weight in [-2^31, 2^31): the first 8 md5 hex
    * chars as an unsigned 32-bit int, re-centered to signed. The "learned"
    * weight table of the hashed linear classifier ([[PipelineQueries]]
    * t28) — deterministic, engine-portable, and exactly what a real
    * fastText-style scorer does modulo where the weights come from (a
    * trained table joins in by the same hash at production scale).
    */
  def hashedTokenWeight(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") - (1L << 31)
}
