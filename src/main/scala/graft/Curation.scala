package graft

import org.apache.spark.sql.Column

import graft.GraftConfig.Literal
import graft.functions.TextFunctions.{gopherFlags, qualityScore}
import graft.operators.PerplexityGate

/** Every `curation.*` setting of [[CurateApp]] and [[CurateStreamApp]]
  * as one immutable value. [[Curation.default]] holds the compiled-in
  * defaults and [[Curation.fromConfig]] reads the conf keys (see the
  * `curation` block of `conf/graft.conf`): no other code names a
  * `curation.*` key or its default, so the batch and stream apps cannot
  * drift apart on a threshold.
  *
  * A misspelled selector fails here, at construction, whether or not
  * the batch at hand would reach the stage it selects (a text-only
  * stream never runs the media screens, yet `imageScreen = "phsh"` is
  * still a broken deployment).
  *
  * Some settings apply to one app only: `benchMod`, `surgeryNGram` and
  * the `nearDupMethod` selector to the batch app; `maxBucket`,
  * `foldEvery`, `contamScreen` and the media screens to the stream app.
  */
final case class Curation(
    qualityGate: String,
    qualityMin: Double,
    perplexityMaxNllE6: Long,
    benchMod: Int,
    contamGate: String,
    maxOverlap: Double,
    fuzzyMinJaccard: Double,
    surgeryMinKeepFrac: Double,
    surgeryNGram: Int,
    surgeryPad: Int,
    maxBucket: Int,
    foldEvery: Int,
    widths: DedupWidths,
    imageScreen: String,
    imageMaxHamming: Int,
    audioScreen: String,
    audioMinContainment: Double,
    contamScreen: String) {

  require(Set("score", "gopher", "perplexity")(qualityGate),
    s"curation.qualityGate must be score|gopher|perplexity, got '$qualityGate'")
  require(Set("overlap", "fuzzy", "surgery")(contamGate),
    s"curation.contamGate must be overlap|fuzzy|surgery, got '$contamGate'")
  require(Set("off", "overlap", "fuzzy", "surgery")(contamScreen),
    s"curation.contamScreen must be off|overlap|fuzzy|surgery, got '$contamScreen'")
  require(Set("off", "phash")(imageScreen),
    s"curation.imageScreen must be off|phash, got '$imageScreen'")
  require(Set("off", "fingerprint")(audioScreen),
    s"curation.audioScreen must be off|fingerprint, got '$audioScreen'")

  /** The reject verdict of the row-local quality gates over a text
    * column and its tokens: `score` = composite score below
    * `qualityMin`, `gopher` = any Rae et al. 2021 rule fails. None for
    * `perplexity`, which is not row-local: the batch app trains its
    * language model on the corpus, the stream app reads it from state.
    */
  def lowQuality(text: Column, toks: Column): Option[Column] = qualityGate match {
    case "score" => Some(qualityScore(text, toks) < qualityMin)
    case "gopher" =>
      val g = gopherFlags(text, toks)
      Some((g("ok_word_count") * g("ok_mean_word_len") * g("ok_symbol_ratio")
        * g("ok_bullets") * g("ok_ellipses") * g("ok_alpha_words")
        * g("ok_stopwords")) === 0)
    case _ => None
  }
}

object Curation {

  /** The compiled-in defaults; `conf/graft.conf` spells out the same values. */
  val default: Curation = Curation(
    qualityGate = "score",
    qualityMin = 0.5,
    perplexityMaxNllE6 = PerplexityGate.DefaultMaxAvgNllE6,
    benchMod = 50,
    contamGate = "overlap",
    maxOverlap = 0.5,
    fuzzyMinJaccard = 0.5,
    surgeryMinKeepFrac = 0.5,
    surgeryNGram = 5,
    surgeryPad = 5,
    maxBucket = 10000,
    foldEvery = 8,
    widths = DedupWidths.default,
    imageScreen = "off",
    imageMaxHamming = 6,
    audioScreen = "off",
    audioMinContainment = 0.8,
    contamScreen = "off")

  /** The `curation.*` keys of `c`; a missing key keeps its default, a
    * value that does not parse throws (as in [[Detection.fromConfig]]).
    */
  def fromConfig(c: GraftConfig): Curation = {
    val d = default
    val w = d.widths
    def int(key: String, default: Int) = c.strict(key, default, Literal.Int)
    def long(key: String, default: Long) = c.strict(key, default, Literal.Long)
    def double(key: String, default: Double) = c.strict(key, default, Literal.Double)
    Curation(
      qualityGate = c.getString("curation.qualityGate", d.qualityGate),
      qualityMin = double("curation.qualityMin", d.qualityMin),
      perplexityMaxNllE6 = long("curation.perplexityMaxNllE6", d.perplexityMaxNllE6),
      benchMod = int("curation.benchMod", d.benchMod),
      contamGate = c.getString("curation.contamGate", d.contamGate),
      maxOverlap = double("curation.maxOverlap", d.maxOverlap),
      fuzzyMinJaccard = double("curation.fuzzyMinJaccard", d.fuzzyMinJaccard),
      surgeryMinKeepFrac = double("curation.surgeryMinKeepFrac", d.surgeryMinKeepFrac),
      surgeryNGram = int("curation.surgeryNGram", d.surgeryNGram),
      surgeryPad = int("curation.surgeryPad", d.surgeryPad),
      maxBucket = int("curation.maxBucket", d.maxBucket),
      foldEvery = int("curation.foldEvery", d.foldEvery),
      widths = DedupWidths(
        method = c.getString("curation.nearDupMethod", w.method),
        numPerms = int("curation.minhash.numPerms", w.numPerms),
        numBands = int("curation.minhash.numBands", w.numBands),
        simhashBits = int("curation.simhash.bits", w.simhashBits),
        simhashBucketBits = int("curation.simhash.bucketBits", w.simhashBucketBits),
        simhashMaxHamming = int("curation.simhash.maxHamming", w.simhashMaxHamming),
        semanticTau = double("curation.semantic.tau", w.semanticTau),
        semanticTargetCluster =
          int("curation.semantic.targetCluster", w.semanticTargetCluster)),
      imageScreen = c.getString("curation.imageScreen", d.imageScreen),
      imageMaxHamming = int("curation.image.maxHamming", d.imageMaxHamming),
      audioScreen = c.getString("curation.audioScreen", d.audioScreen),
      audioMinContainment = double("curation.audio.minContainment", d.audioMinContainment),
      contamScreen = c.getString("curation.contamScreen", d.contamScreen))
  }
}
