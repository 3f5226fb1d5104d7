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
  * drift apart on a threshold. A value that does not parse fails
  * [[Curation.fromConfig]]; a `curation.*` key it does not read (a
  * misspelling such as `qualityMn`) is reported
  * ([[Curation.unknownKeys]], printed once per app run by
  * [[Curation.warnUnknownKeys]]) and otherwise ignored.
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

object Curation extends GraftConfig.Settings[Curation]("Curation") {

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

  protected def read(get: Get): Curation = {
    val d = default
    val w = d.widths
    Curation(
      qualityGate = get("curation.qualityGate", d.qualityGate, Literal.String),
      qualityMin = get("curation.qualityMin", d.qualityMin, Literal.Double),
      perplexityMaxNllE6 = get("curation.perplexityMaxNllE6", d.perplexityMaxNllE6, Literal.Long),
      benchMod = get("curation.benchMod", d.benchMod, Literal.Int),
      contamGate = get("curation.contamGate", d.contamGate, Literal.String),
      maxOverlap = get("curation.maxOverlap", d.maxOverlap, Literal.Double),
      fuzzyMinJaccard = get("curation.fuzzyMinJaccard", d.fuzzyMinJaccard, Literal.Double),
      surgeryMinKeepFrac =
        get("curation.surgeryMinKeepFrac", d.surgeryMinKeepFrac, Literal.Double),
      surgeryNGram = get("curation.surgeryNGram", d.surgeryNGram, Literal.Int),
      surgeryPad = get("curation.surgeryPad", d.surgeryPad, Literal.Int),
      maxBucket = get("curation.maxBucket", d.maxBucket, Literal.Int),
      foldEvery = get("curation.foldEvery", d.foldEvery, Literal.Int),
      widths = DedupWidths(
        method = get("curation.nearDupMethod", w.method, Literal.String),
        numPerms = get("curation.minhash.numPerms", w.numPerms, Literal.Int),
        numBands = get("curation.minhash.numBands", w.numBands, Literal.Int),
        simhashBits = get("curation.simhash.bits", w.simhashBits, Literal.Int),
        simhashBucketBits = get("curation.simhash.bucketBits", w.simhashBucketBits, Literal.Int),
        simhashMaxHamming = get("curation.simhash.maxHamming", w.simhashMaxHamming, Literal.Int),
        semanticTau = get("curation.semantic.tau", w.semanticTau, Literal.Double),
        semanticTargetCluster =
          get("curation.semantic.targetCluster", w.semanticTargetCluster, Literal.Int)),
      imageScreen = get("curation.imageScreen", d.imageScreen, Literal.String),
      imageMaxHamming = get("curation.image.maxHamming", d.imageMaxHamming, Literal.Int),
      audioScreen = get("curation.audioScreen", d.audioScreen, Literal.String),
      audioMinContainment =
        get("curation.audio.minContainment", d.audioMinContainment, Literal.Double),
      contamScreen = get("curation.contamScreen", d.contamScreen, Literal.String))
  }
}
