package graft

import org.apache.spark.sql.Column

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

  /** The `curation.*` keys of `c`; a missing key keeps its default. */
  def fromConfig(c: GraftConfig): Curation = {
    val d = default
    val w = d.widths
    Curation(
      qualityGate = c.getString("curation.qualityGate", d.qualityGate),
      qualityMin = c.getDouble("curation.qualityMin", d.qualityMin),
      perplexityMaxNllE6 = c.getLong("curation.perplexityMaxNllE6", d.perplexityMaxNllE6),
      benchMod = c.getInt("curation.benchMod", d.benchMod),
      contamGate = c.getString("curation.contamGate", d.contamGate),
      maxOverlap = c.getDouble("curation.maxOverlap", d.maxOverlap),
      fuzzyMinJaccard = c.getDouble("curation.fuzzyMinJaccard", d.fuzzyMinJaccard),
      surgeryMinKeepFrac = c.getDouble("curation.surgeryMinKeepFrac", d.surgeryMinKeepFrac),
      surgeryNGram = c.getInt("curation.surgeryNGram", d.surgeryNGram),
      surgeryPad = c.getInt("curation.surgeryPad", d.surgeryPad),
      maxBucket = c.getInt("curation.maxBucket", d.maxBucket),
      foldEvery = c.getInt("curation.foldEvery", d.foldEvery),
      widths = DedupWidths(
        method = c.getString("curation.nearDupMethod", w.method),
        numPerms = c.getInt("curation.minhash.numPerms", w.numPerms),
        numBands = c.getInt("curation.minhash.numBands", w.numBands),
        simhashBits = c.getInt("curation.simhash.bits", w.simhashBits),
        simhashBucketBits = c.getInt("curation.simhash.bucketBits", w.simhashBucketBits),
        simhashMaxHamming = c.getInt("curation.simhash.maxHamming", w.simhashMaxHamming),
        semanticTau = c.getDouble("curation.semantic.tau", w.semanticTau),
        semanticTargetCluster =
          c.getInt("curation.semantic.targetCluster", w.semanticTargetCluster)),
      imageScreen = c.getString("curation.imageScreen", d.imageScreen),
      imageMaxHamming = c.getInt("curation.image.maxHamming", d.imageMaxHamming),
      audioScreen = c.getString("curation.audioScreen", d.audioScreen),
      audioMinContainment = c.getDouble("curation.audio.minContainment", d.audioMinContainment),
      contamScreen = c.getString("curation.contamScreen", d.contamScreen))
  }
}
