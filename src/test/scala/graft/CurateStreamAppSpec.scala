package graft

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ScratchDirs

/** The continuous-curation entry point: each micro-batch is screened
  * against the evolving corpus state (quality → exact-dup → LSH
  * near-dup), survivors join that state, and a replayed batch is a
  * no-op.
  */
class CurateStreamAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, t) => (id, t, t.length.toLong, "en", "test") }
      .toDF("doc_id", "text", "n_chars", "lang", "source")
  }

  // long, plain sentences score well on the quality gate; the two seeds
  // share no subject so they don't collide in the LSH screen
  private val baseText = ("the quick brown fox jumps over the lazy dog and then " +
    "walks back home to rest for a while before the next run ") * 3
  private val shipText = ("the tall ships sailed across the wide blue ocean " +
    "carrying spices and silk toward distant harbors under a bright morning sky ") * 3

  test("stream curation: quality, exact-dup, and near-dup gates against evolving state; replay is a no-op") {
    val root = ScratchDirs.create("curatestream")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()

    // batch 0: two good docs bootstrap the corpus
    val b0 = docs(1L -> baseText, 2L -> shipText)
    CurateStreamApp.processBatch(spark, b0, stateDir, outDir, batchId = 0L)
    val out0 = spark.read.parquet(s"$outDir/curated")
    assert(out0.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // batch 1: an exact clone of doc 1, a near-dup of doc 2 (one word
    // changed), a low-quality doc, a fresh doc, an in-batch exact clone,
    // and an in-batch NEAR-dup (non-identical) of the fresh doc
    val nearDup = shipText.replace("bright", "pale")
    val fresh = ("completely different subject matter entirely about rivers " +
      "and mountains flowing gently through the green valley all day long ") * 3
    // a trailing append keeps nearly all shingles shared → deterministic
    // LSH band collision with 13 (a mid-text swap on this short repeated
    // fixture perturbs too many of its few distinct shingles)
    val freshNearDup = fresh + "with one extra closing word appended"
    val b1 = docs(
      10L -> baseText,               // exact dup of doc 1 → dropped
      11L -> nearDup,                // near-dup of doc 2 → dropped
      12L -> "x! x! x! x!",          // low quality → dropped
      13L -> fresh,                  // fresh → kept
      14L -> fresh,                  // in-batch exact clone of 13 → dropped
      15L -> freshNearDup)           // in-batch NEAR-dup of 13 → dropped
    CurateStreamApp.processBatch(spark, b1, stateDir, outDir, batchId = 1L)
    val out1 = spark.read.parquet(s"$outDir/curated")
    assert(out1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 13L))

    // state advanced: fingerprints for 1, 2, 13, committed as immutable
    // per-batch delta directories (base stays empty until a fold)
    def state() = CurateStreamApp.readCorpusState(spark, stateDir)
    assert(state().fps.count() == 3)
    assert(state().liveDeltas == Seq(0L, 1L))

    // replay of batch 1 must not duplicate output rows or state
    CurateStreamApp.processBatch(spark, b1, stateDir, outDir, batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)
    assert(state().fps.count() == 3)

    // the next batch still applies: doc 13's text is now corpus state
    CurateStreamApp.processBatch(spark, docs(20L -> fresh), stateDir, outDir, batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)

    // folding compacts the delta log into the base without changing the
    // logical state, reaps the delta dirs, and keeps replays no-ops
    val fpsBefore = state().fps.collect().map(_.toSeq).toSet
    CurateStreamApp.foldDeltas(spark, stateDir)
    val folded = state()
    assert(folded.liveDeltas.isEmpty, s"deltas not reaped: ${folded.liveDeltas}")
    assert(folded.appliedThrough == 2L)
    assert(folded.fps.collect().map(_.toSeq).toSet == fpsBefore)
    assert(!new java.io.File(s"$stateDir/corpus_deltas/batch=1").exists())
    CurateStreamApp.processBatch(spark, b1, stateDir, outDir, batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)
    // and the stream continues on top of the folded base
    CurateStreamApp.processBatch(spark, docs(30L -> (fresh + " and beyond")),
      stateDir, outDir, batchId = 3L)
    assert(state().liveDeltas == Seq(3L))
  }

  test("perplexity gate: batches screen against the bootstrapped LM state; replay still a no-op") {
    val root = ScratchDirs.create("curatestream_ppl")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val conf = GraftConfig.parse(
      """curation { qualityGate = "perplexity" }""")

    // no LM bootstrapped yet → the gate must fail loudly, not keep-all
    intercept[RuntimeException] {
      CurateStreamApp.processBatch(spark, docs(1L -> baseText),
        stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    }

    // LM trained on the fox/ship register (the "reference corpus")
    CurateStreamApp.bootstrapLm(spark,
      docs(100L -> baseText, 101L -> shipText), stateDir)

    // batch 0: one doc in the LM's register (familiar bigrams → low NLL,
    // kept), one gibberish doc (every bigram unseen → NLL = ln(1/(0+V))
    // per bigram, far above 3.45 nats → dropped)
    val gibberish = ("zq vx qkj wpf xuz bnm qrt lkp zzv " +
      "mxw pqd fhz vvk juw qnc rbl tzx ") * 3
    CurateStreamApp.processBatch(spark,
      docs(1L -> baseText, 2L -> gibberish),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))

    // the dedup screens still run downstream of the LM gate, and a
    // replayed batch is still a no-op under the perplexity config
    CurateStreamApp.processBatch(spark,
      docs(10L -> baseText, 11L -> shipText),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 11L))
    CurateStreamApp.processBatch(spark,
      docs(10L -> baseText, 11L -> shipText),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 2)

    // re-bootstrap swaps the LM atomically (same root, new tables)
    CurateStreamApp.bootstrapLm(spark, docs(200L -> gibberish), stateDir)
    CurateStreamApp.processBatch(spark, docs(20L -> (gibberish + " zq vx")),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 11L, 20L))
  }

  test("image screen: near-dup images drop against evolving band state; replay a no-op") {
    import spark.implicits._
    import graft.operators.Multimodal
    val root = ScratchDirs.create("curatestream_img")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val conf = GraftConfig.parse(
      """curation { imageScreen = "phash" }""")

    // media-bearing doc rows: FULLY distinct texts (shared-template texts
    // would trip the TEXT near-dup screen and mask the image verdicts),
    // image payloads from the gradient fixture
    def mdocs(rows: (Long, String, Array[Byte])*) =
      rows.toSeq.map { case (id, sentence, png) =>
        val t = (sentence + " ") * 3
        (id, t, t.length.toLong, "en", "test", "image", png)
      }.toDF("doc_id", "text", "n_chars", "lang", "source", "kind", "bytes")
    val tRiver = "the river flows gently downstream past mossy rocks and " +
      "old willows carrying small boats toward the distant quiet sea"
    val tHarbor = "tall cranes load heavy crates onto waiting ships while " +
      "gulls circle the busy harbor under a pale morning fog"
    val tMountain = "snow covers the high granite peaks where climbers rest " +
      "beside frozen lakes and count bright stars all night"
    val tDesert = "hot wind moves golden dunes across the empty desert while " +
      "camels walk slowly between scattered thorn bushes at dusk"
    val tForest = "ancient oaks shade the mossy forest floor where foxes " +
      "hunt quietly and mushrooms grow beside fallen silver logs"
    val tIsland = "white sand rings the small green island where palm trees " +
      "lean over clear warm water full of striped fish"

    val imgA = Multimodal.syntheticGradientPng(3L, 40L)
    val imgB = Multimodal.syntheticGradientPng(40L, 123L)
    // batch 0: two distinct images enter the corpus + the image index
    CurateStreamApp.processBatch(spark,
      mdocs((1L, tRiver, imgA), (2L, tHarbor, imgB)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // batch 1: a one-pixel perturbation of image A (cross-BATCH image
    // near-dup -> dropped despite fresh text), a fresh image (kept), and
    // an in-batch copy of that fresh image (dropped, greedy first-keeps)
    val imgAish = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(imgA))
      img.setRGB(0, 0, 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val imgC = Multimodal.syntheticGradientPng(7L, 200L)
    CurateStreamApp.processBatch(spark,
      mdocs((10L, tMountain, imgAish), (11L, tDesert, imgC), (12L, tForest, imgC)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L))

    // replay is still a no-op with the image screen on
    CurateStreamApp.processBatch(spark,
      mdocs((10L, tMountain, imgAish), (11L, tDesert, imgC), (12L, tForest, imgC)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)

    // batch 2: image C is corpus state now (its bands folded through the
    // delta log), so a re-rip of C screens out
    CurateStreamApp.processBatch(spark, mdocs((20L, tIsland, imgC)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)

    // and a text-only stream (no media columns) still flows untouched
    CurateStreamApp.processBatch(spark, docs(30L -> baseText),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 3L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 4)

    // megabucket guard: with maxBucket = 0 every touched state bucket is
    // "hot" and excluded, so a re-rip that WOULD collide passes instead —
    // the guard's recall trade is observable, proving it is live
    val confHot = GraftConfig.parse(
      """curation { imageScreen = "phash"
        |           maxBucket = "0" }""".stripMargin)
    CurateStreamApp.processBatch(spark, mdocs((40L, tIsland, imgC)),
      stateDir, outDir, Curation.fromConfig(confHot), batchId = 4L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .contains(40L), "maxBucket=0 should disable the corpus image lookup")
  }

  test("a misspelled screen selector fails a text-only batch too") {
    val root = ScratchDirs.create("curatestream_badsel")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    for (conf <- Seq("""curation { imageScreen = "phsh" }""",
        """curation { audioScreen = "fingerprnt" }""",
        """curation { contamScreen = "fuzy" }""")) {
      val e = intercept[IllegalArgumentException] {
        CurateStreamApp.processBatch(spark, docs(1L -> baseText),
          stateDir, outDir, Curation.fromConfig(GraftConfig.parse(conf)), batchId = 0L)
      }
      assert(e.getMessage.contains("must be off|"), e.getMessage)
    }
    assert(!new java.io.File(s"$outDir/curated").exists(), "a rejected conf wrote output")
  }

  test("run rejects a conf value that does not parse before it starts a query") {
    import spark.implicits._
    val root = ScratchDirs.create("curatestream_badconf")
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, String, String)](spark, 1)
    val stream = source.toDF().toDF("doc_id", "text", "n_chars", "lang", "source")
    val e = intercept[IllegalArgumentException] {
      CurateStreamApp.run(spark, stream, s"$root/state", s"$root/out", 1,
        GraftConfig.parse("""curation { qualityMin = "0.5x" }"""))
    }
    assert(e.getMessage.contains("curation.qualityMin"), e.getMessage)
    assert(!new java.io.File(s"$root/state/checkpoint").exists(), "a query was started")
  }

  test("refreshState retrains the LM from the drifted corpus: verdicts change, replay stays a no-op") {
    val root = ScratchDirs.create("curatestream_refresh")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val pplConf = GraftConfig.parse("""curation { qualityGate = "perplexity" }""")
    val scoreConf = GraftConfig.empty

    // register B: ordinary English from a DIFFERENT domain than the LM's
    // bootstrap register — every bigram unseen by LM-A, so pre-refresh
    // NLL = ln(V) per bigram > 3.45 nats
    val driftB = ("winter storms closed the mountain pass for three days " +
      "while plows worked the drifts and crews salted the long grade ") * 3
    // the probe REORDERS driftB's clauses: ~65% of its bigrams are in the
    // drifted corpus (LM-familiar after refresh) but only ~35% of its
    // TRIGRAMS match driftB, so the near-dup band screen — which would
    // eat a 3-word-edit variant and mask the LM verdict — stays quiet
    val driftB2 = ("crews salted the drifts while plows worked the long " +
      "mountain grade and winter storms closed the pass for three days ") * 3

    CurateStreamApp.bootstrapLm(spark, docs(100L -> baseText, 101L -> shipText), stateDir)
    // batch 0 (perplexity gate): register A passes, register B fails
    CurateStreamApp.processBatch(spark, docs(1L -> baseText, 2L -> driftB),
      stateDir, outDir, Curation.fromConfig(pplConf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))

    // drift: register-B text enters the corpus through the score gate
    // (the LM gate was never the only admission path)
    CurateStreamApp.processBatch(spark, docs(10L -> driftB),
      stateDir, outDir, Curation.fromConfig(scoreConf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 2)

    // pre-refresh, a register-B variant still fails the perplexity gate
    CurateStreamApp.processBatch(spark, docs(20L -> driftB2),
      stateDir, outDir, Curation.fromConfig(pplConf), batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 2,
      "register-B text must fail against the stale LM")

    // refresh: LM retrained on the accumulated curated corpus (A + B);
    // the same register-B variant now passes
    CurateStreamApp.refreshState(spark, stateDir, outDir)
    CurateStreamApp.processBatch(spark, docs(30L -> driftB2),
      stateDir, outDir, Curation.fromConfig(pplConf), batchId = 3L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 10L, 30L))

    // replays of pre- and post-refresh batches are still no-ops, and the
    // refresh folded the delta log into a compact base
    CurateStreamApp.processBatch(spark, docs(10L -> driftB),
      stateDir, outDir, Curation.fromConfig(scoreConf), batchId = 1L)
    CurateStreamApp.processBatch(spark, docs(30L -> driftB2),
      stateDir, outDir, Curation.fromConfig(pplConf), batchId = 3L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)
    val st = CurateStreamApp.readCorpusState(spark, stateDir)
    assert(st.appliedThrough >= 2L && st.fps.count() == 3)
  }

  test("contamination screen: exact and paraphrased bench text drop cross-batch; fuzzy spares fragment-quoters; replay a no-op") {
    val benchA = ("the annual report lists every coastal station with its " +
      "measured tide height and the month of the highest recorded flood ") * 3
    // benchB is long and NON-repetitive: a fragment of it then has a
    // small Jaccard against the whole (a ×3-repeated text would collapse
    // the distinct-shingle union and make even an 18-word quote a
    // near-clone by Jaccard)
    val benchB = "participants answered forty questions about planetary " +
      "orbits gravitational pull and the speed of light in a vacuum " +
      "then rated their confidence on a seven point scale before the " +
      "interviewer recorded age education and prior physics coursework " +
      "finally each person estimated how long a signal needs to travel " +
      "from the sun to the earth and explained the reasoning aloud"
    val fresh = ("gardeners planted tomato seedlings along the sunny wall " +
      "and watered them every second evening through the dry summer ") * 3
    // a pure fragment of benchB: every one of its shingles appears in the
    // bench set (overlap fraction 1.0) but its Jaccard vs benchB is low
    // and its own MinHash signature differs -> the fuzzy screen keeps it
    val quoter = benchB.split(" ").take(18).mkString(" ")

    for (mode <- Seq("overlap", "fuzzy")) {
      val root = ScratchDirs.create(s"curatestream_contam_$mode")
      val stateDir = s"$root/state"; val outDir = s"$root/out"
      new java.io.File(stateDir).mkdirs()
      val conf = GraftConfig.parse(
        s"""curation { contamScreen = "$mode" }""")

      // screen on but bench index never bootstrapped → fail loud, not keep-all
      intercept[RuntimeException] {
        CurateStreamApp.processBatch(spark, docs(1L -> fresh),
          stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
      }
      CurateStreamApp.bootstrapBench(spark,
        docs(900L -> benchA, 901L -> benchB), stateDir)

      // batch 0: a fresh doc (kept) and an EXACT copy of benchA (dropped —
      // note benchA is bench_state only, so neither the corpus fp nor the
      // band state could have caught it: the contamination screen is
      // load-bearing here)
      CurateStreamApp.processBatch(spark, docs(1L -> fresh, 2L -> benchA),
        stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
      assert(spark.read.parquet(s"$outDir/curated")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L),
        s"mode=$mode: exact bench copy must drop")

      // batch 1: a PARAPHRASED near-clone of benchB (trailing append keeps
      // nearly all shingles shared → band collision + Jaccard ≥ 0.5 →
      // both modes drop it) and the fragment-quoter (overlap drops it —
      // every quoter shingle is a bench shingle; fuzzy keeps it — low
      // Jaccard, different signature)
      CurateStreamApp.processBatch(spark,
        docs(10L -> (benchB + "with one extra closing word appended"),
             11L -> quoter),
        stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
      val after1 = spark.read.parquet(s"$outDir/curated")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expect1 = if (mode == "overlap") Set(1L) else Set(1L, 11L)
      assert(after1 == expect1, s"mode=$mode: got $after1")

      // replay of batch 1 is a no-op with the screen on
      CurateStreamApp.processBatch(spark,
        docs(10L -> (benchB + "with one extra closing word appended"),
             11L -> quoter),
        stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
      assert(spark.read.parquet(s"$outDir/curated").count() == expect1.size)
    }
  }

  test("contamScreen=surgery: bench quotes are excised on ingest; heavy contamination drops; a re-arrival of the cleaned doc is an exact-dup no-op") {
    val benchB = "participants answered forty questions about planetary " +
      "orbits gravitational pull and the speed of light in a vacuum " +
      "then rated their confidence on a seven point scale before the " +
      "interviewer recorded age education and prior physics coursework"
    val quote = benchB.split(" ").take(10).mkString(" ")
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val tail = (1 to 10).map(i => s"x$i").mkString(" ")
    val quoter = s"$filler $quote $tail" // 60 tokens, quote at 40..49
    val fresh = (1 to 20).map(i => s"c$i").mkString(" ")
    val heavy = s"$benchB zzz" // nearly every position hits

    val root = ScratchDirs.create("curatestream_surg")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val conf = GraftConfig.parse(
      """curation {
        |  contamScreen = "surgery"
        |  qualityMin = "0.0"
        |}""".stripMargin)
    CurateStreamApp.bootstrapBench(spark, docs(900L -> benchB), stateDir)

    CurateStreamApp.processBatch(spark,
      docs(1L -> fresh, 2L -> quoter, 3L -> heavy),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    val cur0 = spark.read.parquet(s"$outDir/curated")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // hits at 40..47 → span [35, 55): w36..w40, the quote, x1..x5 excised
    val expected = ((1 to 35).map(i => s"w$i") ++ (6 to 10).map(i => s"x$i"))
      .mkString(" ")
    assert(cur0.keySet == Set(1L, 2L), cur0.keySet.toString)
    assert(cur0(1L)._1 == fresh)
    assert(cur0(2L)._1 == expected, cur0(2L)._1)
    assert(cur0(2L)._2 == expected.length.toLong)

    // the state fingerprints the CLEANED text: a later arrival of the
    // same quoting doc (new id, same original text — the original fp is
    // NOT in state) re-surgers to the same cleaned text and drops on the
    // rewritten-fp state re-check
    CurateStreamApp.processBatch(spark, docs(20L -> quoter),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // replay of batch 0 is a no-op (delta marker) and state holds the
    // two survivors only
    CurateStreamApp.processBatch(spark,
      docs(1L -> fresh, 2L -> quoter, 3L -> heavy),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 2)
    assert(CurateStreamApp.readCorpusState(spark, stateDir).fps.count() == 2)
  }

  test("audio screen: gain-variant re-rips drop against the fp state; fresh tones pass") {
    import spark.implicits._
    import graft.operators.Multimodal
    val root = ScratchDirs.create("curatestream_aud")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val conf = GraftConfig.parse(
      """curation { audioScreen = "fingerprint" }""")

    def adocs(rows: (Long, String, Array[Byte])*) =
      rows.toSeq.map { case (id, t3, wav) =>
        val t = (t3 + " ") * 3
        (id, t, t.length.toLong, "en", "test", "audio", wav)
      }.toDF("doc_id", "text", "n_chars", "lang", "source", "kind", "bytes")
    val tA = "a calm voice reads the morning news about local gardens and " +
      "weekend markets while soft rain taps the studio window"
    val tB = "drums and brass open the evening show with a quick bright " +
      "theme the band has played for twenty seasons"
    val tC = "waves crash against the old pier while children count boats " +
      "and seagulls argue over a dropped sandwich"
    val tD = "an engine hums through the long tunnel as the night train " +
      "carries sleeping travelers toward the northern coast"
    val tE = "bakers stack warm loaves behind fogged glass while the first " +
      "customers queue outside in the blue winter dark"
    val tF = "library lamps glow over open atlases where students trace " +
      "rivers with pencils and whisper about distant capitals"

    // batch 0: clips from tone groups 0 (id 1) and 1 (id 22)
    CurateStreamApp.processBatch(spark,
      adocs((1L, tA, Multimodal.syntheticToneWav(1L, 700L)),
            (2L, tB, Multimodal.syntheticToneWav(22L, 700L))),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // batch 1: a gain/length-variant re-rip of group 0 (id 4 — same
    // waveform as id 1, different amplitude and length → cross-batch
    // audio dup despite fresh text), a fresh group (id 43, kept), and an
    // in-batch re-rip of that fresh group (id 46 → greedy first-keeps)
    CurateStreamApp.processBatch(spark,
      adocs((10L, tC, Multimodal.syntheticToneWav(4L, 300L)),
            (11L, tD, Multimodal.syntheticToneWav(43L, 700L)),
            (12L, tE, Multimodal.syntheticToneWav(46L, 500L))),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L))

    // replay is a no-op; the next batch screens against the folded fp state
    CurateStreamApp.processBatch(spark,
      adocs((10L, tC, Multimodal.syntheticToneWav(4L, 300L)),
            (11L, tD, Multimodal.syntheticToneWav(43L, 700L)),
            (12L, tE, Multimodal.syntheticToneWav(46L, 500L))),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)
    CurateStreamApp.processBatch(spark,
      adocs((20L, tF, Multimodal.syntheticToneWav(43L, 400L))),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 3)

    // megabucket guard: maxBucket = 0 marks every touched fp bucket hot,
    // so a re-rip that WOULD collide passes — the guard is live
    val tG = "market stalls open under striped awnings while vendors " +
      "arrange peaches and argue cheerfully about the weather"
    val confHot = GraftConfig.parse(
      """curation { audioScreen = "fingerprint"
        |           maxBucket = "0" }""".stripMargin)
    CurateStreamApp.processBatch(spark,
      adocs((30L, tG, Multimodal.syntheticToneWav(43L, 600L))),
      stateDir, outDir, Curation.fromConfig(confHot), batchId = 3L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .contains(30L), "maxBucket=0 should disable the corpus audio lookup")
  }

  test("audio screen: an arrival EXTENDING a corpus clip drops (min-side containment, m9 parity)") {
    import spark.implicits._
    import graft.operators.Multimodal
    val root = ScratchDirs.create("curatestream_aud_ext")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    val conf = GraftConfig.parse(
      """curation { audioScreen = "fingerprint" }""")

    def adocs(rows: (Long, String, Array[Byte])*) =
      rows.toSeq.map { case (id, t3, wav) =>
        val t = (t3 + " ") * 3
        (id, t, t.length.toLong, "en", "test", "audio", wav)
      }.toDF("doc_id", "text", "n_chars", "lang", "source", "kind", "bytes")
    def wavOf(pcm: Array[Int], sr: Int): Array[Byte] = {
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
      val out = new Array[Byte](pcm.length * 2)
      var i = 0
      while (i < pcm.length) {
        out(2 * i) = (pcm(i) & 0xff).toByte
        out(2 * i + 1) = ((pcm(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(sr.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(out),
        fmt, pcm.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val tA = "a calm voice reads the morning news about local gardens and " +
      "weekend markets while soft rain taps the studio window"
    val tB = "drums and brass open the evening show with a quick bright " +
      "theme the band has played for twenty seasons"
    val tC = "waves crash against the old pier while children count boats " +
      "and seagulls argue over a dropped sandwich"

    // batch 0: the short source clip (tone group 0) enters the corpus
    val clipA = Multimodal.syntheticToneWav(1L, 700L)
    CurateStreamApp.processBatch(spark, adocs((1L, tA, clipA)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 0L)
    assert(spark.read.parquet(s"$outDir/curated").count() == 1)

    // batch 1: an arrival whose FIRST HALF is clip A's waveform and whose
    // second half is a fresh tone group — the superset/extension re-rip.
    // shared = all of the state clip's fps, so min-side containment = 1.0
    // (drops); the arrival-sided rule the screen used pre-r12 would have
    // scored shared/nfp(arrival) ≈ 0.5 < 0.8 and admitted it.
    val (srA, pcmA) = Multimodal.decodePcmMono(clipA)
    val (_, pcmB) = Multimodal.decodePcmMono(Multimodal.syntheticToneWav(106L, 700L))
    val extension = wavOf(pcmA ++ pcmB, srA)
    CurateStreamApp.processBatch(spark, adocs((10L, tB, extension)),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 1L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L),
      "an arrival extending a corpus clip must drop")

    // the fresh second-half group never entered the corpus (the extension
    // was dropped whole), so a pure clip of it is admitted
    CurateStreamApp.processBatch(spark,
      adocs((20L, tC, Multimodal.syntheticToneWav(106L, 500L))),
      stateDir, outDir, Curation.fromConfig(conf), batchId = 2L)
    assert(spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 20L))
  }

  private def fsOf(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `<dir><ext>`: one of StateSwap's side entries of `dir`. */
  private def side(dir: Path, ext: String) = new Path(dir.getParent, dir.getName + ext)

  private def curatedIds(outDir: String) =
    spark.read.parquet(s"$outDir/curated").select("doc_id").collect().map(_.getLong(0)).toSet

  test("perplexity gate reads the new LM generation after a crash between swapAll's two renames") {
    val conf = GraftConfig.parse("""curation { qualityGate = "perplexity" }""")
    val gibberish = ("zq vx qkj wpf xuz bnm qrt lkp zzv " +
      "mxw pqd fhz vvk juw qnc rbl tzx ") * 3
    val reference = docs(100L -> baseText, 101L -> shipText)
    val batch = docs(1L -> baseText, 2L -> gibberish)

    val clean = ScratchDirs.create("curatestream_lm_clean")
    CurateStreamApp.bootstrapLm(spark, reference, s"$clean/state")
    CurateStreamApp.processBatch(spark, batch, s"$clean/state", s"$clean/out", Curation.fromConfig(conf), batchId = 0L)
    assert(curatedIds(s"$clean/out") == Set(1L))

    // the old generation learned the gibberish register; the new one (the
    // reference) was staged and marked, the live root renamed to .old,
    // and the process died before the staging dir was promoted
    val root = ScratchDirs.create("curatestream_lm_crash")
    val stateDir = s"$root/state"
    CurateStreamApp.bootstrapLm(spark, docs(200L -> gibberish), stateDir)
    CurateStreamApp.bootstrapLm(spark, reference, s"$root/next")
    val fs = fsOf(root)
    val lm = new Path(s"$stateDir/lm_state")
    assert(fs.rename(lm, side(lm, ".old")))
    assert(fs.rename(new Path(s"$root/next/lm_state"), side(lm, ".staging")))
    fs.create(side(lm, ".swap"), true).close()
    assert(!fs.exists(lm))

    CurateStreamApp.processBatch(spark, batch, stateDir, s"$root/out", Curation.fromConfig(conf), batchId = 0L)
    assert(curatedIds(s"$root/out") == curatedIds(s"$clean/out"))
    assert(fs.exists(lm) && Seq(".old", ".staging", ".swap").forall(e => !fs.exists(side(lm, e))))
  }

  test("a delta commit killed at any point of its swap replays to a clean run's state and output") {
    val fresh = ("completely different subject matter entirely about rivers " +
      "and mountains flowing gently through the green valley all day long ") * 3
    val b0 = docs(1L -> baseText, 2L -> shipText)
    val b1 = docs(10L -> baseText, 13L -> fresh)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    /** Run batches 0 and 1 under `root`, then `crash` batch 1's delta. */
    def run(root: String)(crash: (FileSystem, Path) => Unit): (String, String) = {
      val (stateDir, outDir) = (s"$root/state", s"$root/out")
      CurateStreamApp.processBatch(spark, b0, stateDir, outDir, batchId = 0L)
      CurateStreamApp.processBatch(spark, b1, stateDir, outDir, batchId = 1L)
      crash(fsOf(root), new Path(s"$stateDir/corpus_deltas/batch=1"))
      (stateDir, outDir)
    }
    def snapshot(stateDir: String, outDir: String) = {
      val st = CurateStreamApp.readCorpusState(spark, stateDir)
      (rows(st.fps), rows(st.bands), st.appliedThrough, st.liveDeltas,
        rows(spark.read.parquet(s"$outDir/curated/batch=1")))
    }
    val (cleanState, cleanOut) = run(ScratchDirs.create("curatestream_delta_clean"))((_, _) => ())
    val expected = snapshot(cleanState, cleanOut)
    assert(expected._4 == Seq(0L, 1L) && expected._5.map(_.head) == Set(13L))

    def copy(fs: FileSystem, from: Path, to: Path) =
      assert(FileUtil.copy(fs, from, fs, to, false, spark.sparkContext.hadoopConfiguration))
    val layouts: Seq[(String, (FileSystem, Path) => Unit)] = Seq(
      "killed while staging (no marker)" -> { (fs, d) =>
        assert(fs.rename(d, side(d, ".staging")))
        fs.delete(new Path(side(d, ".staging"), "bands"), true)
      },
      "killed after the marker, before any rename" -> { (fs, d) =>
        assert(fs.rename(d, side(d, ".staging")))
        fs.create(side(d, ".swap"), true).close()
      },
      "a replayed commit killed between its two renames" -> { (fs, d) =>
        copy(fs, d, side(d, ".old"))
        assert(fs.rename(d, side(d, ".staging")))
        fs.create(side(d, ".swap"), true).close()
      },
      "a replayed commit killed after promotion, before cleanup" -> { (fs, d) =>
        copy(fs, d, side(d, ".old"))
        fs.create(side(d, ".swap"), true).close()
      })
    for ((name, crash) <- layouts) {
      val (stateDir, outDir) =
        run(ScratchDirs.create("curatestream_delta_crash"))(crash)
      CurateStreamApp.processBatch(spark, b1, stateDir, outDir, batchId = 1L)
      assert(snapshot(stateDir, outDir) == expected, name)
      // the next fold reaps every delta entry, side entries included
      CurateStreamApp.foldDeltas(spark, stateDir)
      assert(fsOf(stateDir).listStatus(new Path(s"$stateDir/corpus_deltas")).isEmpty, name)
      assert(rows(CurateStreamApp.readCorpusState(spark, stateDir).fps) == expected._1, name)
    }
  }

  test("text screen at the cap: a corpus bucket of exactly maxBucket docs still screens; maxBucket = 0 turns the corpus lookup off") {
    val root = ScratchDirs.create("curatestream_textcap")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    // one band, so an arrival collides in one corpus bucket at most
    def at(maxBucket: Int) = Curation.default.copy(maxBucket = maxBucket,
      widths = DedupWidths.default.copy(numBands = 1))
    // repeats of one sentence share one shingle set, so one MinHash
    // signature, but each has its own exact fingerprint
    val sentence = "the tall ships sailed across the wide blue ocean carrying " +
      "spices and silk toward distant harbors under a bright morning sky "
    def batch(id: Long, maxBucket: Int) = CurateStreamApp.processBatch(spark,
      docs(id -> sentence * (id.toInt + 2)), stateDir, outDir, at(maxBucket), batchId = id)

    batch(0L, maxBucket = 1)
    // maxBucket = 0: the arrival's bucket (1 doc) is over the cap, so the
    // corpus lookup drops it and the copy enters: the bucket now holds 2
    batch(1L, maxBucket = 0)
    assert(curatedIds(outDir) == Set(0L, 1L), "maxBucket=0 should disable the corpus text lookup")
    // the arrival's only colliding bucket holds exactly maxBucket docs:
    // the bound is inclusive, so it still screens and the copy drops
    batch(2L, maxBucket = 2)
    assert(curatedIds(outDir) == Set(0L, 1L), "a bucket at the cap must still screen")
    // one doc over the cap: the bucket is dropped and the copy enters
    batch(3L, maxBucket = 1)
    assert(curatedIds(outDir) == Set(0L, 1L, 3L), "a bucket over the cap must not screen")
  }

  test("the text screen scans the corpus band index without exchanging it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val root = ScratchDirs.create("curatestream_textplan")
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    val fresh = ("completely different subject matter entirely about rivers " +
      "and mountains flowing gently through the green valley all day long ") * 3
    // a folded base (batch 0) and a live delta (batch 1) under the index
    CurateStreamApp.processBatch(spark, docs(1L -> baseText), stateDir, outDir, batchId = 0L)
    CurateStreamApp.foldDeltas(spark, stateDir)
    CurateStreamApp.processBatch(spark, docs(2L -> shipText), stateDir, outDir, batchId = 1L)

    /** The plan's nodes, through AQE wrappers, query stages and reuse. */
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => p.children.flatMap(nodes)
    })
    def state(tables: String) = s".*/corpus_(state|deltas/batch=[0-9]+)/($tables)/?".r
    def scans(table: scala.util.matching.Regex)(p: SparkPlan) = nodes(p).exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(r => table.matches(r.toString))
      case _ => false
    }
    val scansBandIndex = scans(state("bands|bucket_sizes")) _
    val scansFps = scans(state("fps")) _
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    spark.listenerManager.register(listener)
    try {
      // a near-dup of the base's doc, a near-dup of the delta's, a fresh doc
      CurateStreamApp.processBatch(spark, docs(
          10L -> (baseText + "with one extra closing word appended"),
          11L -> (shipText + "with one extra closing word appended"),
          12L -> fresh), stateDir, outDir, batchId = 2L)
      org.apache.spark.sql.graft.ListenerBus.drain(spark)
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(curatedIds(outDir) == Set(1L, 2L, 12L))
    val all = plans.asScala.toSeq
    assert(all.exists(scansBandIndex), s"no plan scanned the band index in ${all.size} plans")
    val exchanged = all.flatMap(nodes).collect {
      case e: Exchange if scansBandIndex(e) => e
    }.distinct
    assert(exchanged.isEmpty,
      s"${exchanged.size} exchanges over the band index:\n${exchanged.map(_.treeString).mkString("\n")}")
    // the exact-dup screen reads the fp state by the batch's keys too
    assert(all.exists(scansFps), s"no plan scanned the fp state in ${all.size} plans")
    val fpExchanged = all.flatMap(nodes).collect {
      case e: Exchange if scansFps(e) => e
    }.distinct
    assert(fpExchanged.isEmpty,
      s"${fpExchanged.size} exchanges over the fp state:\n${fpExchanged.map(_.treeString).mkString("\n")}")
  }
}
