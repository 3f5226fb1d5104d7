package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions.exactFingerprint
import graft.queries.ScratchDirs

/** End-to-end checks of the corpus-curation entry point on the sf0.001
  * fixture: the report must partition the corpus exactly, the curated
  * output must be duplicate- and benchmark-free, and a second pass over
  * the curated corpus must be a no-op (idempotence).
  */
class CurateAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docsOf(dir: String) = graft.sources.Catalog.documents(spark, dir)

  private lazy val outDir =
    ScratchDirs.create("curate_")

  private lazy val report = CurateApp.run(spark, sfDir, outDir)
    .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("report stages partition the corpus exactly") {
    val total = graft.sources.Catalog.documents(spark, sfDir).count()
    assert(report.values.sum == total)
    val known = Set("benchmark", "quality", "exact_dup", "near_dup",
      "contaminated", "kept")
    assert(report.keySet.subsetOf(known), report.keySet.toString)
    assert(report("kept") > 0)
    assert(report("benchmark") > 0) // doc_id ≡ 0 mod 50 exists at sf0.001
  }

  test("curated output is fingerprint-unique and benchmark-free") {
    val curated = spark.read.parquet(s"$outDir/curated")
    val n = curated.count()
    assert(n == report("kept"))
    val distinctFp = curated.select(exactFingerprint(col("text"))).distinct().count()
    assert(distinctFp == n, "duplicate fingerprints survived curation")
    assert(curated.filter(col("doc_id") % 50 === 0).count() == 0)
  }

  test("curation is idempotent: a second pass keeps every curated doc") {
    // stage the curated output as a documents table for a re-run
    val in2 = ScratchDirs.create("curate2_in_")
    spark.read.parquet(s"$outDir/curated")
      .write.mode("overwrite").parquet(s"$in2/documents.parquet")
    val out2 = ScratchDirs.create("curate2_out_")
    val report2 = CurateApp.run(spark, in2, out2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report2 == Map("kept" -> report("kept")), report2.toString)
  }

  test("no cached block outlives a CurateApp run") {
    report // force the first run so outDir/curated exists
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val in3 = ScratchDirs.create("curate3_in_")
    spark.read.parquet(s"$outDir/curated")
      .write.mode("overwrite").parquet(s"$in3/documents.parquet")
    val out3 = ScratchDirs.create("curate3_out_")
    CurateApp.run(spark, in3, out3).collect()
    // Two different lifetimes, asserted separately so the test never
    // depends on GC timing for the part run() controls synchronously:
    //  - explicitly persisted stages are released by run()'s
    //    finally-thunk BEFORE it returns → must be gone immediately;
    //  - the near-dup verify's localCheckpoint blocks are freed by the
    //    ContextCleaner only after the frame is GC'd — give those a
    //    bounded GC window, and only fail if a block that is NOT a
    //    checkpoint survives it (a real forgotten .persist)
    def newBlocks = (spark.sparkContext.getPersistentRDDs -- preexisting).toMap
    val persisted = newBlocks.filterNot(_._2.isCheckpointed)
    assert(persisted.isEmpty,
      s"explicitly persisted RDDs leaked past run(): ${persisted.keySet}")
    val deadline = System.currentTimeMillis + 30000
    var leaked = newBlocks
    while (leaked.nonEmpty && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(250)
      leaked = newBlocks
    }
    val hard = leaked.filterNot(_._2.isCheckpointed)
    assert(hard.isEmpty, s"cached RDDs leaked past run + GC window: ${hard.keySet}")
    if (leaked.nonEmpty) // cleaner lag on checkpoint blocks: note, not a failure
      info(s"localCheckpoint blocks still draining after 30s: ${leaked.keySet}")
  }

  test("release() synchronously frees the shared checkpointed stages") {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val (frame, release) = CurateApp.taggedCached(docsOf(sfDir))
    frame.groupBy(col("stage")).count().collect() // materialize the stages
    val mid = (spark.sparkContext.getPersistentRDDs.keySet -- pre).toSet
    assert(mid.nonEmpty, "expected the shared stages to be materialized")
    release()
    val post = (spark.sparkContext.getPersistentRDDs.keySet -- pre).toSet
    // the shared stages' blocks are gone the moment release() returns —
    // no GC/ContextCleaner window needed (inner operator checkpoints,
    // e.g. the LSH verify pin, are cleaner-owned and may linger)
    assert((mid -- post).nonEmpty,
      s"release() freed nothing: before=$mid after=$post")
  }

  test("qualityGate switch: quality-stage verdicts match each gate's own query") {
    import graft.operators.PerplexityGate
    import graft.functions.TextFunctions.{gopherFlags, tokens}
    val docs = graft.sources.Catalog.documents(spark, sfDir)

    def qualityDocs(gate: String) =
      CurateApp.tagged(docsOf(sfDir), Curation.default.copy(qualityGate = gate))
        .filter(col("stage") === "quality")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet

    // perplexity mode: quality rejections = non-bench docs failing the
    // t35 keep gate (bench docs are tagged benchmark first)
    val scored = PerplexityGate.nllScores(docs, col("lang") === "en")
    val pplRejects = docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .filter(col("doc_id") % 50 =!= 0 &&
        !PerplexityGate.keepExpr(coalesce(col("n_bigrams"), lit(0L)),
          coalesce(col("sum_logp_e6"), lit(0L))))
      .collect().map(_.getLong(0)).toSet
    assert(qualityDocs("perplexity") == pplRejects)
    assert(pplRejects.nonEmpty, "fixture should reject some docs on perplexity")

    // gopher mode: quality rejections = non-bench docs failing the rule
    // conjunction (t20's keep bit)
    val g = gopherFlags(col("text"), tokens(col("text")))
    val gopherRejects = docs
      .filter(col("doc_id") % 50 =!= 0 &&
        (g("ok_word_count") * g("ok_mean_word_len") * g("ok_symbol_ratio")
          * g("ok_bullets") * g("ok_ellipses") * g("ok_alpha_words")
          * g("ok_stopwords")) === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(qualityDocs("gopher") == gopherRejects)

    // the gates genuinely differ on this fixture (the switch is live)
    assert(pplRejects != gopherRejects)

    // unknown gate fails loudly, not silently-keep-everything
    intercept[RuntimeException] {
      CurateApp.tagged(docsOf(sfDir), Curation.default.copy(qualityGate = "nope")).collect()
    }
  }

  test("contamGate switch: fuzzy stage = t36 verdicts restricted to pipeline survivors") {
    import graft.operators.Decontaminate
    val docs = graft.sources.Catalog.documents(spark, sfDir)

    def byStage(gate: String) =
      CurateApp.tagged(docsOf(sfDir), Curation.default.copy(contamGate = gate))
        .select(col("doc_id"), col("stage")).collect()
        .groupBy(_.getString(1)).map { case (k, v) => k -> v.map(_.getLong(0)).toSet }

    val fuzzy = byStage("fuzzy")
    // a doc's fuzzy candidates depend only on itself and the bench set,
    // so the stage-5 verdicts must equal the standalone t36 flags
    // restricted to the docs that reached stage 5
    val bench = docs.filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text"))
    val t36Flags = Decontaminate.fuzzyScores(train, bench)
      .filter(col("max_jaccard") >= 0.5)
      .collect().map(_.getLong(0)).toSet
    val reached5 = fuzzy.getOrElse("contaminated", Set.empty) ++
      fuzzy.getOrElse("kept", Set.empty)
    assert(fuzzy.getOrElse("contaminated", Set.empty) == (t36Flags & reached5))

    // the stages still partition the corpus, and an unknown gate is loud
    assert(fuzzy.values.map(_.size).sum == docs.count())
    intercept[RuntimeException] {
      CurateApp.tagged(docsOf(sfDir), Curation.default.copy(contamGate = "nope")).collect()
    }
  }

  test("contamGate=surgery: benchmark quotes are EXCISED and the doc kept; mostly-benchmark docs still drop; overlap mode keeps the quote intact") {
    import spark.implicits._
    val benchText = "secret bench passage alpha beta gamma"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val tail = (1 to 10).map(i => s"x$i").mkString(" ")
    val quoter = s"$filler secret bench passage $tail" // one bench 3-gram
    val nearClone = s"$benchText z1"                   // ~all bench text
    val clean = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
        (0L, benchText), (1L, quoter), (2L, nearClone), (3L, clean))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    def frame(gate: String) = {
      val (f, release) = CurateApp.taggedCached(docs, Curation.default.copy(
        qualityMin = 0.0, contamGate = gate,
        surgeryNGram = 3, surgeryPad = 2, surgeryMinKeepFrac = 0.5))
      val rows = f.select(col("doc_id"), col("stage"), col("text"),
          col("n_chars")).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
        .toMap
      release(); rows
    }

    val surg = frame("surgery")
    // doc 1 quotes ONE benchmark 3-gram at position 40: the ±2-pad span
    // [38, 45) is excised (w39 w40 secret bench passage x1 x2) and the
    // doc is KEPT with exactly the surviving tokens
    val expected = ((1 to 38).map(i => s"w$i") ++ (3 to 10).map(i => s"x$i"))
      .mkString(" ")
    assert(surg(1L)._1 == "kept")
    assert(surg(1L)._2 == expected, surg(1L)._2)
    assert(surg(1L)._3 == expected.length.toLong)
    // doc 2 is the benchmark plus one token: every position hits, the
    // span union covers the doc, kept_frac 0 < 0.5 → still dropped
    assert(surg(2L)._1 == "contaminated")
    // doc 3 is untouched text-wise and kept
    assert(surg(3L)._1 == "kept" && surg(3L)._2 == clean)

    // the excised-mass column: only doc 1 carries removed tokens
    val (f2, release2) = CurateApp.taggedCached(docs, Curation.default.copy(
      qualityMin = 0.0, contamGate = "surgery",
      surgeryNGram = 3, surgeryPad = 2, surgeryMinKeepFrac = 0.5))
    val removed = f2.select(col("doc_id"), col("surgery_removed_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    release2()
    assert(removed(1L) == 7L && removed(3L) == 0L, removed.toString)

    // overlap mode: doc 1's single shared 3-gram is far below the 0.5
    // overlap floor — kept VERBATIM (no rewrite); doc 2 still drops
    val ov = frame("overlap")
    assert(ov(1L)._1 == "kept" && ov(1L)._2 == quoter)
    assert(ov(2L)._1 == "contaminated")

    // the production xxhash64 match key and the literal-string key give
    // byte-identical results (the d11 hashGrams parity contract)
    import graft.operators.Decontaminate
    val bench = docs.filter(col("doc_id") === 0L).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") =!= 0L).select(col("doc_id"), col("text"))
    def surgAll(hashed: Boolean) =
      Decontaminate.surgerySpans(train, bench, nGram = 3, pad = 2,
          hashFps = hashed)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(surgAll(true) == surgAll(false))
  }

  test("nearDupMethod=semantic: embedding near-dups drop across DISTINCT texts; text methods keep them; fail-loud without embeddings") {
    import spark.implicits._
    def unit(v: Seq[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    // three GOOD-quality docs with pairwise-disjoint vocabulary (no text
    // signature can pair them); docs 1 and 2 are semantic paraphrases
    // (cosine ≈ 0.99995 ≥ tau), doc 3 points elsewhere. Doc 1 is longer
    // → the resolution's longest-member canonical pick keeps 1, drops 2.
    val tA = ("the committee reviewed harbor safety rules and approved " +
      "new lighting for the winter piers after a short debate ") * 3
    val tB = ("volunteers cleaned the riverbank saturday sorting bottles " +
      "cans paper into labeled bins before lunch ") * 2
    val tC = ("the bakery introduced a rye loaf that sells out before " +
      "noon almost every single market day this season ") * 3
    val tD = ("night trains carry timber north across the frozen plateau " +
      "while dispatchers trade weather notes by radio ") * 2
    val in = ScratchDirs.create("curate_sem_")
    Seq(
        (1L, tA, unit(Seq(1, 0.01, 0, 0, 0, 0, 0, 0))),
        (2L, tB, unit(Seq(1, 0, 0, 0, 0, 0, 0, 0))),
        (3L, tC, unit(Seq(0, 1, 0, 0, 0, 0, 0, 0))),
        // cos(e3, e4) = 1/sqrt(1.23) ≈ 0.902: same K-Means cell as doc 3
        // but below the 0.95 default tau
        (4L, tD, unit(Seq(0, 1, 0.48, 0, 0, 0, 0, 0))))
      .map { case (id, t, e) => (id, t, t.length.toLong, "en", "test", e) }
      .toDF("doc_id", "text", "n_chars", "lang", "source", "embedding")
      .write.mode("overwrite").parquet(s"$in/documents.parquet")

    val sem = DedupWidths.default.copy(method = "semantic")
    def stages(w: DedupWidths) =
      CurateApp.tagged(docsOf(in), Curation.default.copy(widths = w))
        .select(col("doc_id"), col("stage")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stages(sem) == Map(1L -> "kept", 2L -> "near_dup",
      3L -> "kept", 4L -> "kept"))
    // the text generator sees four unrelated docs — the dial is live
    assert(stages(DedupWidths.default).values.forall(_ == "kept"))
    // a looser tau pulls the 0.9-cosine neighbor pair in too (the
    // threshold is live; doc 4 is shorter than doc 3, so 3 keeps)
    assert(stages(sem.copy(semanticTau = 0.85)) == Map(1L -> "kept",
      2L -> "near_dup", 3L -> "kept", 4L -> "near_dup"))

    // semantic over a text-only corpus fails loudly, not no-op dedup
    intercept[IllegalArgumentException] {
      CurateApp.tagged(docsOf(sfDir), Curation.default.copy(widths = sem)).collect()
    }
  }

  test("semanticAssignments reproduces the candidate generator's fit/assign head") {
    val corpus = graft.sources.Catalog.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // the d17 fixture threshold — the synthetic embeddings are
    // near-orthogonal (max pairwise cosine < 0.5), so 0.35 has live pairs
    val tau = 0.35
    val pairs = graft.operators.SimilaritySearch
      .semanticCandidatePairs(corpus, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs derived from the standalone assignment head + the same
    // rounded-cosine gate must be the SAME SET — this is the property
    // that lets the c5x oracle pin only the fit as a golden and
    // recompute the pair gate in DuckDB
    val withCl = corpus.join(
      graft.operators.SimilaritySearch.semanticAssignments(corpus),
      Seq("vec_id"))
    val a = withCl.select(col("cluster"), col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = withCl.select(col("cluster"), col("vec_id").as("id2"), col("embedding").as("v2"))
    val derived = a.join(b, Seq("cluster"))
      .filter(col("id1") < col("id2") &&
        round(graft.functions.VectorFunctions.cosine(col("v1"), col("v2")), 6) >= tau)
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == derived)
    assert(pairs.nonEmpty) // tau sits below the fixture's max pairwise cosine
  }

  test("c5x_curate_report_semantic: stages partition the embedded corpus") {
    val rep = SparkEntry.queries("c5x_curate_report_semantic")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = graft.sources.Catalog.documents(spark, sfDir).join(
      graft.sources.Catalog.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id")),
      Seq("doc_id")).count()
    assert(rep.values.sum == n)
    assert(rep("kept") > 0)
    // the semantic stage is live on this fixture at tau = 0.35
    assert(rep.getOrElse("near_dup", 0L) > 0)
  }
}
