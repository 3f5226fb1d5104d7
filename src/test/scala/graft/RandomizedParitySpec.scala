package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, Dedup, RangeJoin}
import graft.queries.ScratchDirs

/** Randomized parity: each distributed operator vs a naive in-memory
  * reference implementation on seeded random inputs (seeded so failures
  * reproduce; a handful of datasets rather than full forAll because each
  * comparison pays Spark job latency).
  */
class RandomizedParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("connectedComponents matches naive union-find on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 40
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // naive union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val expected = touched.map(v => v -> {
        // component min = min node id among nodes sharing the root
        val r = find(v.toInt)
        touched.filter(u => find(u.toInt) == r).min
      }).toMap
      val got = Dedup.connectedComponents(edges.toDF("doc1", "doc2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("connectedComponents is identical with durable checkpointing enabled") {
    import spark.implicits._
    val rnd = new Random(42)
    val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val local = Dedup.connectedComponents(edges.toDF("doc1", "doc2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = ScratchDirs.create("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val durable = Dedup.connectedComponents(edges.toDF("doc1", "doc2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(durable == local)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("ngramJaccardPairs clone collapse matches the direct per-pair verify") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    // random corpora with planted clone groups AND case-variant docs —
    // case variants share the (lossy, lowercased) exact-dedup fingerprint
    // but have different shingle sets, which is exactly the hazard the
    // raw-text collapse key must not trip over
    for (seed <- 1 to 3) {
      val rnd = new Random(600 + seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "Alpha", "BETA")
      def text() = Seq.fill(8 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bases = Seq.tabulate(12)(i => (i.toLong, text()))
      val clones = bases.take(4).flatMap { case (i, t) =>
        Seq((100L + i, t), (200L + i, t)) } // clone groups of 3
      val caseVars = bases.slice(4, 7).map { case (i, t) => (300L + i, t.toUpperCase) }
      val docs = (bases ++ clones ++ caseVars)
        .map { case (id, t) => (id, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
      val got = Dedup.ngramJaccardPairs(docs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // direct reference: same candidates, shingle sets computed per doc,
      // jaccard per pair with no collapse
      val cands = Dedup.lshCandidatePairs(docs)
        .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1)))
      val sh = docs.select(col("doc_id"),
          array_distinct(shingles(tokens(col("text")), Dedup.ShingleSize)).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val expected = cands.flatMap { case (a, b) =>
        val (s1, s2) = (sh(a), sh(b))
        val j = BigDecimal(s1.intersect(s2).size.toDouble / s1.union(s2).size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (j >= 0.5) Some((a, b) -> j) else None
      }.toMap
      assert(got == expected, s"seed $seed: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet}")
    }
  }

  test("asOfJoin matches a naive per-row scan on random data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(100 + seed)
      val left = Seq.tabulate(30)(i => (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(50).toLong))
      val right = Seq.tabulate(30)(i => (rnd.nextInt(5).toLong, 1000L + i, rnd.nextInt(50).toLong))
      val expected = left.map { case (k, id, t) =>
        val cands = right.filter(r => r._1 == k && r._3 <= t)
        // operator tie-break: max (time, payload struct) — payload is (rid)
        id -> (if (cands.isEmpty) -1L else cands.maxBy(r => (r._3, r._2))._2)
      }.toMap
      val got = AsOfJoin.asOfJoin(
          left.toDF("k", "id", "t"), right.toDF("k", "rid", "t"), "k", "t", Seq("rid", "t"))
        .select(col("id"), col("matched.rid"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("asOfJoin with tolerance matches a naive bounded per-row scan on random data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(200 + seed)
      val tol = 7L
      val left = Seq.tabulate(30)(i => (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(50).toLong))
      val right = Seq.tabulate(30)(i => (rnd.nextInt(5).toLong, 1000L + i, rnd.nextInt(50).toLong))
      val expected = left.map { case (k, id, t) =>
        val cands = right.filter(r => r._1 == k && r._3 <= t && r._3 >= t - tol)
        id -> (if (cands.isEmpty) -1L else cands.maxBy(r => (r._3, r._2))._2)
      }.toMap
      val got = AsOfJoin.asOfJoin(
          left.toDF("k", "id", "t"), right.toDF("k", "rid", "t"), "k", "t",
          Seq("rid", "t"), tolerance = Some(lit(tol)))
        .select(col("id"), col("matched.rid"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("LSH nearDupPairs is a subset of brute force with matching sims, and recalls planted near-dups") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    val rnd = new Random(42)
    val dim = 16
    // 30 random base vectors + a planted near-duplicate of each of the
    // first 10 (tiny perturbation → cosine ≈ 0.99)
    val base = Seq.tabulate(30)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val planted = base.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ planted).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val brute = SimilaritySearch.nearDupPairs(corpus, 0.9, nPlanes = 0, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilaritySearch.nearDupPairs(corpus, 0.9, nPlanes = 4, dim = dim, nTables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // soundness: every LSH pair is a true pair with the identical sim
    lsh.foreach { case (pair, sim) =>
      assert(brute.contains(pair) && brute(pair) == sim, s"spurious or drifted pair $pair")
    }
    // recall on the planted ~0.99-cosine duplicates (expected ≈ 90% with
    // 4 planes × 3 tables; seeded, so this is a deterministic assertion)
    val plantedPairs = (0 until 10).map(i => (i.toLong, 100L + i)).filter(brute.contains)
    val recalled = plantedPairs.count(lsh.contains)
    assert(plantedPairs.nonEmpty)
    assert(recalled.toDouble / plantedPairs.size >= 0.7,
      s"recall $recalled/${plantedPairs.size} below 0.7")
  }

  test("adaptive nearDupPairs picks the integer-exact plane count and delegates") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    // the selection rule: smallest p≥4 with 2^p·target ≥ n
    assert(SimilaritySearch.adaptivePlaneCount(500, 128) == 4)
    assert(SimilaritySearch.adaptivePlaneCount(2048, 128) == 4) // exact boundary
    assert(SimilaritySearch.adaptivePlaneCount(2049, 128) == 5)
    assert(SimilaritySearch.adaptivePlaneCount(20000, 128) == 8)
    assert(SimilaritySearch.adaptivePlaneCount(100000, 128) == 10)
    val rnd = new Random(7)
    val dim = 16
    // small corpus (n ≤ 2048 → p = 4): bit-identical to the fixed contract
    val small = Seq.tabulate(40)(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val fixed = SimilaritySearch.nearDupPairs(small, 0.5, nPlanes = 4, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSet
    val adaptive = SimilaritySearch.nearDupPairsAdaptive(small, 0.5, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toSet
    assert(adaptive == fixed)
    // large corpus (n = 5050 → p = 6): pure delegation to the chosen p,
    // and planted ~0.99-cosine dups still recalled through more planes
    val base = Seq.tabulate(5000)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val planted = base.take(50).map { case (i, v) =>
      (10000L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ planted).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    assert(SimilaritySearch.adaptivePlaneCount(5050, 128) == 6)
    val big = SimilaritySearch.nearDupPairsAdaptive(corpus, 0.9, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atP6 = SimilaritySearch.nearDupPairs(corpus, 0.9, nPlanes = 6, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(big == atP6)
    val recalledBig = (0 until 50).count(i => big.contains((i.toLong, 10000L + i)))
    assert(recalledBig >= 40, s"planted recall $recalledBig/50 below 40")
  }

  test("semantic two-level quantizer (k > FlatKMax): planted exact dups pair, head stays generator-identical") {
    import spark.implicits._
    import graft.operators.SimilaritySearch
    val rnd = new Random(11)
    val dim = 8
    // targetCluster=2 over 3000 vectors → k=1500 > FlatKMax=1024: the
    // two-level (coarse k-means + in-cell hyperplane) regime
    val base = Seq.tabulate(3000)(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    // exact duplicates: θ=0, so NO hyperplane can separate them and the
    // coarse assignment is identical — the hybrid must always pair them
    val planted = base.take(5).map { case (i, v) => (10000L + i, v) }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = SimilaritySearch
      .semanticCandidatePairs(corpus, 0.95, targetCluster = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 10000L + i)), s"planted dup $i lost")
    }
    // the standalone assignment head reproduces the generator's pair set
    // in the hybrid regime too (the c5x-oracle property), and the
    // assignment is deterministic across runs
    val asg = SimilaritySearch.semanticAssignments(corpus, targetCluster = 2)
    val asg2 = SimilaritySearch.semanticAssignments(corpus, targetCluster = 2)
    assert(asg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      asg2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val withCl = corpus.join(asg, Seq("vec_id"))
    val a = withCl.select(col("cluster"), col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = withCl.select(col("cluster"), col("vec_id").as("id2"), col("embedding").as("v2"))
    val derived = a.join(b, Seq("cluster"))
      .filter(col("id1") < col("id2") &&
        round(graft.functions.VectorFunctions.cosine(col("v1"), col("v2")), 6) >= 0.95)
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == derived)
  }

  test("window-interpolated percentiles match Spark's exact percentile aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 3) {
      val rnd = new Random(100 + seed)
      val df = Seq.fill(500)((if (rnd.nextBoolean()) "A" else "B", rnd.nextDouble() * 1e5))
        .toDF("g", "v")
      val exact = df.groupBy($"g")
        .agg(expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.99)").as("p99"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val wg = Window.partitionBy($"g")
      val ranked = df
        .withColumn("rn", row_number().over(wg.orderBy($"v")))
        .withColumn("n", count(lit(1)).over(wg))
      def pct(p: Double) = {
        val rowLo = floor((col("n") - 1) * p) + 1
        val vlo = max(when(col("rn") === rowLo, col("v")))
        val vhi = coalesce(max(when(col("rn") === rowLo + 1, col("v"))), vlo)
        val idx = (max(col("n")) - 1) * p
        vlo + (idx - floor(idx)) * (vhi - vlo)
      }
      val got = ranked.groupBy($"g").agg(pct(0.5).as("p50"), pct(0.99).as("p99"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      exact.foreach { case (g, (e50, e99)) =>
        assert(math.abs(got(g)._1 - e50) < 1e-9 && math.abs(got(g)._2 - e99) < 1e-9,
          s"seed $seed group $g: got ${got(g)}, exact ($e50, $e99)")
      }
    }
  }

  test("upsert laws: key partition, precedence, and replay idempotence") {
    import spark.implicits._
    import graft.operators.ProfileStore
    for (seed <- 1 to 3) {
      val rnd = new Random(200 + seed)
      val state = Seq.fill(60)((rnd.nextInt(40).toLong, "old"))
        .distinctBy(_._1).toDF("k", "v")
      val updates = Seq.fill(30)((rnd.nextInt(40).toLong, "new"))
        .distinctBy(_._1).toDF("k", "v")
      val stateKeys = state.select("k").as[Long].collect().toSet
      val updKeys = updates.select("k").as[Long].collect().toSet

      val ins = ProfileStore.insertIfAbsent(state, updates, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(ins.keySet == stateKeys ++ updKeys)
      stateKeys.foreach(k => assert(ins(k) == "old")) // never overwrites
      (updKeys -- stateKeys).foreach(k => assert(ins(k) == "new"))

      val up = ProfileStore.upsert(state, updates, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(up.keySet == stateKeys ++ updKeys)
      updKeys.foreach(k => assert(up(k) == "new")) // updates win
      (stateKeys -- updKeys).foreach(k => assert(up(k) == "old"))
      // replay: applying the same batch again changes nothing
      val replayed = ProfileStore.upsert(
        ProfileStore.upsert(state, updates, Seq("k")), updates, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replayed == up, s"seed $seed")
    }
  }

  test("triangleCount matches naive enumeration on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(300 + seed)
      val n = 25
      val raw = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val expected = (for {
        Seq(x, y, z) <- canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
          .combinations(3)
        if canon((x, y)) && canon((y, z)) && canon((x, z))
      } yield 1).size.toLong
      val got = graft.operators.GraphOps
        .triangleCount(graft.operators.GraphOps.canonicalEdges(raw.toDF("a", "b"), "a", "b"))
        .collect().head.getLong(0)
      assert(got == expected, s"seed $seed")
    }
  }

  test("sessionize matches a naive per-user fold on random event times") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(400 + seed)
      val gapUs = 10L * 60 * 1000000
      val events = Seq.fill(120)(
        (rnd.nextInt(5).toLong, new java.sql.Timestamp(rnd.nextInt(90) * 60000L)))
      val expected = events.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2.getTime * 1000).sorted
        // fold into sessions: new session when gap exceeds threshold
        val sessions = ts.foldLeft(List.empty[List[Long]]) {
          case (Nil, t) => List(List(t))
          case (cur :: done, t) =>
            if (t - cur.head > gapUs) List(t) :: cur :: done
            else (t :: cur) :: done
        }.reverse.map(_.reverse)
        sessions.zipWithIndex.map { case (s, i) =>
          (u, i.toLong, s.min, s.max, s.size.toLong)
        }
      }.toSet
      val got = graft.operators.EventAnalytics.sessionize(
          events.toDF("user_id", "ts"), gapUs)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getTimestamp(2).getTime * 1000, r.getTimestamp(3).getTime * 1000,
          r.getLong(4))).toSet
      assert(got == expected, s"seed $seed")
    }
  }

  test("binnedQuantile is within one bin width of the exact quantile on random data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(500 + seed)
      val df = Seq.fill(500)(("g" + rnd.nextInt(3), rnd.nextDouble() * 80 - 10))
        .toDF("k", "v")
      val data = df.collect().map(r => r.getString(0) -> r.getDouble(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      for (p <- Seq(0.5, 0.9, 0.99)) {
        val est = graft.operators.Robust.binnedQuantile(df, Seq("k"), col("v"), 2.0, p, "q")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        // guarantee: the estimate lies in the bin of the ceil(p·n)-th order
        // statistic (the type-1 quantile), i.e. within one bin width of it
        data.foreach { case (k, vs) =>
          val v1 = vs(math.ceil(p * vs.length).toInt - 1)
          assert(math.abs(est(k) - v1) <= 2.0,
            s"seed $seed p=$p k=$k est=${est(k)} orderstat=$v1")
        }
      }
    }
  }

  test("exactGroupedQuantiles matches the window-rank form on random data") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(700 + seed)
      // mixed regimes: a big spread group, a tight group, an all-equal
      // group (w=0 short-circuit) and a singleton group
      val rows = Seq.fill(400)(("big", rnd.nextDouble() * 1e6 - 5e5)) ++
        Seq.fill(300)(("tight", 40.0 + rnd.nextDouble() * 1e-3)) ++
        Seq.fill(50)(("const", 7.25)) ++ Seq(("one", 13.0))
      val df = rnd.shuffle(rows).toDF("k", "v")
      val ps = Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99")
      // small bin count forces multi-row bins through the probe path
      val got = graft.operators.Robust
        .exactGroupedQuantiles(df, Seq("k"), col("v"), ps, bins = 16)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val expect = ps.map { case (p, _) =>
        p -> graft.operators.Robust.groupedQuantile(df, Seq("k"), col("v"), p, "q")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }.toMap
      for (k <- Seq("big", "tight", "const", "one")) {
        val (g50, g95, g99) = got(k)
        for ((p, g) <- Seq(0.5 -> g50, 0.95 -> g95, 0.99 -> g99))
          assert(math.abs(g - expect(p)(k)) <= math.abs(expect(p)(k)).max(1.0) * 1e-12,
            s"seed $seed k=$k p=$p got=$g want=${expect(p)(k)}")
      }
    }
  }

  test("rangeJoin matches a naive filter join on random intervals") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new Random(200 + seed)
      val points = Seq.tabulate(40)(i => (i.toLong, rnd.nextInt(200).toLong))
      val intervals = Seq.tabulate(15) { i =>
        val s = rnd.nextInt(180).toLong; (i.toLong, s, s + rnd.nextInt(40).toLong)
      }
      val expected = (for {
        (pid, v) <- points
        (iid, s, e) <- intervals
        if v >= s && v <= e
      } yield (pid, iid)).toSet
      val got = RangeJoin.rangeJoin(
          points.toDF("pid", "v"), "v", intervals.toDF("iid", "s", "e"), "s", "e", grid = 32L)
        .select(col("pid"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"seed $seed")
    }
  }

  test("equalFrequencyBins matches the ntile window form on random data") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // regimes: continuous values with duplicates (ties straddle tile
    // boundaries), an all-equal frame (w=0 path), and n < k (empty tiles
    // dropped). Parity target: the single-partition ntile window.
    val cases = Seq(
      (1 to 3).flatMap(seed => {
        val rnd = new Random(4200 + seed)
        Seq.fill(997)(math.floor(rnd.nextDouble() * 500) / 10) // many ties
      }),
      Seq.fill(40)(7.25),  // all-equal
      Seq(3.0, 1.0, 2.0))  // n < k
    for ((vals, i) <- cases.zipWithIndex) {
      val df = new Random(i).shuffle(vals).zipWithIndex
        .map { case (v, id) => (id.toLong, v) }.toDF("id", "v")
      val w = Window.orderBy(col("v"), col("id"))
      val expect = df.withColumn("bin", ntile(10).over(w))
        .groupBy("bin").agg(count(lit(1)).as("n"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
        .collect().map(r => (r.getInt(0).toLong, r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
      // small histogram so multi-rank bins exercise the probe path
      val got = graft.operators.Robust.equalFrequencyBins(df, col("v"), 10, bins = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
      assert(got == expect, s"case $i")
    }
  }

  // ---- compiled text kernels vs naive references on random unicode ----

  /** Random strings over a mixed alphabet that includes multi-byte code
    * points and SUPPLEMENTARY characters (surrogate pairs in the JVM's
    * UTF-16) — the cases where a code-unit loop would silently diverge
    * from substr/code-point semantics.
    */
  private def randomText(rnd: Random, len: Int): String = {
    val alphabet: IndexedSeq[String] =
      ("abcxyz 012".map(_.toString) :+ "é" :+ "ß" :+ "中" :+
        new String(Character.toChars(0x1F600)) :+ // 😀 (supplementary)
        new String(Character.toChars(0x10400))).toIndexedSeq
    (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
  }

  private def naiveGrams(s: String, k: Int): Seq[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) Seq.empty
    else (0 to cps.length - k).map(i => new String(cps, i, k))
  }

  test("KGramHashes: distinct-count and cross-doc equality match literal code-point grams") {
    for (seed <- 1 to 4) {
      val rnd = new Random(seed)
      val texts = Seq.fill(12)(randomText(rnd, 3 + rnd.nextInt(40)))
      val k = 4
      texts.foreach { t =>
        val hashes = graft.expressions.KGramHashes
          .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
        val lits = naiveGrams(t, k).distinct
        assert(hashes.numElements() == lits.size, s"seed $seed text ${t.take(20)}")
      }
      // cross-doc: shared literal gram => shared hash (same key space)
      val pairsShared = for {
        a <- texts; b <- texts if a != b
        shared = (naiveGrams(a, k).toSet intersect naiveGrams(b, k).toSet).size
      } yield {
        def hs(t: String) = {
          val arr = graft.expressions.KGramHashes
            .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
          (0 until arr.numElements()).map(arr.getLong).toSet
        }
        ((hs(a) intersect hs(b)).size, shared)
      }
      pairsShared.foreach { case (h, l) => assert(h == l) }
    }
  }

  test("WinnowedGramHashes: selection matches a naive winnow over literal grams") {
    for (seed <- 1 to 4) {
      val rnd = new Random(seed)
      val k = 4; val w = 3
      Seq.fill(12)(randomText(rnd, 3 + rnd.nextInt(40))).foreach { t =>
        val grams = naiveGrams(t, k)
        val expected: Set[String] =
          if (grams.isEmpty) Set.empty
          else {
            val win = math.min(w, grams.size)
            (0 to grams.size - win).map(i => grams.slice(i, i + win).min).toSet
          }
        val got = graft.expressions.WinnowedGramHashes
          .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k, w)
        // same cardinality, and a subset of the full-gram hash space whose
        // size matches the naive selected-value set
        assert(got.numElements() == expected.size, s"seed $seed text ${t.take(20)}")
        val all = graft.expressions.KGramHashes
          .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
        val allSet = (0 until all.numElements()).map(all.getLong).toSet
        (0 until got.numElements()).map(got.getLong).foreach(h => assert(allSet(h)))
      }
    }
  }

  test("PairCombinations emits exactly the HOF pair sequence") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    for (n <- Seq(0, 1, 2, 3, 7, 20)) {
      val ds = Array.tabulate(n)(i => (i * 31 + 7).toLong)
      val out = graft.expressions.PairCombinations.compute(new GenericArrayData(ds))
      val expected = for {
        i <- 0 until n; j <- i + 1 until n
      } yield (ds(i), ds(j))
      assert(out.numElements() == expected.size)
      val got = (0 until out.numElements()).map { x =>
        val r = out.getStruct(x, 2); (r.getLong(0), r.getLong(1))
      }
      assert(got == expected)
    }
  }

  test("bpeSymbols matches a reference BPE-apply on random words (incl. repeat chains)") {
    import spark.implicits._
    import graft.functions.TextFunctions.{bpeSymbols, bpeSubwordCount, BpeMerges}
    // reference: real BPE apply — for each merge in rank order, one
    // left-to-right non-overlapping pass over the symbol list
    def applyRef(word: String): Seq[String] = {
      var syms = word.map(_.toString).toVector
      for ((a, b) <- BpeMerges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val rnd = new Random(7)
    val letters = "theranos" // dense in merge-pair letters, forces chains
    val words = Seq("the", "then", "thth", "aaaa", "ing", "ingesting", "") ++
      (0 until 300).map(_ => Seq.fill(1 + rnd.nextInt(12))(
        letters(rnd.nextInt(letters.length))).mkString)
    val got = words.toDF("w")
      .select(col("w"), bpeSymbols(col("w")).as("syms"),
        bpeSubwordCount(bpeSymbols(col("w"))).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    got.foreach { case (w, syms, n) =>
      val ref = applyRef(w)
      val expected = if (ref.isEmpty) "" else ref.mkString("/", "//", "/")
      assert(syms == expected, s"word=$w")
      assert(n == ref.length.toLong, s"word=$w count")
    }
  }

  test("CdcChunkFps kernel matches a naive per-doc Scala reference on random docs") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naive(text: String, w: Int): Seq[String] = {
      val toks = text.trim.split(" +").filter(_.nonEmpty)
      if (toks.isEmpty) return Seq.empty
      val bnd = Array.fill(toks.length)(false)
      for (p <- 0 to toks.length - w)
        if (md5hex(toks.slice(p, p + w).mkString(" ")).head == '0')
          bnd(p + w - 1) = true
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var chunk = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- toks.indices) {
        chunk += toks(i)
        if (bnd(i) || i == toks.length - 1) {
          out += md5hex(chunk.mkString(" ")); chunk.clear()
        }
      }
      out.toSeq
    }
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "x1", "q", "zz", "longertoken9")
      val docs = (0L until 40L).map(i =>
        (i, Seq.fill(rnd.nextInt(120))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val got = Dedup.cdcChunkDedup(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (d, rs) => d -> rs.sortBy(_._2).map(_._3).toSeq }
      val expected = docs.map { case (d, t) => d -> naive(t, 4) }
        .filter(_._2.nonEmpty).toMap
      assert(got == expected, s"seed=$seed")
    }
  }
}
