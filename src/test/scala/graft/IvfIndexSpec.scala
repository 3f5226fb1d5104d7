package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilaritySearch
import graft.queries.ScratchDirs
import graft.sources.Catalog

/** The persisted IVF index: the serving path (build once, query against
  * the on-disk layout) must be output-identical to the fused in-session
  * probe search, and its corpus scan must prune to the probed cells'
  * directories at the SOURCE.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val emb = Catalog.embeddings(spark, SparkTestSession.sfDir)
  private lazy val idxDir = {
    val d = ScratchDirs.create("ivf_spec_")
    SimilaritySearch.buildIvfIndex(emb, "label", d)
    d
  }

  test("queryIvfIndex is output-identical to the in-session ivfTopK") {
    val queries = emb.filter(col("vec_id") < 10)
    val fused = SimilaritySearch.ivfTopK(emb, queries, "label", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val served = SimilaritySearch.queryIvfIndex(spark, idxDir, queries, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(served == fused)
    assert(served.nonEmpty)
  }

  test("appendToIvfIndex lands each new vector in its nearest existing cell and makes it findable") {
    val dir = ScratchDirs.create("ivf_app_")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val extra = emb.filter(col("vec_id") % 2 === 1)
    SimilaritySearch.buildIvfIndex(base, "label", dir)
    SimilaritySearch.appendToIvfIndex(spark, dir, extra)
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() == emb.count())
    // assignment correctness: recompute each appended vector's nearest
    // centroid independently and compare with the stored cell
    val assigned = vecs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("part").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cent = spark.read.parquet(s"$dir/centroids").collect()
      .groupBy(_.getAs[Any]("part").toString.toLong)
      .view.mapValues(_.sortBy(_.getAs[Number]("i").longValue)
        .map(_.getAs[Double]("c")).toArray).toMap
    val vres = extra.select(col("vec_id"), col("embedding")).collect()
    vres.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val vn = math.sqrt(v.map(x => x * x).sum)
      val best = cent.toSeq.map { case (p, c) =>
        val cn = math.sqrt(c.map(x => x * x).sum)
        val sim = BigDecimal(v.zip(c).map { case (a, b) => a * b }.sum / (vn * cn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, sim)
      }.maxBy { case (p, sim) => (sim, -p) }._1
      assert(assigned(id) == best, s"vec $id stored in ${assigned(id)}, nearest is $best")
    }
    // and an appended vector is findable through the query path
    val res = SimilaritySearch.queryIvfIndex(spark, dir,
      emb.filter(col("vec_id") === 1), k = 3, nProbe = 2)
    assert(res.count() == 3)
  }

  test("appendToIvfIndex breaks a rounded-cosine tie to the lower cell id") {
    import spark.implicits._
    val dir = ScratchDirs.create("ivf_tie_")
    // two cells, the higher id first: 5 at (1, 0) and 3 at (0, 1)
    SimilaritySearch.buildIvfIndex(Seq((1L, Seq(1f, 0f), 5), (2L, Seq(0f, 1f), 3))
      .toDF("vec_id", "embedding", "label"), "label", dir)
    // (1, 1) is equidistant from both; (1.0000002, 1) is nearer cell 5 by
    // ~2e-7 in cosine, which the 6 dp rounding turns into a tie
    val v = Seq(1.0000002f, 1f).map(_.toDouble)
    val cos = Seq(v(0), v(1)).map(x => x / math.sqrt(v.map(y => y * y).sum))
    assert(cos(0) > cos(1))
    assert(cos.map(c => BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)).distinct.size == 1)
    SimilaritySearch.appendToIvfIndex(spark, dir,
      Seq((10L, Seq(1f, 1f), 0), (11L, Seq(1.0000002f, 1f), 0)).toDF("vec_id", "embedding", "label"))
    val cells = spark.read.parquet(s"$dir/vectors").filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("part").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == Map(10L -> 3L, 11L -> 3L))
  }

  test("rebalanceIvfIndex restores recall after distribution drift") {
    import spark.implicits._
    val dir = ScratchDirs.create("ivf_reb_")
    SimilaritySearch.buildIvfIndex(emb, "label", dir)
    // Worst-case drift for append-only maintenance: a tight new cluster at
    // the EXACT midpoint of two fitted centroids, so appendToIvfIndex
    // splits its members (= each other's true neighbors) across the two
    // cells on noise alone and nProbe=1 recall collapses to ~the split
    // fraction. A rebalance must consolidate the cloud into one cell.
    val cent = spark.read.parquet(s"$dir/centroids").collect()
      .groupBy(_.getAs[Number]("part").longValue)
      .view.mapValues(_.sortBy(_.getAs[Number]("i").longValue)
        .map(_.getAs[Double]("c")).toArray).toMap
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val mid = unit(unit(cent(0L)).zip(unit(cent(1L))).map { case (a, b) => a + b })
    val rnd = new scala.util.Random(11)
    val nDrift = 12
    val drifted = (0 until nDrift).map { i =>
      val raw = mid.map(m => m + rnd.nextGaussian() * 0.08)
      (10000L + i, unit(raw).map(_.toFloat).toSeq, 99)
    }
    val driftDf = drifted.toDF("vec_id", "embedding", "label")
    SimilaritySearch.appendToIvfIndex(spark, dir, driftDf)
    val full = emb.select("vec_id", "embedding", "label").unionByName(driftDf)
    // ground truth: exact cosine top-5 over the full drifted corpus
    val truth = SimilaritySearch.bruteForceTopK(full, driftDf, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recall(): Double = {
      val got = SimilaritySearch.queryIvfIndex(spark, dir, driftDf, k = 5, nProbe = 1)
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(3)).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val before = recall()
    SimilaritySearch.rebalanceIvfIndex(spark, dir, sampleFraction = 1.0, iters = 6, seed = 7)
    val after = recall()
    info(f"recall@5 nProbe=1: before=$before%.2f after=$after%.2f")
    // no rows lost or duplicated by the changed-cell rewrite + raw copies
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count() + nDrift)
    assert(before < 0.85, f"drift fixture failed to degrade recall (before=$before%.2f)")
    assert(after > before + 0.15, f"rebalance did not recover recall ($before%.2f -> $after%.2f)")
    assert(after >= 0.9, f"post-rebalance recall $after%.2f below 0.9")
  }

  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
    }.flatten

  test("the vector scan prunes to the probed cells' directories") {
    val totalCells = emb.select(col("label")).distinct().count()
    val q = SimilaritySearch.queryIvfIndex(spark, idxDir,
      emb.filter(col("vec_id") === 0), k = 5, nProbe = 2)
    val scans = fileScans(q.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("vectors"))
    assert(scans.nonEmpty, "no file scan over the vectors directory found")
    // one query × nProbe=2 probes → exactly 2 of the cells' directories
    // survive partition pruning
    val parts = scans.map(_.selectedPartitions.partitionCount).sum
    assert(parts == 2, s"expected 2 pruned partitions of $totalCells, scanned $parts")
    assert(totalCells > 2)
  }
}
