package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Every top-k retriever is one skeleton: the query head ([[queryHead]]:
  * each query's vector and norm), a candidate generator, the exact cosine
  * of each candidate against its query, and the per-query rank
  * ([[exactTopK]]: sim desc, vec_id asc, over the one [[ranked]] window).
  * Only the candidate generator differs:
  *  - brute force: the (small) query set broadcast against the whole
  *    corpus — exact, O(|Q|·n), the correctness baseline; at 100 TB the
  *    corpus scan is embarrassingly parallel and the top-K is a
  *    per-partition heap then a tiny final merge (Spark's window + limit);
  *  - LSH buckets: random-hyperplane signatures (deterministic planes,
  *    [[graft.functions.VectorFunctions.hyperplaneSigns]]) pre-partition
  *    the corpus and each query probes its own bucket (or a few flipped
  *    ones), so the join key is the bucket id and the shuffle is O(n),
  *    never O(n²);
  *  - IVF cells: each query probes its `nProbe` nearest centroids
  *    ([[probe]]) and searches only those cells, in-session or from the
  *    persisted index;
  *  - a coarse prefix-cosine shortlist, or int8-dequantized vectors.
  *
  * The IVF centroids are one table shape ([[centroidTable]]), and a
  * vector's own cell is one rule ([[nearestCell]]): the highest rounded
  * cosine, ties to the lowest cell id — the probe's (csim desc, part asc)
  * order.
  *
  * Similarities are rounded to 6 dp BEFORE ranking so ordering is stable
  * across engines (ulp-level summation differences can't flip ranks).
  */
object SimilaritySearch {

  /** Norms are computed ONCE per row before any pairwise work — cosine on
    * a pair then costs one dot product, not one dot and two norms (a 3×
    * saving that dominates at n² pair counts).
    */
  private def withNorm(df: DataFrame, vecCol: String, normName: String): DataFrame =
    df.withColumn(normName, norm(col(vecCol)))

  /** Pairwise similarity from precomputed norms. */
  private def pairSim(v1: Column, v2: Column, n1: Column, n2: Column): Column =
    round(when(n1 * n2 > 0, dot(v1, v2) / (n1 * n2)).otherwise(lit(0.0)), 6)

  /** The query side of every retriever: (query_id, qvec, qnrm). */
  private def queryHead(queries: DataFrame): DataFrame =
    withNorm(queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "qvec", "qnrm")

  /** `df` ranked by `order` within each `by` group, the first `k` rows
    * kept, the rank (an int) in `as`.
    */
  private def ranked(df: DataFrame, order: Seq[Column], k: Int, as: String,
      by: Seq[String] = Seq("query_id")): DataFrame =
    df.withColumn(as, row_number().over(Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col(as) <= k)

  private val Rank = col("rank").cast("long").as("rank")

  /** The skeleton's tail: each candidate row (a corpus `vec_id`,
    * `embedding`, `nrm` beside a query head) scored by exact cosine, the
    * top k per query kept. Output: (query_id, rank, extra…, vec_id, sim).
    */
  private def exactTopK(candidates: DataFrame, k: Int, extra: Column*): DataFrame =
    ranked(candidates.withColumn("sim",
        pairSim(col("embedding"), col("qvec"), col("nrm"), col("qnrm"))),
      Seq(col("sim").desc, col("vec_id").asc), k, "rank")
      .select(Seq(col("query_id"), Rank) ++ extra ++ Seq(col("vec_id"), col("sim")): _*)

  /** Candidates sharing a `key` value with a probing query (the bucket or
    * the cell), the query's own row excluded.
    */
  private def sharing(corpus: DataFrame, probes: DataFrame, key: String): DataFrame =
    corpus.join(broadcast(probes), Seq(key)).filter(col("vec_id") =!= col("query_id"))

  /** The `v` values of each group as one array in ascending `i` order. */
  private def indexOrdered(i: String, v: String): Column =
    transform(array_sort(collect_list(struct(col(i), col(v)))), e => e.getField(v))

  /** Exact top-k cosine neighbors for each query vector.
    * `corpus` and `queries` both need (vec_id, embedding).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    exactTopK(withNorm(corpus, "embedding", "nrm")
      .join(broadcast(queryHead(queries)), col("vec_id") =!= col("query_id")), k)

  /** Two-stage coarse-then-rerank retrieval: stage 1 scores every corpus
    * vector against the query on only the first `coarseDim` dimensions
    * (the truncated-prefix trick — cheap when embeddings are trained
    * front-loaded, and 1/(dim/coarseDim) of the flops/bytes either way)
    * and keeps the top `shortlist`; stage 2 re-scores ONLY the shortlist
    * with exact full-dimension cosine and emits the top k. This is the
    * production retrieval shape: a cheap scan-stage bounds the expensive
    * exact stage to shortlist·|queries| pairs, and recall loss is
    * confined to true neighbors the coarse metric misranks past the
    * shortlist. Output: (query_id, rank, vec_id, sim) — sim exact.
    */
  def coarseRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      coarseDim: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be ≥ k $k")
    val trunc = (v: Column) => slice(v, 1, coarseDim)
    val c = withNorm(withNorm(corpus, "embedding", "nrm")
      .withColumn("cvec", trunc(col("embedding"))), "cvec", "cnrm")
    val q = withNorm(queryHead(queries).withColumn("qtrunc", trunc(col("qvec"))),
      "qtrunc", "qtnrm")
    // stage 1: coarse scores over truncated prefixes, shortlist per query
    val coarse = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("csim", pairSim(col("cvec"), col("qtrunc"), col("cnrm"), col("qtnrm")))
    // stage 2: exact rerank of the shortlist only
    exactTopK(ranked(coarse, Seq(col("csim").desc, col("vec_id").asc), shortlist, "crank"), k)
  }

  /** Corpus rows with their norm and hyperplane-sign bucket. */
  private def bucketed(corpus: DataFrame, planes: Seq[Array[Double]]): DataFrame =
    withNorm(corpus, "embedding", "nrm").withColumn("bucket", lshBucket(col("embedding"), planes))

  /** LSH-bucketed ANN: candidates share the query's hyperplane-sign
    * bucket; exact cosine re-ranks within the bucket. Recall < 1 by
    * design (that's the scale trade-off); nPlanes controls bucket count.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplaneSigns(nPlanes, dim)
    val q = queryHead(queries).withColumn("bucket", lshBucket(col("qvec"), planes))
    exactTopK(sharing(bucketed(corpus, planes), q, "bucket"), k, col("bucket"))
      .select("query_id", "bucket", "rank", "vec_id", "sim")
  }

  /** IVF coarse-quantizer training: per-partition centroids as long-form
    * (partition, i, c) rows — elementwise mean of member vectors.
    * Components round to 6 dp BY CONTRACT: centroids cross an
    * engine/plan boundary (saved, compared, reloaded), and rounding makes
    * them bit-identical everywhere, so probe selection can never flip on
    * a last-ulp difference. `partitionCol` is the coarse assignment — a
    * k-means prediction in a real pipeline (ml/Models.kmeansFlagger), the
    * fixture's label column in the oracle tests.
    */
  def ivfCentroids(corpus: DataFrame, partitionCol: String): DataFrame =
    corpus
      .select(col(partitionCol).as("part"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("part"), col("i"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))

  /** The centroid table every IVF path reads: (part, cvec, cnrm), one row
    * per cell of the long-form [[ivfCentroids]] rows, components in index
    * order (a deterministic fold).
    */
  private def centroidTable(long: DataFrame): DataFrame =
    long.groupBy(col("part")).agg(indexOrdered("i", "c").as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))

  /** The `nProbe` nearest cells of each query: (query_id, qvec, qnrm,
    * part), ties to the lower cell id.
    */
  private def probe(queries: DataFrame, cent: DataFrame, nProbe: Int): DataFrame =
    ranked(queryHead(queries).crossJoin(broadcast(cent))
        .withColumn("csim", pairSim(col("qvec"), col("cvec"), col("qnrm"), col("cnrm"))),
      Seq(col("csim").desc, col("part").asc), nProbe, "pr")
      .select(col("query_id"), col("qvec"), col("qnrm"), col("part"))

  /** The top k of each query among the rows of the cells it probed. */
  private def cellTopK(vecs: DataFrame, probed: DataFrame, k: Int): DataFrame =
    exactTopK(sharing(vecs, probed, "part"), k, col("part").cast("long").as("part"))

  /** The centroid table on the driver, ascending cell id: cells × dim
    * doubles, bounded by construction.
    */
  private def centroidsOnDriver(cent: DataFrame): Seq[(Long, Seq[Double])] =
    cent.collect().toSeq
      .map(r => r.getAs[Number]("part").longValue -> r.getSeq[Double](1))
      .sortBy(_._1)

  /** The nearest-cell rule: each row's (`embedding`, `nrm`) cell among
    * `cent` (ascending cell id) — the highest rounded cosine, ties to the
    * lowest cell id (strict > keeps the first of the ascending scan), the
    * order [[probe]] ranks cells in. The centroids are driver-resident
    * and tiny, so this is a row-LOCAL fold over a literal centroid array:
    * no join, no shuffle, whole-stage codegen end to end.
    */
  private def nearestCell(cent: Seq[(Long, Seq[Double])]): Column = {
    val cells = cent.map { case (p, c) =>
      struct(lit(p).as("p"), array(c.map(lit): _*).as("cv"),
        lit(math.sqrt(c.map(x => x * x).sum)).as("cn"))
    }
    aggregate(array(cells: _*), struct(lit(-2.0).as("s"), lit(-1L).as("p")), (acc, e) => {
      val sim = pairSim(col("embedding"), e.getField("cv"), col("nrm"), e.getField("cn"))
      when(sim > acc.getField("s"), struct(sim.as("s"), e.getField("p").as("p"))).otherwise(acc)
    }).getField("p")
  }

  /** IVF probe search: each query scores the (few) centroids, probes the
    * `nProbe` nearest partitions, and searches ONLY those partitions
    * exactly — the corpus-side work is a partition-pruned fraction of the
    * data, which is the entire point of IVF at 100 TB.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, partitionCol: String,
      k: Int, nProbe: Int): DataFrame =
    cellTopK(withNorm(corpus, "embedding", "nrm").withColumn("part", col(partitionCol)),
      probe(queries, centroidTable(ivfCentroids(corpus, partitionCol)), nProbe), k)

  /** Persisted IVF index, build side: writes the coarse centroid table
    * and the corpus PARTITIONED BY its coarse cell, vector norms
    * precomputed — the directory layout IS the index. The serving-shaped
    * counterpart of [[ivfTopK]] (which fuses a one-shot index build into
    * each query): build once after ingest/compaction, then every query
    * pays only its probed cells.
    */
  def buildIvfIndex(corpus: DataFrame, partitionCol: String, dir: String): Unit = {
    ivfCentroids(corpus, partitionCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    withNorm(corpus, "embedding", "nrm")
      .withColumn("part", col(partitionCol).cast("long"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(s"$dir/vectors")
  }

  /** Persisted IVF index, incremental append: assign new vectors to
    * their nearest EXISTING centroid ([[nearestCell]]) and add them into
    * that cell's partition directory — continuous ingest
    * ([[graft.CurateStreamApp]]) keeps the index fresh without a refit.
    * Standard IVF drift caveat: appended vectors didn't participate in
    * centroid fitting, so after enough drift a [[rebalanceIvfIndex]] (or
    * a periodic [[buildIvfIndex]] rebuild, plus [[Compaction]] of the
    * cell directories accumulating small batch files) restores cell
    * balance.
    */
  def appendToIvfIndex(spark: SparkSession, dir: String, vectors: DataFrame): Unit = {
    val cent = centroidsOnDriver(centroidTable(spark.read.parquet(s"$dir/centroids")))
    require(cent.nonEmpty, s"$dir holds no centroids to assign vectors to")
    withNorm(vectors, "embedding", "nrm")
      .withColumn("part", nearestCell(cent))
      .write.mode(SaveMode.Append).partitionBy("part").parquet(s"$dir/vectors")
  }

  /** Persisted IVF index, maintenance: re-fit the coarse centroids and
    * re-home only the vectors whose cell assignment changed.
    *
    * [[appendToIvfIndex]] keeps an index fresh under ingest, but appended
    * vectors never participated in centroid fitting — after enough
    * distribution drift the cells stop reflecting the corpus (a new dense
    * region straddles two old cells, so probes split true neighbors and
    * recall drops; or one cell hogs the new mass and every probe of it
    * scans too much). This job restores balance without the full-rebuild
    * cost of [[buildIvfIndex]]:
    *
    *  1. re-train centroids with Lloyd's iterations SEEDED FROM the
    *     current centroids over a deterministic hash-sample of the
    *     vectors (cell ids stay stable — a cell whose region didn't
    *     drift keeps its centroid and its rows);
    *  2. assign every vector to its nearest new centroid
    *     ([[nearestCell]]) and compute the set of cells any row enters or
    *     leaves — only THOSE cells' partitions are re-encoded by Spark;
    *     untouched cells are carried into the staged layout as raw file
    *     copies (no decode, no shuffle — at 100 TB with localized drift
    *     this is the difference between rewriting everything and
    *     rewriting a few percent);
    *  3. promote centroids + vectors atomically via
    *     [[StateSwap.swapStaged]] — readers see the old index or the new
    *     one, never a mix (mismatched centroids/cells would mis-probe).
    *
    * Per-iteration driver state is one centroid array (cells × dim
    * doubles — bounded by construction, same as the query path's probed
    * cell collect).
    */
  def rebalanceIvfIndex(spark: SparkSession, dir: String,
      sampleFraction: Double = 0.1, iters: Int = 5, seed: Long = 42L): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val vecs = spark.read.parquet(s"$dir/vectors")
    val dataCols = vecs.columns.filterNot(_ == "part").map(col).toSeq
    // deterministic hash-sample: partition-layout-independent, replayable
    val mod = 1000000L
    val pins = Pin.scope()
    val sample = pins.cache(vecs
      .filter(pmod(xxhash64(col("vec_id"), lit(seed)), lit(mod)) <
        lit((sampleFraction * mod).toLong))
      .select(col("embedding"), col("nrm")))
    var cent = centroidsOnDriver(centroidTable(spark.read.parquet(s"$dir/centroids")))
    for (_ <- 1 to iters) {
      val means = centroidsOnDriver(centroidTable(ivfCentroids(
        sample.withColumn("cpart", nearestCell(cent)), "cpart"))).toMap
      // a cell the sample never hits keeps its old centroid (never NaN)
      cent = cent.map { case (p, c) => p -> means.getOrElse(p, c) }
    }
    pins.release() // the sample
    // full assignment against the new centroids; only cells some row
    // enters or leaves get re-encoded
    val assigned = pins.cache(vecs
      .withColumn("new_part", nearestCell(cent))
      .withColumn("old_part", col("part").cast("long")))
    try {
      val changedCells = assigned
        .filter(col("new_part") =!= col("old_part"))
        .select(explode(array(col("new_part"), col("old_part"))).as("p"))
        .distinct().collect().map(_.getLong(0)).toSet // bounded: ≤ cell count
      val centLong = spark.createDataFrame(
        cent.flatMap { case (p, c) => c.zipWithIndex.map { case (x, i) => (p, i, x) } })
        .toDF("part", "i", "c")
      val conf = spark.sparkContext.hadoopConfiguration
      StateSwap.swapStaged(spark, dir) { staging =>
        centLong.write.mode(SaveMode.Overwrite).parquet(s"$staging/centroids")
        if (changedCells.nonEmpty)
          assigned.filter(col("new_part").isin(changedCells.toSeq: _*))
            .select(dataCols :+ col("new_part").as("part"): _*)
            .write.mode(SaveMode.Overwrite).partitionBy("part")
            .parquet(s"$staging/vectors")
        val live = new Path(s"$dir/vectors")
        val fs = live.getFileSystem(conf)
        val stagedVecs = new Path(s"$staging/vectors")
        fs.mkdirs(stagedVecs)
        fs.listStatus(live).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("part="))
          .filterNot(p => changedCells.contains(p.getName.stripPrefix("part=").toLong))
          .foreach(p => FileUtil.copy(fs, p, fs, new Path(stagedVecs, p.getName),
            false, conf))
      }
    } finally pins.release()
  }

  /** Persisted IVF index, query side: scores the saved centroids, probes
    * the `nProbe` nearest cells per query, and scans ONLY those cells'
    * directories — the probed-cell set is collected to the driver
    * (bounded by construction: at most nProbe × |queries|, itself capped
    * by the k-means cell count) and pushed as a literal partition filter,
    * so the pruning happens at the SOURCE: a 2-of-64-cell probe reads
    * ~3% of a 100 TB corpus's bytes. Output and tie-breaks are identical
    * to [[ivfTopK]] over the same corpus.
    */
  def queryIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val probed = probe(queries, centroidTable(spark.read.parquet(s"$dir/centroids")), nProbe)
    val cells = probed.select(col("part").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // per-query restriction to ITS probed cells happens in the join key;
    // the scan-level isin only bounds the union of cells any query needs
    cellTopK(spark.read.parquet(s"$dir/vectors")
      .filter(col("part").isin(cells: _*)), probed, k) // directory-pruning literal
  }

  /** Embedding-cosine near-duplicate pairs above `minSim`, bucketed by
    * multi-table hyperplane LSH so the pairwise comparison never crosses
    * buckets (the 100 TB-safe variant of "all pairs with cosine ≥ τ").
    *
    * OR-amplification: `nTables` independent tables of `nPlanes` planes
    * each (plane j of table t is global plane t·nPlanes+j); a pair is a
    * candidate if it collides in ANY table. Recall for a pair at angle θ
    * is 1-(1-(1-θ/π)^nPlanes)^nTables — with (4 planes, 3 tables) a
    * 0.9-cosine pair survives ~90% of the time while the join stays a
    * bucket-key shuffle. Set nPlanes=0 for the exact brute-force variant
    * (the parity baseline; quadratic — never ship it at scale).
    */
  def nearDupPairs(corpus: DataFrame, minSim: Double, nPlanes: Int, dim: Int,
      maxBucket: Int = 100000, nTables: Int = 3): DataFrame = {
    val normed = withNorm(corpus, "embedding", "nrm")
    val a = normed.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
    val b = normed.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
    def scored(pairs: DataFrame) = pairs
      .withColumn("sim", pairSim(col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("sim") >= minSim)
      .select(col("id1"), col("id2"), col("sim"))
    if (nPlanes == 0)
      // exact variant: broadcast nested-loop cross join — parallel over
      // the left side's partitions (an equi-join on a constant key would
      // collapse all n² pairs into ONE shuffle partition); the left is
      // repartitioned because a small parquet corpus arrives in one split
      scored(a.repartition(a.sparkSession.sparkContext.defaultParallelism)
        .join(broadcast(b), col("id1") < col("id2")))
    else {
      // bucket join is quadratic per bucket — same degenerate-bucket
      // guard as the text-LSH pipelines (Dedup.lshCandidatePairs), in
      // the m4 count-agg + broadcast-anti shape: bucket sizes aggregate
      // over narrow (bucket) keys and the oversized set is a tiny
      // broadcast, so the wide embedding rows never pay a window sort
      val planes = hyperplaneSigns(nPlanes * nTables, dim)
      // signatures once for the corpus — both join sides and the gate
      // project off this pinned frame (the lazy form re-ran the
      // nPlanes·nTables-plane projection per consumer); ~n·300 B pinned
      val sigged = normed
        .withColumn("sig", lshBucket(col("embedding"), planes))
        .transform(Pin.truncate(_))
      def side(sfx: String) = sigged.select(
        col("vec_id").as(s"id$sfx"), col("embedding").as(s"v$sfx"),
        col("nrm").as(s"n$sfx"), col("sig").as(s"sig$sfx"))
      val tables = array((0 until nTables).map(lit): _*)
      val ab = side("1")
        .withColumn("t", explode(tables))
        .withColumn("bucket",
          concat(col("t").cast("string"), lit(":"),
            col("sig1").substr(col("t") * nPlanes + 1, lit(nPlanes))))
      val bb = side("2")
        .withColumn("t2", explode(tables))
        .withColumn("bucket",
          concat(col("t2").cast("string"), lit(":"),
            col("sig2").substr(col("t2") * nPlanes + 1, lit(nPlanes))))
        .drop("t2")
      val oversized = Buckets.hot(ab, Seq("bucket"), maxBucket)
      // each colliding pair is emitted from the FIRST table where it
      // collides — the j12 canonical-cell idiom at the OR-amplification
      // layer: later-table collisions are suppressed by the sig-prefix
      // inequality (both sides carry the full multi-table signature, a
      // ~nPlanes·nTables-char string — noise next to the vectors), so
      // the pair set needs NO distinct and each pair pays pairSim ONCE
      // instead of once per colliding table. Gate interaction (changed
      // vs the pre-r12 window form, observable only when maxBucket
      // fires): a pair whose first collision sits in a dropped
      // megabucket is dropped with it, not recovered via a later table
      // — a degenerate signature is evidence against the pair, and
      // recovering it cost the distinct shuffle on every healthy run.
      val noEarlier = (0 until nTables - 1).map { tp =>
        (col("t") <= tp) ||
          (col("sig1").substr(tp * nPlanes + 1, nPlanes) =!=
            col("sig2").substr(tp * nPlanes + 1, nPlanes))
      }.reduceOption(_ && _).getOrElse(lit(true))
      scored(
        ab.join(broadcast(oversized), Seq("bucket"), "left_anti")
          .join(bb, Seq("bucket"))
          .filter(col("id1") < col("id2") && noEarlier))
    }
  }

  /** [[nearDupPairs]] with the plane count chosen from the corpus size so
    * the expected bucket population stays near `targetBucket` — the
    * production contract for embedding near-dup at scale (the embedding
    * analog of the d6→d12/d13 precedent for text SimHash).
    *
    * With a FIXED plane count p the bucket self-join scores
    * ~nTables·n²/2^(p+1) pairs — quadratic in the corpus. Choosing the
    * smallest p (≥4) with 2^p·targetBucket ≥ n bounds the work at
    * ~nTables·n·targetBucket/2 — linear in n, the shape a 1000-executor
    * run needs. The plane-count rule is exact integer arithmetic (no
    * float log) so any engine reproduces the same p, and planes are the
    * same deterministic md5 signs as [[nearDupPairs]], so at small n
    * (p=4) this is bit-identical to the fixed contract.
    *
    * Recall trade (documented, inherent to bucket-size-targeted LSH): a
    * higher p keeps only closer pairs colliding — at p=10 a 0.9-cosine
    * pair survives ~50% per OR-amplified 3-table screen vs ~90% at p=4.
    * The contract is "pairs surfaced by this config", deterministically.
    * The count() driving p is a parquet metadata-only aggregate — cheap
    * even at 100 TB.
    */
  def nearDupPairsAdaptive(corpus: DataFrame, minSim: Double, dim: Int,
      targetBucket: Int = 128, nTables: Int = 3, maxBucket: Int = 100000): DataFrame =
    nearDupPairs(corpus, minSim, adaptivePlaneCount(corpus.count(), targetBucket),
      dim, maxBucket, nTables)

  /** Smallest p in [4, 30] with 2^p·targetBucket ≥ n — exact integer
    * arithmetic (no float log2) so any engine derives the same p.
    */
  def adaptivePlaneCount(n: Long, targetBucket: Int): Int =
    (4 to 30).find(p => (1L << p) * targetBucket >= n).getOrElse(30)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic deduplication"):
    * partition the embedding space with a seeded K-Means fit on a bounded
    * deterministic sample, assign every vector to its nearest centroid,
    * then within each cluster drop every vector that has a more senior
    * (lower-id) neighbor at cosine ≥ `tau`. Returns one row per input id:
    * (vec_id, cluster, kept) with kept = 1 iff the vector survives — the
    * full-population form a curation attrition report needs.
    *
    * Scale shape: the fit touches only a hash-prefix sample capped at
    * `fitSampleCap` rows (SemDeDup itself fits on a sample); assignment
    * is one narrow map against broadcast centroids; the only data-sized
    * shuffles are the cluster-key self-join — O(n·E[cluster size]), so
    * callers pick k ~ n/targetCluster to keep cluster population bounded
    * as the corpus grows ([[semanticDedupAdaptive]]) — and the final
    * kept-flag join on the unique vec_id key. Nothing is quadratic in n
    * and nothing data-sized reaches the driver. (At the 100 TB tier the
    * assignment map reads the persisted coarse-quantizer table of
    * [[buildIvfIndex]] instead of an in-memory model; the join shapes
    * are identical.)
    *
    * Drop rule note: seniority is per-PAIR (exists any lower-id neighbor
    * at ≥ tau), so a chain a~b~c with a≁c keeps only a — the same
    * keep-the-minimum semantics as the text pipelines' rep-pick (d8),
    * without needing a connected-components pass.
    */
  def semanticDedup(corpus: DataFrame, tau: Double, k: Int,
      fitSampleCap: Int = 100000, seed: Long = 42L,
      fitMaxIter: Int = 20): DataFrame =
    keptFlags(assignedClusters(corpus, k, fitSampleCap, seed, fitMaxIter), tau)

  /** (vec_id, cluster, kept) over an [[assignedClusters]] frame: dropped
    * = rows with at least one senior near-dup in their cluster — a LEFT
    * SEMI on the cluster key (bounded fan-out, never cross-cluster).
    */
  private def keptFlags(assigned: DataFrame, tau: Double): DataFrame = {
    val dropped = seniorJoin(assigned, tau, "left_semi").select(col("vec_id"), lit(0).as("kept"))
    assigned.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(dropped, Seq("vec_id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(1)).cast("long"))
  }

  /** Each row of an [[assignedClusters]] frame joined (`how`) to the
    * more senior (lower-id) members of its cluster at cosine ≥ `tau`,
    * the senior's id as `sid`. EVERY senior-side column is renamed — in
    * a self-join a shared name resolves both sides to the same attribute
    * and the equi-predicate folds to trivially-true (the join silently
    * degenerates to all-pairs), so the rename is the load-bearing
    * disambiguation.
    */
  private def seniorJoin(assigned: DataFrame, tau: Double, how: String): DataFrame = {
    val senior = assigned.select(col("cluster").as("scl"), col("vec_id").as("sid"),
      col("embedding").as("sv"), col("nrm").as("sn"))
    assigned.join(senior,
      col("scl") === col("cluster") &&
        col("sid") < col("vec_id") &&
        pairSim(col("sv"), col("embedding"), col("sn"), col("nrm")) >= tau,
      how)
  }

  /** Above this k the flat fit/assign regime-gates to the two-level
    * quantizer (the a21/AdaptiveWidth pattern): flat k-means is
    * O(iter·k·sample·dim) to fit and O(n·k·dim) to assign, and with the
    * SemDeDup contract's k = n/targetCluster BOTH grow with the corpus —
    * measured 18 s at 100× (k=1563) but 260 s at 400× (k=6250, the
    * quadratic window in full swing). The fixture scales (k ≤ 16 at
    * sf0.1) and the 100× campaign point stay below the gate only where
    * flat is still the faster shape.
    */
  private val FlatKMax = 1024

  /** Fit-and-assign head shared by [[semanticDedup]] and
    * [[semanticCandidatePairs]]: seeded K-Means on a bounded
    * deterministic sample, every vector assigned to its nearest
    * centroid. Returns (vec_id, embedding, cluster, nrm).
    */
  private def assignedClusters(corpus: DataFrame, k: Int, fitSampleCap: Int,
      seed: Long, fitMaxIter: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecd = corpus
      .select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    // Deterministic bounded fit sample: hash-ordered prefix, then the
    // keyed-repartition + in-partition-sort idiom that makes the other
    // K-Means fits golden-stable (MlQueries.scala:35) — the fit must see
    // a machine-independent row layout.
    val cap = math.max(fitSampleCap, 4 * k)
    val sample = vecd
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(cap)
      .repartition(4, col("vec_id")).sortWithinPartitions("vec_id")
    // random init, not the kmeans|| default: the k-means|| finishing step
    // is a DRIVER-LOCAL single-threaded k-means++ over ~2·k·initSteps
    // candidates — measured 12.3 s of serial driver time at k=1563 on the
    // 100× fixture, over half the whole fit — while after the same 10
    // Lloyd iterations the random-init model lands at the same training
    // cost to 0.05% (18301 vs 18309; a coarse dedup quantizer does not
    // need a polished init). Seeded sampling over the pinned sample
    // layout keeps it machine-independent (golden-stable).
    def kmeans(kk: Int) = new KMeans().setK(kk).setSeed(seed)
      .setMaxIter(fitMaxIter).setInitMode("random")
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(sample)
    val assigned =
      if (k <= FlatKMax) {
        val model = kmeans(k)
        model.transform(vecd)
          .select(col("vec_id"), col("embedding"), col("cluster").cast("long").as("cluster"))
      } else {
        // Two-level quantizer for the large-k regime: a data-adaptive
        // COARSE k-means over kc = ⌈√k⌉ cells (fit O(iter·√k·sample·dim)
        // — flat in the window where flat k-means is quadratic), then a
        // DETERMINISTIC in-cell hyperplane split (the d14 LSH mechanism:
        // md5-sign planes, zero fit cost) into 2^p2 sub-cells, p2 the
        // smallest with 2^p2·kc ≥ k, so expected population still lands
        // at ~n/k = targetCluster. Assignment is O(n·(√k + log k)·dim)
        // instead of O(n·k·dim). The trade (documented, inherent): the
        // fine split is oblivious — a near-dup pair straddling a
        // hyperplane inside its cell is missed, the same per-plane
        // recall trade the d14 family already carries at its top level.
        // At the 100 TB tier the coarse level is the persisted IVF
        // quantizer table (buildIvfIndex) instead of an in-memory model.
        val kc = (2 to 46341).find(c => c.toLong * c >= k).getOrElse(46341)
        val p2 = (1 to 30).find(p => (1L << p) * kc >= k).getOrElse(30)
        val dim = corpus.select(size(col("embedding"))).head().getInt(0)
        val planes = hyperplaneSigns(p2, dim)
        val model = kmeans(kc)
        model.transform(vecd)
          .withColumn("sub", conv(lshBucket(col("embedding"), planes), 2, 10).cast("long"))
          .select(col("vec_id"), col("embedding"),
            ((col("cluster").cast("long") * (1L << p2)) + col("sub")).as("cluster"))
      }
    // pinned: every consumer (the dedup self-join references this frame
    // 2-3×) would otherwise re-run the O(n·k·dim) nearest-centroid
    // transform per reference — at the 100× fixture (n=200k, k=1563)
    // that is ~2·10¹⁰ re-multiplied per extra consumer, the dominant
    // cost of d17/d20/c5x. The pinned rows are narrow (id, vec, cluster,
    // norm ≈ 300 B) — ~60 MB at 100×, spread across executors at scale.
    withNorm(assigned, "embedding", "nrm")
      .transform(Pin.truncate(_))
  }

  /** [[assignedClusters]] with k = max(2, ceil(n / targetCluster)), which
    * keeps expected cluster population — and so per-row join fan-out —
    * flat as the corpus grows; the fit budget scales with k, not with n
    * (min(fitSampleCap, max(16·k, 10000)) rows, 10 iterations; see
    * [[semanticDedupAdaptive]]'s scaladoc for the measured numbers).
    * Exact integer arithmetic so every caller derives the same fit.
    */
  private def adaptiveClusters(corpus: DataFrame, targetCluster: Int,
      fitSampleCap: Int, seed: Long): DataFrame = {
    val k = math.max(2L, (corpus.count() + targetCluster - 1) / targetCluster).toInt
    assignedClusters(corpus, k, math.min(fitSampleCap, math.max(16 * k, 10000)), seed,
      fitMaxIter = 10)
  }

  /** SemDeDup as a CANDIDATE-PAIR generator — the embedding-modality
    * plug-in for the curation apps' `nearDupMethod` dial (the
    * [[graft.operators.Dedup.lshCandidatePairs]] /
    * `simhashCandidatePairs` contract: distinct (doc1, doc2), doc1 <
    * doc2): within-cluster pairs at cosine ≥ `tau`, k adapted to the
    * corpus size like [[semanticDedupAdaptive]] so expected cluster
    * population — and therefore per-row join fan-out — stays near
    * `targetCluster` as the corpus grows. Downstream resolution
    * (connected components + longest-member canonical pick) is the
    * caller's, identical to the text methods — method selection changes
    * only the candidate generator.
    */
  def semanticCandidatePairs(corpus: DataFrame, tau: Double,
      targetCluster: Int = 128, fitSampleCap: Int = 100000,
      seed: Long = 42L): DataFrame =
    seniorJoin(adaptiveClusters(corpus, targetCluster, fitSampleCap, seed), tau, "inner")
      .select(col("sid").as("doc1"), col("vec_id").as("doc2"))

  /** The fit/assign head of [[semanticCandidatePairs]] as a standalone
    * (vec_id, cluster) frame — same adaptive k, fit-sample rule, seed and
    * iteration budget, so a second run over the same corpus reproduces
    * the candidate generator's cluster ids exactly. This is what pins
    * the `c5x_curate_report_semantic` oracle: the K-Means fit is the one
    * stage DuckDB cannot replay, so it is checked in as a golden parquet
    * and the oracle recomputes everything downstream of it — the
    * within-cluster cosine gate, connected components, canonical
    * resolution and the attrition report — independently from the raw
    * embeddings.
    */
  def semanticAssignments(corpus: DataFrame, targetCluster: Int = 128,
      fitSampleCap: Int = 100000, seed: Long = 42L): DataFrame =
    adaptiveClusters(corpus, targetCluster, fitSampleCap, seed)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))

  /** [[semanticDedup]] with k chosen from the corpus size so expected
    * cluster population stays near `targetCluster` — the linear-in-n
    * production contract (the K-Means analog of [[adaptivePlaneCount]]).
    * Exact integer rule: k = max(2, ceil(n / targetCluster)).
    *
    * The FIT budget scales with k, not with the corpus: at large k the
    * kmeans|| fit is the bottleneck (O(iter·k·sample·dim) — measured
    * 74 s at k=1563 over a 100k sample on the 100× fixture), and a
    * coarse quantizer does not need a converged fit over a huge sample.
    * The adaptive path therefore fits on min(fitSampleCap, max(16·k,
    * 10000)) rows with 10 iterations — 74 → ~19 s at 100× with the
    * same bounded-cluster join shape (drop-rate deltas are the usual
    * quantizer-quality trade, deterministic either way).
    */
  def semanticDedupAdaptive(corpus: DataFrame, tau: Double,
      targetCluster: Int = 128, fitSampleCap: Int = 100000,
      seed: Long = 42L): DataFrame =
    keptFlags(adaptiveClusters(corpus, targetCluster, fitSampleCap, seed), tau)

  /** Per-dimension (min, max) quantization parameters, as one row of two
    * index-ordered arrays — the int8 scalar-quantization codebook. One
    * aggregate over the corpus; the result is dim-sized and broadcasts.
    */
  def sqParams(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .agg(indexOrdered("i", "mn").as("mns"), indexOrdered("i", "mx").as("mxs"))

  /** int8-dequantized vector: each component snapped to its 256-level
    * grid, `floor(t + 0.5)` (half-up, engine-unambiguous) on
    * `t = (x − mn)·255/(mx − mn)`. This is the value an int8-stored
    * embedding reconstructs to — 4× smaller storage/shuffle than float32
    * at ~1/255-of-range error per dimension. Constant dimensions
    * reconstruct to `mn` exactly.
    */
  private def dequantized(vec: Column, mns: Column, mxs: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val x = element_at(vec, i + 1).cast("double")
      val mn = element_at(mns, i + 1)
      val mx = element_at(mxs, i + 1)
      when(mx > mn,
        floor((x - mn) * 255 / (mx - mn) + 0.5) * (mx - mn) / 255 + mn)
        .otherwise(mn)
    })

  /** Exact top-k over int8 scalar-quantized vectors — the memory-bound
    * ANN variant: the corpus is stored/scanned quantized (here modeled by
    * the dequantized double grid — bit-identical to decoding real int8
    * storage), so a 100 TB float32 corpus becomes 25 TB with ranking
    * fidelity bounded by the per-dimension grid error.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int): DataFrame = {
    val params = sqParams(corpus)
    def dq(df: DataFrame, id: String, v: String, n: String) = withNorm(df
      .crossJoin(broadcast(params))
      .select(col("vec_id").as(id), dequantized(col("embedding"), col("mns"), col("mxs"), dim).as(v)),
      v, n)
    exactTopK(dq(corpus, "vec_id", "embedding", "nrm")
        .join(broadcast(dq(queries, "query_id", "qvec", "qnrm")), col("vec_id") =!= col("query_id")),
      k).withColumnRenamed("sim", "qsim")
  }

  /** Per-(code, sub) subspace centroid vectors — the PQ codebook shared
    * by [[pqCodes]] (encode) and [[pqAdcTopK]] (query-time LUT).
    */
  private def subspaceCentroids(corpus: DataFrame, partitionCol: String,
      subDim: Int): DataFrame =
    ivfCentroids(corpus, partitionCol)
      .select(col("part").as("code"), (col("i") / subDim).cast("int").as("sub"),
        pmod(col("i"), lit(subDim)).cast("int").as("j"), col("c"))
      .groupBy(col("code"), col("sub"))
      .agg(indexOrdered("j", "c").as("cvec"))

  /** Each row's `nSub` contiguous subvectors: (`id`, sub, sv), `id` the
    * row's `vec_id`.
    */
  private def subvectors(df: DataFrame, id: String, nSub: Int, subDim: Int): DataFrame =
    df.select(col("vec_id").as(id), explode(sequence(lit(0), lit(nSub - 1))).as("sub"),
        col("embedding"))
      .select(col(id), col("sub"),
        transform(sequence(lit(0), lit(subDim - 1)),
          j => element_at(col("embedding"), col("sub") * subDim + j + 1).cast("double"))
          .as("sv"))

  /** Squared distance of subvector `sv` to centroid `cvec`, accumulated
    * per dimension left to right, rounded.
    */
  private def subDist: Column = round(aggregate(
    zip_with(col("sv"), col("cvec"), (x, c) => (x - c) * (x - c)),
    lit(0.0), (acc, d) => acc + d), 6)

  /** Product-quantization encoding: the vector splits into `nSub`
    * contiguous subvectors; each is coded as its nearest subspace
    * centroid (here the per-`partitionCol` subspace means — a k-means
    * coarse assignment in a full pipeline, the fixture's label column in
    * the oracle tests, mirroring [[ivfCentroids]]). A 64-dim float32
    * vector becomes nSub bytes — 32× smaller than the raw floats — at
    * reconstruction-error cost, which asymmetric-distance search then
    * absorbs.
    *
    * Centroid components round to 6 dp (the ivfCentroids portability
    * contract) so code assignment can't flip on a last-ulp difference;
    * distances accumulate per-dimension left-to-right; ties break to the
    * smallest code.
    *
    * Output: (vec_id, sub, code, err) — err the subvector's squared
    * reconstruction distance, rounded.
    */
  def pqCodes(corpus: DataFrame, partitionCol: String, nSub: Int, dim: Int): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    val subDim = dim / nSub
    val scored = subvectors(corpus, "vec_id", nSub, subDim)
      .join(broadcast(subspaceCentroids(corpus, partitionCol, subDim)), Seq("sub"))
      .withColumn("err", subDist)
    ranked(scored, Seq(col("err").asc, col("code").asc), 1, "rk", Seq("vec_id", "sub"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("err"))
  }

  /** ADC (asymmetric distance computation) top-K over PQ codes — the
    * query path that makes product quantization useful: each query builds
    * a lookup table of squared distances from its OWN subvectors to every
    * subspace centroid (nSub × nCodes entries — tiny, broadcast), the
    * corpus side contributes only its (sub, code) byte codes, and the
    * approximate distance is the per-subspace LUT sum. The corpus' full
    * vectors are never touched at query time — ~1 byte/vec/sub of state
    * versus 4·dim — which is exactly how a 100 TB embedding store answers
    * ANN queries from RAM. Asymmetric: the query side stays exact, only
    * the corpus side is quantized, so the error is one-sided.
    *
    * Distances round to 6 dp at both the LUT and the summed level (the
    * ivfCentroids portability contract); ranks tie-break on vec_id.
    * Output: (query_id, vec_id, adc, rank), rank ≤ k per query.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, partitionCol: String,
      k: Int, nSub: Int, dim: Int): DataFrame = {
    val codes = pqCodes(corpus, partitionCol, nSub, dim) // checks dim % nSub
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("code").cast("int").as("code"))
    val subDim = dim / nSub
    val cent = subspaceCentroids(corpus, partitionCol, subDim)
      .withColumn("code", col("code").cast("int"))
    val lut = subvectors(queries, "query_id", nSub, subDim)
      .join(broadcast(cent), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"), subDist.as("d"))
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("d")), 6).as("adc"))
    ranked(adc, Seq(col("adc").asc, col("vec_id").asc), k, "rank")
      .select(col("query_id"), col("vec_id"), col("adc"), Rank)
  }

  /** Multi-probe LSH ANN: each query searches its own hyperplane bucket
    * PLUS the `nProbe − 1` buckets reached by flipping its least-confident
    * plane signs (smallest |projection| first — those are the planes a
    * true neighbor most plausibly lands on the other side of). Recovers
    * most of the recall lost to bucket boundaries at probe-count cost,
    * WITHOUT re-hashing the corpus: the corpus stays bucketed once, only
    * the query side fans out, so the join stays a bucket-key shuffle.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int, dim: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nPlanes + 1,
      s"nProbe must be in [1, nPlanes+1], got $nProbe")
    val planes = hyperplaneSigns(nPlanes, dim)
    val q0 = queryHead(queries)
      .withColumn("projs",
        array(planes.map(p => dot(col("qvec"), typedLit(p.toSeq))): _*))
      .withColumn("base", lshBucket(col("qvec"), planes))
      // plane indices, least-confident first (ties to the lower index)
      .withColumn("fliporder",
        transform(
          array_sort(transform(sequence(lit(0), lit(nPlanes - 1)),
            j => struct(abs(element_at(col("projs"), j + 1)).as("a"), j.as("j")))),
          e => e.getField("j")))
    def flipAt(base: Column, pos0: Column): Column = {
      val ch = base.substr(pos0 + 1, lit(1))
      concat(base.substr(lit(1), pos0),
        when(ch === "1", "0").otherwise("1"),
        base.substr(pos0 + 2, lit(nPlanes)))
    }
    val q = q0
      .withColumn("bucket",
        explode(transform(sequence(lit(0), lit(nProbe - 1)), m =>
          when(m === 0, col("base"))
            .otherwise(flipAt(col("base"), element_at(col("fliporder"), m))))))
      .select(col("query_id"), col("qvec"), col("qnrm"), col("bucket"))
    // base + distinct single-bit flips → the probed buckets are distinct,
    // so no candidate is scored twice
    exactTopK(sharing(bucketed(corpus, planes), q, "bucket"), k)
  }
}
