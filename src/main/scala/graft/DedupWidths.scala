package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Near-dup signature widths for the curation entry points — the
  * production recall/precision dials, read from the conf file as the
  * `widths` field of [[Curation]]. The library operators have taken
  * widths as parameters since the `d2v`/`d3v`/`d13v` oracle queries
  * proved the math at 128 permutations / 64 bits; this type is what
  * wires a DEPLOYED [[CurateApp]]/[[CurateStreamApp]] to those dials
  * without a recompile.
  *
  * The compiled-in defaults are the fixture widths (12 perms / 3 bands,
  * 32-bit SimHash), so an absent conf file changes nothing.
  *
  * Width-compatibility contract for [[CurateStreamApp]]: the band-index
  * state tables store signatures computed at ONE width — every batch,
  * and the bootstrap `Dedup.lshBands(corpus)` pass, must run at the
  * width of the state directory they share. Change widths by
  * re-bootstrapping the state, not by editing the conf of a live stream.
  */
final case class DedupWidths(
    method: String,
    numPerms: Int,
    numBands: Int,
    simhashBits: Int,
    simhashBucketBits: Int,
    simhashMaxHamming: Int,
    semanticTau: Double = 0.95,
    semanticTargetCluster: Int = 128) {

  require(method == "minhash" || method == "simhash" || method == "semantic",
    s"nearDupMethod must be minhash|simhash|semantic, got '$method'")

  /** Candidate (doc1, doc2) pairs for the configured method — distinct
    * pairs in every branch (the LSH form aggregates per pair across
    * bands; the SimHash form keys each doc to exactly one bucket; the
    * semantic form emits each within-cluster pair once), so callers may
    * pass `pairsDistinct = true` downstream.
    *
    * `semantic` (SemDeDup, Abbas et al. 2023) is the embedding-modality
    * generator: it requires an `embedding` (array<float>) column on the
    * corpus — text signatures never see paraphrases that share no
    * shingles, embeddings do — and fails loudly on a text-only corpus
    * rather than silently degrading to no-op dedup.
    */
  def candidatePairs(docs: DataFrame, maxBucket: Int = 10000): DataFrame =
    method match {
      case "simhash" =>
        Dedup.simhashCandidatePairs(docs, simhashBucketBits, simhashMaxHamming,
          maxBucket, simhashBits).select(col("doc1"), col("doc2"))
      case "semantic" =>
        require(docs.columns.contains("embedding"),
          "nearDupMethod=semantic needs an `embedding` column on " +
            "the documents table (an embedding-bearing corpus); got only " +
            docs.columns.mkString("(", ", ", ")"))
        graft.operators.SimilaritySearch.semanticCandidatePairs(
            docs.select(col("doc_id").as("vec_id"), col("embedding")),
            semanticTau, semanticTargetCluster)
          .select(col("doc1"), col("doc2"))
      case _ =>
        Dedup.lshCandidatePairs(docs, maxBucket, numPerms, numBands)
          .select(col("doc1"), col("doc2"))
    }
}

object DedupWidths {

  /** Fixture widths — identical to every pre-conf release's behavior. */
  val default: DedupWidths = DedupWidths(
    method = "minhash",
    numPerms = Dedup.NumPerms,
    numBands = Dedup.NumBands,
    simhashBits = Dedup.SimHashBits,
    simhashBucketBits = 12,
    simhashMaxHamming = 3)
}
