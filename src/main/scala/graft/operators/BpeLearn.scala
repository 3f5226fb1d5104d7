package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge-table LEARNING (Sennrich et al. 2016, §3 —
  * public paper): start from words split into characters, repeatedly count
  * all adjacent symbol pairs across the corpus (weighted by word
  * frequency), merge the most frequent pair everywhere, emit the
  * rank-ordered merge table. The APPLY half is
  * [[graft.functions.TextFunctions.bpeSymbols]]; a table learned here
  * drops into it unchanged.
  *
  * Distributed shape: every iteration runs on the WORD-FREQUENCY table,
  * not the corpus — the classic BPE implementation trick, and exactly the
  * reduction that makes the learner viable at 100 TB (the corpus is read
  * once to build (word, freq); iterations then cost O(vocab), and vocab is
  * orders of magnitude smaller than text). Per iteration:
  *
  *   1. pair counts: explode each word's adjacent symbol pairs (a row-local
  *      array transform over the slash-delimited state of
  *      `bpeSymbols`), one map-side-combined groupBy — the only shuffle;
  *   2. argmax: global TakeOrdered LIMIT 1 (count desc, then lexicographic
  *      (lhs, rhs) so the winner is deterministic across engines);
  *   3. apply: the 1-row winner is broadcast-crossed onto the state and the
  *      merge is ONE column-pattern `replace` (`/a//b/` → `/ab/`) — the
  *      same left-to-right non-overlapping replace-chain encoding t30
  *      applies, so learn and apply share one semantics.
  *
  * No driver collect anywhere: the chosen pair rides through the plan as a
  * broadcast one-row frame. The state and each winner are lineage-truncated
  * per round (non-eager checkpoint — same rationale as
  * [[GraphOps.pageRankFixedPoint]]: without it round N's plan embeds rounds
  * 1..N−1 and optimizer time goes superlinear in `nMerges`).
  *
  * Exhaustion: when no adjacent pair remains (every word fully merged), a
  * sentinel row (cnt = −1) wins the argmax; its replace pattern `/////`
  * cannot occur in a well-formed symbol string (slash runs are never longer
  * than 2 interior + 1 edge), so late iterations are no-ops and the
  * sentinel rows are filtered from the returned table.
  */
object BpeLearn {

  /** Adjacent symbol pairs of a slash-delimited symbol string, as an array
    * of (lhs, rhs) structs — row-local, codegen'd array HOFs only.
    */
  private def adjacentPairs(syms: Column): Column = {
    val arr = split(regexp_replace(syms, "^/|/$", ""), "//")
    when(size(arr) >= 2,
      transform(sequence(lit(1), size(arr) - 1), i =>
        struct(element_at(arr, i).as("lhs"), element_at(arr, i + 1).as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
  }

  /** Learn `nMerges` BPE merges from a (w, freq) word-frequency table.
    * Returns (rank, lhs, rhs, merged, cnt) in rank order; fewer than
    * `nMerges` rows when the corpus exhausts its pairs first. Words are
    * '/'-normalized exactly as [[graft.functions.TextFunctions.bpeSymbols]]
    * normalizes them, so the learned table and the apply step agree on the
    * symbol alphabet.
    */
  def learnMerges(words: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = words.sparkSession
    def truncate(df: DataFrame): DataFrame = Pin.truncate(df, eager = false)

    val clean = call_function("replace", col("w"), lit("/"), lit(""))
    var state = truncate(words
      .select(regexp_replace(clean, "(.)", "/$1/").as("syms"),
        col("freq").cast("long").as("freq"))
      .filter(length(col("syms")) > 0))

    val sentinel = spark.range(1)
      .select(lit("").as("lhs"), lit("").as("rhs"), lit(-1L).as("cnt"))
    var merged: List[DataFrame] = Nil
    for (rank <- 1 to nMerges) {
      val best = truncate(state
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .unionAll(sentinel)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
        .select(lit(rank).as("rank"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("cnt")))
      merged ::= best
      val pat = concat(lit("/"), col("lhs"), lit("//"), col("rhs"), lit("/"))
      val rep = concat(lit("/"), col("merged"), lit("/"))
      // one-row broadcast cross: the learned pair becomes the replace
      // pattern without ever touching the driver.
      // The per-round truncation is LOAD-BEARING for job count, not just
      // plan size: an r13 experiment truncating every 4th round instead
      // (replaying ≤3 row-local replace chains in the next argmax)
      // measured WORSE — 29 → 47 jobs, 3.37 → 4.21 s at sf0.1 — because
      // every un-truncated crossJoin's one-row BroadcastExchange is
      // re-materialized as its own job by each downstream execution,
      // outweighing the saved checkpoint pass. Kept per-round.
      state = truncate(state
        .crossJoin(broadcast(best.select(col("lhs"), col("rhs"), col("merged"))))
        .withColumn("syms", call_function("replace", col("syms"), pat, rep))
        .select(col("syms"), col("freq")))
    }
    merged.reverse.reduce(_ unionAll _).filter(col("cnt") > 0)
  }

  /** Word-frequency table of a corpus: one groupBy over the exploded
    * whitespace tokens — the single corpus-sized pass of the learner.
    */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
}
