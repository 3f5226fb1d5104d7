package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanFingerprint

/** Plan-fingerprint gate over the curation DAG per gate combination —
  * the c5/c5v/c5w queries themselves are collect-based (their returned
  * frame is a local relation), so the e2e DAG needs its own tripwire:
  * a gate whose verdict subtree silently re-evaluates per consumer
  * (the pre-pin perplexity form ran the two-explode LM ~5×: 26 scans /
  * 27 windows vs 6/7 pinned) or a lost broadcast in the attribution
  * joins would surface only as bench drift. Fingerprints taken on the
  * LAZY `tagged` form (persistShared=false) — exactly the shape a
  * single-action composing caller executes.
  *
  * Regenerate after an INTENTIONAL change via
  * tools/devtools/PrintCuratePlans.scala (same ratchet contract as
  * PlanGoldenSpec).
  */
class CuratePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val goldens = Map(
    // overlap combos regenerated in r13: the contamination pass dedups
    // shingles ROW-LOCALLY (array_distinct before the explode,
    // explodedDistinctShingles) instead of a corpus-wide distinct() —
    // the distinct's partial+final HashAggregate pair and its
    // (doc, shingle) exchange leave the DAG (shufflex 13→12, agg 10→8)
    ("score", "overlap") -> "bhj=5 smj=2 shj=0 bnlj=0 cart=0 bcastx=5 shufflex=12 scans=6 pushed=5 agg=8 objagg=0 sortagg=0 window=6 wgl=0",
    ("gopher", "overlap") -> "bhj=5 smj=2 shj=0 bnlj=0 cart=0 bcastx=5 shufflex=12 scans=6 pushed=5 agg=8 objagg=0 sortagg=0 window=6 wgl=0",
    // perplexity adds ONE join against the checkpointed LM verdict
    // (smj over a LogicalRDD) to the score shape — scans=6 pins that
    // the LM itself never re-evaluates in the DAG
    ("perplexity", "overlap") -> "bhj=6 smj=7 shj=0 bnlj=0 cart=0 bcastx=6 shufflex=20 scans=6 pushed=5 agg=8 objagg=0 sortagg=0 window=6 wgl=0",
    // fuzzy swaps the shingle-overlap contamination subtree for a join
    // against Decontaminate's checkpointed verdict frame. The broadcasts
    // here are MEASURED-gated (Decontaminate.BroadcastRowCap): at this
    // fixture every candidate frame is provably tiny, so the plan matches
    // the pre-r12 hinted shape; past the cap the same joins pin to merge
    // (FuzzyStress proves the 8M-pair regime on a 3g driver).
    ("score", "fuzzy") -> "bhj=6 smj=3 shj=0 bnlj=0 cart=0 bcastx=6 shufflex=11 scans=3 pushed=2 agg=10 objagg=0 sortagg=0 window=3 wgl=0",
    // surgery joins the checkpointed t39 hit frame (scans=5 pins the
    // one-evaluation contract: the bench-fp distinct and the position
    // explode run once — unpinned they re-ran per consumer) and adds
    // the span-union window (window 7→8) plus the collect_list span
    // assembly (objagg=2)
    ("score", "surgery") -> "bhj=4 smj=4 shj=0 bnlj=0 cart=0 bcastx=4 shufflex=13 scans=5 pushed=4 agg=8 objagg=2 sortagg=0 window=8 wgl=0",
  )

  goldens.toSeq.sortBy(_.toString).foreach { case ((q, c), want) =>
    test(s"curation DAG fingerprint: qualityGate=$q contamGate=$c") {
      val got = PlanFingerprint.of(CurateApp.tagged(
        graft.sources.Catalog.documents(spark, SparkTestSession.sfDir),
        Curation.default.copy(qualityGate = q, contamGate = c)))
      assert(got == want,
        s"\ncuration DAG ($q, $c) changed:\n  golden: $want\n  got:    $got\n" +
          "If intentional, regenerate via tools/devtools/PrintCuratePlans.scala.")
    }
  }
}
