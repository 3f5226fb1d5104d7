package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Buckets, Decontaminate, Dedup, Multimodal, Pin, SimilaritySearch}
import graft.streaming.StreamingJobs

/** The megabucket cap lives in `graft.operators.Buckets` alone, and it is
  * inclusive on every generator and lookup that uses it: a bucket of
  * exactly `maxBucket` members still pairs (or is looked up), and one of
  * `maxBucket + 1` drops.
  */
class BucketsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Cap = 4
  private val PairsAtCap = Cap * (Cap - 1) / 2L

  private def docs(n: Int)(text: Int => String): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
  }

  private val sentence =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire every single day"
  // one shared 60-char span between distinct per-doc edges: every
  // fully-inside k-gram (and winnowed fingerprint) is a bucket of all docs
  private val span = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWX"
  private def spanned(i: Int) = f"left $i%03d <" + span + f"> right $i%03d"

  /** (generator, output rows when the one bucket holds exactly `Cap`
    * members, output rows as a function of the member count), each run
    * with `maxBucket = Cap`.
    */
  private val generators: Seq[(String, Long, Int => Long)] = Seq(
    ("lshCandidatePairs", PairsAtCap, n =>
      Dedup.lshCandidatePairs(docs(n)(_ => sentence), maxBucket = Cap).count()),
    // bucketBits = 0: every signature lands in the one bucket, so the
    // distinct texts of the rep-level form fill it too
    ("simhashCandidatePairs", PairsAtCap, n =>
      Dedup.simhashCandidatePairs(docs(n)(i => s"$sentence $i"), bucketBits = 0,
        maxHamming = 32, maxBucket = Cap).count()),
    ("simhashRepPairs", PairsAtCap, n =>
      Dedup.simhashRepPairs(docs(n)(i => s"$sentence $i"), bucketBits = 0,
        maxHamming = 32, maxBucket = Cap).count()),
    ("blockedEditDistancePairs", PairsAtCap, { n =>
      import spark.implicits._
      val people = (1 to n).map(i => (i.toLong, "smith", "b1")).toDF("id", "name", "blk")
      Dedup.blockedEditDistancePairs(people, "id", "name", Seq(col("blk")), 1,
        maxBlock = Cap).count()
    }),
    // every train doc collides with the one bench doc in every band
    ("fuzzyScores", Cap.toLong, n =>
      Decontaminate.fuzzyScores(docs(n)(_ => sentence), docs(1)(_ => sentence),
        maxBucket = Cap).count()),
    ("audioNearDupPairs", PairsAtCap, { n =>
      import spark.implicits._
      val fps = (1 to n).map(i => (i.toLong, 42L)).toDF("media_id", "fp")
      Multimodal.audioNearDupPairs(fps, maxBucket = Cap).count()
    }),
    ("imageNearDupPairs", PairsAtCap, { n =>
      import spark.implicits._
      val hashes = (1 to n).map(i => (i.toLong, 0x1234567890abcdefL)).toDF("media_id", "ahash")
      Multimodal.imageNearDupPairs(hashes, maxHamming = 0, maxBucket = Cap).count()
    }),
    ("exactSubstringSpans (hashed grams)", PairsAtCap, n =>
      Dedup.exactSubstringSpans(docs(n)(spanned), maxBucket = Cap, hashGrams = true).count()),
    ("exactSubstringSpans (literal grams)", PairsAtCap, n =>
      Dedup.exactSubstringSpans(docs(n)(spanned), maxBucket = Cap, hashGrams = false).count()),
    ("winnowedSubstringSpans", PairsAtCap, n =>
      Dedup.winnowedSubstringSpans(docs(n)(spanned), maxBucket = Cap).count()),
    // one query frame against an index fp shared by every index clip:
    // the top-1 match survives at the cap
    ("audioMatches", 1L, { n =>
      import spark.implicits._
      val index = (1 to n).map(i => (i.toLong, 0, 42L)).toDF("media_id", "frame_idx", "fp")
      val query = Seq((100L, 0, 42L)).toDF("media_id", "frame_idx", "fp")
      Multimodal.audioMatches(query, index, maxBucket = Cap).count()
    }),
    ("guardedBandIndex", Cap.toLong, { n =>
      import spark.implicits._
      val bands = (1 to n).map(i => (i.toLong, 0, "s")).toDF("doc_id", "band", "sig")
      StreamingJobs.guardedBandIndex(bands, maxBucket = Cap).count()
    }),
    // identical vectors share their bucket in every table
    ("nearDupPairs", PairsAtCap, { n =>
      import spark.implicits._
      val corpus = (1 to n).map(i => (i.toLong, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
      SimilaritySearch.nearDupPairs(corpus, 0.9, nPlanes = 2, dim = 4, maxBucket = Cap).count()
    }),
    // the stream screens' guarded state-index lookup: every index row
    // sits in the one bucket the batch probes
    ("lookup", Cap.toLong, { n =>
      import spark.implicits._
      val index = (1 to n).map(i => (i.toLong, 42L)).toDF("state_id", "fp")
      val pins = Pin.scope()
      try Buckets.lookup(index, Seq(42L).toDF("fp"), Seq("fp"), Cap, pins).count()
      finally pins.release()
    }),
    ("copurchasePairs", PairsAtCap, { n =>
      import spark.implicits._
      val lines = (1 to n).map(i => (7L, i.toLong)).toDF("l_orderkey", "l_partkey")
      graft.queries.AnalyticsQueries.copurchasePairs(lines, maxBasket = Cap).count()
    }),
  )

  generators.foreach { case (name, atCap, rows) =>
    test(s"$name: a bucket of exactly maxBucket members pairs, one more drops") {
      assert(rows(Cap) == atCap, s"$name at the cap")
      assert(rows(Cap + 1) == 0, s"$name one past the cap")
    }
  }

  private val root = Paths.get("src/main/scala")
  private val pairCall = Pattern.compile("(?<!class )PairCombinations\\(")
  private val capCompare = Pattern.compile(
    "[<>]=?\\s*max(Bucket|Block|Basket)\\b|\\bmax(Bucket|Block|Basket)\\s*[<>]=?" +
      "|between\\([^)]*\\bmax(Bucket|Block|Basket)\\b")
  // a hand-written hinted anti-join of a hot-bucket set: the guarded lookup
  private val hotAntiJoin = Pattern.compile("broadcast\\((?:[\\w.]*\\.)?(?:hot|\\w*Hot)\\b")
  private def locked(c: String) =
    pairCall.matcher(c).find() || capCompare.matcher(c).find() || hotAntiJoin.matcher(c).find()

  /** Code of a line: scaladoc/comment lines dropped, trailing `//` cut. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
    else line.split("//", 2)(0)
  }

  test("meta: the lock patterns catch every hand-written cap and expansion form") {
    val caught = Seq(
      """.filter(col("bsz").between(2, maxBucket))""",
      """.filter(col("n") > maxBucket)""",
      """.filter(col("bsz") <= maxBucket).drop("bsz")""",
      """if (nBuckets.toLong * maxBucket <= cap)""",
      """.filter(col("__bsz").between(2, maxBlock))""",
      """graft.expressions.PairCombinations(""",
      """.join(touched.join(broadcast(hot), Seq("band", "sig"), "left_anti"),""",
      """.join(audTouched.join(broadcast(audHot), Seq("fp"), "left_anti"), Seq("fp"))""",
      """t.join(broadcast(Buckets.hot(t, keys, maxBucket)), keys, "left_anti")""")
    caught.foreach(l => assert(locked(code(l)), l))
    val passed = Seq(
      "case class PairCombinations(child: Expression) extends UnaryExpression {",
      "    * degenerate buckets (> maxBucket members) dropped.",
      "  def pairs(df: DataFrame, maxBucket: Int): DataFrame =",
      "      Buckets.sized(bands, Seq(\"band\", \"sig\"), 1, maxBucket)",
      """      .join(graft.operators.Buckets.hot(corpusBands, Seq("band", "sig"), maxBucket),""",
      """      .join(Buckets.lookup(benchBands, batchBands, Seq("band", "sig"), maxBucket, pins),""",
      """      .join(broadcast(shots), Seq("id"))""")
    passed.foreach(l => assert(!locked(code(l)), l))
  }

  test("no main source outside Buckets.scala compares against the cap or expands pairs") {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = for {
      p <- sources
      if rel(p) != "graft/operators/Buckets.scala"
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if locked(code(line))
    } yield s"${rel(p)}:${n + 1}: ${line.trim}"
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("megabucket policy outside Buckets:\n", "\n", ""))
  }
}
