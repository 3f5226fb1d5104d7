package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pin}

/** The pin policy lives in `graft.operators.Pin` alone: no other main
  * source pins a frame by hand, scoped pins are released when their run
  * ends, and a checkpoint dir turns every truncation reliable.
  */
class PinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def backingRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  test("no main source outside Pin.scala pins, checkpoints or reads the checkpoint dir") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val anywhere = Seq("localCheckpoint", "getCheckpointDir", ".checkpoint(", ".persist(")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val hits = for {
      p <- sources
      if rel(p) != "graft/operators/Pin.scala"
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      token <- anywhere ++ (if (rel(p).startsWith("graft/ml/")) Nil else Seq(".cache()"))
      if line.contains(token)
    } yield s"${rel(p)}:${n + 1}: $token"
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("pins outside Pin:\n", "\n", ""))
  }

  test("an eager cache pin fills every partition before any consumer runs; release() drops it") {
    import spark.implicits._
    val scope = Pin.scope()
    val before = persistedIds
    scope.cache((1 to 1000).toDF("x").repartition(5), eager = true)
    val pinned = persistedIds -- before
    assert(pinned.size == 1, s"expected one cached RDD, got $pinned")
    def stored = spark.sparkContext.getRDDStorageInfo.filter(i => pinned(i.id))
    assert(stored.length == 1 && stored.head.numPartitions > 0 &&
      stored.head.numCachedPartitions == stored.head.numPartitions,
      stored.map(i => s"${i.numCachedPartitions}/${i.numPartitions}").mkString(","))
    scope.release()
    assert((persistedIds -- before).isEmpty && stored.isEmpty, "release() left the pin cached")
  }

  test("ngramJaccardPairs leaves only its output pinned") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog and then " +
      "walks back home to rest for a while before the next run ")
    val other = ("the tall ships sailed across the wide blue ocean " +
      "carrying spices and silk toward distant harbors under a bright sky ")
    val docs = Seq(1L -> base, 2L -> base, 3L -> (base + "again"), 4L -> other,
        5L -> other.replace("tall", "short"))
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val before = persistedIds
    val out = Dedup.ngramJaccardPairs(docs, 0.5)
    val grown = persistedIds -- before
    assert(out.count() > 0, "fixture should yield verified pairs")
    assert(grown == backingRdds(out).map(_.id).toSet,
      s"persisted during the call: $grown, out's: ${backingRdds(out).map(_.id)}")
  }

  test("CurateStreamApp.processBatch releases every pin of its batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("pin_stream").toFile.getAbsolutePath
    new java.io.File(s"$root/state").mkdirs()
    val text = ("completely different subject matter entirely about rivers " +
      "and mountains flowing gently through the green valley all day long ") * 3
    val batch = Seq(1L -> text, 2L -> text, 3L -> text.replace("green", "wide"))
      .map { case (id, t) => (id, t, t.length.toLong, "en", "test") }
      .toDF("doc_id", "text", "n_chars", "lang", "source")
    val before = persistedIds
    CurateStreamApp.processBatch(spark, batch, s"$root/state", s"$root/out")
    assert(spark.read.parquet(s"$root/out/curated").count() > 0)
    val left = persistedIds -- before
    assert(left.isEmpty, s"RDDs persisted by the batch are still persisted: $left")
  }

  test("with a checkpoint dir, taggedCached's shared stages are reliable and the report is unchanged") {
    val sfDir = SparkTestSession.sfDir
    def reportOf(df: DataFrame) = CurateApp.report(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (plain, releasePlain) = CurateApp.taggedCached(spark, sfDir)
    val expected = try reportOf(plain) finally releasePlain()

    val dir = Files.createTempDirectory("graft_pin_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val (frame, release) = CurateApp.taggedCached(spark, sfDir)
      try {
        assert(reportOf(frame) == expected)
        val stages = backingRdds(frame).distinctBy(_.id)
        assert(stages.size == 3, s"expected the 3 shared stages, got ${stages.map(_.id)}")
        stages.foreach(rdd => assert(rdd.getCheckpointFile.isDefined,
          s"shared stage RDD ${rdd.id} is not reliably checkpointed"))
      } finally release()
    } finally spark.sparkContext.setCheckpointDir(null)
  }
}
