package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin
import graft.queries.ScratchDirs

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rangeJoin: containment, inclusive bounds, overlaps, grid independence") {
    import spark.implicits._
    val intervals = Seq((1L, 10L, 20L), (2L, 15L, 30L), (3L, 100L, 100L))
      .toDF("iid", "s", "e")
    val points = Seq((100L, 10L), (101L, 17L), (102L, 20L), (103L, 31L), (104L, 100L))
      .toDF("pid", "v")
    def run(grid: Long) = RangeJoin.rangeJoin(points, "v", intervals, "s", "e", grid)
      .select(col("pid"), col("iid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(
      (100L, 1L),             // start bound inclusive
      (101L, 1L), (101L, 2L), // inside the overlap → both intervals
      (102L, 1L), (102L, 2L), // end bound of 1 inclusive
      (104L, 3L))             // degenerate single-day interval
    // the grid width must never change results, only the plan
    assert(run(4L) == expected)
    assert(run(128L) == expected)
    assert(run(1L) == expected)
  }

  test("intervalOverlapJoin: overlap semantics, exactly-once pairs, grid independence") {
    import spark.implicits._
    // closed intervals; (1,2) touch at a point, (2,3) nest, (4) disjoint,
    // (5,6) span many cells so a pair co-occurs in several grid cells —
    // the canonical-cell rule must still emit it once
    val left = Seq((1L, 10L, 20L), (3L, 32L, 35L), (4L, 200L, 210L), (5L, 0L, 100L))
      .toDF("lid", "ls", "le")
    val right = Seq((2L, 20L, 30L), (30L, 30L, 40L), (6L, 50L, 60L))
      .toDF("rid", "rs", "re")
    def run(grid: Long) = RangeJoin.intervalOverlapJoin(
        left, "ls", "le", right, "rs", "re", grid)
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    val expected = Set(
      (1L, 2L),               // touch at 20 (closed bounds)
      (3L, 30L),              // nested
      (5L, 2L), (5L, 30L), (5L, 6L)) // wide interval catches all three
    for (grid <- Seq(1L, 7L, 64L, 1024L)) {
      val got = run(grid)
      assert(got.toSet == expected, s"grid=$grid")
      assert(got.size == expected.size, s"grid=$grid must emit each pair once")
    }
  }

  test("cell-blowup guard fires on FILE-BACKED inputs (survives column pruning)") {
    import spark.implicits._
    // Regression: the guard used to live on a projected-then-dropped
    // column, which Catalyst column pruning removed on parquet sources —
    // it only ever fired on LocalRelation inputs. Parquet-backed inputs
    // are therefore the load-bearing shape for this test.
    val dir = ScratchDirs.create("rj-guard")
    Seq((1L, 0L, 10L), (2L, 0L, 1000000L)).toDF("iid", "s", "e")
      .write.mode("overwrite").parquet(s"$dir/intervals")
    Seq((100L, 5L)).toDF("pid", "v")
      .write.mode("overwrite").parquet(s"$dir/points")
    val intervals = spark.read.parquet(s"$dir/intervals")
    val points = spark.read.parquet(s"$dir/points")

    val e1 = intercept[Exception] {
      RangeJoin.rangeJoin(points, "v", intervals, "s", "e",
        grid = 1L, maxCellsPerInterval = 100L).count()
    }
    assert(e1.getMessage.contains("rangeJoin: interval spans more than"),
      s"got: ${e1.getMessage}")

    val e2 = intercept[Exception] {
      RangeJoin.intervalOverlapJoin(intervals, "s", "e",
        points.select(col("v").as("rs"), col("v").as("re")), "rs", "re",
        grid = 1L, maxCellsPerInterval = 100L).count()
    }
    assert(e2.getMessage.contains("intervalOverlapJoin: interval spans more than"),
      s"got: ${e2.getMessage}")

    // non-degenerate file-backed inputs still pass through untouched
    val ok = RangeJoin.rangeJoin(points, "v",
      intervals.filter(col("iid") === 1L), "s", "e",
      grid = 1L, maxCellsPerInterval = 100L)
    assert(ok.select("pid", "iid").as[(Long, Long)].collect().toSet == Set((100L, 1L)))
  }
}
