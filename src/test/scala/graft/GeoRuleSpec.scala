package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extensions.GraftFunctions
import graft.functions.NetFunctions
import graft.queries.ScratchDirs

/** The GeoRadiusPrefilter optimizer rule: a haversine radius predicate
  * gains conjoined lat/lon range bounds (a strict superset of the
  * circle), results stay bit-identical, and on a raw parquet point
  * table the injected bounds reach PushedFilters.
  */
class GeoRuleSpec extends AnyFunSuite {
  lazy val spark = { val s = SparkTestSession.spark; GraftFunctions.register(s); s }

  private def radiusFilter(df: org.apache.spark.sql.DataFrame, r: Double) =
    df.filter(NetFunctions.haversine(col("lat"), col("lon"),
      lit(48.14), lit(11.58)) < r)

  // parquet-backed points: a local Seq would be constant-folded into a
  // LocalRelation before the plan can show the injected conjuncts
  private lazy val ptsPath: String = {
    import spark.implicits._
    val dir = ScratchDirs.create("geo_pts") + "/pts"
    (1L to 1000L).map(i => (i, (i % 180).toDouble - 90 + 0.3, (i % 360).toDouble - 180 + 0.7))
      .toDF("id", "lat", "lon").write.parquet(dir)
    dir
  }

  test("rule injects lat/lon range conjuncts into the optimized plan") {
    val plan = radiusFilter(spark.read.parquet(ptsPath), 500.0)
      .queryExecution.optimizedPlan.toString()
    // Δlat = 500/111.225·slop ≈ 4.4958° → bounds ≈ [43.64, 52.64]
    assert(plan.contains(">= 43.64") && plan.contains("<= 52.63"),
      plan.take(1200))
    assert(plan.contains("lon"), plan.take(1200))
    assert(plan.contains("ASIN"), "exact haversine conjunct must survive")
  }

  test("results are identical to the unoptimized radius filter") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val pts = (1L to 4000L).map(i =>
      (i, rnd.nextDouble() * 170 - 85, rnd.nextDouble() * 350 - 175))
    val df = pts.toDF("id", "lat", "lon")
    def hav(lat: Double, lon: Double): Double = {
      val dLat = math.toRadians(48.14 - lat); val dLon = math.toRadians(11.58 - lon)
      val a = math.pow(math.sin(dLat / 2), 2) +
        math.pow(math.sin(dLon / 2), 2) * math.cos(math.toRadians(lat)) *
          math.cos(math.toRadians(48.14))
      2 * 6372.8 * math.asin(math.sqrt(a))
    }
    val expected = pts.filter { case (_, la, lo) => hav(la, lo) < 2000.0 }.map(_._1).toSet
    val got = radiusFilter(df, 2000.0).select("id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty)
  }

  test("points just inside the radius survive the box (slop check)") {
    import spark.implicits._
    // due north/east of the center at ~0.999·r: exactly the points a
    // too-tight box would shave off
    val r = 800.0
    val degLat = r * 0.999 / (math.Pi * 6372.8 / 180.0)
    val pts = Seq(
      (1L, 48.14 + degLat, 11.58), (2L, 48.14 - degLat, 11.58)
    ).toDF("id", "lat", "lon")
    assert(radiusFilter(pts, r).count() == 2)
  }

  test("polar and antimeridian centers fall back without wrong results") {
    import spark.implicits._
    val pts = Seq((1L, 89.5, 10.0), (2L, 89.5, -170.0), (3L, 0.0, 179.9),
      (4L, 0.0, -179.9), (5L, 50.0, 50.0)).toDF("id", "lat", "lon")
    // polar center: lon bounds must be skipped, both near-pole points kept
    val polar = pts.filter(NetFunctions.haversine(col("lat"), col("lon"),
      lit(89.9), lit(0.0)) < 300.0).select("id").collect().map(_.getLong(0)).toSet
    assert(polar == Set(1L, 2L))
    // seam center: the wrap-around neighbor must not be lost to a naive box
    val seam = pts.filter(NetFunctions.haversine(col("lat"), col("lon"),
      lit(0.0), lit(179.95)) < 100.0).select("id").collect().map(_.getLong(0)).toSet
    assert(seam == Set(3L, 4L))
  }

  test("0-360-convention longitudes survive the box via the aliased bands") {
    import spark.implicits._
    // same physical points as (11.5E, 48.1N) etc., stored with lon+360
    val pts = Seq((1L, 48.14, 371.58), (2L, 48.14, 359.0), (3L, 48.14, 11.6),
      (4L, 48.14, 300.0)).toDF("id", "lat", "lon")
    val got = radiusFilter(pts, 2000.0).select("id").collect().map(_.getLong(0)).toSet
    // exact haversine keeps 1 (≡11.58), 3, and 2 (≡ -1, ~940km) — the
    // injected bounds must not silently drop the out-of-convention rows
    assert(got == Set(1L, 2L, 3L), got.toString)
  }

  test("on a raw parquet point table the injected bounds reach PushedFilters") {
    val q = radiusFilter(spark.read.parquet(ptsPath), 500.0)
    val scans = q.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("GreaterThanOrEqual(lat") && pushed.contains("LessThanOrEqual(lat"),
      s"lat bounds not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(lon"), s"lon bounds not pushed: $pushed")
  }
}
