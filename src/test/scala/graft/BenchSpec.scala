package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's timed pass on a hand-fed query set: a failed query must read as
  * missing, never as a near-zero timing.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a query that throws reads null and stays out of every total") {
    val pass = Bench.timedPass(spark, Seq(
      "ok" -> ((s, _) => s.range(1000).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("boom"))), "unused")
    assert(pass.errors.map(_._1) == Seq("boom"))
    assert(pass.errors.head._2.contains("boom"))
    val ok = pass.best.toMap.apply("ok")
    assert(pass.total == ok)
    assert(pass.firstTotal == pass.first.toMap.apply("ok"))
    assert(pass.shuffleTotal == pass.shuffleMb.toMap.apply("ok"))
    val json = Bench.artifact(pass, Nil, "unused")
    for (series <- Seq("queries", "queries_first", "shuffle_mb"))
      assert(json.contains(s""""$series":{"ok":""") &&
        json.matches(s""".*"$series":\\{"ok":[0-9.]+,"boom":null\\}.*"""), json)
    assert(json.startsWith(s"""{"metric":"total","value":$ok,"""), json)
    assert(json.contains(""""errors":{"boom":"java.lang.IllegalStateException: boom"}"""), json)
  }
}
