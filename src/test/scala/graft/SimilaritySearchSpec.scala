package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `SimilaritySearch` writes each step of its retrieval skeleton once:
  * every retriever reaches the query head, the exact cosine, the rank
  * window and the index-ordered array assembly through one private
  * helper each.
  */
class SimilaritySearchSpec extends AnyFunSuite {

  test("SimilaritySearch.scala holds one rank window, one query head, one exact cosine and one index-ordered assembly") {
    val path = Paths.get("src/main/scala/graft/operators/SimilaritySearch.scala")
    assert(Files.isRegularFile(path), s"run from the repository root: $path")
    val lines = Files.readAllLines(path).asScala
    def count(token: String) = lines.map(_.sliding(token.length).count(_ == token)).sum
    val once = Seq(
      "row_number()",                                       // the rank window
      "Window.partitionBy(",
      "col(\"vec_id\").as(\"query_id\")",                   // the query head
      "pairSim(col(\"embedding\"), col(\"qvec\")",          // the exact cosine
      "collect_list(struct(")                               // index-ordered arrays
    val counts = once.map(t => t -> count(t))
    assert(counts.forall(_._2 == 1), counts.map { case (t, n) => s"$t: $n" }.mkString(", "))
  }
}
