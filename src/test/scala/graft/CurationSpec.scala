package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `curation.*` conf surface lives in [[Curation]] alone: the shipped
  * conf file spells out its defaults, every key of the block reaches one
  * field of the value, and no other main source names a key.
  */
class CurationSpec extends AnyFunSuite {

  private lazy val shipped = GraftConfig.load("conf/graft.conf")
  private lazy val block = shipped.entries.filter(_._1.startsWith("curation."))

  /** Another valid value for each key of the block. */
  private val alternatives = Map(
    "curation.qualityGate" -> "gopher",
    "curation.qualityMin" -> "0.25",
    "curation.perplexityMaxNllE6" -> "3000000",
    "curation.benchMod" -> "7",
    "curation.contamGate" -> "fuzzy",
    "curation.maxOverlap" -> "0.75",
    "curation.fuzzyMinJaccard" -> "0.8",
    "curation.surgeryMinKeepFrac" -> "0.3",
    "curation.surgeryNGram" -> "3",
    "curation.surgeryPad" -> "2",
    "curation.maxBucket" -> "500",
    "curation.foldEvery" -> "4",
    "curation.nearDupMethod" -> "simhash",
    "curation.minhash.numPerms" -> "128",
    "curation.minhash.numBands" -> "32",
    "curation.simhash.bits" -> "64",
    "curation.simhash.bucketBits" -> "10",
    "curation.simhash.maxHamming" -> "4",
    "curation.semantic.tau" -> "0.9",
    "curation.semantic.targetCluster" -> "64",
    "curation.imageScreen" -> "phash",
    "curation.image.maxHamming" -> "4",
    "curation.audioScreen" -> "fingerprint",
    "curation.audio.minContainment" -> "0.9",
    "curation.contamScreen" -> "surgery")

  /** Field name -> value, with the widths' fields flattened in. */
  private def fields(c: Curation): Map[String, Any] =
    c.productElementNames.zip(c.productIterator).flatMap {
      case ("widths", w: DedupWidths) =>
        w.productElementNames.map("widths." + _).zip(w.productIterator)
      case kv => Iterator(kv)
    }.toMap

  test("the curation block of conf/graft.conf parses to Curation.default") {
    assert(block.size > 20, s"read only ${block.size} curation keys")
    assert(Curation.fromConfig(shipped) == Curation.default)
    assert(Curation.fromConfig(GraftConfig.empty) == Curation.default)
  }

  test("each key of the block, set to another valid value, changes one field of fromConfig's result") {
    assert(alternatives.keySet == block.keySet,
      s"keys without an alternative: ${block.keySet -- alternatives.keySet}; " +
        s"alternatives for absent keys: ${alternatives.keySet -- block.keySet}")
    val default = fields(Curation.default)
    val moved = alternatives.toSeq.map { case (key, value) =>
      assert(value != block(key), s"$key: the alternative is the shipped value")
      val got = fields(Curation.fromConfig(GraftConfig.parse(s"""$key = "$value"""")))
      val changed = got.keySet.filter(f => got(f) != default(f))
      assert(changed.size == 1, s"$key = $value changed $changed")
      key -> changed.head
    }
    val byField = moved.groupBy(_._2).filter(_._2.size > 1)
    assert(byField.isEmpty, s"keys sharing one field: $byField")
  }

  test("a value that does not parse fails, naming the key") {
    val e = intercept[IllegalArgumentException](
      Curation.fromConfig(GraftConfig.parse("curation { qualityMin = \"0.5x\" }")))
    assert(e.getMessage.contains("curation.qualityMin") && e.getMessage.contains("0.5x"))
  }

  test("no main source outside Curation.scala names a curation.* key") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    val hits = for {
      p <- sources
      if rel(p) != "graft/Curation.scala"
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("\"curation.")
    } yield s"${rel(p)}:${n + 1}: ${line.trim}"
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    assert(hits.isEmpty, hits.mkString("curation.* keys outside Curation:\n", "\n", ""))
  }
}
