package graft

import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StateSwap
import graft.queries.ScratchDirs

/** Crash-safety contract of the shared state-swap primitive: every
  * interruption point between "staging written" and "debris deleted"
  * must recover to the NEW state, and an interrupted staging write (no
  * marker yet) must fall back to the OLD state — never a cold start,
  * never a partial directory. A listing names each root once, committed
  * only when its own directory exists, and a drop leaves nothing. And
  * StateSwap is the only main source that renames, or that picks a
  * filesystem other than the one holding the path, and only Retention
  * borrows its filesystem lookup.
  */
class StateSwapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def df(v: Int): DataFrame = {
    import spark.implicits._
    Seq((v, s"gen$v")).toDF("gen", "tag")
  }

  private def readGen(target: String): Int =
    StateSwap.readOrElse(spark, target, df(-1)).select("gen").collect()(0).getInt(0)

  private def tmp(name: String): String =
    ScratchDirs.create(name) + "/state"

  test("swap replaces old state and cleans up all side files") {
    val t = tmp("swap_basic")
    StateSwap.swap(df(1), t)
    StateSwap.swap(df(2), t)
    assert(readGen(t) == 2)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(t + ".staging")))
    assert(!fs.exists(new Path(t + ".old")))
    assert(!fs.exists(new Path(t + ".swap")))
  }

  test("crash after marker, before any rename → recovers to NEW state") {
    val t = tmp("swap_crash1")
    StateSwap.swap(df(1), t)
    // simulate: staging fully written + marker created, then death
    df(2).write.parquet(t + ".staging")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(t + ".swap"), true).close()
    assert(readGen(t) == 2)
    assert(!fs.exists(new Path(t + ".swap")))
  }

  test("crash between the two renames → recovers to NEW state") {
    val t = tmp("swap_crash2")
    StateSwap.swap(df(1), t)
    df(2).write.parquet(t + ".staging")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(t + ".swap"), true).close()
    assert(fs.rename(new Path(t), new Path(t + ".old"))) // died right here
    assert(readGen(t) == 2)
    assert(!fs.exists(new Path(t + ".old")))
  }

  test("crash after promotion, before cleanup → NEW state, debris removed") {
    val t = tmp("swap_crash3")
    StateSwap.swap(df(1), t)
    df(2).write.parquet(t + ".staging")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(t + ".swap"), true).close()
    assert(fs.rename(new Path(t), new Path(t + ".old")))
    assert(fs.rename(new Path(t + ".staging"), new Path(t))) // died right here
    assert(readGen(t) == 2)
    assert(!fs.exists(new Path(t + ".old")) && !fs.exists(new Path(t + ".swap")))
  }

  test("crash DURING staging write (no marker) → old state survives") {
    val t = tmp("swap_partial")
    StateSwap.swap(df(1), t)
    // a half-written staging dir with no marker must be discarded
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(t + ".staging"))
    fs.create(new Path(t + ".staging/part-00000.parquet"), true).close()
    assert(readGen(t) == 1)
    assert(!fs.exists(new Path(t + ".staging")))
  }

  test("cold start: readOrElse returns the default when nothing exists") {
    val t = tmp("swap_cold")
    assert(readGen(t) == -1)
  }

  private def readTableGen(root: String, name: String): Int =
    StateSwap.readTableOrElse(spark, root, name, df(-1))
      .select("gen").collect()(0).getInt(0)

  test("swapAll: a group of tables advances atomically, reading current state while staging") {
    val t = tmp("swapall_basic")
    StateSwap.swapAll(t, Seq("a" -> df(1), "b" -> df(10)))
    // the staged generation-2 writes READ the generation-1 tables (the
    // state-merge shape): union old with new, then promote the root once
    val mergedA = StateSwap.readTableOrElse(spark, t, "a", df(-1)).unionByName(df(2))
    val mergedB = StateSwap.readTableOrElse(spark, t, "b", df(-1)).unionByName(df(20))
    StateSwap.swapAll(t, Seq("a" -> mergedA, "b" -> mergedB))
    assert(StateSwap.readTableOrElse(spark, t, "a", df(-1)).count() == 2)
    assert(StateSwap.readTableOrElse(spark, t, "b", df(-1)).count() == 2)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(t + ".staging")) && !fs.exists(new Path(t + ".old")) &&
      !fs.exists(new Path(t + ".swap")))
  }

  test("swapAll crash between renames → ALL tables recover to the NEW generation together") {
    val t = tmp("swapall_crash")
    StateSwap.swapAll(t, Seq("a" -> df(1), "b" -> df(10)))
    // simulate: both tables staged + marker written, death mid-promotion
    df(2).write.parquet(t + ".staging/a")
    df(20).write.parquet(t + ".staging/b")
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(t + ".swap"), true).close()
    assert(fs.rename(new Path(t), new Path(t + ".old"))) // died right here
    // recovery promotes the whole root: no state where a sees gen2 but b gen10
    assert(readTableGen(t, "a") == 2 && readTableGen(t, "b") == 20)
  }

  test("swapAll crash during staging (no marker) → ALL tables stay at the OLD generation") {
    val t = tmp("swapall_partial")
    StateSwap.swapAll(t, Seq("a" -> df(1), "b" -> df(10)))
    // only table a staged when the process died — no marker yet
    df(2).write.parquet(t + ".staging/a")
    assert(readTableGen(t, "a") == 1 && readTableGen(t, "b") == 10)
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(t + ".staging")))
  }

  test("roots lists a swap killed at any point under its root name; drop leaves nothing") {
    val parent = ScratchDirs.create("swap_roots") + "/log"
    val fs = new Path(parent).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def side(d: Path, ext: String) = new Path(d.getParent, d.getName + ext)
    def copy(from: Path, to: Path) = assert(
      FileUtil.copy(fs, from, fs, to, false, spark.sparkContext.hadoopConfiguration))
    // (root, committed?, how its swap died): the curation delta log's layouts
    val layouts: Seq[(String, Boolean, Path => Unit)] = Seq(
      ("batch=1", false, { d => // killed while staging (no marker)
        assert(fs.rename(d, side(d, ".staging")))
        fs.delete(new Path(side(d, ".staging"), "b"), true)
      }),
      ("batch=2", false, { d => // killed after the marker, before any rename
        assert(fs.rename(d, side(d, ".staging")))
        fs.create(side(d, ".swap"), true).close()
      }),
      ("batch=3", false, { d => // a replayed commit killed between its renames
        copy(d, side(d, ".old"))
        assert(fs.rename(d, side(d, ".staging")))
        fs.create(side(d, ".swap"), true).close()
      }),
      ("batch=4", true, { d => // a replayed commit killed after promotion
        copy(d, side(d, ".old"))
        fs.create(side(d, ".swap"), true).close()
      }),
      ("batch=5", true, _ => ())) // a clean commit
    for ((name, _, crash) <- layouts) {
      StateSwap.swapAll(s"$parent/$name", Seq("a" -> df(1), "b" -> df(10)))
      crash(new Path(s"$parent/$name"))
    }
    assert(StateSwap.roots(spark, parent) == layouts.map(l => l._1 -> l._2).toMap)
    layouts.foreach(l => StateSwap.drop(spark, s"$parent/${l._1}"))
    assert(fs.listStatus(new Path(parent)).isEmpty)
    assert(StateSwap.roots(spark, s"$parent/never_written").isEmpty)
  }

  test("no main source outside StateSwap.scala renames, and none asks for the default filesystem") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def rel(p: JPath) = root.relativize(p).toString.replace('\\', '/')
    val hits = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      token <- Seq("FileSystem.get(") ++
        (if (rel(p) == "graft/operators/StateSwap.scala") Nil else Seq(".rename(")) ++
        (if (rel(p) == "graft/operators/Retention.scala") Nil else Seq("StateSwap.fileSystem("))
      if line.contains(token)
    } yield s"${rel(p)}:${n + 1}: $token"
    assert(sources.size > 50, s"scanned only ${sources.size} files")
    assert(hits.isEmpty,
      hits.mkString("renames or filesystem lookups outside StateSwap:\n", "\n", ""))
  }
}
