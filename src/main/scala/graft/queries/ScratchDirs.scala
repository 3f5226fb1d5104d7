package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

/** Temp directories for queries whose result frame reads data the query
  * wrote (an index, a state table), and for the specs' scratch state. The
  * frame reads its directory lazily, so the directory cannot go when the
  * query returns; every directory made here is deleted, recursively, when
  * the JVM exits.
  */
private[graft] object ScratchDirs {

  private val made = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(deleteTree)))

  /** A fresh `<prefix><random>` directory under the temp dir. */
  def create(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  private def deleteTree(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val paths = Files.walk(root)
        try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    } catch { case NonFatal(e) => System.err.println(s"[ScratchDirs] could not delete $root: $e") }
}
