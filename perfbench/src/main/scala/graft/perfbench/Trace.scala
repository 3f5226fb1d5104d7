package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one layer: the job group the benchmark set
  * before calling into the layer or, for jobs started elsewhere (the
  * streaming thread), the job's short call site.
  */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var jobMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  var peakExecBytes = 0L
}

/** Counts jobs, stages and task metrics per layer key. */
final class LayerListener extends SparkListener {
  val byKey = new ConcurrentHashMap[String, LayerStats]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def stats(key: String) = byKey.computeIfAbsent(key, _ => new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(LayerListener.GroupPrefix))
      .map(_.stripPrefix(LayerListener.GroupPrefix))
    val key = group.getOrElse("site:" +
      p.flatMap(x => Option(x.getProperty("callSite.short"))).getOrElse("unknown"))
    jobKey.put(e.jobId, key)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageKey.put(_, key))
    stats(key).synchronized { stats(key).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { k =>
      val s = stats(k)
      s.synchronized { s.jobMs += e.time - jobStart.getOrDefault(e.jobId, e.time) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val s = stats(k)
      s.synchronized { s.stages += 1; s.tasks += e.stageInfo.numTasks }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = stats(k)
      s.synchronized {
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.writtenBytes += m.outputMetrics.bytesWritten
        s.peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory)
      }
    }

  private val blocks = new ConcurrentHashMap[String, Long]()
  /** Most bytes held by cached or checkpointed RDD blocks at any moment. */
  @volatile var peakPinnedBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (size > 0) blocks.put(info.blockId.name, size) else blocks.remove(info.blockId.name)
      peakPinnedBytes = math.max(peakPinnedBytes, blocks.values().asScala.sum)
    }
  }

  def resetPinned(): Unit = peakPinnedBytes = blocks.values().asScala.sum

  def reset(): Unit = { byKey.clear(); jobKey.clear(); jobStart.clear(); stageKey.clear() }

  /** One line per key: the Spark work attributed to that layer. */
  def toJsonLines: String = byKey.asScala.toSeq.sortBy(_._1).map { case (k, s) =>
    s.synchronized {
      val key = k.replace("\\", "\\\\").replace("\"", "\\\"")
      f"""{"layer":"$key","jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        f""""job_s":${s.jobMs / 1e3}%.3f,"shuffle_mb":${s.shuffleBytes / 1e6}%.3f,""" +
        f""""spill_mb":${s.spillBytes / 1e6}%.3f,"written_mb":${s.writtenBytes / 1e6}%.3f,""" +
        f""""peak_exec_mb":${s.peakExecBytes / 1e6}%.3f}"""
    }
  }.mkString("", "\n", "\n")

  /** Sum of the stats of every key accepted by `p`. */
  def total(p: String => Boolean): LayerStats = {
    val t = new LayerStats
    byKey.asScala.foreach { case (k, s) =>
      if (p(k)) s.synchronized {
        t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks; t.jobMs += s.jobMs
        t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes
        t.writtenBytes += s.writtenBytes
        t.peakExecBytes = math.max(t.peakExecBytes, s.peakExecBytes)
      }
    }
    t
  }
}

object LayerListener {
  /** Job groups the tracer sets start with this, so foreign groups (the
    * streaming run id) fall back to the call site.
    */
  val GroupPrefix = "perfbench:"
}

/** One traced interval: a call into a layer made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span also sets the Spark job group to its
  * name, so the [[LayerListener]] attributes the span's jobs to it. When
  * disabled, `span` only runs its body.
  */
final class Tracer(spark: => SparkSession, enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  var run = "setup"

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      spans += null
      stack = (id, name) :: stack
      group(Some(name))
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, run, t0, System.nanoTime())
        stack = stack.tail
        group(stack.headOption.map(_._2))
      }
    }

  /** Sets (or clears) the job group, once a session is running. */
  private def group(name: Option[String]): Unit =
    Option(spark).map(_.sparkContext).filterNot(_.isStopped).foreach { sc =>
      name match {
        case Some(n) => sc.setJobGroup(LayerListener.GroupPrefix + n, n)
        case None => sc.clearJobGroup()
      }
    }

  /** Durations of every finished span called `name`. */
  def durations(name: String): Seq[Double] =
    spans.toSeq.filter(s => s != null && s.name == name).map(_.seconds)

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(c => c != null && c.parent == s.id).map(_.seconds).sum

  def toJsonLines: String = spans.filter(_ != null).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
      f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("", "\n", "\n")
}
