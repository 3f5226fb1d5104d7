package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.detectors.FlowSummary

/** Executor-side buffer sink for the notification test: local-mode
  * executors share the JVM, so a static queue observes deliveries.
  */
object TestBufferSink extends graft.operators.AlertSink.Sink {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[graft.operators.AlertSink.Rendered]()
  override def deliver(alerts: Iterator[graft.operators.AlertSink.Rendered]): Unit =
    alerts.foreach(received.add)
}

class GraftAppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("GraftApp.run: cold start then warm run — alerts append, state swaps") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftapp").toFile.getAbsolutePath
    val samplesPath = s"$root/samples"
    val stateDir = s"$root/state"; val outDir = s"$root/out"
    new java.io.File(stateDir).mkdirs()
    // a UDP amplifier (1900 → high port, big packets) + benign background
    val rows =
      (1 to 6).map(i => ("10.0.0.9", "93.9.9." + i, "1900", "53713", "17", 5000L, 10L, "0x00", 100L + i)) ++
      (1 to 5).map(i => ("10.0.0.100", "93.1.1." + i, "50000", "443", "6", 1000L, 10L, "0x18", 1000L + i))
    rows.toDF("srcIP", "dstIP", "srcPort", "dstPort",
        "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
      .write.parquet(samplesPath)

    // one batch appends one file to the event sink, however many
    // detector sections fired
    def alertFiles = new java.io.File(s"$outDir/alerts").list().count(_.startsWith("part-"))
    GraftApp.run(spark, samplesPath, stateDir, outDir, Seq("10.0."))
    assert(alertFiles == 1, s"$alertFiles alert files after one run")
    val alerts1 = spark.read.parquet(s"$outDir/alerts")
    assert(alerts1.filter(col("detector") === "topTalkers").count() >= 1)
    // event-row fidelity: the alert schema is a superset of the
    // reference's events-table columns (HogEvent.scala:61-82)
    val required = Set("signature_id", "detector", "title", "priority",
      "time", "my_ip", "alien_ip", "metric", "n_flows", "note", "ports",
      "username", "coords", "flows")
    assert(required.subsetOf(alerts1.schema.fieldNames.toSet),
      s"missing: ${required -- alerts1.schema.fieldNames.toSet}")
    // and detector rows resolve to their reference signature ids
    val tt = alerts1.filter(col("detector") === "topTalkers").head()
    assert(tt.getAs[Long]("signature_id") == 826001001L)
    assert(tt.getAs[String]("title") == "HZ: Top talker identified")
    assert(tt.getAs[Int]("priority") == 2)
    // profile families materialized into the state dir, each table in
    // as few files as its bytes need: one, for this fixture
    assert(new java.io.File(s"$stateDir/hist01").exists())
    val stateFiles = Seq("hist01", "hist02", "hist02snap", "hist03", "hist04",
        "hist05", "hist06", "hist07", "hist08").map(h =>
      h -> new java.io.File(s"$stateDir/$h").list().count(_.startsWith("part-")))
    assert(stateFiles.forall(_._2 == 1), s"state files per table: $stateFiles")
    val size1 = spark.read.parquet(s"$stateDir/hist01")
      .agg(sum(col("size"))).head().getLong(0)

    // second run: alerts append (count grows), profiles advance (size sums grow)
    GraftApp.run(spark, samplesPath, stateDir, outDir, Seq("10.0."))
    val alerts2 = spark.read.parquet(s"$outDir/alerts")
    assert(alerts2.count() > alerts1.count())
    assert(alertFiles == 2, s"$alertFiles alert files after two runs")
    val size2 = spark.read.parquet(s"$stateDir/hist01")
      .agg(sum(col("size"))).head().getLong(0)
    assert(size2 > size1, s"hist01 size should advance: $size1 -> $size2")
    // no staging/old/marker leftovers after a clean swap
    val leftovers = new java.io.File(stateDir).list().filter(n =>
      n.endsWith(".staging") || n.endsWith(".old") || n.endsWith(".swap"))
    assert(leftovers.isEmpty, leftovers.mkString(","))

    // third run with a notification sink: every alert reaches the
    // transport with the reference template's rendered field set
    TestBufferSink.received.clear()
    GraftApp.run(spark, samplesPath, stateDir, outDir, Seq("10.0."),
      sink = Some(TestBufferSink))
    val delivered = TestBufferSink.received.toArray(Array.empty[graft.operators.AlertSink.Rendered])
    val tt2 = delivered.filter(_.title == "HZ: Top talker identified")
    assert(tt2.nonEmpty, s"no topTalkers notification among ${delivered.length}")
    val body = tt2.head.body
    assert(body.contains("Alert: HZ: Top talker identified"), body)
    assert(body.contains("Priority: 2"), body)
    assert(body.contains("Host: 10.0.0."), body)
    assert(body.contains("Note: top upload"), body)
    assert(body.contains("Flows:\n"), body)
  }

  test("GraftApp.run: a failed alerts write still releases the batch's pins") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftapp_fail").toFile.getAbsolutePath
    val samplesPath = s"$root/samples"
    (1 to 6).map(i => ("10.0.0.9", "93.9.9." + i, "1900", "53713", "17", 5000L, 10L, "0x00", 100L + i))
      .toDF("srcIP", "dstIP", "srcPort", "dstPort",
        "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
      .write.parquet(samplesPath)
    // a regular file where the alerts table should go: the append fails
    new java.io.File(s"$root/out").mkdirs()
    Files.write(java.nio.file.Paths.get(root, "out", "alerts"), Array[Byte](1))
    val before = CacheProbe.entries(spark)
    intercept[Exception] {
      GraftApp.run(spark, samplesPath, s"$root/state", s"$root/out", Seq("10.0."))
    }
    assert(CacheProbe.entries(spark) == before, "GraftApp.run left pins cached")
    val summary = FlowSummary.summarize(spark.read.parquet(samplesPath), Seq("10.0."))
    assert(summary.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.isEmpty,
      "the flow summary of the failed run is still cached")
  }

  test("GraftApp.run: a batch that fails in its first job still releases the summary pin") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftapp_badrow").toFile.getAbsolutePath
    val samplesPath = s"$root/samples"
    // a packetSize that does not parse: the eager summary fill throws
    // under ANSI casts, before run returns its release
    (1 to 6).map(i => ("10.0.0.9", "93.9.9." + i, "1900", "53713", "17",
        if (i == 3) "5k" else "5000", 10L, "0x00", 100L + i))
      .toDF("srcIP", "dstIP", "srcPort", "dstPort",
        "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
      .write.parquet(samplesPath)
    val before = CacheProbe.entries(spark)
    intercept[Exception] {
      GraftApp.run(spark, samplesPath, s"$root/state", s"$root/out", Seq("10.0."))
    }
    assert(CacheProbe.entries(spark) == before, "GraftApp.run left the summary cached")
  }

  test("FileSink: GraftApp delivers alert files via alert.notify=file:<dir>") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftapp_fsink").toFile.getAbsolutePath
    val samplesPath = s"$root/samples"
    val rows =
      (1 to 6).map(i => ("10.0.0.9", "93.9.9." + i, "1900", "53713", "17", 5000L, 10L, "0x00", 100L + i))
    rows.toDF("srcIP", "dstIP", "srcPort", "dstPort",
        "IPprotocol", "packetSize", "samplingRate", "tcpFlags", "timestamp")
      .write.parquet(samplesPath)
    GraftApp.run(spark, samplesPath, s"$root/state", s"$root/out", Seq("10.0."),
      config = GraftConfig.parse(s"alert.notify = file:$root/alerts"))
    val delivered = new java.io.File(s"$root/alerts/delivered").listFiles()
    assert(delivered != null && delivered.nonEmpty, "no delivered alert files")
    assert(!delivered.exists(_.getName.endsWith(".tmp")), "staging debris left behind")
    val lines = delivered.toSeq.flatMap(f =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(f.toPath)).asScala)
    val tt = lines.filter(_.contains("\"signature_id\":826001001"))
    assert(tt.nonEmpty, s"no topTalkers delivery among:\n${lines.mkString("\n")}")
    assert(tt.head.contains("\"title\":\"HZ: Top talker identified\""), tt.head)
    assert(tt.head.contains("Priority: 2"), tt.head) // rendered body, escaped
    assert(tt.head.contains("\\n"), tt.head)
  }

  test("FileSink: transient write failures retry, then deliver") {
    val dir = Files.createTempDirectory("fsink_retry").toFile.getAbsolutePath
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val sink = new graft.operators.AlertSink.FileSink(dir, maxAttempts = 3, backoffMs = 1L) {
      override protected def writeOnce(path: java.nio.file.Path,
          lines: Seq[String]): Unit = {
        if (attempts.incrementAndGet() <= 2) throw new java.io.IOException("flaky fs")
        super.writeOnce(path, lines)
      }
    }
    sink.deliver(Iterator(graft.operators.AlertSink.Rendered(7L, "t", 2, "line1\nline2")))
    assert(attempts.get() == 3, s"expected 3 attempts, saw ${attempts.get()}")
    val delivered = new java.io.File(s"$dir/delivered").listFiles()
    assert(delivered != null && delivered.length == 1)
    val line = java.nio.file.Files.readString(delivered.head.toPath)
    assert(line.contains("\"signature_id\":7") && line.contains("line1\\nline2"), line)
    assert(!new java.io.File(s"$dir/dead_letter").exists(), "nothing should dead-letter")
  }

  test("FileSink: a permanently failing delivery parks the payload in dead_letter") {
    val dir = Files.createTempDirectory("fsink_dead").toFile.getAbsolutePath
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val sink = new graft.operators.AlertSink.FileSink(dir, maxAttempts = 3, backoffMs = 1L) {
      override protected def writeOnce(path: java.nio.file.Path,
          lines: Seq[String]): Unit = {
        if (path.toString.contains("delivered")) {
          attempts.incrementAndGet()
          throw new java.io.IOException("dead fs")
        }
        super.writeOnce(path, lines)
      }
    }
    sink.deliver(Iterator(graft.operators.AlertSink.Rendered(9L, "gone", 1, "b")))
    assert(attempts.get() == 3, "all delivery attempts must be exhausted first")
    assert(!new java.io.File(s"$dir/delivered").exists() ||
      new java.io.File(s"$dir/delivered").listFiles().isEmpty)
    val dead = new java.io.File(s"$dir/dead_letter").listFiles()
    assert(dead != null && dead.length == 1, "payload must be dead-lettered")
    assert(java.nio.file.Files.readString(dead.head.toPath)
      .contains("\"signature_id\":9"))
  }
}
