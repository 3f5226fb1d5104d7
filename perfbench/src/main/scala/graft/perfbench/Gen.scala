package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.detectors.HogzillaBatch
import graft.operators.StateSwap

/** Seeded input generators, one per workload. Each writes its inputs once
  * into a directory; the timed process only ever sees those files.
  *
  * {{{
  * java ... graft.perfbench.Gen sflow_history 0 <outDir> <scale>
  * java ... graft.perfbench.Gen sflow_batch <seed> <outDir> <scale> <historyDir>
  * java ... graft.perfbench.Gen curate_corpus <seed> <outDir> <scale>
  * java ... graft.perfbench.Gen auth_backlog <seed> <outDir> <scale>
  * }}}
  *
  * The same seed always yields the same files' contents; `Gen` also
  * writes `fingerprint.txt`, an order-independent hash of every generated
  * table, which the self-test compares across seeds.
  */
object Gen {

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: Gen <workload> <seed> <outDir> <scale> [historyDir]")
    val Array(workload, seedArg, out, scaleArg) = args.take(4)
    val seed = seedArg.toLong
    val scale = scaleArg.toDouble
    // only the history runs the app; the per-seed inputs are written
    // without Spark, so their JVM finishes in a few seconds
    lazy val spark = graft.GraftSession.build("local[2]", 2)
    try {
      val fp = workload match {
        case "sflow_history" => sflowHistory(spark, out, scale)
        case "sflow_batch" => sflow(seed, out, scale, args(4))
        case "curate_corpus" => docs(seed, out, scale)
        case "auth_backlog" => authBacklog(seed, out, scale)
        case other => sys.error(s"unknown workload $other")
      }
      write(new File(out, "fingerprint.txt"), fp + "\n")
    } finally if (workload == "sflow_history") spark.stop()
  }

  def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8))

  /** A parquet column type: physical type and logical annotation. */
  final case class Kind(physical: String, annotation: String)
  val Int64 = Kind("int64", "")
  val Str = Kind("binary", "(STRING)")
  /** Microseconds since the epoch, read by Spark as a timestamp. */
  val Micros = Kind("int64", "(TIMESTAMP_MICROS)")

  /** Deterministic 31-bit mix of a seed and small integer keys. */
  private def mix(keys: Long*): Int = {
    var h = 0x9E3779B97F4A7C15L
    keys.foreach { k =>
      h ^= k + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
    }
    (h & 0x7fffffffL).toInt
  }

  // ---------------------------------------------------------------- sFlow

  /** FlowSummary's input columns. */
  val SflowCols: Seq[(String, Kind)] = Seq("srcIP" -> Str, "dstIP" -> Str,
    "srcPort" -> Str, "dstPort" -> Str, "IPprotocol" -> Str, "packetSize" -> Int64,
    "samplingRate" -> Int64, "tcpFlags" -> Str, "timestamp" -> Int64)

  val MyNets = Seq("10.")
  val WindowSecs = 21600L
  val Epoch = 1704067200L
  val SampleRate = 512L

  /** One detector plant: the alert the timed window must raise. */
  final case class Plant(detector: String, myIp: String, alienIp: String)

  /** The planted hosts, by the detector each one must trip in the last
    * window. Three sections have no plant: `atypicalPairs` and
    * `atypicalData` alert only against profiles with at least 100
    * observations, which gain one observation per host per window, so two
    * history windows cannot mature them; `atypicalAlienPorts` also needs
    * the alien's own profile and the last-window snapshot to agree.
    */
  val Plants: Seq[Plant] = Seq(
    Plant("smtpTalkers", "10.9.0.1", null),
    Plant("abusedSMTP", "10.9.0.2", "198.18.1.1"),
    Plant("p2pTalkers", "10.9.0.3", null),
    Plant("mediaStreaming", "10.9.0.4", "151.101.0.10"),
    Plant("atypicalPorts", "10.9.0.5", null),
    Plant("alienNetworkAtypicalPorts", null, "93.16.7"),
    Plant("alienAccess", null, "203.0.114.66"),
    Plant("udpAmplifier", "10.9.0.8", null),
    Plant("dnsTunnel", "10.9.0.9", null),
    Plant("icmpTunnel", "10.9.0.10", null),
    Plant("hPortScan", "10.9.0.11", null),
    Plant("vPortScan", "10.9.0.12", "45.34.1.1"),
    Plant("ddos", "10.9.0.13", null),
    Plant("botnetCC", "10.9.0.14", null),
    Plant("osDiscovery", "10.9.0.15", null),
    Plant("topTalkers", "10.9.0.16", null))

  /** Window `w` of seeded sFlow samples (w = 0, 1 are history; 2 is the
    * timed window). Benign traffic: `nLocal` client hosts with a skewed
    * (u²) share of samples, each talking to four fixed web servers drawn
    * from 5,000 alien hosts in twenty /24 networks, with one ephemeral
    * port per server per half hour. The planted hosts are added on top.
    */
  def sflowWindow(seed: Long, w: Int, nBenign: Int, nLocal: Int): Seq[Seq[Any]] = {
    val rng = new SplittableRandom(seed * 1000003L + w)
    val t0 = Epoch + w * WindowSecs
    val rows = new scala.collection.mutable.ArrayBuffer[Seq[Any]](nBenign + 8000)
    def add(src: String, dst: String, sp: Any, dp: Any, proto: String, size: Int,
            flags: String, t: Long): Unit =
      rows += Seq(src, dst, sp.toString, dp.toString, proto, size.toLong, SampleRate, flags, t)
    def localIp(c: Int) = s"10.1.${c / 250}.${c % 250 + 1}"
    def alienIp(a: Int) = s"93.16.${a % 20}.${a / 20 + 1}"
    def at(lo: Long, hi: Long) = t0 + lo + rng.nextLong(hi - lo)

    for (_ <- 0 until nBenign) {
      val u = rng.nextDouble()
      val c = (nLocal * u * u).toInt
      val s = rng.nextInt(4)
      val alien = alienIp(mix(seed, c, s) % 5000)
      val port = if (s == 3) 80 else 443
      val t = at(0, WindowSecs)
      val eph = 32768 + mix(seed, c, s, t / 1800) % 28000
      if (rng.nextBoolean())
        add(localIp(c), alien, eph, port, "6", 60 + rng.nextInt(540), "0x18", t)
      else add(alien, localIp(c), port, eph, "6", 200 + rng.nextInt(1000), "0x18", t)
    }

    // atypicalPorts: serves ssh in every window, a new port in the last
    for (f <- 0 until 60; _ <- 0 until 3)
      add(s"203.0.113.${f % 15 + 1}", "10.9.0.5", 20000 + mix(seed, w, f) % 40000, 22, "6",
        100 + rng.nextInt(400), "0x18", at(0, WindowSecs))
    // hPortScan: a steady telnet sweep as history, then an RDP sweep
    val scanPort = if (w < 2) 23 else 3389
    for (k <- 0 until 150)
      add("10.9.0.11", s"45.33.${k / 250}.${k % 250 + 1}", 40023, scanPort, "6", 60, "0x02",
        at(0, WindowSecs))
    // vPortScan: five-port probes of twelve hosts as history, then twenty
    // ports on one host
    val lowPorts = Seq(21, 22, 23, 53, 79, 80, 88, 110, 111, 135, 139, 143, 389, 443, 445,
      465, 513, 514, 631, 993)
    if (w < 2) for (k <- 1 to 12; p <- lowPorts.take(5))
      add("10.9.0.12", s"45.34.0.$k", 40100, p, "6", 60, "0x02", at(0, WindowSecs))
    else for (p <- lowPorts)
      add("10.9.0.12", "45.34.1.1", 40100, p, "6", 60, "0x02", at(0, WindowSecs))

    if (w == 2) {
      for (k <- 1 to 4; _ <- 0 until 50) // smtpTalkers
        add("10.9.0.1", s"198.18.0.$k", 40025, 25, "6", 1000, "0x18", at(0, WindowSecs))
      for (_ <- 0 until 150) // abusedSMTP
        add("10.9.0.2", "198.18.1.1", 40026, 25, "6", 1000, "0x18", at(0, WindowSecs))
      for (k <- 0 until 40; _ <- 0 until 3) // p2pTalkers
        add("10.9.0.3", s"100.64.$k.9", 50000 + k, 6881 + k, "6", 500, "0x18", at(0, WindowSecs))
      for (_ <- 0 until 900) // mediaStreaming: one long download
        add("151.101.0.10", "10.9.0.4", 443, 41000, "6", 1400, "0x18", at(1000, 4000))
      for (_ <- 0 until 30)
        add("10.9.0.4", "151.101.0.10", 41000, 443, "6", 80, "0x18", at(1000, 4000))
      for (f <- 0 until 10; _ <- 0 until 3) // atypicalPorts: the new port
        add(s"203.0.113.${f + 1}", "10.9.0.5", 30000 + f, 8022, "6", 300, "0x02",
          at(0, WindowSecs))
      for (_ <- 0 until 5) // alienNetworkAtypicalPorts
        add("10.9.0.6", "93.16.7.251", 41443, 8443, "6", 300, "0x18", at(0, WindowSecs))
      for (k <- 0 until 30) // alienAccess: one alien touching thirty hosts
        add("203.0.114.66", localIp(k * 7), 51000 + k, 22, "6", 80, "0x02", at(0, WindowSecs))
      for (_ <- 0 until 2100) // udpAmplifier: one huge NTP flow
        add("10.9.0.8", "192.0.2.50", 123, 40123, "17", 468, "0x00", at(0, WindowSecs))
      for (_ <- 0 until 120) // dnsTunnel
        add("10.9.0.9", "192.0.2.53", 45053, 53, "17", 800, "0x00", at(0, WindowSecs))
      for (_ <- 0 until 250) // icmpTunnel
        add("10.9.0.10", "192.0.2.1", 0, 0, "1", 1000, "0x00", at(0, WindowSecs))
      for (k <- 0 until 120) // ddos: a half-hour burst from forty aliens
        add(s"172.20.${k % 40}.3", "10.9.0.13", 20000 + k, 80, "6", 60, "0x02", at(3600, 5400))
      for (_ <- 0 until 25) // botnetCC
        add("10.9.0.14", "198.51.100.9", 40808, 8080, "6", 200, "0x18", at(0, WindowSecs))
      for (_ <- 0 until 5) // osDiscovery
        add("10.9.0.15", "91.189.91.38", 40080, 80, "6", 300, "0x18", at(0, WindowSecs))
      for (_ <- 0 until 800) // topTalkers
        add("10.9.0.16", "93.16.0.1", 40443, 443, "6", 1400, "0x18", at(7200, 9000))
    }
    rows.toSeq
  }

  def sflowSizes(scale: Double): (Int, Int) =
    ((30000 * scale).toInt max 2000, (1000 * scale).toInt max 100)

  /** Writes window `w` as one parquet file under `dir`; returns its
    * fingerprint and row count.
    */
  private def writeWindow(seed: Long, w: Int, scale: Double, dir: String): (String, Int) = {
    val (nBenign, nLocal) = sflowSizes(scale)
    val rows = sflowWindow(seed, w, nBenign, nLocal)
    writeParquet(s"$dir/part-00000.parquet", SflowCols, rows)
    (rowsPrint(rows), rows.size)
  }

  /** The profile state the timed window is checked against: the app's
    * learn pass (HogzillaBatch.run's updated profiles, swapped in with
    * StateSwap as GraftApp.run does) over two history windows. They are
    * drawn from a fixed seed, so the state is built once per build of the
    * program, not per run.
    */
  private def sflowHistory(spark: SparkSession, out: String, scale: Double): String = {
    import spark.implicits._
    val state = s"$out/state"
    val blacklist = Seq("198.51.100.").toDF("prefix")
    val osRepos = Seq(("91.189.91.38", "ubuntu")).toDF("repo_ip", "os")
    blacklist.coalesce(1).write.parquet(s"$state/blacklist")
    osRepos.coalesce(1).write.parquet(s"$state/os_repos")
    val fps = (0 until 2).map { w =>
      val (fp, _) = writeWindow(HistorySeed, w, scale, s"$out/w$w")
      val t = HistNames.map(h =>
        StateSwap.readOrElse(spark, s"$state/$h", HogzillaBatch.emptyProfiles(spark)))
      val (_, updated, _, release) = HogzillaBatch.run(spark,
        spark.read.parquet(s"$out/w$w"), MyNets, profileTables(t), blacklist, osRepos)
      tablesOf(updated).zip(HistNames).foreach { case (df, h) => StateSwap.swap(df, s"$state/$h") }
      release()
      fp
    }
    fps.mkString("-")
  }

  val HistorySeed = 0L

  /** GraftApp's profile-state tables, in ProfileTables order. */
  val HistNames: Seq[String] = Seq("hist01", "hist02", "hist02snap", "hist03", "hist04",
    "hist05", "hist06", "hist07", "hist08")

  def profileTables(t: Seq[DataFrame]): HogzillaBatch.ProfileTables =
    HogzillaBatch.ProfileTables(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8))

  def tablesOf(p: HogzillaBatch.ProfileTables): Seq[DataFrame] =
    Seq(p.hist01, p.hist02, p.hist02snap, p.hist03, p.hist04, p.hist05, p.hist06, p.hist07,
      p.hist08)

  /** The timed window for `seed`, beside a copy of the history state. */
  private def sflow(seed: Long, out: String, scale: Double, history: String): String = {
    val (fp, n) = writeWindow(seed, 2, scale, s"$out/samples")
    copyTree(new File(history, "state"), new File(out, "state"))
    write(new File(out, "rows.txt"), s"$n\n")
    write(new File(out, "plants.tsv"), Plants.map(p =>
      Seq(p.detector, Option(p.myIp).getOrElse(""), Option(p.alienIp).getOrElse(""))
        .mkString("\t")).mkString("", "\n", "\n"))
    fp
  }

  // ----------------------------------------------------------------- auth

  /** Cities users log in from: name, latitude, longitude. Each city lies
    * more than 400 km (AuthProfiling's radius) from the city ten places on.
    */
  val Cities: Seq[(String, Double, Double)] = Seq(
    ("new_york", 40.71, -74.01), ("london", 51.51, -0.13), ("tokyo", 35.68, 139.69),
    ("sao_paulo", -23.55, -46.63), ("sydney", -33.87, 151.21), ("paris", 48.86, 2.35),
    ("berlin", 52.52, 13.4), ("mumbai", 19.08, 72.88), ("toronto", 43.65, -79.38),
    ("mexico_city", 19.43, -99.13), ("cairo", 30.04, 31.24), ("lagos", 6.52, 3.38),
    ("moscow", 55.76, 37.62), ("seoul", 37.57, 126.98), ("singapore", 1.35, 103.82),
    ("johannesburg", -26.2, 28.05), ("buenos_aires", -34.6, -58.38), ("chicago", 41.88, -87.63),
    ("madrid", 40.42, -3.7), ("jakarta", -6.21, 106.85))
  private val Agents = Seq("firefox/128", "chrome/126", "safari/17", "edge/126", "okhttp/4",
    "curl/8")
  private val Services = Seq("sshd", "imap", "vpn", "webmail", "sso")

  val AuthCols: Seq[(String, Kind)] = Seq("user_name" -> Str, "ts" -> Micros, "city" -> Str,
    "coords" -> Str, "user_agent" -> Str, "service" -> Str)
  val AuthFiles = 10
  def authSizes(scale: Double): (Int, Int) =
    ((2000 * scale).toInt max 200, (1000 * scale).toInt max 50)

  /** The planted users, by the detector each one must trip in the last
    * file: a far city, a new agent and a new service after more than the
    * 10-observation cold start, or two logins ten minutes and thousands
    * of kilometres apart.
    */
  val AuthPlants: Seq[(String, String)] =
    (0 until 4).map(k => "atypicalAccess" -> s"planted-atypical-$k") ++
      (0 until 4).map(k => "impossibleTravel" -> s"planted-travel-$k")

  /** A backlog of `AuthFiles` equal-size files of auth events, one minute
    * each, for a file stream to drain one file per micro-batch. Users keep
    * a stable home city, agent and service, so the profiles stop growing
    * once every user has been seen; the planted users log in twice in
    * every file and act only in the last.
    */
  private def authBacklog(seed: Long, out: String, scale: Double): String = {
    val (perFile, nUsers) = authSizes(scale)
    val rng = new SplittableRandom(seed * 1000003L + 7)
    val t0 = Epoch * 1000000L
    val stamp = System.currentTimeMillis() / 1000 * 1000 - AuthFiles * 1000L
    def coords(c: Int) = f"${Cities(c)._2}%.2f,${Cities(c)._3}%.2f"
    def home(user: String) = mix(seed, user.hashCode) % Cities.size
    def event(user: String, t: Long, city: Int, agent: String, service: String): Seq[Any] =
      Seq(user, t, Cities(city)._1, coords(city), agent, service)
    def habitual(user: String, t: Long): Seq[Any] = event(user, t, home(user),
      Agents(mix(seed, user.hashCode, 1) % Agents.size),
      Services(mix(seed, user.hashCode, 2) % Services.size))
    val all = (0 until AuthFiles).map { f =>
      val lo = t0 + f * 60000000L
      def at() = lo + rng.nextLong(60000000L)
      val rows = (0 until perFile).map(_ => habitual(s"user-${rng.nextInt(nUsers)}", at())) ++
        AuthPlants.flatMap { case (_, u) => Seq(habitual(u, at()), habitual(u, at())) } ++
        (if (f < AuthFiles - 1) Nil else AuthPlants.map {
          case ("atypicalAccess", u) => event(u, at(), (home(u) + 10) % Cities.size,
            "wget/1", "ftp")
          case (_, u) =>
            val t = lo + 60000000L - 1
            event(u, t, (home(u) + 10) % Cities.size, "chrome/126", "sso")
        })
      val path = f"$out/backlog/part-$f%05d.parquet"
      writeParquet(path, AuthCols, rows)
      // the file source takes files in modification-time order
      new File(path).setLastModified(stamp + f * 1000L)
      rows
    }.flatten
    write(new File(out, "rows.txt"), s"${all.size}\n")
    rowsPrint(all)
  }

  // ------------------------------------------------------------ documents

  def nDocs(scale: Double): Int = (10000 * scale).toInt max 500

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Syllables = Seq("ba", "ce", "di", "fo", "gu", "hy", "ja", "ke",
    "lo", "mu", "ne", "pi", "ro", "su", "ta", "vi")

  /** The natural-vocabulary documents table: a port of the in-repo
    * fixture generator's `natural` draw, with the seed mixed into every
    * per-row hash. Length uniform 10..100 words; word rank floor(V·u³) over
    * the 30 head words plus 4,096 three-syllable tail words, so the head is
    * heavy but trigram space does not saturate. About 4.8% of docs are
    * near-duplicates of a random doc (last 0-2 words dropped, " dup"
    * appended) and 0.2% exact clones. Also writes `truth`, the planted
    * near-duplicate (base, copy) pairs, for the pair-yield counter; the
    * program never reads it.
    */
  private def docs(seed: Long, out: String, scale: Double): String = {
    val n = nDocs(scale)
    def h(id: Long, salt: Long, m: Int): Int = mix(seed, id, salt) % m
    def u(id: Long, salt: Long, i: Long = 0): Double = mix(seed, id, salt, i) % 1000000000 / 1e9
    val vTotal = Vocab.size + 4096
    def words(id: Long): Seq[String] = (1 to 10 + h(id, 701, 91)).map { i =>
      val rank = math.min((math.pow(u(id, 702, i), 3) * vTotal).toInt, vTotal - 1)
      val t = rank - Vocab.size
      if (t < 0) Vocab(rank)
      else Syllables(t / 256 % 16) + Syllables(t / 16 % 16) + Syllables(t % 16)
    }
    val truth = Seq.newBuilder[Seq[Any]]
    val rows = (0 until n).map { id =>
      val kind = h(id, 706, 1000)
      val base = h(id, 707, n)
      val text =
        if (kind >= 50) words(id).mkString(" ")
        else if (kind >= 48) words(base).mkString(" ")
        else {
          if (base != id) truth += Seq(math.min(id, base).toLong, math.max(id, base).toLong)
          val w = words(base)
          w.take(math.max(w.size - h(id, 708, 3), 1)).mkString(" ") + " dup"
        }
      val lang = if (u(id, 703) < 0.412) "en" else Seq("de", "es", "fr", "zh")(h(id, 704, 4))
      Seq[Any](id.toLong, text, lang, s"src${h(id, 705, 20)}", text.length.toLong)
    }
    val docCols = Seq("doc_id" -> Int64, "text" -> Str, "lang" -> Str, "source" -> Str,
      "n_chars" -> Int64)
    // four files, so the scan has as many partitions as the cores it gets
    for (part <- 0 until 4)
      writeParquet(s"$out/documents.parquet/part-0000$part.parquet", docCols,
        rows.filter(_.head.asInstanceOf[Long] % 4 == part))
    writeParquet(s"$out/truth/part-00000.parquet", Seq("doc1" -> Int64, "doc2" -> Int64),
      truth.result())
    write(new File(out, "rows.txt"), s"$n\n")
    rowsPrint(rows)
  }

  /** Writes `rows` as one parquet file of required columns, without a
    * Spark session. Values are `Long` (int64 kinds) or `String`.
    */
  def writeParquet(path: String, cols: Seq[(String, Kind)], rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(cols.map { case (name, k) =>
      s"required ${k.physical} $name ${k.annotation};"
    }.mkString("message m { ", " ", " }"))
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v, _) => sys.error(s"unsupported value $v")
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Order-independent fingerprint of generated rows, with their count. */
  private def rowsPrint(rows: Seq[Seq[Any]]): String = {
    val sum = rows.map(r => BigInt(scala.util.hashing.MurmurHash3.seqHash(r))).sum
    s"${sum.toString(16)}/${rows.size}"
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Order-independent content hash of a table: the sum of per-row xxhash64
  * values, in hex. Map columns are rendered as sorted JSON first, since
  * Spark does not hash maps.
  */
object Fingerprint {
  def of(df: DataFrame, drop: Seq[String] = Nil): String = {
    val cols = df.schema.fields.filterNot(f => drop.contains(f.name)).map { f =>
      f.dataType match {
        case _: MapType => to_json(sort_array(map_entries(col(f.name))))
        case _ => col(f.name)
      }
    }
    val row = df.select(coalesce(sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")), count(lit(1))).head()
    f"${row.getDecimal(0).toBigInteger.toString(16)}/${row.getLong(1)}"
  }
}
