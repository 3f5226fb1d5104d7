package graft

/** File-driven runtime configuration for the detector / curation entry
  * points — the reference's `HogConfig.scala:37-115` accessor surface
  * over its `scripts/conf/sflow.conf` key names, so a deployed
  * [[GraftApp]]/[[GraftContinuousApp]]/[[CurateApp]] can change any
  * threshold or exclusion list without recompiling.
  *
  * The file format is the HOCON subset those conf files actually use —
  * `section { key = "value" }` blocks (nesting allowed), bare or quoted
  * scalar values, `#` comments and `//` comments (at line start or after
  * whitespace, so `file:/var//spool` keeps its `//`), `Set(...)` literals
  * for exclusion lists, last duplicate key wins. Parsed with a ~40-line
  * reader because the runtime classpath ships no config library and the
  * project rule is zero extra dependencies.
  *
  * The accessors (`getString`/`getInt`/`getLong`/`getDouble`/
  * `getSetString`/`getSetInt`) are the generic, lenient surface and
  * mirror the reference's: the default on a missing key, an empty value
  * or a value that does not parse (the reference's fail-soft contract).
  * The apps do not use them: they read one settings value,
  * [[Detection]] or [[Curation]], through [[strict]], which parses the
  * same [[GraftConfig.Literal]]s but fails on a value that does not
  * parse.
  */
final class GraftConfig private[graft] (val entries: Map[String, String]) {
  import GraftConfig.Literal

  /** `key`'s value as `lit`: the default when the key is missing or its
    * value is empty, else `malformed` of a message naming the key and the
    * value when the value does not parse. The lenient and strict reads
    * differ only in `malformed`.
    */
  private def read[T](key: String, default: T, lit: Literal[T])(malformed: String => T): T =
    entries.get(key).filter(_.nonEmpty) match {
      case None => default
      case Some(v) => lit.parse(v.trim).getOrElse(malformed(s"$key => '$v' is not ${lit.what}"))
    }

  private def lenient[T](key: String, default: T, lit: Literal[T]): T =
    read(key, default, lit) { msg =>
      System.err.println(s"[GraftConfig] $msg; using default $default")
      default
    }

  /** The settings values' read: as the accessors, but a value that does
    * not parse throws an `IllegalArgumentException` naming the key and the
    * value, so a broken deployment fails before it runs.
    */
  private[graft] def strict[T](key: String, default: T, lit: Literal[T]): T =
    read(key, default, lit)(msg => throw new IllegalArgumentException(msg))

  def getString(key: String, default: String): String =
    entries.get(key).filter(_.nonEmpty).getOrElse(default)

  def getInt(key: String, default: Int): Int = lenient(key, default, Literal.Int)
  def getLong(key: String, default: Long): Long = lenient(key, default, Literal.Long)
  def getDouble(key: String, default: Double): Double = lenient(key, default, Literal.Double)

  /** `Set(a,b,c)` literal (the reference's exclusion-list syntax);
    * `Set()` is explicitly empty, a missing key yields the default.
    */
  def getSetString(key: String, default: Set[String]): Set[String] =
    lenient(key, default, Literal.SetString)

  def getSetInt(key: String, default: Set[Int]): Set[Int] = lenient(key, default, Literal.SetInt)
}

object GraftConfig {

  val empty = new GraftConfig(Map.empty)

  /** How one kind of value is written in a conf file: `parse` of the
    * trimmed value, None when the value is not `what`.
    */
  final case class Literal[T](what: String, parse: String => Option[T])

  object Literal {
    private def number[T](what: String, parse: String => T) = Literal[T](what, v =>
      try Some(parse(v)) catch { case _: NumberFormatException => None })

    val Int: Literal[Int] = number("an integer", _.toInt)
    val Long: Literal[Long] = number("an integer", _.toLong)
    val Double: Literal[Double] = number("a number", _.toDouble)

    val SetString: Literal[Set[String]] = Literal("a Set(...) literal", v =>
      if (!v.startsWith("Set(") || !v.endsWith(")")) None
      else Some(v.stripPrefix("Set(").stripSuffix(")").split(",").map(_.trim)
        .filter(_.nonEmpty).toSet))

    val SetInt: Literal[Set[Int]] = Literal("a Set(...) of integers", v =>
      SetString.parse(v).flatMap { s =>
        val ints = s.map(Int.parse)
        if (ints.forall(_.isDefined)) Some(ints.flatten) else None
      })
  }

  /** Parse conf text. Sections flatten to dotted key prefixes; values
    * keep their literal form (quotes stripped) for the typed accessors.
    */
  def parse(text: String): GraftConfig = {
    val entries = scala.collection.mutable.Map.empty[String, String]
    val stack = scala.collection.mutable.Stack.empty[String]
    val assign = """([A-Za-z0-9_.-]+)\s*=\s*(.*)""".r
    val sectionOpen = """([A-Za-z0-9_.-]+)\s*\{""".r
    def stripComment(line: String): String = {
      // comments start outside double quotes, at # or at a // that
      // begins the line or follows whitespace
      var inQ = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (c == '"') inQ = !inQ
        else if (!inQ && (c == '#' || (line.startsWith("//", i) &&
            (i == 0 || line.charAt(i - 1).isWhitespace))))
          return line.substring(0, i)
        i += 1
      }
      line
    }
    def unquote(v: String): String = {
      val t = v.trim
      if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) t.substring(1, t.length - 1)
      else t
    }
    text.linesIterator.map(stripComment)
      // one-line blocks (`name { key = "v" }`) split into logical lines
      .flatMap(_.replace("{", "{\n").replace("}", "\n}\n").linesIterator.toSeq)
      .map(_.trim).filter(_.nonEmpty).foreach {
        case sectionOpen(name) => stack.push(name)
        case "}" => if (stack.nonEmpty) stack.pop()
        case assign(key, value) =>
          val full = (stack.toList.reverse :+ key).mkString(".")
          entries(full) = unquote(value) // last duplicate wins, as in HOCON
        case other =>
          System.err.println(s"[GraftConfig] ignoring unparseable line: '$other'")
      }
    new GraftConfig(entries.toMap)
  }

  /** Load a conf file; a missing/unreadable path is the all-defaults
    * config (cold start works without any conf deployed).
    */
  def load(path: String): GraftConfig = {
    val f = new java.io.File(path)
    if (!f.isFile) {
      System.err.println(s"[GraftConfig] no conf file at $path; using defaults")
      empty
    } else parse(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }
}
