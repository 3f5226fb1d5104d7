package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-engine table fingerprinting — the migration-validation primitive:
  * after copying/transforming 100 TB between systems, compare per-bucket
  * (row count, order-independent content hash) summaries instead of rows.
  * A mismatch localizes to a bucket (~1/N of the table), so re-checks
  * re-read only that slice.
  *
  * Portability: row hash and bucket assignment derive from md5 over a
  * canonical string encoding (same convention as the sketch/sampling
  * functions — both engines compute identical 60-bit values); the bucket
  * combiner is XOR, which is order- and partitioning-independent and
  * cannot overflow, so ANY engine/row-order produces the same summary.
  *
  * One map-side-combinable aggregate over the table — a single shuffle of
  * N tiny rows, no sort.
  */
object Integrity {

  /** 60 bits of md5 over the '|'-joined string encoding of `cols`.
    * Callers choose columns with engine-stable casts (integers, strings,
    * dates — NOT floats, whose to-string formatting differs by engine).
    */
  def rowHash(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|", cols.map(_.cast("string")): _*)), 1, 15), 16, 10)
      .cast("long")

  /** Per-bucket fingerprint summary: (bucket, n_rows, xor of row hashes). */
  def tableFingerprint(df: DataFrame, cols: Seq[String], buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val h = rowHash(cols.map(col))
    df.select(pmod(h, lit(buckets.toLong)).as("bucket"), h.as("__h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__h)").as("xor_hash"))
  }

  /** Data-quality gate: one pass over the table counting violations of
    * each named predicate (null checks, range checks, format checks, …) —
    * ALL checks share a single scan and aggregate (each is a conditional
    * count, map-side combinable), so adding a rule costs no extra pass.
    * Output: one row per rule, (check, n_violations, n_rows).
    */
  def qualityReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "qualityReport needs at least one rule")
    // the rule names become map keys below; duplicates would otherwise
    // surface as an opaque runtime duplicate-map-key error
    // (spark.sql.mapKeyDedupPolicy defaults to EXCEPTION)
    require(rules.map(_._1).distinct.size == rules.size,
      s"qualityReport rule names must be unique; duplicates: " +
        rules.groupBy(_._1).filter(_._2.size > 1).keys.mkString(", "))
    // internal columns are index-named: a rule DISPLAY name with dots or
    // spaces must never reach col()'s nested-field parser
    val counts = df.agg(
      count(lit(1)).as("n_rows"),
      rules.zipWithIndex.map { case ((_, violated), i) =>
        sum(when(violated, 1L).otherwise(0L)).as(s"__v_$i")
      }: _*)
    counts.select(explode(map(
        rules.zipWithIndex.flatMap { case ((name, _), i) =>
          Seq(lit(name), col(s"__v_$i")) }: _*)).as(Seq("check", "n_violations")),
      col("n_rows"))
      .select(col("check"), col("n_violations"), col("n_rows"))
  }

  /** Referential-integrity check as a quality row: children whose
    * `fkCol` has no match in `parent.pkCol` (null FKs are violations of a
    * null rule, not orphans — excluded here). One anti-join, broadcast
    * when the parent key set is small, shuffle otherwise.
    */
  /** Row-level reconciliation of two table versions: multiset differences
    * in both directions, side-tagged — the drill-down step after
    * [[tableFingerprint]] localizes a mismatch (diff only the rows of the
    * differing bucket, not the whole table). Duplicate multiplicity is
    * kept, so a row that appears twice in `a` and once in `b` correctly
    * surfaces once.
    *
    * ONE exchange, not four (r13): the exceptAll-per-direction form
    * shuffled both full projections twice (each exceptAll is its own
    * row-keyed exchange of both sides). The multiset difference in both
    * directions is a single signed count per distinct row — union the
    * sides map-side with weight ±1, aggregate ONCE on the row key (the
    * partial aggregate combines map-side), and re-expand the surviving
    * rows to their |Σ| multiplicity: Σ>0 rows are only_in_a exactly Σ
    * times, Σ<0 rows only_in_b — row-for-row what the two exceptAlls
    * emitted. At 100 TB the diff pays one pass over the union instead
    * of four over the inputs.
    */
  def diffTables(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    require(!cols.contains("side"), "diffTables: `side` is its output tag column")
    // internal columns named apart from every input column
    val Seq(w, d, i) = Seq("__w", "__d", "__i").map(n =>
      Iterator.iterate(n)(_ + "_").find(!cols.contains(_)).get)
    val pa = a.select(cols.map(col): _*)
    val pb = b.select(cols.map(col): _*)
    pa.withColumn(w, lit(1L)).unionByName(pb.withColumn(w, lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum(col(w)).as(d))
      .filter(col(d) =!= 0L)
      .select(cols.map(col) :+
        when(col(d) > 0, lit("only_in_a")).otherwise(lit("only_in_b")).as("side") :+
        explode(sequence(lit(1L), abs(col(d)))).as(i): _*)
      .drop(i)
  }

  def orphanCount(child: DataFrame, fkCol: String, parent: DataFrame,
                  pkCol: String, checkName: String): DataFrame =
    child
      .join(parent.select(col(pkCol).as(fkCol)).distinct()
        .withColumn("__matched", lit(1)), Seq(fkCol), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__matched").isNull && col(fkCol).isNotNull, 1L)
          .otherwise(0L)).as("n_violations"))
      .select(lit(checkName).as("check"), col("n_violations"), col("n_rows"))
}
