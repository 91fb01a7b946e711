package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Forensics channel (round-6): also writes `outDir/digests.json` — per
  * query, the row count plus a per-COLUMN md5 over that column's
  * canonically sorted string values, computed from a RE-READ of the parquet
  * just written (i.e. a fingerprint of exactly the bytes the driver's
  * DuckDB compare will read). Two runs of Verify — here and in the driver's
  * environment — can then be diffed column-by-column after the fact, so a
  * `hash_match: false` in CORRECTNESS names the diverging column instead of
  * being unreproducible (VERDICT r5 "Next #1": sequence_packing /
  * quantile_normalize were driver-red, judge-green, and nothing in the
  * channel could say which column disagreed).
  */
object Verify {

  /** Canonical per-column fingerprint of a parquet dir.
    *
    * Canonicalization: every column cast to its Spark string form (complex
    * types via to_json), nulls counted separately, non-null strings sorted
    * lexicographically (UTF-16 code-unit order — self-consistent across
    * JVMs), then md5 over the 0x01-joined UTF-8 bytes. The digest only
    * needs to agree with ANOTHER run of this same code, not with DuckDB —
    * it bisects Spark-side output drift between environments.
    */
  def digest(df: DataFrame): (Long, Seq[(String, Long, String)]) = {
    val fields = df.schema.fields
    val strCols = fields.map { f =>
      val base = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
        case _ => col(f.name).cast("string")
      }
      base.as(f.name)
    }
    val rows = df.select(strCols.toIndexedSeq: _*).collect()
    val perCol = fields.indices.map { i =>
      val vs = rows.map(r => if (r.isNullAt(i)) null else r.getString(i))
      val nulls = vs.count(_ == null).toLong
      val sorted = vs.filter(_ != null).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      var first = true
      sorted.foreach { v =>
        if (!first) md.update(1.toByte)
        first = false
        md.update(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val hex = md.digest().map(b => f"$b%02x").mkString
      (fields(i).name, nulls, hex)
    }
    (rows.length.toLong, perCol)
  }
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: only dump these queries (dev loop; driver passes 2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    // the engine extensions (per-key top-k rewrite, as-of join) run in the
    // verified path, so their output is hash-checked against the oracle
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // fingerprint the parquet as written — exactly what the driver reads
        val (nRows, cols) = digest(spark.read.parquet(s"$outDir/$name"))
        val colJson = cols.map { case (c, nulls, md5) =>
          s""""$c": {"nulls": $nulls, "md5": "$md5"}"""
        }.mkString("{", ", ", "}")
        digests(name) = s"""{"rows": $nRows, "cols": $colJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators cache internally-reused subtrees (shingles, signatures,
      // distinct user-days); without a per-query clear those pins accumulate
      // across the 100+-query sweep for the whole session (Bench does the
      // same between timings)
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/digests.json"),
      digests.map { case (k, v) => s""""$k": $v""" }
        .mkString("{\n", ",\n", "\n}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
