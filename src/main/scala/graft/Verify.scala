package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Determinism lives HERE, not in the operators (VERDICT r1 item 2): the
  * dump applies a total-order sort over all output columns (asc, nulls
  * first) so operators stay sort-free/scale-safe while the comparison
  * still sees a canonical row order. coalesce(1) happens after the sort —
  * the sort itself runs parallel; only the final file write is single-task,
  * which is fine at sf0.01 dump sizes (every registered result is <100k
  * rows) and keeps the on-disk row order globally sorted in one file.
  */
object Verify {
  /** Dump canonicalization shared with DumpEncodingSpec: session-TZ (UTC)
    * timestamps become timestamp_ntz so the parquet column is plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — the type DuckDB and
    * pandas read as naive, matching the oracle side, with no INT96 and
    * no ns-overflow of the 9999-12-31 SCD-2 sentinel. Values are
    * unchanged because the session time zone is UTC.
    */
  def canonicalize(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args: run (and dump oracles for) only these queries —
    // the driver passes exactly two args, so its full-surface run is
    // unchanged; the filter is for local single-query iteration.
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try {
        val df = canonicalize(fn(spark, sfDir))
        val sorted = df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toSeq: _*)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
