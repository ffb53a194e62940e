package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Gates the verify-dump timestamp encoding.
  *
  * The driver regenerates /root/testdata between rounds and its hasher
  * reads the dump with pyarrow/pandas, which decodes legacy INT96
  * timestamps as int64 NANOSECONDS — so the SCD-2 `9999-12-31` high date
  * overflows and silently wraps to 2001-08-01 (the sole red row in
  * CORRECTNESS_r09). This spec writes a verify-style dump of the actual
  * scd2 query and asserts (a) the parquet footer has zero INT96 columns
  * and (b) the out-of-ns-range sentinel round-trips exactly. It goes red
  * if `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` is ever
  * dropped from [[Sessions.build]].
  */
class DumpEncodingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).toSeq

  test("verify-style dump of scd2 history writes no INT96 and the 9999-12-31 sentinel round-trips") {
    val df = Verify.canonicalize(graft.operators.Analytics.scd2History(spark, sf))
    val out = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-dump-enc").toFile
    out.deleteOnExit()
    // mirror Verify.main's dump shape: total-order sort, single file
    val sorted = df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toSeq: _*)
    val dest = new java.io.File(out, "q_scd2_history")
    sorted.coalesce(1).write.mode("overwrite").parquet(dest.getAbsolutePath)

    val files = parquetFiles(dest)
    assert(files.nonEmpty, "dump produced no parquet part files")
    val conf = new Configuration()
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try {
        val cols = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
        val int96 = cols.filter(
          _.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96)
        assert(int96.isEmpty,
          s"INT96 columns in dump ${f.getName}: ${int96.map(_.toString).mkString(", ")} — " +
            "pandas/pyarrow decode INT96 as int64 nanoseconds and 9999-12-31 overflows")
      } finally reader.close()
    }

    // read-back through Spark must preserve the out-of-ns-range sentinel
    val maxTo = spark.read.parquet(dest.getAbsolutePath)
      .agg(max(col("valid_to")).cast("string")).head().getString(0)
    assert(maxTo.startsWith("9999-12-31"),
      s"valid_to high date did not round-trip: got $maxTo")
  }
}
