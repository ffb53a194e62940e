// In package graft.catalog: the guard under test sits on the (package-
// private) micro-batch stream, and the mid-stream race it closes cannot
// be scheduled deterministically through the public streaming API.
package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** SCHEMA ERAS × STREAMING (r15): a running stream's plan binds the
  * scan output at analysis time, so the version-tail source pins every
  * batch to its OPENING schema and refuses commits from a NEWER era —
  * a rename/drop/widen landing mid-stream fails loudly (restart to
  * adopt) instead of silently null-filling or reinterpreting columns.
  * A restart re-analyzes under the new schema and drains the old-era
  * backlog correctly (old files up-cast / resolve by field id). */
class StreamSchemaEraSpec extends AnyFunSuite {
  private def freshCatalog(name: String): (SparkSession, String, GraftCatalog) = {
    val (ss, c) = graft.TestSpark.freshCatalog(name)
    val cat = new GraftCatalog
    cat.initialize(name, new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", graft.TestSpark.catalogRoot(ss, c).toString)))
    (ss, c, cat)
  }

  test("a running stream refuses commits from a newer schema era, loudly") {
    val (ss, c, cat) = freshCatalog("era_guard")
    ss.sql(s"CREATE TABLE $c.ns.t (id BIGINT, n INT)")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, CAST(id AS INT) FROM range(0, 10)")
    SparkSession.setActiveSession(ss)
    val table = cat.loadTable(Identifier.of(Array("ns"), "t")).asInstanceOf[GraftTable]
    val stream = new GraftMicroBatchStream(table, None) // opens under the INT era
    val consumedThrough = table.currentLatest
    // mid-stream: a widen lands and a wide-era commit follows
    ss.sql(s"ALTER TABLE $c.ns.t ALTER COLUMN n TYPE BIGINT")
    ss.sql(s"INSERT INTO $c.ns.t SELECT id, id + 4294967296 FROM range(10, 20)")
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(GraftVersionOffset(consumedThrough),
        GraftVersionOffset(table.currentLatest))
    }
    assert(e.getMessage.contains("restart the stream"), e.getMessage)
    // old-era commits remain drainable by the SAME stream (nothing to
    // reinterpret): plan the range before the alter
    val parts = stream.planInputPartitions(
      GraftVersionOffset(0, openingSnapshot = true),
      GraftVersionOffset(consumedThrough))
    assert(parts.nonEmpty)
  }

  test("a restart adopts the new schema and drains the old-era backlog correctly") {
    val (ss, c, _) = freshCatalog("era_restart")
    val t = s"$c.ns.t"
    val scratch = java.nio.file.Files.createTempDirectory(graft.Artifacts.root, "graft-streamera-out-")
    val out = s"$scratch/sink"
    val ckpt = s"$scratch/ckpt"
    ss.sql(s"CREATE TABLE $t (id BIGINT, n INT)")
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS INT) FROM range(0, 10)") // narrow era
    def drain(): Unit = {
      val q = ss.readStream.table(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // consumes the opening snapshot (narrow era)
    ss.sql(s"INSERT INTO $t SELECT id, CAST(id AS INT) FROM range(10, 20)") // old-era backlog
    ss.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT")
    ss.sql(s"INSERT INTO $t SELECT id, id + 4294967296 FROM range(20, 30)") // wide era
    drain() // restart: re-analyzed wide; drains old-era backlog + wide commit
    val wide = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType)))
    val got = ss.read.schema(wide).parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.length == 30, s"expected 30 rows, got ${got.length}")
    got.foreach { case (id, n) =>
      val want = if (id < 20) id else id + 4294967296L
      assert(n == want, s"row $id read $n, want $want")
    }
  }
}
