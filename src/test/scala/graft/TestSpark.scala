package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.build("graft-test")
  val sf: String = "/root/testdata/sf0.001"

  /** Fresh catalog + session per test — catalog state is on disk, so each
    * test gets its own root: a new directory under the process scratch
    * root (removed at JVM exit). `conf` pairs are set on the session. */
  def freshCatalog(name: String, conf: (String, String)*): (SparkSession, String) = {
    val root = java.nio.file.Files.createTempDirectory(Artifacts.root, s"catalog-$name-")
    val ss = spark.newSession()
    ss.conf.set(s"spark.sql.catalog.$name", classOf[catalog.GraftCatalog].getName)
    ss.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    conf.foreach { case (k, v) => ss.conf.set(k, v) }
    (ss, name)
  }

  /** The root directory of catalog `c` on session `ss`. */
  def catalogRoot(ss: SparkSession, c: String): java.nio.file.Path =
    java.nio.file.Paths.get(ss.conf.get(s"spark.sql.catalog.$c.root"))
}
