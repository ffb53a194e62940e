package graft.tools

import graft.{Sessions, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Throwaway-style stage profiler for the near-dup pair build: times and
  * counts each stage of [[Dedup.computeNearDupPairs]]'s pipeline against
  * one corpus dir, so a scale anomaly (ScaleBench r12: x10 build 35x the
  * x1 build) can be attributed to a STAGE instead of guessed at.
  *
  * Usage: PairsDebug <sfDir>
  */
object PairsDebug {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/scale/sfx10")
    val spark = Sessions.build("graft-pairs-debug")
    spark.range(1000000).selectExpr("sum(id) s").collect()

    def timed[T](name: String)(work: => T): T = {
      val t0 = System.nanoTime()
      val r = work
      System.err.println(f"[pairs] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    timed("store_build")(Dedup.ensureSignatureStore(spark, dir))
    val (sig, profile) = timed("store_read")(Dedup.signatureStore(spark, dir))
    timed("sig_count")(System.err.println("sig rows: " + sig.count()))

    val cand = Dedup.candidatePairs(spark, dir)
    timed("candidates")(System.err.println("candidates: " + cand.count()))

    val mh = profile.select("doc_id", "mh")
    val agreed = cand
      .join(mh.select(col("doc_id").as("doc_a"), col("mh").as("mh_a")), "doc_a")
      .join(mh.select(col("doc_id").as("doc_b"), col("mh").as("mh_b")), "doc_b")
      .filter(expr("array_agree_count(mh_a, mh_b)") >= Dedup.minAgreeFor(Dedup.DefaultEstJaccard))
      .select("doc_a", "doc_b")
    timed("agreed")(System.err.println("agreed: " + agreed.count()))

    // verify stage, inlined from jaccardVerify (private), timed alone on
    // the materialized agreed set so its cost is not conflated with the
    // upstream band-join recompute
    val agreedM = agreed.localCheckpoint()
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' ', -1))").as("sset"))
    val a = sets.select(col("doc_id").as("doc_a"), col("sset").as("set_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sset").as("set_b"))
    val verified = agreedM.join(a, "doc_a").join(b, "doc_b")
      .withColumn("c", expr("array_intersect_count(set_a, set_b)"))
      .select(col("doc_a"), col("doc_b"),
        round(col("c").cast("double")
          / (size(col("set_a")) + size(col("set_b")) - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.95)
    timed("verify")(System.err.println("verified: " + verified.count()))
    System.err.println("=== agreed plan ===")
    agreed.explain("formatted")
    System.err.println("=== verify plan ===")
    verified.explain("formatted")

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val secs = (for {s <- i.submissionTime; c <- i.completionTime} yield (c - s) / 1e3)
          .getOrElse(-1.0)
        System.err.println(f"[stage] ${i.stageId}%4d $secs%8.1f s tasks=${i.numTasks}%4d " +
          f"in=${i.taskMetrics.inputMetrics.recordsRead}%12d " +
          f"shuf_r=${i.taskMetrics.shuffleReadMetrics.recordsRead}%12d " +
          f"shuf_w=${i.taskMetrics.shuffleWriteMetrics.recordsWritten}%12d " +
          i.name.takeWhile(_ != '\n').take(80))
      }
    })
    val full = timed("full_build")(Dedup.nearDupPairs(spark, dir))
    timed("full_read")(System.err.println("pairs: " + full.count()))
    spark.stop()
  }
}
