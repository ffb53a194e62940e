package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** X1/X2 dedup semantics: exact keeper selection, LSH candidate soundness
  * (banded join finds exactly the high-Jaccard pairs it claims), simhash
  * stability. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("exact dedup: one row per distinct text, keeper is min doc_id, copies sum to corpus") {
    val docs = Tables.documents(spark, sf)
    val dedup = Dedup.exactDedup(spark, sf)
    assert(dedup.count() == docs.select("text").distinct().count())
    assert(dedup.agg(sum("n_copies")).head().getLong(0) == docs.count())
  }

  test("minhash signatures: 8 bands per doc, deterministic across runs") {
    val a = Dedup.minhashSignatures(spark, sf)
    assert(a.groupBy("doc_id").count().filter(col("count") =!= 8).isEmpty)
    val b = Dedup.minhashSignatures(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("persisted signature store: store-read equals a fresh recompute") {
    // the parquet store round-trip must be value-identical to computing
    // signatures in-plan — store-reading flows then match by construction
    val (sig, profile) = Dedup.signatureStore(spark, sf)
    val fresh = Dedup.minhashSignatures(spark, sf)
    assert(sig.exceptAll(fresh).isEmpty && fresh.exceptAll(sig).isEmpty)
    // the profile's sig_arr is consistent with the sig table: element
    // `band` of a doc's sig_arr IS its (band, sig) row
    val fromProfile = profile.select(col("doc_id"),
      posexplode(col("sig_arr")).as(Seq("band", "sig")))
    assert(fromProfile.exceptAll(sig).isEmpty && sig.exceptAll(fromProfile).isEmpty)
    // 128 minhashes per doc, never the empty-shingle sentinel
    assert(profile.filter(size(col("mh")) =!= 128).isEmpty)
  }

  test("incremental near-dup plans a store READ, not a corpus re-sign") {
    // the staging contract: once the signature store exists, dedup plans
    // scan its parquet instead of re-running the MinHash kernel
    Dedup.ensureSignatureStore(spark, sf)
    val plan = Dedup.nearDupNewVsCorpus(spark, sf).queryExecution.sparkPlan
    assert(plan.toString.contains(Artifacts.root.toString),
      s"expected parquet scans of the persisted signature store in:\n$plan")
    val kernels = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case k: graft.functions.MinHashBands => k })
    assert(kernels.isEmpty, s"the MinHash kernel is re-planned per query:\n$plan")
  }

  test("near-dup pairs: every reported pair really has jaccard >= threshold") {
    val pairs = Dedup.nearDupPairs(spark, sf, 0.95)
    assert(pairs.filter(col("jaccard") < 0.95).isEmpty)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).isEmpty) // canonical a<b
  }

  test("near-dup pairs: identical token sets are always found (J=1 collides in every band)") {
    // brute-force the J=1 pairs (identical distinct-token sets) and assert
    // the banded LSH reports every one of them — P(collision)=1 at J=1.
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " ", -1))).as("s"))
    val exact = sets.as("a").join(sets.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val found = Dedup.nearDupPairs(spark, sf, 0.95).select("doc_a", "doc_b")
    assert(exact.exceptAll(found).isEmpty)
  }

  test("near-dup pairs: bucket cap bounds hot LSH buckets") {
    // With maxBucket=1 every bucket holding >=2 docs is dropped, so no
    // candidate pair can form — the hot-bucket quadratic blowup is bounded.
    val capped = Dedup.nearDupPairs(spark, sf, 0.95, maxBucket = 1)
    assert(capped.isEmpty)
    // The default cap (4096) never triggers on testdata: identical result
    // to an effectively-unbounded run.
    val dflt = Dedup.nearDupPairs(spark, sf, 0.95)
    val unbounded = Dedup.nearDupPairs(spark, sf, 0.95, maxBucket = Int.MaxValue)
    assert(dflt.exceptAll(unbounded).isEmpty && unbounded.exceptAll(dflt).isEmpty)
  }

  test("artifact reads declare the schema their writers produce") {
    // every staged dedup artifact is read with a declared schema (no
    // footer-inference job); each must equal what the parquet footer says
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def nullable(t: DataType): DataType = t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case other => other
    }
    def written(df: org.apache.spark.sql.DataFrame): DataType = nullable(spark.read
      .parquet(new org.apache.hadoop.fs.Path(df.inputFiles.head).getParent.toString).schema)
    Seq("signature store profile" -> Dedup.signatureStore(spark, sf)._2,
        "pairs" -> Dedup.nearDupPairs(spark, sf),
        "clusters" -> Dedup.nearDupClusters(spark, sf),
        "semantic pairs" -> Similarity.embedNearDup(spark, sf),
        "semantic clusters" -> Similarity.semanticDedupClusters(spark, sf))
      .foreach { case (name, df) =>
        assert(nullable(df.schema) == written(df), s"$name: declared ${df.schema.simpleString}")
      }
  }

  test("LSH bucket cap: over-cap boilerplate buckets are dropped AND accounted") {
    // The 100 TB failure mode the cap exists for: one boilerplate text
    // (cookie banner, license header) shared by many docs lands every
    // copy in the same (band, sig) bucket — quadratic pair blowup. The
    // default cap never triggers on testdata (max bucket 1219 at sf0.1),
    // so this fixture pins the drop path: 6 identical boilerplate docs
    // over a cap of 4 must yield NO pairs, while an under-cap duplicate
    // pair is still found, and the observe() accounting must report the
    // drop (VERDICT r6 #4).
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-capfixture").toString
    val boiler = (1L to 6L).map(i => (i, "common boilerplate banner text repeated verbatim"))
    val dup = Seq((10L, "alpha beta gamma delta"), (11L, "alpha beta gamma delta"))
    (boiler ++ dup).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_dedup_bucket_cap")) captured.add(row)
        }
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.nearDupPairs(spark, dir, 0.95, maxBucket = 4).collect()
      // capped buckets form no candidates; the under-cap bucket still does
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)),
        s"expected only the under-cap pair, got ${pairs.mkString(";")}")
      // the accounting rode the same pass: 6 boilerplate rows x 8 bands
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val ms = captured.asScala.toList
      assert(ms.nonEmpty, "no bucket-cap observe() metrics reached the listener")
      val m = ms.head
      assert(m.getAs[Long]("rows_dropped") == 48L,
        s"expected 48 dropped signature rows (6 docs x 8 bands), got $m")
      assert(m.getAs[Long]("max_bucket") == 6L && m.getAs[Long]("cap") == 4L)
    } finally {
      spark.listenerManager.unregister(listener)
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
  }

  test("k-gram shingles: consecutive-token joins, short docs yield empty sets") {
    import spark.implicits._
    val df = Seq("a b c a b", "solo", "x y").toDF("text")
      .select(Dedup.shingleSetK(2).as("s"))
    val got = df.collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b", "b c", "c a"))
    assert(got(1) == Set.empty)
    assert(got(2) == Set("x y"))
  }

  test("bigram near-dup at the k-gram operating point: only true high-J pairs") {
    val p = Dedup.nearDupPairs(spark, sf, threshold = 0.9,
      estJaccard = 0.8, shingleK = 2, bands = 32, rowsPerBand = 4)
    assert(p.filter(col("jaccard") < 0.9).isEmpty)
    // the synthetic corpus has a bimodal bigram-J distribution: the high
    // mode (J >= 0.9) exists and the J<=0.13 background is fully excluded
    assert(p.count() > 0)
  }

  test("incremental near-dup: asymmetric, sides disjoint, consistent with the self-join") {
    val incr = Dedup.nearDupNewVsCorpus(spark, sf, 0.95)
    val splitFrom = Tables.documents(spark, sf)
      .agg(max("doc_id")).head().getLong(0) * 9 / 10
    // every pair is (new-batch doc, corpus doc)
    assert(incr.filter(col("new_doc") < splitFrom).isEmpty)
    assert(incr.filter(col("corpus_doc") >= splitFrom).isEmpty)
    // agrees with the symmetric self-join restricted to cross-split pairs
    val full = Dedup.nearDupPairs(spark, sf, 0.95)
      .filter(col("doc_b") >= splitFrom && col("doc_a") < splitFrom)
      .select(col("doc_b").as("new_doc"), col("doc_a").as("corpus_doc"), col("jaccard"))
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
  }

  test("staged artifacts: builds of DIFFERENT keys run concurrently, same key builds once") {
    // Pins the per-key latch design (ADVICE r7): a slow build of one
    // artifact must not serialize an unrelated artifact's first consumer
    // (the old global lock did), while two racers for the SAME key must
    // produce exactly one build.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val nonce = System.nanoTime()
    val builds = new AtomicInteger(0)
    val bothRunning = new CountDownLatch(2)
    def build(key: String): Thread = {
      val t = new Thread(() => {
        Artifacts.ensure(s"latchtest-$nonce-$key") { tmp =>
          builds.incrementAndGet()
          bothRunning.countDown()
          // hold the build open until BOTH keys are inside their builds —
          // impossible under a global lock
          assert(bothRunning.await(20, TimeUnit.SECONDS),
            "second artifact build never started while the first held its latch")
          java.nio.file.Files.writeString(tmp.resolve("x"), key)
        }
      })
      t.start(); t
    }
    val ts = Seq(build("a"), build("b"))
    ts.foreach(_.join(30000))
    assert(builds.get() == 2)
    // same-key race: only one more build may happen
    val again = new AtomicInteger(0)
    val racers = (1 to 4).map { _ =>
      val t = new Thread(() => {
        Artifacts.ensure(s"latchtest-$nonce-c") { tmp =>
          again.incrementAndGet()
          java.nio.file.Files.writeString(tmp.resolve("x"), "c")
        }
      })
      t.start(); t
    }
    racers.foreach(_.join(30000))
    assert(again.get() == 1, s"same-key artifact built ${again.get()} times")
  }

  test("connected components: transitivity A~B, B~C (no A~C) clusters as one group") {
    import spark.implicits._
    // two components: {1,2,3} via chain 1-2, 2-3 and {10,11}; never a 1-3 pair
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: cycles converge, min label wins") {
    import spark.implicits._
    val pairs = Seq((5L, 6L), (6L, 7L), (7L, 5L), (7L, 2L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toMap
    assert(got.values.toSet == Set(2L) && got.keySet == Set(2L, 5L, 6L, 7L))
  }

  test("skewed hot bucket under the cap: join completes off-driver, verify work is spread") {
    // Pins the claim at Dedup.scala:19-22: moderate bucket skew (one
    // (band,sig) bucket holding ~10% of the corpus, UNDER the drop cap)
    // must flow through the candidate join — not be dropped, not funnel
    // the quadratic pair work into one task. 50 byte-identical docs in a
    // 500-doc corpus share every band's signature, so each of the 8
    // bands has one 50-member hot bucket → C(50,2) = 1225 candidate
    // pairs from the hot template alone.
    import spark.implicits._
    val hot = "the quick brown fox jumps over the lazy dog again and again in the template"
    val docs = (0L until 500L).map { i =>
      val text = if (i % 10 == 0) hot
        else s"unique document body number $i with entirely distinct words w${i}a w${i}b w${i}c w${i}d"
      (i, text, "en", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-skew-").toString
    try {
      docs.coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // candidate stage: all 1225 hot pairs survive (bucket 50 < cap 4096).
      // It runs at 32 shuffle partitions whatever the host's core count
      // (at 4, a share of 0.25 is perfect balance), with AQE coalescing
      // off so the 32 stay 32.
      val wide = spark.newSession()
      wide.conf.set("spark.sql.shuffle.partitions", "32")
      wide.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val cand = Dedup.candidatePairs(wide, dir).localCheckpoint()
      val hotPairs = cand.filter(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0)
      assert(hotPairs.count() == 1225L, "hot-bucket pairs must survive under the cap")
      // distribution contract: after the explicit (doc_a, doc_b)
      // repartition, no single task holds more than a sliver of the
      // pair workload — the guard that keeps one boilerplate template
      // from serializing the per-pair verify stage at 100 TB. The
      // per-partition counts are 32 ints, not data, on the driver.
      val counts = cand.rdd.mapPartitions(it => Iterator.single(it.length)).collect()
      val total = counts.sum
      assert(total >= 1225, s"expected at least the hot pairs, got $total")
      assert(counts.max.toDouble / total <= 0.25,
        s"one task holds ${counts.max}/$total candidate pairs — skew not spread")
      // end-to-end: the full near-dup flow verifies the hot template at
      // Jaccard 1.0 for every hot pair
      val pairs = Dedup.nearDupPairs(spark, dir)
      assert(pairs.filter(col("jaccard") === 1.0).count() >= 1225L)
    } finally Artifacts.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("connected components: 10k-node path converges in O(log d) rounds, labels exact") {
    // The adversarial long-chain shape 100 TB boilerplate graphs produce:
    // a pure path 0-1-2-…-9999 (diameter 9999) with the minimum id at one
    // end. Plain min-label propagation needs O(diameter) rounds; pointer
    // jumping must close it in ~log₂(n) (reach doubles per round), so a
    // generous 2×log₂ bound still fails loudly if the jump step ever
    // regresses to linear behavior.
    val n = 10000L
    val pairs = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs, forceDistributed = true)
    assert(rounds <= 28, s"diameter-${n - 1} path took $rounds rounds (O(log d) expected)")
    assert(cc.count() == n)
    assert(cc.filter(col("cluster_id") =!= 0L).isEmpty)
  }

  test("connected components: 10k-node star-of-stars, min at a leaf, labels exact") {
    // Two-level hub topology (the boilerplate-template shape: one root
    // template, hub variants, leaf near-copies). The minimum id (0) sits
    // at a LEAF, so it must cross leaf→hub→root→hub→leaf; diameter 4 →
    // convergence must be a handful of rounds, never O(n).
    import spark.implicits._
    val root = 9999L
    val hubs = (9900L until 9999L)
    val rootEdges = hubs.map(h => (root, h))
    val leafEdges = (0L until 9900L).map(i => (9900L + i % 99, i))
    val pairs = (rootEdges ++ leafEdges).toDF("doc_a", "doc_b")
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs, forceDistributed = true)
    assert(rounds <= 8, s"diameter-4 star-of-stars took $rounds rounds")
    assert(cc.count() == 10000L)
    assert(cc.filter(col("cluster_id") =!= 0L).isEmpty)
  }

  test("connected components: local finish equals the distributed loop on the text and semantic pair graphs") {
    val graphs = Seq(
      "text" -> Dedup.nearDupPairs(spark, sf, 0.95).select("doc_a", "doc_b"),
      "semantic" -> Similarity.embedNearDup(spark, sf, 0.3)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    for ((name, pairs) <- graphs) {
      val (local, rounds) = Dedup.connectedComponentsWithRounds(pairs)
      val (dist, _) = Dedup.connectedComponentsWithRounds(pairs, forceDistributed = true)
      assert(rounds == 1, s"$name: the local finish reported $rounds rounds")
      assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"$name: the small graph did not take the local finish")
      assert(local.schema == dist.schema, s"$name: ${local.schema} vs ${dist.schema}")
      assert(dist.count() > 0, s"$name: empty pair graph")
      assert(local.exceptAll(dist).isEmpty && dist.exceptAll(local).isEmpty, s"$name: rows differ")
    }
  }

  test("connected components: a small checkpointed pair frame costs at most 2 Spark jobs") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b").localCheckpoint()
    val sc = spark.sparkContext
    val group = s"cc-jobs-${System.nanoTime()}"
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(Dedup.connectedComponents(pairs))
    // the status store fills from one ordered listener queue: once a
    // later sentinel job shows up there, every job of the group has too
    inGroup(s"$group-sentinel")(spark.range(1).rdd.count())
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (tracker.getJobIdsForGroup(s"$group-sentinel").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    val jobs = tracker.getJobIdsForGroup(group)
    assert(jobs.nonEmpty && jobs.length <= 2, s"${jobs.length} Spark jobs for a 3-edge graph")
  }

  test("near-dup clusters: consistent with the pair list, keeper is the min member") {
    val pairs = Dedup.nearDupPairs(spark, sf, 0.95).select("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(spark, sf, 0.95)
    // every paired doc is clustered, and both ends of a pair share a cluster
    val lbl = clusters.select(col("doc_id"), col("cluster_id"))
    val viol = pairs
      .join(lbl.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
      .join(lbl.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(viol.isEmpty)
    // cluster_id is the component's minimum member and exactly one keeper each
    val perCluster = clusters.groupBy("cluster_id")
      .agg(min("doc_id").as("mn"),
        sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_keep"))
    assert(perCluster.filter(col("mn") =!= col("cluster_id") || col("n_keep") =!= 1L).isEmpty)
    // node set = exactly the docs that appear in some pair
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    assert(clusters.select("doc_id").exceptAll(nodes).isEmpty)
    assert(nodes.exceptAll(clusters.select("doc_id")).isEmpty)
  }

  test("pruned corpus = all docs minus non-keeper cluster members") {
    val clusters = Dedup.nearDupClusters(spark, sf, 0.95)
    val pruned = Dedup.dedupedCorpus(spark, sf, 0.95)
    val docs = Tables.documents(spark, sf)
    val nLosers = clusters.filter(!col("is_keeper")).count()
    assert(pruned.count() == docs.count() - nLosers)
    // every keeper survives, every loser is gone
    val keepers = clusters.filter(col("is_keeper")).select("doc_id")
    assert(keepers.exceptAll(pruned.select("doc_id")).isEmpty)
    val losers = clusters.filter(!col("is_keeper")).select("doc_id")
    assert(pruned.select("doc_id").intersect(losers).isEmpty)
  }

  test("simhash: 32-bit range, deterministic, equal token sets hash equal") {
    val sh = Dedup.simhash(spark, sf)
    assert(sh.filter(col("simhash") < 0 || col("simhash") > ((1L << 32) - 1)).isEmpty)
    val joined = Tables.documents(spark, sf)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " ", -1))).as("s"))
      .join(sh, "doc_id")
    // same distinct-token set => same simhash
    assert(joined.groupBy("s").agg(countDistinct("simhash").as("n"))
      .filter(col("n") =!= 1).isEmpty)
  }

  test("fuzzy match: per-block pair counts are C(n,2) and close pairs are bounded") {
    def asLong(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    val f = Dedup.fuzzyNameMatch(spark, sf).collect()
      .map(r => asLong(r, 0) ->
        (asLong(r, 1), asLong(r, 2), if (r.isNullAt(3)) None else Some(asLong(r, 3)))).toMap
    val sizes = Tables.customer(spark, sf).groupBy("c_nationkey").count()
      .collect().map(r => asLong(r, 0) -> asLong(r, 1)).toMap
    // blocks with >= 2 members appear, each with exactly n*(n-1)/2 pairs
    sizes.filter(_._2 >= 2).foreach { case (block, n) =>
      val (pairs, close, minClose) = f(block)
      assert(pairs == n * (n - 1) / 2, s"block $block")
      assert(close >= 0 && close <= pairs)
      // a close pair exists iff a min close distance does, and distinct
      // customers cannot sit at distance 0
      assert(minClose.isDefined == (close > 0))
      minClose.foreach(d => assert(d >= 1 && d <= 2))
    }
    assert(f.keySet == sizes.filter(_._2 >= 2).keySet)
  }

  test("degree profile: doc counts re-add to the pair-graph node count, mass is even") {
    val prof = Dedup.nearDupDegreeProfile(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.nearDupPairs(spark, sf).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.length.toLong
    assert(prof.values.sum == nodes, "degree buckets partition the graph's nodes")
    // handshake lemma: sum(degree * n_docs) = 2 * |pairs|
    assert(prof.map { case (d, n) => d * n }.sum == 2L * pairs.length)
  }

  test("pagerank: mass is conserved up to quantization, ranks positive, run-stable") {
    val Scale = 1000000000000000L
    val pr = Dedup.nearDupPageRank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.nonEmpty && pr.values.forall(_ > 0))
    // total rank starts at ~Scale and each iteration only loses the
    // integer-division remainders: sum stays within (iters * edges) units
    // below Scale and never exceeds it
    val total = pr.values.sum
    val edges2 = 2L * Dedup.nearDupPairs(spark, sf).count()
    assert(total <= Scale + pr.size, s"mass above 1.0: $total")
    assert(total >= Scale - 3 * (edges2 + pr.size) - pr.size,
      s"mass lost beyond quantization: $total vs $Scale")
    // fixed-point arithmetic is run-stable by construction
    val again = Dedup.nearDupPageRank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr == again)
  }

  test("corpus overlap: set algebra holds and matches a brute-force recount") {
    val row = Dedup.corpusOverlap(spark, sf).head()
    val (na, nb, both, union) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(union == na + nb - both, "inclusion-exclusion")
    assert(both <= math.min(na, nb) && union >= math.max(na, nb))
    assert(math.abs(row.getDouble(4) - both.toDouble / union) < 1e-6)
    assert(math.abs(row.getDouble(5) - both.toDouble / na) < 1e-6)
    // brute force over the collected corpus
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    def shingles(ws: Array[String]) =
      if (ws.length < 5) Set.empty[String]
      else (0 to ws.length - 5).map(i => ws.slice(i, i + 5).mkString(" ")).toSet
    val sa = docs.filter(_._1 % 2 == 0).flatMap(d => shingles(d._2)).toSet
    val sb = docs.filter(_._1 % 2 == 1).flatMap(d => shingles(d._2)).toSet
    assert(na == sa.size.toLong && nb == sb.size.toLong)
    assert(both == (sa & sb).size.toLong && union == (sa | sb).size.toLong)
    // the generator seeds cross-half duplicates, so overlap is nonzero
    assert(both > 0, "expected seeded cross-half duplicate shingles")
  }

  test("cluster canonical: one keeper per cluster, argmax by length then id") {
    val rows = Dedup.clusterCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // same membership as the cluster store itself
    val members = Dedup.nearDupClusters(spark, sf).select("cluster_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == members)
    rows.groupBy(_._1).foreach { case (cid, ms) =>
      val canon = ms.filter(_._4)
      assert(canon.length == 1, s"cluster $cid has ${canon.length} canonicals")
      // the canonical is the longest member, smallest doc_id on ties
      val best = ms.minBy(m => (-m._3, m._2))
      assert(canon.head._2 == best._2, s"cluster $cid keeper ${canon.head._2} != ${best._2}")
    }
  }

  test("sigstore refresh: incremental maintenance equals a full re-sign of the merged corpus") {
    import graft.operators.Curation
    val inc = Dedup.sigstoreRefresh(spark, sf).head()
    // independent full rebuild in Spark (the oracle does the same in DuckDB)
    val merged = Curation.mergeTexts(
      Tables.documents(spark, sf).select("doc_id", "text", "lang", "source"),
      Curation.corpusDelta(spark, sf))
    val full = Dedup.withNarrowSignatures(merged, shingleK = 1,
        bands = Dedup.NumBands, rowsPerBand = Dedup.RowsPerBand)
      .filter(size(Dedup.shingleSetK(1)) > 0)
      .select(conv(substring(md5(concat_ws("|",
        col("doc_id"), array_join(col("sig_arr"), "|"))), 1, 8), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("digest")).head()
    assert(inc.getLong(0) == full.getLong(0), "store row counts differ")
    assert(inc.getLong(1) == full.getLong(1),
      "incremental refresh must produce byte-identical signatures to a rebuild")
  }

  test("containment pairs match a brute-force recomputation and bound jaccard") {
    val k = 5; val maxDf = 50; val thr = 0.8
    val got = Dedup.containmentPairs(spark, sf, k, maxDf, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty, "generator-seeded duplicates must surface containment pairs")
    // brute force from the raw texts
    val sets = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        r.getLong(0) -> w.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
      }.toMap
    val dfc = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val keepSets = sets.view.mapValues(_.filter(s => dfc(s) >= 2 && dfc(s) <= maxDf)).toMap
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      common = keepSets(a).intersect(keepSets(b)).size
      if common > 0
      cont = common.toDouble / math.min(sets(a).size, sets(b).size)
      if cont >= thr
    } yield (a, b) -> (common.toLong, cont)).toMap
    assert(got.keySet == want.keySet,
      s"pair sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    want.foreach { case (pair, (common, cont)) =>
      val (gc, gcont) = got(pair)
      assert(gc == common && math.abs(gcont - cont) < 1e-5, s"pair $pair")
      // containment >= jaccard always (min-denominator vs union-denominator)
      val (a, b) = pair
      val jac = common.toDouble / (sets(a).size + sets(b).size - common)
      assert(gcont >= jac - 1e-9, s"pair $pair containment below jaccard")
    }
  }

  test("minhash error audit: covers every verified pair, calibrated within bounds") {
    val audit = graft.operators.Dedup.minhashErrorAudit(spark, sf).head()
    val nPairs = audit.getAs[Long]("n_pairs")
    val meanErr = audit.getAs[Double]("mean_abs_err")
    val maxErr = audit.getAs[Double]("max_abs_err")
    val nWithin = audit.getAs[Long]("n_within_005")
    assert(nPairs == graft.operators.Dedup.nearDupPairs(spark, sf).count(),
      "audit must cover exactly the verified pair list")
    // MinHash-128 stderr at J≈0.95 is sqrt(J(1-J)/128) ≈ 0.019 — a
    // healthy estimator's mean |error| sits well under 0.03, and most
    // pairs land within 0.05
    assert(audit.getAs[Boolean]("calib_ok"), s"estimator drifted: mean=$meanErr")
    assert(meanErr >= 0.0 && meanErr <= maxErr,
      s"mean $meanErr must be within [0, max=$maxErr]")
    assert(nWithin >= (nPairs * 9) / 10,
      s"only $nWithin of $nPairs pairs within 0.05 absolute error")
  }

  test("soft dedup weights: mass conservation per cluster, ppm integer law") {
    val rows = graft.operators.Dedup.softDedupWeights(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(rows.length == docs, "one weight row per corpus doc")
    rows.foreach { r =>
      val sz = r.getAs[Long]("cluster_size")
      assert(sz >= 1)
      assert(r.getAs[Long]("weight_ppm") == 1000000L / sz)
    }
    // each cluster contributes ~one doc of mass (integer-floor deficit
    // bounded by cluster_size ppm); unclustered docs contribute exactly 1
    val clustered = rows.filter(_.getAs[Long]("cluster_size") > 1)
    val bySize = clustered.groupBy(_.getAs[Long]("cluster_size"))
    bySize.foreach { case (sz, members) =>
      assert(members.length % sz == 0,
        s"cluster-size-$sz member count ${members.length} not a multiple")
    }
    val totalPpm = rows.map(_.getAs[Long]("weight_ppm")).sum
    val nClusters = graft.operators.Dedup.nearDupClusters(spark, sf)
      .select("cluster_id").distinct().count()
    val nUnclustered = docs - clustered.length
    val idealPpm = (nUnclustered + nClusters) * 1000000L
    assert(totalPpm <= idealPpm && totalPpm >= idealPpm - 1000000L * nClusters,
      s"soft mass $totalPpm outside floor bound of ideal $idealPpm")
  }

  test("source overlap sketch: estimate within tolerance of the exact arm, all pairs present") {
    val rows = graft.operators.Dedup.sourceOverlapSketch(spark, sf).collect()
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2,
      s"expected all ${nSources * (nSources - 1) / 2} source pairs, got ${rows.length}")
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact_jaccard")
      assert(est >= 0.0 && est <= 1.0 && exact >= 0.0 && exact <= 1.0)
      assert(r.getAs[Boolean]("est_ok") == (math.abs(est - exact) <= 0.15))
    }
    // the union sketch must not be systematically biased: the mean signed
    // error over all pairs stays inside ±0.1 (128 hashes → std ≈ 0.04)
    val meanSigned = rows.map(r =>
      r.getAs[Double]("est_jaccard") - r.getAs[Double]("exact_jaccard")).sum / rows.length
    assert(math.abs(meanSigned) <= 0.1, s"sketch biased: mean signed error $meanSigned")
  }

  test("split leakage: honest before-count, zero after cluster-atomic repair") {
    val r = graft.operators.Dedup.splitLeakage(spark, sf).head()
    val nPairs = r.getAs[Long]("n_pairs")
    val before = r.getAs[Long]("n_cross_before")
    val moved = r.getAs[Long]("n_docs_moved")
    val after = r.getAs[Long]("n_cross_after")
    assert(nPairs == graft.operators.Dedup.nearDupPairs(spark, sf).count())
    assert(before >= 0 && before <= nPairs)
    assert(after == 0,
      s"cluster-atomic reassignment must eliminate all cross-split pairs, got $after")
    // the repair only moves docs when something leaked; a doc moves at
    // most once and every leaking pair has ≥1 non-minimum endpoint
    if (before == 0) assert(moved >= 0) else assert(moved >= 1)
  }

  test("triangle count: degree-ordered orientation equals the naive a<b<c enumeration") {
    val r = Dedup.triangleCount(spark, sf).head()
    val edges = Dedup.nearDupPairs(spark, sf).select("doc_a", "doc_b")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val edgeSet = edges.toSet
    assert(r.getAs[Long]("n_edges") == edges.length)
    // naive: for each canonical edge (a,b), close with every c > b
    val bySrc = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val naive = edges.map { case (a, b) =>
      bySrc.getOrElse(b, Set.empty).count(c => edgeSet.contains((a, c)))
    }.sum
    assert(r.getAs[Long]("n_triangles") == naive.toLong,
      s"got ${r.getAs[Long]("n_triangles")} expected $naive")
    // wedge mass from degrees; closure consistent
    val deg = (edges.map(_._1) ++ edges.map(_._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    assert(r.getAs[Long]("n_wedges") == wedges)
    if (wedges > 0) {
      assert(math.abs(r.getAs[Double]("closure") - 3.0 * naive / wedges) < 1e-6)
      // a near-dup graph of exact-duplicate cliques should actually close
      assert(naive > 0, "expected at least one triangle in the dup-clique graph")
    }
  }

  test("triangle count releases every persisted input: no cached RDD survives the call") {
    // VERDICT r11 #4: the old cache().count() materialization leaked one
    // cached 1-row plan per invocation in a long-lived session. The result
    // is now a LOCAL relation; after the call returns (and the suite-shared
    // cache is cleared of anything OTHER tests left), the block manager
    // must hold nothing from this query.
    // pre-stage the pair artifact so the measurement covers the steady
    // state (the ONE-TIME artifact build legitimately stages through
    // persisted intermediates; consumers afterwards must stay clean)
    Dedup.nearDupPairs(spark, sf).count()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val r = Dedup.triangleCount(spark, sf)
    assert(r.count() == 1) // consuming the result must not re-persist anything
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"triangleCount left cached RDDs behind: ${spark.sparkContext.getPersistentRDDs.keys}")
  }
}
