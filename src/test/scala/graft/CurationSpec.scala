package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation
import scala.jdk.CollectionConverters._

/** Training-data curation semantics: hash sampling determinism and
  * proportionality, token packing budget/coverage invariants, and the
  * range-decomposed prefix sum matching a single-partition reference. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("hash sample: deterministic across runs, roughly proportional, subset-monotone") {
    val s10a = Curation.sampleByHash(spark, sf, 10)
    val s10b = Curation.sampleByHash(spark, sf, 10)
    assert(s10a.exceptAll(s10b).isEmpty && s10b.exceptAll(s10a).isEmpty)
    val n = Tables.documents(spark, sf).count()
    val n10 = s10a.count()
    assert(n10 > 0 && n10 < n, s"10% sample of $n docs was $n10")
    // md5 is uniform: 10% +- generous slack even at 500 docs
    assert(math.abs(n10.toDouble / n - 0.10) < 0.06)
    // a 30% sample contains the 10% sample (same hash, higher threshold)
    val s30 = Curation.sampleByHash(spark, sf, 30)
    assert(s10a.select("doc_id").exceptAll(s30.select("doc_id")).isEmpty)
    // boundary percentages
    assert(Curation.sampleByHash(spark, sf, 0).isEmpty)
    assert(Curation.sampleByHash(spark, sf, 100).count() == n)
  }

  test("stratified sample: exactly the quota per language, deterministic") {
    val s = Curation.stratifiedSample(spark, sf, perGroup = 20)
    val perLang = s.groupBy("lang").count()
    val langSizes = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.collect().foreach { r =>
      val expected = math.min(20L, langSizes(r.getString(0)))
      assert(r.getLong(1) == expected, s"lang ${r.getString(0)}")
    }
    val again = Curation.stratifiedSample(spark, sf, perGroup = 20)
    assert(s.exceptAll(again).isEmpty && again.exceptAll(s).isEmpty)
    // quota monotonicity: the 10-per-group sample is inside the 20-per-group
    val s10 = Curation.stratifiedSample(spark, sf, perGroup = 10)
    assert(s10.exceptAll(s).isEmpty)
  }

  test("token pack: packs cover all docs/tokens; totals stay near the budget") {
    val docs = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ", -1)).cast("long").as("tk"))
    val (nDocs, nTokens) = (docs.count(),
      docs.agg(sum("tk")).head().getLong(0))
    val packs = Curation.tokenPack(spark, sf, budget = 512)
    val agg = packs.agg(sum("n_docs"), sum("total_tokens")).head()
    assert(agg.getLong(0) == nDocs && agg.getLong(1) == nTokens)
    // every pack except possibly the last starts under the budget
    // boundary, so its total is < budget + max single-doc tokens
    val maxDoc = docs.agg(max("tk")).head().getLong(0)
    assert(packs.filter(col("total_tokens") >= 512 + maxDoc).isEmpty)
    // pack ids are dense from 0
    val ids = packs.select("pack_id").orderBy("pack_id")
      .collect().map(_.getLong(0))
    assert(ids.head == 0L && ids.zipWithIndex.forall { case (v, i) => v == i })
  }

  /** Driver-side brute-force recomputation of [[Curation.contamination]]:
    * (benchmark doc ids, expected per-doc shared-gram counts). */
  private def bruteContam(pct: Int): (Set[Long], Map[Long, Long]) = {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hashPct(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      h % 100
    }
    def grams(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length >= 8) toks.sliding(8).map(_.mkString(" ")).toSet else Set.empty
    }
    val (bench, corpus) = docs.partition(d => hashPct(d._1) < pct)
    val benchGrams = bench.iterator.flatMap(d => grams(d._2)).toSet
    val expected = corpus
      .map(d => d._1 -> grams(d._2).count(benchGrams.contains).toLong)
      .filter(_._2 > 0).toMap
    (bench.map(_._1).toSet, expected)
  }

  test("fixed-size sample: exact k, deterministic, and a subset of the corpus") {
    val s1 = Curation.sampleFixed(spark, sf, k = 50)
    val s2 = Curation.sampleFixed(spark, sf, k = 50)
    assert(s1.count() == 50)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // monotone: the 50-sample is contained in the 100-sample (same hash order)
    val s100 = Curation.sampleFixed(spark, sf, k = 100)
    assert(s1.select("doc_id").exceptAll(s100.select("doc_id")).isEmpty)
  }

  test("corpus fingerprint: row-order independent, sensitive to any edit") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i, s"document body $i with tokens", "en", 20L))
    val dirA = java.nio.file.Files.createTempDirectory("graft-fp-").toString
    try {
      def fp(rows: Seq[(Long, String, String, Long)], shuffledSeed: Int): (Long, Long, Long) = {
        val ordered = if (shuffledSeed == 0) rows
          else new scala.util.Random(shuffledSeed).shuffle(rows)
        ordered.toDF("doc_id", "text", "lang", "n_chars")
          .repartition(7)
          .write.mode("overwrite").parquet(s"$dirA/documents.parquet")
        val r = Curation.corpusFingerprint(spark, dirA).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val base = fp(docs, 0)
      // identical content in a different row order and partitioning →
      // identical digest (the commutative-sum property versioning needs)
      assert(fp(docs, 42) == base)
      // one edited document → different digest, same row count
      val edited = docs.updated(7, (7L, "document body 7 with tokens EDITED", "en", 27L))
      val changed = fp(edited, 0)
      assert(changed._1 == base._1 && changed._3 != base._3)
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dirA)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
  }

  test("temperature sampling: up-weights low-resource groups, kept tracks target, deterministic") {
    val rows = Curation.temperatureSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // targets within the overall budget and achievable per group
    rows.foreach { case (lang, n, w, t, kept) =>
      assert(w == math.floor(math.sqrt(n.toDouble)).toLong, s"$lang weight")
      assert(t <= n, s"$lang target $t exceeds group size $n")
      // the hash rule is a p = t/n Bernoulli per doc: kept is within a
      // generous binomial envelope of the target
      assert(math.abs(kept - t) <= math.max(10L, n / 4), s"$lang kept $kept vs target $t")
    }
    // α=1/2 up-weights: the LARGEST group's target fraction must be
    // strictly below the SMALLEST group's (that is the point of
    // temperature mixing)
    val largest = rows.maxBy(_._2)
    val smallest = rows.minBy(_._2)
    assert(largest._4.toDouble / largest._2 < smallest._4.toDouble / smallest._2,
      s"largest ${largest} not down-weighted vs smallest ${smallest}")
    // deterministic across runs
    val again = Curation.temperatureSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("decontamination equals a brute-force recomputation; benchmark slice excluded") {
    val out = Curation.contamination(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (benchIds, expected) = bruteContam(10)
    assert(out == expected)
    // no benchmark doc may ever be flagged against itself
    assert(out.keySet.intersect(benchIds).isEmpty)
  }

  test("decontamination plan broadcasts the benchmark side (no corpus-sized shuffle join)") {
    // plan-assert the COMPUTE path (the public operator serves the staged
    // parquet verdict, whose plan is just a scan)
    val plan = Curation.computeContamination(spark, sf, 10, 8)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join against the benchmark n-gram set, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "corpus-side sort-merge join would shuffle the corpus")
  }

  test("decontamination at realistic asymmetry: a <=1% benchmark is the broadcast BUILD side") {
    // Eval suites are megabytes while the corpus is 100 TB; the shape that
    // makes the operator scale is the BENCHMARK set being the hash join's
    // build (broadcast) side while the corpus streams — pinned here at a
    // deliberately tiny 1% slice (VERDICT r6 #7).
    val q = Curation.computeContamination(spark, sf, 1, 8)
    val plan = q.queryExecution.sparkPlan.toString
    val bj = "(?m)^.*BroadcastHashJoin.*$".r.findFirstIn(plan)
    assert(bj.isDefined, s"expected a broadcast join, got:\n$plan")
    // the benchmark gram set is the right operand of the join, so the
    // broadcast must be the BUILD-right side — BuildLeft would broadcast
    // the corpus grams
    assert(bj.get.contains("BuildRight"),
      s"benchmark side must be the broadcast build side, got: ${bj.get}")
    val (benchIds, expected) = bruteContam(1)
    val out = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expected)
    assert(out.keySet.intersect(benchIds).isEmpty)
  }

  test("curation pipeline: packs exactly the kept+sampled docs, filters stay in the scan") {
    import graft.operators.TextAnalysis
    val packed = Curation.curationPipeline(spark, sf)
    // token totals must cover exactly the quality-kept, hash-sampled docs
    val kept = Tables.documents(spark, sf)
      .filter(TextAnalysis.qualityKeepExpr)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < 50)
    val wantDocs = kept.count()
    val wantTokens = kept
      .agg(sum(size(split(col("text"), " ", -1)).cast("long"))).head().getLong(0)
    assert(packed.agg(sum("n_docs")).head().getLong(0) == wantDocs)
    assert(packed.agg(sum("total_tokens")).head().getLong(0) == wantTokens)
    // the selection is filters over one scan: the only join in the plan
    // is the pack's broadcast range-offset join
    val plan = Curation.curationPipeline(spark, sf).queryExecution.optimizedPlan.toString
    assert("(?m)^\\s*:?[+-]+ Join".r.findAllIn(plan).length <= 1,
      s"quality/sample selection must be scan-side filters, not joins:\n$plan")
  }

  test("packing an empty selection yields an empty pack list (no NPE)") {
    // a filter chain keeping zero docs must flow through packing cleanly
    val none = Curation.curationPipeline(spark, sf, samplePct = 0)
    assert(none.isEmpty)
  }

  test("range-decomposed prefix sum equals the single-range reference") {
    // rangeSize larger than the corpus => one range => plain global cumsum;
    // the multi-range decomposition must produce identical packs.
    val multi = Curation.tokenPack(spark, sf, budget = 512, rangeSize = 100)
    val single = Curation.tokenPack(spark, sf, budget = 512, rangeSize = Long.MaxValue)
    assert(multi.exceptAll(single).isEmpty && single.exceptAll(multi).isEmpty)
  }

  test("decontaminated corpus: excludes exactly bench + contaminated, anti-join plan") {
    val pruned = Curation.decontaminatedCorpus(spark, sf)
    assert(pruned.queryExecution.optimizedPlan.toString.contains("LeftAnti"))
    val total = Tables.documents(spark, sf).count()
    val bench = Curation.sampleByHash(spark, sf).count()
    val contaminated = Curation.contamination(spark, sf).count()
    assert(pruned.count() == total - bench - contaminated)
    // nothing contaminated survives
    assert(pruned.join(Curation.contamination(spark, sf).select("doc_id"), "doc_id").isEmpty)
  }

  test("vocab/OOV: token totals add up and a full vocabulary drives OOV to zero") {
    val r = Curation.vocabOov(spark, sf).head()
    val wantTotal = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ", -1)).as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(r.getLong(0) == wantTotal)
    assert(r.getLong(1) >= 0 && r.getLong(1) <= r.getLong(0))
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    val full = Curation.vocabOov(spark, sf, vocabSize = 1000000).head()
    assert(full.getLong(1) == 0 && full.getDouble(2) == 0.0)
  }

  test("boilerplate score: bounded ratios, hit counts consistent with the mined set") {
    val s = Curation.boilerplateScore(spark, sf)
    val rows = s.collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (nGrams, nBoiler, ratio) = (r.getInt(1).toLong, r.getLong(2), r.getDouble(3))
      assert(nBoiler >= 0 && nBoiler <= nGrams, s"doc ${r.getLong(0)}")
      assert(ratio >= 0.0 && ratio <= 1.0)
      if (nGrams == 0) assert(nBoiler == 0 && ratio == 0.0)
    }
    // every doc containing the top mined gram must have n_boiler >= 1
    val topGram = Curation.commonNgrams(spark, sf)
      .orderBy(desc("n_docs"), asc("ng")).head().getString(0)
    val scored = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    Tables.documents(spark, sf).select("doc_id", "text").collect().foreach { d =>
      val toks = d.getString(1).split(" ", -1)
      if (toks.length >= 8 && toks.sliding(8).map(_.mkString(" ")).contains(topGram))
        assert(scored(d.getLong(0)) >= 1, s"doc ${d.getLong(0)} missed top gram")
    }
  }

  test("common ngrams: support counts are real distinct-doc counts, top-k plan has no global sort") {
    // the mining plan itself is the TakeOrdered shape; the public entry
    // serves the persisted artifact
    val mine = Curation.mineCommonNgrams(spark, sf, k = 8, minDocs = 2, top = 20)
    assert(mine.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val top = Curation.commonNgrams(spark, sf, k = 8, minDocs = 2, top = 20)
      .orderBy(desc("n_docs"), asc("ng"))
    // store-read equals recompute
    assert(top.exceptAll(mine).isEmpty && mine.exceptAll(top).isEmpty)
    val rows = top.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) >= 2))
    // spot-verify the highest-support gram by brute force
    val best = rows.head
    val docs = Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val want = docs.count { t =>
      val toks = t.split(" ", -1)
      toks.length >= 8 && toks.sliding(8).map(_.mkString(" ")).contains(best.getString(0))
    }
    assert(best.getLong(1) == want, s"support of '${best.getString(0)}'")
  }

  test("training records = quality AND dedup-keeper AND decontam, exactly") {
    import graft.operators.{Dedup, TextAnalysis}
    val got = Curation.trainingRecords(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val quality = TextAnalysis.docQuality(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val dedupKept = Dedup.dedupedCorpus(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val decontamKept = Curation.decontaminatedCorpus(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == (quality intersect dedupKept intersect decontamKept))
    // the capstone must be a strict subset of every constituent
    assert(got.subsetOf(quality) && got.subsetOf(dedupKept) && got.subsetOf(decontamKept))
    assert(got.nonEmpty, "the assembled training corpus should not be empty")
  }

  test("corpus merge: delta wins on matched keys, inserts append, rest keep") {
    val base = Tables.documents(spark, sf)
    val nDocs = base.count()
    val nUpd = base.filter(col("doc_id") % 7 === 0).count()
    val nIns = base.filter(col("doc_id") % 13 === 3).count()

    val merged = Curation.corpusMerge(spark, sf)
    val byAction = merged.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction("update") == nUpd)
    assert(byAction("insert") == nIns)
    assert(byAction("keep") == nDocs - nUpd)
    assert(merged.count() == nDocs + nIns, "upsert converges: no duplicate versions")
    assert(merged.select("doc_id").distinct().count() == nDocs + nIns,
      "doc_id stays a key after the merge")

    // updated rows carry the REVISED text's digest, kept rows the original's
    val updFps = merged.filter(col("action") === "update").select("doc_id", "fp")
    val expUpd = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), md5(concat(col("text"), lit(" [rev2]"))).as("fp"))
    assert(updFps.exceptAll(expUpd).isEmpty && expUpd.exceptAll(updFps).isEmpty)
    val keptFps = merged.filter(col("action") === "keep").select("doc_id", "fp")
    val expKept = base.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    assert(keptFps.exceptAll(expKept).isEmpty && expKept.exceptAll(keptFps).isEmpty)
  }

  test("digests and deterministic samples are invariant to scan splits and shuffle width") {
    // The distributed-determinism claim behind dataset versioning and
    // reproducible sampling, driven end-to-end: shrink scan splits ~1000x
    // (every file shatters into many input partitions) and the shuffle to
    // 2 partitions, and the corpus digest, the fixed carveout, and the
    // per-group quota sample must not move. Order-dependent formulations
    // (string concat digests, first-N-rows samples) fail exactly this.
    val digest = Curation.corpusFingerprint(spark, sf).head()
    val fixed = Curation.sampleFixed(spark, sf).collect().map(_.getLong(0)).toSet
    val strat = Curation.stratifiedSample(spark, sf).collect().map(_.getLong(0)).toSet
    val conf = spark.conf
    val oldSplit = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    val oldShuffle = conf.get("spark.sql.shuffle.partitions", "32")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "16384")
      conf.set("spark.sql.shuffle.partitions", "2")
      assert(Curation.corpusFingerprint(spark, sf).head() === digest)
      assert(Curation.sampleFixed(spark, sf).collect().map(_.getLong(0)).toSet === fixed)
      assert(Curation.stratifiedSample(spark, sf).collect().map(_.getLong(0)).toSet === strat)
    } finally {
      conf.set("spark.sql.files.maxPartitionBytes", oldSplit)
      conf.set("spark.sql.shuffle.partitions", oldShuffle)
    }
  }

  test("bucketed merge: equals the plain merge and shuffles ONLY the delta side") {
    val plain = Curation.corpusMerge(spark, sf)
    val bucketed = Curation.corpusMergeBucketed(spark, sf)
    assert(bucketed.exceptAll(plain).isEmpty && plain.exceptAll(bucketed).isEmpty)
    // the corpus side reads co-located buckets: exactly one Exchange in
    // the whole plan, feeding the DELTA side of the full-outer join
    val planStr = bucketed.queryExecution.executedPlan.toString
    val exchanges = "(?i)\\bExchange\\b".r.findAllIn(planStr).length
    assert(exchanges == 1,
      s"expected only the delta-side Exchange, got $exchanges:\n$planStr")
  }

  test("snapshots: v0 stays byte-identical after the merge (time travel), v1 differs by the delta") {
    val base = Tables.documents(spark, sf)
    val rows = Curation.snapshotVersions(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet === Set(0, 1))

    // v0 is the PRE-merge corpus profile — recomputed from the source
    // table, which is the time-travel guarantee: producing v1 must not
    // have touched it.
    val h = conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
      .cast("long")
    val v0 = base.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    assert(rows(0) === ((v0.getLong(0), v0.getLong(1))))

    // v1 row count = corpus + inserts; its digest differs from v0's
    val nIns = base.filter(col("doc_id") % 13 === 3).count()
    assert(rows(1)._1 == rows(0)._1 + nIns)
    assert(rows(1)._2 != rows(0)._2, "the merged snapshot must have a new content digest")

    // reading ONLY the v=0 partition dir yields the pre-merge snapshot
    // (partition pruning = time travel)
    val root = Curation.ensureSnapshots(spark, sf)
    val v0only = spark.read.parquet(s"$root/v=0").agg(count(lit(1)), sum(col("h"))).head()
    assert((v0only.getLong(0), v0only.getLong(1)) === rows(0))
  }

  test("pii redact: every planted fixture is found, none survives redaction") {
    val row = Curation.piiRedact(spark, sf).head()
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    // the word-soup corpus contains no organic PII, so per-type counts
    // equal the planting cardinalities exactly
    assert(row.getLong(1) == ids.count(_ % 7 == 0).toLong, "emails")
    assert(row.getLong(2) == ids.count(_ % 11 == 0).toLong, "phones")
    assert(row.getLong(3) == ids.count(_ % 13 == 0).toLong, "ips")
    assert(row.getLong(0) == ids.count(i => i % 7 == 0 || i % 11 == 0 || i % 13 == 0).toLong)
    // determinism: the digest is a pure function of the corpus
    assert(Curation.piiRedact(spark, sf).head().getLong(4) == row.getLong(4))
    // and the scrub is total: re-scanning the redacted text finds nothing
    val leftovers = Tables.documents(spark, sf)
      .select(regexp_replace(regexp_replace(regexp_replace(
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" x0@example.com")).otherwise(lit(""))),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{3}-\\d{4}\\b", "<PHONE>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>").as("t"))
      .filter(col("t").rlike("@example\\.com|\\b\\d{3}-\\d{4}\\b"))
      .count()
    assert(leftovers == 0, "redaction left a matchable PII literal behind")
  }

  test("line dedup: matches a brute-force recount, invariants hold") {
    val row = Curation.lineDedup(spark, sf).head()
    val (total, distinct, removed, affected, words) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(total == distinct + removed, "every block is either a keeper or removed")
    assert(words == removed * 10)
    assert(affected <= removed && (removed == 0 || affected > 0))
    // brute force over the collected corpus (500 docs at spec sf)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .sortBy(_._1)
    val blocks = docs.flatMap { case (id, ws) =>
      (0 until ws.length / 10).map(j => (id, j, ws.slice(j * 10, j * 10 + 10).mkString(" ")))
    }
    val firstOf = blocks.groupBy(_._3).map { case (b, g) => b -> g.map(t => (t._1, t._2)).min }
    val removedBrute = blocks.count(t => firstOf(t._3) != ((t._1, t._2)))
    assert(total == blocks.length.toLong)
    assert(distinct == firstOf.size.toLong)
    assert(removed == removedBrute.toLong)
    assert(affected ==
      blocks.filter(t => firstOf(t._3) != ((t._1, t._2))).map(_._1).distinct.length.toLong)
  }

  test("sliding chunker: full coverage, overlap, and per-chunk width law") {
    // k large enough to keep every chunk at spec sf
    val rows = Curation.chunkSliding(spark, sf, k = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = rows.groupBy(_._1)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    assert(byDoc.keySet == docs.keySet, "every document yields at least one chunk")
    byDoc.foreach { case (id, cs) =>
      val n = docs(id).length
      val idxs = cs.map(_._2).sorted
      assert(idxs.head == 0)
      cs.foreach { case (_, j, nt, _) =>
        val expect = math.min(50, n - j * 25)
        assert(nt == expect.toLong, s"doc $id chunk $j width")
        assert(j == 0 || nt >= 10)
      }
      // total coverage: a tail window short enough to be dropped (<10
      // tokens) starts <25 tokens from the end, i.e. inside the previous
      // width-50 window — so the kept chunks always reach token n
      assert(cs.map(c => c._2 * 25 + c._3).max == n.toLong, s"doc $id coverage")
    }
  }

  test("perplexity buckets: ntile sizes, corpus conservation, head≥tail ordering") {
    val rows = Curation.perplexityBuckets(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == Set("head", "middle", "tail"))
    val n = Tables.documents(spark, sf).count()
    val sizes = List("head", "middle", "tail").map(rows(_)._1)
    assert(sizes.sum == n, "every document lands in exactly one bucket")
    // standard ntile: sizes differ by at most one, larger buckets first
    assert(sizes.max - sizes.min <= 1 && sizes == sizes.sortBy(-_))
    // buckets are score-ordered: best (head) mean >= middle >= tail
    val means = List("head", "middle", "tail").map(rows(_)._3)
    assert(means == means.sortBy(-_), s"bucket means out of order: $means")
    // token mass conserves the corpus total
    val totalTok = operators.TextAnalysis.docLogProb(spark, sf)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(List("head", "middle", "tail").map(rows(_)._2).sum == totalTok)
  }

  test("token budget: maximal prefix of the score order within ⌊total/2⌋") {
    val scored = operators.TextAnalysis.docLogProb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val total = scored.map(_._2).sum
    val budget = total / 2
    // the reference selection: the longest PREFIX of (score desc, doc_id
    // asc) whose running total stays within budget — the first crossing
    // doc ends the selection (no skip-and-continue)
    val order = scored.sortBy { case (id, _, s) => (-s, id) }
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var cum = 0L
    for ((id, nt, _) <- order) { cum += nt; if (cum <= budget) expect += (id -> cum) }
    val got = Curation.tokenBudgetSelect(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expect.toMap, "selected set or running totals diverge")
    assert(got.values.max <= budget && got.nonEmpty)
    // determinism across runs (rank offsets must not depend on sampling)
    val again = Curation.tokenBudgetSelect(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again == got)
  }

  test("split assign: disjoint, exhaustive, and the manifest sums to the corpus") {
    val perDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), Curation.splitExpr(1, 1).as("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = Tables.documents(spark, sf).count()
    assert(perDoc.length.toLong == n && perDoc.map(_._1).distinct.length.toLong == n,
      "exactly one split per document")
    assert(perDoc.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    val manifest = Curation.splitAssign(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(manifest.values.sum == n, "manifest cells partition the corpus")
    val bySplit = perDoc.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    List("train", "val", "test").foreach { s =>
      val cells = manifest.collect { case ((sp, _), c) if sp == s => c }.sum
      assert(cells == bySplit.getOrElse(s, 0L), s"split $s count")
    }
    // 98/1/1 bands: train dominates, held-out sets are small but present
    assert(bySplit("train") > bySplit.getOrElse("val", 0L) * 10)
  }

  test("snapshot diff: manifest statuses equal the merge's own actions") {
    val diff = Curation.snapshotDiff(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the merge emits per-doc actions; the manifest diff must agree
    // (insert=added, update=changed, keep=unchanged) without reading text
    val actions = Curation.corpusMerge(spark, sf)
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(diff.getOrElse("added", 0L) == actions.getOrElse("insert", 0L))
    assert(diff.getOrElse("changed", 0L) == actions.getOrElse("update", 0L))
    assert(diff.getOrElse("unchanged", 0L) == actions.getOrElse("keep", 0L))
    assert(!diff.contains("removed"), "this delta never deletes")
    assert(diff.values.sum ==
      Tables.documents(spark, sf).count() + diff.getOrElse("added", 0L))
  }

  test("forget purge: corpus and signature-store purges agree, joins broadcast") {
    val q = Curation.forgetPurge(spark, sf)
    val row = q.head()
    val n = Tables.documents(spark, sf).count()
    val nReq = row.getLong(0)
    assert(nReq > 0, "delete list must be non-empty at this sf")
    assert(row.getLong(1) == n - nReq, "kept + requested partitions the corpus")
    // cascade really removed every trace: the store minus the delete list
    // must hold exactly bands rows for each KEPT doc and none for deleted
    assert(row.getLong(4) == nReq * operators.Dedup.NumBands,
      "bands rows per deleted doc")
    val (sig, _) = operators.Dedup.signatureStore(spark, sf)
    val purgedStore = sig.join(
      Tables.documents(spark, sf).select("doc_id").filter(col("doc_id") % 97 === 0),
      Seq("doc_id"), "left_anti")
    assert(purgedStore.count() == (n - nReq) * operators.Dedup.NumBands,
      "post-purge store holds exactly the kept docs' rows")
    // the audit digest equals the kept corpus recomputed independently
    val keptDigest = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 =!= 0)
      .select(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
        .cast("long").as("h"))
      .agg(sum("h")).head().getLong(0)
    assert(row.getLong(3) == keptDigest)
    // purge plan: the delete list is tiny — every join against it must
    // broadcast; a corpus-sized shuffle here defeats the op at 100 TB
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"delete-list joins must broadcast, got:\n$plan")
  }

  test("length outliers: integer-exact quantile thresholds bound the tails") {
    val rows = Curation.lengthOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lang, nDocs) = (r.getString(0), r.getLong(1))
      val (lo, hi) = (r.getLong(2), r.getLong(3))
      val (nShort, nLong, nKept) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nShort + nLong + nKept == nDocs, s"$lang partition")
      assert(lo <= hi, s"$lang thresholds ordered")
      // rank selection semantics: strictly under loPct% mass below lo,
      // at most (100-hiPct)% at or above hi's successor
      assert(nShort * 100 < nDocs * 5, s"$lang short tail")
      assert(nLong * 100 <= nDocs * 5, s"$lang long tail")
      // thresholds are ATTAINED lengths of that language, not interpolants
      val attained = Tables.documents(spark, sf).filter(col("lang") === lang)
        .filter(col("n_chars").isin(lo, hi)).select("n_chars")
        .distinct().collect().map(_.getLong(0)).toSet
      assert(attained.contains(lo) && attained.contains(hi),
        s"$lang thresholds must be observed values")
    }
    // determinism across runs (no RNG, no order dependence)
    val again = Curation.lengthOutliers(spark, sf)
    val first = Curation.lengthOutliers(spark, sf)
    assert(first.exceptAll(again).isEmpty && again.exceptAll(first).isEmpty)
  }

  test("blocklist: per-source cells partition the corpus; flags match brute force") {
    val got = Curation.blocklistFilter(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).contains("dup")))
    assert(got.values.map(_._1).sum == docs.length)
    docs.groupBy(_._1).foreach { case (src, ds) =>
      val (n, blocked, kept) = got(src)
      assert(n == ds.length && blocked == ds.count(_._2) && kept + blocked == n,
        s"source $src")
    }
    assert(got.values.map(_._2).sum > 0, "the blocklist must actually fire")
    assert(got.values.map(_._3).sum > got.values.map(_._2).sum,
      "quarantine must stay the minority")
  }

  test("cdc apply: latest op wins per key, tombstones erase, no window sort") {
    val out = Curation.cdcApply(spark, sf)
    assert(!out.queryExecution.optimizedPlan.toString.contains("Window"),
      "latest-op-wins must be a max_by hash aggregate, not a window sort")
    val rows = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.foreach { case (id, text) =>
      val expected =
        if (id % 17 == 5) None // v4 tombstone beats every earlier op
        else if (id % 11 == 0) Some(("U", md5hex(text + " [u3]"))) // v3 beats v1
        else if (id % 7 == 0) Some(("U", md5hex(text + " [u1]")))
        else Some(("K", md5hex(text)))
      assert(rows.get(id) == expected, s"doc $id resolved wrong")
    }
    val inserted = docs.keys.filter(_ % 13 == 3).toSeq
    inserted.foreach { id =>
      assert(rows.get(id + 200000L).map(_._1).contains("I"), s"insert $id missing")
    }
    assert(rows.size ==
      docs.size - docs.keys.count(_ % 17 == 5) + inserted.size)
  }

  test("two-writer race: contiguous monotone versions, one winner per slot, serializable final state") {
    val out = Curation.concurrentCommit(spark, sf).head()
    // both commits landed: v0 + exactly two successor versions, no gaps
    assert(out.getLong(0) == 3L, "expected versions v=0, v=1, v=2")
    assert(out.getLong(1) == 2L)
    // final state is the serial composition of both deltas — no lost
    // update even though both writers started from v=0
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def h(id: Long, text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s"$id|$text".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
    }
    val merged = docs.map { case (id, t) =>
      if (id % 7 == 0) id -> (t + " [w1]") else id -> t
    } ++ docs.collect { case (id, t) if id % 11 == 5 =>
      (id + 200000L) -> ("[w2] " + t)
    }
    assert(out.getLong(2) == merged.size.toLong, "post-state row count")
    assert(out.getLong(3) == merged.map { case (id, t) => h(id, t) }.sum,
      "post-state content digest")
  }

  test("identical re-run race: concurrent duplicate merges converge (idempotent content)") {
    // the reference's monthly INSERT-SELECT re-executed concurrently:
    // both writers apply the SAME delta; the loser rebases onto the
    // winner's result and must land a version with IDENTICAL content
    val root = java.nio.file.Files.createTempDirectory("graft-rerun-")
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"),
        conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
          .cast("long").as("h"))
    base.write.mode("overwrite").parquet(root.resolve("v=0").toString)
    val delta = base.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("d_id"), (col("h") + 1L).as("d_h"))
    def writer(): Thread = {
      val t = new Thread(() => {
        Curation.commitNext(spark, root) { cur =>
          cur.join(delta, col("doc_id") === col("d_id"), "full_outer")
            .select(coalesce(col("doc_id"), col("d_id")).as("doc_id"),
              coalesce(col("d_h"), col("h")).as("h"))
        }
        ()
      })
      t.start(); t
    }
    val ts = Seq(writer(), writer()); ts.foreach(_.join())
    def digest(v: Int): (Long, Long) = {
      val r = spark.read.parquet(root.resolve(s"v=$v").toString)
        .agg(count(lit(1)), sum(col("h"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // three contiguous versions; v1 and v2 have identical content
    assert((0 to 2).forall(v => java.nio.file.Files.exists(root.resolve(s"v=$v"))))
    assert(!java.nio.file.Files.exists(root.resolve("v=3")))
    assert(digest(1) == digest(2), "re-run did not converge")
    assert(digest(1) != digest(0), "delta was a no-op")
    // no orphaned stage directories survive the race
    val children = {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    assert(children.forall(_.startsWith("v=")), s"orphaned entries: $children")
  }

  test("dup spans: shared passages merge into maximal spans, clean docs score 0") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"p$i").mkString(" ") // 12 shared tokens
    val docs = Seq(
      // doc 1/2 share the 12-token passage -> overlapping 8-gram windows
      // must merge into ONE span of exactly 12 covered tokens each
      (1L, s"$passage alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"iota kappa lambda mu nu xi omicron pi $passage"),
      // doc 3: internal repetition — the same 8 tokens twice in one doc
      (3L, ((1 to 8).map(i => s"r$i") ++ (1 to 8).map(i => s"r$i")).mkString(" ")),
      // doc 4: all-unique tokens, no duplicated window anywhere
      (4L, (1 to 20).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-dupspan-").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Curation.dupSpans(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("dup_tokens") == 12L
      && out(1L).getAs[Long]("n_spans") == 1L,
      s"doc 1 expected one merged 12-token span, got ${out(1L)}")
    assert(out(2L).getAs[Long]("dup_tokens") == 12L
      && out(2L).getAs[Long]("n_spans") == 1L)
    // doc 3: both 8-gram copies of r1..r8 duplicate; windows spanning the
    // seam also repeat nowhere, so coverage is the two copies' extent
    assert(out(3L).getAs[Long]("dup_tokens") == 16L,
      s"doc 3 expected both copies covered, got ${out(3L)}")
    assert(out(4L).getAs[Long]("dup_tokens") == 0L
      && out(4L).getAs[Double]("dup_fraction") == 0.0)
    // r17 storage hygiene: dupSpans streams both gram passes with NO
    // persist and returns an uncached frame — consuming the result must
    // add nothing to the block manager (the r16 staging held corpus-
    // token-sized blocks for the session lifetime). Delta-based so other
    // tests' deliberate cached returns in the shared session can't
    // contaminate the check.
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"dupSpans left new persisted blocks: $leaked")
  }

  test("packTokens releases its staged projection when a driver action fails") {
    // every row's text raises, so the FIRST action on the staged
    // (doc_id, n_tokens) projection — the range-size probe — fails
    // while building the stage; the stage must still be released
    val docs = spark.range(10).select(col("id").as("doc_id"),
      raise_error(lit("boom")).cast("string").as("text"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](Curation.packTokens(spark, docs, budget = 512, rangeSize = 0))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"packTokens stranded persisted blocks: $leaked")
  }

  private def writeDocs(rows: Seq[(Long, String)], prefix: String): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("cdc chunks: shift-resistant boundaries, token conservation, copy dedup") {
    // deterministic pseudo-random token stream: enough tokens that the
    // 1/16 boundary rule yields several chunks
    val base = (1 to 400).map(i => s"t${(i * 2654435761L) % 9973}")
    val tmp = writeDocs(Seq(
      1L -> base.mkString(" "),
      // one token INSERTED at the front: fixed-width blocks would shift
      // every block; content-defined boundaries must re-align
      2L -> ("INSERTED " + base.mkString(" ")),
      3L -> base.mkString(" ")), // exact copy of doc 1
      "graft-cdc-")
    val chunks = Curation.cdcChunkTable(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byDoc = chunks.groupBy(_._1)
    // token conservation: chunk token counts sum to the document length
    assert(byDoc(1L).map(_._3).sum == 400L)
    assert(byDoc(2L).map(_._3).sum == 401L)
    val h1 = byDoc(1L).map(_._4).toSet
    val h2 = byDoc(2L).map(_._4).toSet
    // shift resistance: after the first boundary beyond the edit the
    // chunk stream re-aligns — all but the leading chunk(s) are shared
    assert(h1.size >= 5, s"expected several chunks, got ${h1.size}")
    assert((h1 intersect h2).size >= h1.size - 2,
      s"insertion broke re-alignment: ${h1.size} chunks, only ${(h1 intersect h2).size} shared")
    assert(h1 != h2, "edited doc cannot chunk identically")
    // exact copy: every chunk duplicated -> dup_ratio 1.0 on both copies
    val out = Curation.cdcChunks(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("dup_ratio") == 1.0
      && out(3L).getAs[Double]("dup_ratio") == 1.0,
      s"copy pair must fully dedup, got ${out(1L)} / ${out(3L)}")
    assert(out(1L).getAs[Long]("n_tokens") == 400L)
  }

  test("kernel shape: chunking and winnowing plans are shuffle-free before the census") {
    // the per-row kernels must not introduce an Exchange, Window, or
    // global Sort — the whole point of the array rewrite: boundary
    // detection / fingerprint selection stay inside the scan pipeline
    val chunkPlan = Curation.cdcChunkTable(spark, sf)
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Exchange", "Window", "Sort "))
      assert(!chunkPlan.contains(bad), s"chunk kernel plan has $bad:\n$chunkPlan")
    val winnowPlan = Tables.documents(spark, sf)
      .select(col("doc_id"), Curation.winnowArray(5, 8).as("fps"))
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Exchange", "Window", "Sort "))
      assert(!winnowPlan.contains(bad), s"winnow kernel plan has $bad:\n$winnowPlan")
  }

  test("winnow pairs: shared-run pair surfaces, unrelated docs never pair") {
    val k = 5; val ww = 8
    // a LONG shared run (well over ww+k-1) so the pair shares >= 2
    // selected fingerprints and survives minShared
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val fillA = (1 to 40).map(i => s"a${(i * 31) % 97}").mkString(" ")
    val fillB = (1 to 40).map(i => s"b${(i * 37) % 89}").mkString(" ")
    val tmp = writeDocs(Seq(
      1L -> s"$fillA $shared",
      2L -> s"$shared $fillB",
      3L -> (1 to 80).map(i => s"u$i").mkString(" ")), "graft-wpair-")
    val pairs = Curation.winnowPairs(spark, tmp, k, ww).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(pairs.contains((1L, 2L)),
      s"40-token shared run produced no pair: ${pairs.keys}")
    val p = pairs((1L, 2L))
    assert(p.getAs[Long]("n_shared") >= 2L)
    val ov = p.getAs[Double]("overlap")
    assert(ov > 0.0 && ov <= 1.0, s"overlap $ov out of range")
    // the all-unique doc shares no fingerprint with anyone
    assert(!pairs.keys.exists(pr => pr._1 == 3L || pr._2 == 3L),
      s"clean doc paired: ${pairs.keys}")
  }

  test("winnowing: shared-run guarantee, bounded density, clean doc shares none") {
    val k = 5; val ww = 8
    val shared = (1 to (ww + k - 1)).map(i => s"s$i").mkString(" ") // 12 tokens
    val fillA = (1 to 60).map(i => s"a${(i * 31) % 97}").mkString(" ")
    val fillB = (1 to 60).map(i => s"b${(i * 37) % 89}").mkString(" ")
    val tmp = writeDocs(Seq(
      1L -> s"$fillA $shared",
      2L -> s"$shared $fillB",
      3L -> (1 to 100).map(i => s"u$i").mkString(" ")), "graft-winnow-")
    val out = Curation.winnowing(spark, tmp, k, ww).collect()
      .map(r => r.getLong(0) -> r).toMap
    // SIGMOD'03 guarantee: a shared run of >= ww+k-1 tokens yields at
    // least one shared selected fingerprint in BOTH documents
    assert(out(1L).getAs[Long]("shared_fps") >= 1L
      && out(2L).getAs[Long]("shared_fps") >= 1L,
      s"shared 12-token run missed: ${out(1L)} / ${out(2L)}")
    assert(out(3L).getAs[Long]("shared_fps") == 0L)
    // density: expected ~2/(ww+1) of grams; must stay well under 1
    for (d <- Seq(1L, 2L, 3L)) {
      val r = out(d)
      assert(r.getAs[Long]("n_fps") >= 1L)
      assert(r.getAs[Double]("density") <= 0.6,
        s"doc $d density ${r.getAs[Double]("density")} not winnowed")
    }
  }

  test("mixture epochs: integer allocation within budget, cap law, small-source up-weighting") {
    val budgetX = 2
    val maxEpochs = 4
    val rows = Curation.mixtureEpochs(spark, sf, budgetX, maxEpochs).collect()
    assert(rows.nonEmpty)
    val totTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val wTotal = rows.map(_.getAs[Long]("weight")).sum
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val w = r.getAs[Long]("weight")
      val target = r.getAs[Long]("target_tokens")
      val alloc = r.getAs[Long]("alloc_tokens")
      // integer allocation law, recomputed by hand
      assert(w == math.sqrt(n.toDouble).floor.toLong, s"weight for ${r.get(0)}")
      assert(target == totTokens * budgetX * w / wTotal, s"target for ${r.get(0)}")
      assert(alloc == math.min(target, n * maxEpochs))
      assert(r.getAs[Boolean]("capped") == (r.getAs[Double]("epochs") > maxEpochs))
    }
    // floors only lose tokens: the plan never over-allocates the budget
    assert(rows.map(_.getAs[Long]("target_tokens")).sum <= totTokens * budgetX)
    // α=0.5 up-weights small sources: the smallest source gets strictly
    // more epochs than the largest (equality only if masses are equal)
    val byMass = rows.sortBy(_.getAs[Long]("n_tokens"))
    if (byMass.head.getAs[Long]("n_tokens") < byMass.last.getAs[Long]("n_tokens"))
      assert(byMass.head.getAs[Double]("epochs") >= byMass.last.getAs[Double]("epochs"))
  }

  test("card refresh: incremental maintenance equals full recompute on the merged corpus") {
    val inc = Curation.cardRefresh(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens")))
      .toMap
    // full recompute in-engine (independent of the oracle path)
    val full = Curation.mergeTexts(
      Tables.documents(spark, sf).select("doc_id", "text", "lang", "source"),
      Curation.corpusDelta(spark, sf))
      .groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(size(split(col("text"), " ", -1)).cast("long")).as("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(inc == full, "incremental card must equal the recomputed card")
  }

  test("quality calibration: quintile bands partition the corpus, rates recompute") {
    val rows = Curation.qualityCalibration(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("band")).distinct.length == rows.length)
    assert(rows.forall(r => r.getAs[Long]("band") >= 1 && r.getAs[Long]("band") <= 5))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, sf).count(),
      "bands must partition the corpus")
    val totalDup = rows.map(_.getAs[Long]("n_dup")).sum
    val clustered = graft.operators.Dedup.nearDupClusters(spark, sf)
      .select("doc_id").distinct().count()
    assert(totalDup == clustered, "per-band dup counts must cover exactly the cluster members")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_keep") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("dup_rate")
      val recomputed = r.getAs[Long]("n_dup").toDouble / r.getAs[Long]("n_docs")
      assert(math.abs(rate - recomputed) < 1e-6)
    }
  }

  test("data card: cells partition the corpus, shares sum to 100, dup counts bounded") {
    val cells = graft.operators.Curation.dataCard(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(cells.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "cells must partition the corpus")
    assert(cells.map(_.getAs[Long]("n_chars")).sum ==
      docs.agg(org.apache.spark.sql.functions.sum("n_chars")).head().getLong(0))
    val shareSum = cells.map(_.getAs[Double]("share_pct")).sum
    assert(math.abs(shareSum - 100.0) < 0.01,
      s"share_pct must sum to ~100, got $shareSum")
    cells.foreach { c =>
      assert(c.getAs[Long]("n_exact_dup") <= c.getAs[Long]("n_docs"))
      assert(c.getAs[Long]("n_tokens") >= c.getAs[Long]("n_docs"),
        "every doc has at least one whitespace token")
    }
  }

  test("deletion vectors: positional read path equals the predicate complement by content") {
    val got = Curation.deleteVectors(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    // per-lang conservation: base = deleted + live
    got.foreach { r =>
      assert(r.getAs[Long]("n_base") ==
        r.getAs[Long]("n_deleted") + r.getAs[Long]("n_live"), s"lang ${r.getString(0)}")
    }
    assert(got.map(_.getAs[Long]("n_base")).sum == docs.count())
    // content equivalence: the live masses equal the predicate complement,
    // even though the read path subtracted by (file, row_index) only
    val want = docs.filter(col("doc_id") % 7 =!= 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_chars").cast("long")).as("chars_live"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      assert(want(r.getString(0)) ==
        ((r.getAs[Long]("n_live"), r.getAs[Long]("chars_live"))))
    }
  }

  test("masked view: pseudonyms stay joinable, bands coarsen, raw columns absent") {
    val v = Curation.maskedView(spark, sf)
    val docs = Tables.documents(spark, sf)
    // deterministic one-to-one pseudonymization: still joinable as a key
    assert(v.select("doc_key").distinct().count() == docs.count())
    val again = Curation.maskedView(spark, sf)
    assert(v.exceptAll(again).isEmpty && again.exceptAll(v).isEmpty)
    // a different salt rotates every pseudonym (no accidental stability)
    val rotated = Curation.maskedView(spark, sf, salt = "other")
    assert(v.select("doc_key").intersect(rotated.select("doc_key")).count() == 0)
    // schema: no doc_id / text / exact n_chars escape the view
    assert(!v.columns.contains("doc_id") && !v.columns.contains("text")
      && !v.columns.contains("n_chars"))
    v.collect().foreach { r =>
      assert(r.getAs[Long]("n_chars_band") % 100 == 0)
      assert(r.getAs[String]("preview").length <= 13)
    }
  }

  test("dv compaction: lossless rewrite — digest equals the live set's, files shrink") {
    val r = Curation.dvCompaction(spark, sf).head()
    assert(r.getAs[Long]("n_base_files") == 4L)
    assert(r.getAs[Long]("n_compacted_files") == 2L)
    val docs = Tables.documents(spark, sf)
    assert(r.getAs[Long]("n_base") == docs.count())
    val live = docs.filter(col("doc_id") % 7 =!= 0)
    assert(r.getAs[Long]("n_live") == live.count())
    val wantDigest = live.agg(
      sum(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
        .cast("long")).as("d")).head().getLong(0)
    assert(r.getAs[Long]("content_digest") == wantDigest)
  }

  test("dsir weights: match a driver-side brute-force recomputation; deterministic") {
    val buckets = 1024
    val target = "en"
    val k = 100
    def md5_32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // (doc_id, lang, bucket) positions with multiplicity
    val pos = docs.flatMap { case (id, lang, text) =>
      val w = text.split(" ", -1)
      if (w.length < 2) Array.empty[(Long, String, Long)]
      else w.sliding(2).map(p => (id, lang, md5_32(p.mkString(" ")) % buckets)).toArray
    }
    val rc = pos.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tc = pos.filter(_._2 == target).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val rt = rc.values.sum
    val tt = tc.values.sum
    def lnDec(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val lam: Map[Long, BigDecimal] = rc.map { case (b, n) =>
      b -> (lnDec((tc.getOrElse(b, 0L) + 1).toDouble / (tt + buckets))
        - lnDec((n + 1).toDouble / (rt + buckets)))
    }
    val expect = pos.groupBy(_._1).map { case (id, ps) =>
      (id, ps.head._2, ps.length.toLong, ps.map(p => lam(p._3)).sum)
    }.toSeq.sortBy { case (id, _, _, w) => (-w, id) }.take(k)
    val got = Curation.dsirWeights(spark, sf, buckets, target, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((gi, gl, gn, gw), (ei, el, en, ew)) =>
      assert(gi == ei && gl == el && gn == en, s"row mismatch: got $gi expected $ei")
      assert(math.abs(gw - ew.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
        s"weight mismatch for doc $gi: $gw vs $ew")
    }
    // target-language documents should dominate the selected head
    val enShare = got.count(_._2 == target).toDouble / got.length
    val corpusShare = docs.count(_._2 == target).toDouble / docs.length
    assert(enShare > corpusShare, s"target share $enShare <= corpus share $corpusShare")
    // deterministic across runs
    val again = Curation.dsirWeights(spark, sf, buckets, target, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.sameElements(again))
    // plan shape: the lambda table (bucket-count-sized) joins BROADCAST —
    // the corpus-sized position frame must never shuffle on bucket id
    val plan = Curation.dsirWeights(spark, sf, buckets, target, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }
}
