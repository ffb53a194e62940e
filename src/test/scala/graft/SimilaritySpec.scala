package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** X3 similarity-search semantics. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("topk cosine: 10 queries x 5 ranked neighbors, sims in [-1,1], no self-match") {
    val t = Similarity.topkCosine(spark, sf)
    assert(t.count() == 50)
    assert(t.select(countDistinct("query_id")).head().getLong(0) == 10)
    assert(t.filter(col("sim") > 1.000001 || col("sim") < -1.000001).isEmpty)
    assert(t.filter(col("query_id") === col("neighbor_id")).isEmpty)
    // ranks are 1..5 within each query
    assert(t.groupBy("query_id").agg(sum("rank").as("s"))
      .filter(col("s") =!= 15).isEmpty)
  }

  test("rank 1 neighbor has the max similarity of its query group") {
    val t = Similarity.topkCosine(spark, sf)
    val r1 = t.filter(col("rank") === 1).select(col("query_id"), col("sim").as("top"))
    val mx = t.groupBy("query_id").agg(max("sim").as("mx"))
    assert(r1.join(mx, "query_id").filter(col("top") =!= col("mx")).isEmpty)
  }

  test("embedding near-dup: canonical pair order, sim at or above threshold") {
    val p = Similarity.embedNearDup(spark, sf, 0.3)
    assert(p.filter(col("vec_a") >= col("vec_b")).isEmpty)
    assert(p.filter(col("sim") < 0.3).isEmpty)
  }

  test("LSH bit count scales with corpus size (integer ladder, clamped [4,24])") {
    assert(Similarity.bitsFor(1) == 4)
    assert(Similarity.bitsFor(500) == 4)       // sf0.001/sf0.01 embeddings
    assert(Similarity.bitsFor(1024) == 4)      // 64*2^4 boundary inclusive
    assert(Similarity.bitsFor(1025) == 5)
    assert(Similarity.bitsFor(2000) == 5)      // sf0.1 embeddings
    assert(Similarity.bitsFor(1000000) == 14)
    assert(Similarity.bitsFor(1000000000L) == 24) // clamp at 24
  }

  test("oracle dim constant matches the live testdata embedding dimension") {
    // embedNearDupOracleSql inlines plane literals for OracleDim; the
    // operator derives dim from data — if testdata regenerates at another
    // dim this fails here, in generation, not as a silent hash mismatch.
    val dim = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    assert(dim == Similarity.OracleDim,
      s"testdata embeddings are $dim-d but the oracle inlines ${Similarity.OracleDim}-d planes")
  }

  test("mismatched embedding dimension fails loudly, not silently bucket 0") {
    import spark.implicits._
    val bad = Seq((1L, Array.fill(64)(0.5f)), (2L, Array.fill(32)(0.5f)))
      .toDF("vec_id", "embedding")
    val dirPath = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-bademb")
    try {
      bad.write.mode("overwrite").parquet(s"$dirPath/embeddings.parquet")
      val ex = intercept[Exception] {
        Similarity.embedNearDup(spark, dirPath.toString, 0.0).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("embedding dimension")))
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dirPath)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  test("ANN LSH multiprobe recall clears the registered floor") {
    val r = Similarity.annLshRecall(spark, sf).head()
    assert(r.getLong(0) == 10)
    assert(r.getBoolean(1), "LSH recall@10 below floor")
  }

  test("IVF cell count follows the sqrt(n/2) ladder, clamped [4,4096]") {
    assert(Similarity.cellsFor(1) == 4)
    assert(Similarity.cellsFor(500) == 15)      // sf0.001/sf0.01 embeddings
    assert(Similarity.cellsFor(2000) == 31)     // sf0.1 embeddings
    assert(Similarity.cellsFor(1000000000L) == 4096) // clamp
  }

  test("ANN IVF coarse-quantizer recall clears the registered floor") {
    val r = Similarity.annIvfRecall(spark, sf).head()
    assert(r.getLong(0) == 10)
    assert(r.getDouble(1) >= 0.6, s"measured IVF recall@10 ${r.getDouble(1)} below 0.6")
    assert(r.getBoolean(2), "IVF recall@10 below floor")
  }

  test("k-means-refined IVF recall clears the floor; refinement keeps a full partition") {
    val r = Similarity.annIvfRecall(spark, sf, lloydIters = 2).head()
    assert(r.getLong(0) == 10)
    assert(r.getBoolean(1), "k-means IVF recall@10 below floor")
  }

  test("IVF top-k emits ranked neighbor rows consistent with the exact search") {
    val t = Similarity.annIvfTopk(spark, sf)
    // dense 1..n ranks per query, sims ordered and in range, no self-match
    assert(t.select(countDistinct("query_id")).head().getLong(0) == 10)
    assert(t.filter(col("query_id") === col("neighbor_id")).isEmpty)
    assert(t.filter(col("sim") > 1.000001 || col("sim") < -1.000001).isEmpty)
    val ranks = t.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(ranks.filter(col("mx") =!= col("n") || col("mn") =!= 1).isEmpty)
    // an approximate rank-1 can never BEAT the exact rank-1 similarity
    val exact1 = Similarity.topkCosine(spark, sf, 1)
      .select(col("query_id"), col("sim").as("best"))
    val ann1 = t.filter(col("rank") === 1).select(col("query_id"), col("sim"))
    assert(ann1.join(exact1, "query_id")
      .filter(col("sim") > col("best") + 1e-6).isEmpty)
  }

  test("semantic dedup: clusters are consistent with the cosine pair graph") {
    val pairs = Similarity.embedNearDup(spark, sf, 0.3).select("vec_a", "vec_b")
    val clusters = Similarity.semanticDedupClusters(spark, sf, 0.3)
    // both ends of every pair share a cluster
    val lbl = clusters.select("vec_id", "cluster_id")
    val viol = pairs
      .join(lbl.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("cluster_id", "ca"), "vec_a")
      .join(lbl.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("cluster_id", "cb"), "vec_b")
      .filter(col("ca") =!= col("cb"))
    assert(viol.isEmpty)
    // exactly one keeper per cluster, and it is the minimum member
    val perCluster = clusters.groupBy("cluster_id")
      .agg(min("vec_id").as("mn"),
        sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_keep"))
    assert(perCluster.filter(col("mn") =!= col("cluster_id") || col("n_keep") =!= 1L).isEmpty)
    // node set = exactly the vectors appearing in some pair
    val nodes = pairs.select(col("vec_a").as("vec_id"))
      .union(pairs.select(col("vec_b").as("vec_id"))).distinct()
    assert(clusters.select("vec_id").exceptAll(nodes).isEmpty)
    assert(nodes.exceptAll(clusters.select("vec_id")).isEmpty)
  }

  test("int8 quantization: qsum bounded by 127·dim, error bounded by scale/2 + rounding") {
    val q = Similarity.quantizeInt8Stats(spark, sf)
    assert(q.count() == Tables.embeddings(spark, sf).count())
    // |q_i| <= 127 (+1 slack for the floor(+0.5) at the extreme component)
    assert(q.filter(abs(col("qsum")) > 128L * 64L).isEmpty)
    // per-component reconstruction error <= scale/2 (+ 6dp rounding slack)
    assert(q.filter(col("qerr") > col("scale") / 2 + 1e-6).isEmpty)
    assert(q.filter(col("scale") <= 0).isEmpty, "degenerate zero vectors in testdata")
  }

  test("PQ ADC: 10 queries x 5 ranked neighbors, distances non-negative and rank-monotone") {
    val t = Similarity.pqAdcTopk(spark, sf)
    val rows = t.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 50)
    assert(rows.map(_._1).distinct.length == 10)
    assert(rows.forall { case (q, n, _, d) => q != n && d >= 0 })
    // within a query, ADC distance is non-decreasing in rank
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to 5))
      byRank.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4, s"query ${a._1} rank order")
        case _ =>
      }
    }
  }

  test("label centroids: labels partition the corpus, centroid norm under mean vector norm") {
    val lc = Similarity.labelCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.embeddings(spark, sf).count()
    assert(lc.map(_._2).sum == total)
    lc.foreach { case (_, n, mvn, cnorm) =>
      assert(n > 0 && mvn > 0 && cnorm > 0)
      // averaging near-isotropic vectors cancels components: the centroid
      // is strictly shorter than the average member (triangle inequality,
      // with slack because the corpus is not degenerate-collinear)
      assert(cnorm < mvn, s"centroid norm $cnorm should be under mean norm $mvn")
    }
  }

  test("PQ ADC is deterministic across runs (no-RNG codebook contract)") {
    // the whole pipeline (codebook pick, argmin encoding, table lookups)
    // must be run-stable or the oracle hash check could never hold
    val a = Similarity.pqAdcTopk(spark, sf)
    val b = Similarity.pqAdcTopk(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("embed dim stats: one row per dimension, moments match a direct recomputation") {
    val rows = Similarity.embedDimStats(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    assert(rows.size == vecs.head.size, s"expected ${vecs.head.size} dims")
    for (d <- Seq(0, 31, 63)) {
      val xs = vecs.map(_(d))
      val mean = xs.map(BigDecimal(_).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.length
      val s2 = xs.map(x => BigDecimal(x * x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / xs.length
      val r = rows(d.toLong)
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-5, s"dim $d mean")
      assert(math.abs(r.getAs[Double]("variance") - (s2 - mean * mean)) < 1e-5,
        s"dim $d variance")
      assert(r.getAs[Double]("variance") >= 0.0)
      assert(r.getAs[Double]("min_x") <= r.getAs[Double]("max_x"))
    }
  }

  test("hybrid RRF plan: all three rank windows share one hash Exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val executed = graft.operators.Similarity.hybridRrf(spark, sf).queryExecution.executedPlan
    val plan = executed.toString
    // the dense/lexical/fused windows all partition by query_id, so the
    // planner must reuse ONE hash Exchange on query_id (re-sorts between
    // windows are fine); a second one means the fusion stage re-shuffled
    // work it already had co-located. The only other hash Exchange allowed
    // is fanOut's spread of the corpus scan, which hashes every column of
    // its input; a shuffle join of documents and embeddings (keyed on
    // doc_id / vec_id alone) is not one and fails the check.
    val hashExchanges = new AdaptiveSparkPlanHelper {}.collect(executed) {
      case e: ShuffleExchangeExec => (e.outputPartitioning, e.child.output.map(_.name))
    }.collect { case (h: HashPartitioning, input) =>
      (h.expressions.flatMap(_.references.map(_.name)), input) }
    val (windows, others) = hashExchanges.partition(_._1 == Seq("query_id"))
    assert(windows.size == 1,
      s"expected exactly one hash Exchange for the three windows, got ${windows.size}:\n${plan.take(3000)}")
    assert(others.forall { case (keys, input) => keys == input },
      s"hash Exchanges other than the windows' and fanOut's spread: $others\n${plan.take(3000)}")
    assert("BroadcastExchange".r.findAllIn(plan).nonEmpty,
      "query side must broadcast against the corpus scan")
  }

  test("hybrid RRF: contiguous ranks, monotone fused scores, union-of-top-k membership") {
    val k = 20
    val rows = graft.operators.Similarity.hybridRrf(spark, sf, k = k).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length),
        s"query $qid ranks not contiguous")
      // fused score nonincreasing in rank
      val scores = sorted.map(_.getAs[Double]("rrf_score"))
      scores.sliding(2).foreach { case Array(a, b) =>
        assert(a >= b - 1e-9, s"query $qid fused scores not monotone")
      }
      sorted.foreach { r =>
        val rd = r.getAs[Int]("dense_rank_pos")
        val rl = r.getAs[Int]("lex_rank_pos")
        assert(rd <= k || rl <= k,
          s"query $qid cand ${r.getAs[Long]("cand_id")} in neither top-$k list")
        // recompute the fusion arithmetic from the emitted per-list
        // positions — the fused score must be exactly Σ 1/(60+rank)
        val expected =
          (if (rd <= k) 1.0 / (60 + rd) else 0.0) +
            (if (rl <= k) 1.0 / (60 + rl) else 0.0)
        assert(math.abs(r.getAs[Double]("rrf_score") - expected) < 5e-7,
          s"query $qid fused score drifted from 1/(60+r) arithmetic")
      }
    }
  }

  test("retrieval eval: one row per query, metrics bounded and mutually consistent") {
    val rows = Similarity.retrievalEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0L until 10L))
    rows.foreach { case (q, recall, rr, ndcg) =>
      assert(recall >= 0 && recall <= 1, s"query $q recall $recall")
      assert(rr >= 0 && rr <= 1, s"query $q rr $rr")
      assert(ndcg >= 0 && ndcg <= 1 + 1e-9, s"query $q ndcg $ndcg")
      // any hit at all (recall > 0) forces a positive reciprocal rank,
      // and nDCG can't exceed recall-share by construction of binary rel
      if (recall > 0) assert(rr > 0 && ndcg > 0, s"query $q inconsistent metrics")
      else assert(rr == 0 && ndcg == 0, s"query $q phantom hit")
    }
    // the IVF arm clears the same 0.6 floor its recall self-check pins
    val avgRecall = rows.map(_._2).sum / rows.length
    assert(avgRecall >= 0.6, s"avg recall@10 $avgRecall below the IVF floor")
  }

  test("triplet mining: labels respected, picks are the argmax, margin arithmetic exact") {
    val rows = Similarity.tripletMining(spark, sf).collect()
    assert(rows.length == 10)
    val labels = graft.Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (a, p, ps, n, ns, m) = (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(labels(p) == labels(a), s"anchor $a: positive $p has a different label")
      assert(labels(n) != labels(a), s"anchor $a: negative $n shares the label")
      assert(p != a && n != a)
      assert(math.abs((ps - ns) - m) < 2e-6, s"anchor $a margin drifted")
      assert(ps >= -1 - 1e-9 && ps <= 1 + 1e-9 && ns >= -1 - 1e-9 && ns <= 1 + 1e-9)
    }
    // brute-force argmax check on one anchor
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"), col("label"))
    val a0 = e.filter(col("vec_id") === 0L)
      .select(col("emb").as("aemb"), col("label").as("alabel"))
    val scored = e.crossJoin(a0).filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("label"), col("alabel"),
        expr("cosine_sim(emb, aemb)").as("sim")).collect()
    val bestPos = scored.filter(r => r.getInt(1) == r.getInt(2))
      .maxBy(r => (r.getDouble(3), -r.getLong(0)))
    val got0 = rows.find(_.getLong(0) == 0L).get
    assert(got0.getLong(1) == bestPos.getLong(0),
      s"anchor 0: hardest positive should be ${bestPos.getLong(0)}")
  }

  test("filtered top-k: label isolation, dense ranks, matches brute force, differs from post-filter") {
    val res = graft.operators.Similarity.topkCosineFiltered(spark, sf).collect()
    val emb = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val labels = emb.map(e => e._1 -> e._3).toMap
    // every neighbor shares the query's label; rank dense 1..k per query
    res.groupBy(_.getLong(0)).foreach { case (qid, rows0) =>
      rows0.foreach { r =>
        assert(r.getInt(1) == labels(qid), s"query $qid: label leaked")
        assert(labels(r.getLong(2)) == labels(qid), s"query $qid: neighbor off-label")
      }
      val ranks = rows0.map(_.getInt(3)).sorted
      assert(ranks.sameElements(1 to rows0.length), s"query $qid: ranks not dense")
    }
    // brute force: per query, top-5 cosine among same-label candidates
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = emb.filter(_._1 < 10)
    queries.foreach { case (qid, qv, ql) =>
      val expect = emb.filter(e => e._3 == ql && e._1 != qid)
        .map(e => (e._1, cos(qv, e._2)))
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      val got = res.filter(_.getLong(0) == qid).sortBy(_.getInt(3)).map(_.getLong(2))
      assert(got.sameElements(expect), s"query $qid: $got vs $expect")
    }
    // the pre-filter result is NOT the post-filtered global top-k: for at
    // least one query, filtering the unfiltered top-5 by label loses rows
    val global = graft.operators.Similarity.topkCosine(spark, sf).collect()
    val lossy = queries.exists { case (qid, _, ql) =>
      val post = global.filter(_.getLong(0) == qid)
        .map(_.getLong(1)).count(n => labels(n) == ql)
      post < res.count(_.getLong(0) == qid)
    }
    assert(lossy, "post-filtering the global top-k should lose rows for some query")
    // plan shape: panel broadcasts; rank<=k pushes a per-partition group
    // limit (WindowGroupLimit) so only k rows per query cross the shuffle
    val plan = graft.operators.Similarity.topkCosineFiltered(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }
  test("ivf refresh: additive postings cover the corpus, ppm law holds") {
    val r = Similarity.ivfRefresh(spark, sf)
    val e = graft.Tables.embeddings(spark, sf)
    // every vector lands in exactly one cell on each side of the split,
    // so the merged postings counts re-add to the corpus size
    assert(r.agg(sum("n_total")).head().getLong(0) == e.count())
    assert(r.filter(col("n_total") =!= col("n_old") + col("n_new")).isEmpty)
    // integer ppm law: share = n_new * 1e6 div n_total, 0 when empty
    assert(r.filter(col("n_total") > 0 &&
      col("new_share_ppm") =!= expr("n_new * 1000000 div n_total")).isEmpty)
    assert(r.filter(col("new_share_ppm") < 0 || col("new_share_ppm") > 1000000).isEmpty)
  }

  test("embedding quality: failure classes partition the corpus") {
    val Array(row) = Similarity.embeddingQuality(spark, sf).collect()
    val n = row.getAs[Long]("n_vecs")
    assert(n == graft.Tables.embeddings(spark, sf).count())
    assert(row.getAs[Long]("n_nan") + row.getAs[Long]("n_bad_dim")
      + row.getAs[Long]("n_zero_norm") + row.getAs[Long]("n_ok") == n,
      "every vector must fall in exactly one class")
    // the synthetic corpus is clean: the gate must pass it through
    assert(row.getAs[Long]("n_ok") == n)
    assert(row.getAs[Double]("min_norm") > 0)
    assert(row.getAs[Double]("max_norm") >= row.getAs[Double]("min_norm"))
  }

  test("embedding quality: dirty vectors land in the right class") {
    import spark.implicits._
    // exercise the per-row predicates directly on a crafted frame via the
    // same expressions the operator uses (NaN, zero vector, short vector)
    val rows = Seq(
      (1L, Array(1.0, 2.0, 3.0, 4.0)),
      (2L, Array(Double.NaN, 1.0, 1.0, 1.0)),
      (3L, Array(0.0, 0.0, 0.0, 0.0)),
      (4L, Array(1.0, 2.0, 3.0))).toDF("vec_id", "emb")
    val per = rows.select(
      col("vec_id"),
      expr("exists(emb, x -> isnan(x))").as("has_nan"),
      (size(col("emb")) =!= 4).as("bad_dim"),
      expr("aggregate(emb, 0D, (acc, x) -> acc + x * x)").as("sq"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getDouble(3))).toMap
    assert(!per(1L)._1 && !per(1L)._2 && per(1L)._3 > 0)
    assert(per(2L)._1, "NaN component must be flagged")
    assert(!per(3L)._1 && !per(3L)._2 && per(3L)._3 == 0.0, "zero vector")
    assert(per(4L)._2, "dimension mismatch must be flagged")
  }

  test("semantic canonical: one keeper per cluster, argmax by length then id") {
    val r = Similarity.semanticCanonical(spark, sf)
    val perCluster = r.groupBy("cluster_id")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("k"))
    assert(perCluster.filter(col("k") =!= 1).isEmpty, "exactly one keeper")
    // the keeper is maximal under (n_chars desc, vec_id asc)
    val bad = r.as("a").join(r.as("b"), Seq("cluster_id"))
      .filter(col("a.is_canonical") && !col("b.is_canonical") &&
        (col("b.n_chars") > col("a.n_chars") ||
          (col("b.n_chars") === col("a.n_chars") && col("b.vec_id") < col("a.vec_id"))))
    assert(bad.isEmpty, "a non-keeper dominates the keeper")
  }

  test("opq audit: rotation is orthogonal and distortions are positive") {
    val Array(row) = Similarity.opqRotationAudit(spark, sf).collect()
    assert(row.getAs[Boolean]("norm_ok"), "Hadamard/sqrt(d) must preserve norms")
    assert(row.getAs[Double]("mse_plain") > 0 && row.getAs[Double]("mse_rotated") > 0)
    assert(row.getAs[Long]("n_vecs") == graft.Tables.embeddings(spark, sf).count())
  }

  test("rerank: permutes exactly the first-stage survivors per query") {
    val first = Similarity.hybridRrf(spark, sf)
      .select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val re = Similarity.rerankCrossEncoder(spark, sf)
    val reSet = re.select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reSet == first, "rerank must not add or drop candidates")
    // rerank_pos is a permutation of 1..k per query
    val k = re.groupBy("query_id").count().select(max("count")).head().getLong(0)
    assert(re.filter(col("rerank_pos") < 1 || col("rerank_pos") > k).isEmpty)
    assert(re.groupBy("query_id", "rerank_pos").count()
      .filter(col("count") > 1).isEmpty, "positions unique per query")
  }

}
