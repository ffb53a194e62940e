package graft

import org.apache.spark.sql.functions.{asc, col, desc, explode, split}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** X4 repetition scoring: the Spark result must equal a direct Scala
  * recomputation per document (same n-gram windows, same rounding). */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("doc log-prob: one row per doc, mean_logprob negative, matches direct recomputation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val allTokens = docs.values.toSeq.flatMap(_.split(" ", -1))
    val freq = allTokens.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val total = allTokens.size.toLong
    val rows = TextAnalysis.docLogProb(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1).toSeq
      assert(r.getLong(1) == toks.size)
      val want = toks.map { t =>
        BigDecimal(math.log(freq(t).toDouble / total))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble / toks.size
      val wantRounded = BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(2) - wantRounded) < 1e-9, s"doc ${r.getLong(0)}")
      assert(r.getDouble(2) < 0.0)
    }
  }

  test("repetition score matches a direct recomputation and flags by threshold") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(text: String, k: Int): Seq[String] = {
      val toks = text.split(" ", -1).toSeq
      if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSeq else Seq.empty
    }
    def ratio(text: String, k: Int): Double = {
      val g = grams(text, k)
      if (g.isEmpty) 0.0
      else BigDecimal((g.size - g.distinct.size).toDouble / g.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = TextAnalysis.repetitionScore(spark, sf).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getInt(1) == grams(text, 2).size)
      assert(math.abs(r.getDouble(2) - ratio(text, 2)) < 1e-9)
      assert(r.getInt(3) == grams(text, 3).size)
      assert(math.abs(r.getDouble(4) - ratio(text, 3)) < 1e-9)
      assert(r.getBoolean(5) == (r.getDouble(4) > 0.2))
    }
  }

  test("bm25 matches a direct recomputation over the corpus") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.size.toLong).sum.toDouble / n
    val k1 = 1.25; val b = 0.75
    val rows = TextAnalysis.bm25(spark, sf).collect()
    // every (doc, term) hit appears exactly once
    assert(rows.map(r => (r.getLong(0), r.getString(1))).distinct.length == rows.length)
    val hits = (for {
      (id, toks) <- docs.toSeq
      t <- TextAnalysis.Bm25Terms if toks.contains(t)
    } yield (id, t)).toSet
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSet == hits)
    val dfMap = hits.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    rows.foreach { r =>
      val (id, term, tf) = (r.getLong(0), r.getString(1), r.getLong(2).toDouble)
      val toks = docs(id)
      assert(tf == toks.count(_ == term))
      assert(r.getLong(3) == dfMap(term).toLong)
      val df = dfMap(term)
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
      val want = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * toks.size / avgdl))
      assert(math.abs(r.getDouble(4) - want) < 1e-6, s"doc $id term $term")
      assert(r.getDouble(4) > 0)
    }
  }

  test("bigram LM: log-probs respect the interpolation floor and track unigram closely") {
    val bi = TextAnalysis.bigramLogProb(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val uni = TextAnalysis.docLogProb(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every doc with >= 2 tokens scores; log-probs are strictly negative
    assert(bi.nonEmpty)
    bi.values.foreach { case (n, lp) => assert(n >= 1 && lp < 0) }
    // interpolation floor: P >= (1-lambda) * min unigram prob, so no doc
    // mean can fall below ln of that floor — the no-log-0 guarantee the
    // Jelinek-Mercer mixture exists to provide
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ", -1)).as("t")).collect().map(_.getString(0))
    val counts = toks.groupBy(identity).view.mapValues(_.length).toMap
    val floor = math.log(0.25 * counts.values.min.toDouble / toks.length)
    bi.values.foreach { case (_, lp) => assert(lp >= floor, s"$lp under floor $floor") }
    // on this MEMORYLESS synthetic corpus (tokens ~ iid from a small
    // vocabulary) bigram context carries no information, so the two
    // models' corpus means must be close — the bigram estimate is just a
    // noisier unigram (it is slightly WORSE by Jensen, not better)
    val meanBi = bi.values.map(_._2).sum / bi.size
    val meanUni = bi.keys.map(uni).sum / bi.size
    assert(math.abs(meanBi - meanUni) < 0.2,
      s"bigram mean $meanBi should track unigram mean $meanUni on iid text")
  }

  test("cms heavy hitters: verdicts all true, probed set equals exact top-5") {
    val rows = TextAnalysis.cmsTokenCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == 5)
    assert(rows.forall(_._3), "a CMS estimate fell outside its guarantee")
    val want = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ", -1)).as("t"))
      .groupBy("t").count().orderBy(desc("count"), asc("t")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == want)
  }

  test("source quality: sources partition the corpus, keep rates agree with docQuality") {
    val sq = TextAnalysis.sourceQuality(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4), r.getBoolean(5))).toMap
    val total = Tables.documents(spark, sf).count()
    assert(sq.values.map(_._1).sum == total, "per-source doc counts partition the corpus")
    sq.values.foreach { case (_, kr, blocked) =>
      assert(kr >= 0 && kr <= 1)
      assert(blocked == (kr < 0.5))
    }
    // corpus-wide keep count re-derives from docQuality's verdicts
    val keepTotal = TextAnalysis.docQuality(spark, sf)
      .filter(org.apache.spark.sql.functions.col("keep")).count()
    val fromSources = sq.values.map { case (n, kr, _) => math.round(kr * n) }.sum
    assert(fromSources == keepTotal,
      s"source keep rates re-add to $fromSources, docQuality says $keepTotal")
  }

  test("inverted index: bounded aggregator equals the unbounded construction") {
    import org.apache.spark.sql.functions._
    // SmallestKLongs algebra first (pure Scala): bounded, sorted, and
    // merge-order-independent
    val agg = new graft.functions.SmallestKLongs(3)
    val xs = Seq(9L, 2L, 7L, 1L, 8L, 3L)
    val folded = xs.foldLeft(agg.zero)(agg.reduce)
    assert(folded == Seq(1L, 2L, 3L))
    val (l, r) = xs.splitAt(2)
    val m1 = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    val m2 = agg.merge(r.foldLeft(agg.zero)(agg.reduce), l.foldLeft(agg.zero)(agg.reduce))
    assert(m1 == folded && m2 == folded)

    val got = TextAnalysis.invertedIndex(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // unbounded reference: full posting set, sorted, sliced — must agree
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " ", -1))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", slice(sort_array(collect_set(col("doc_id"))), 1, 5)).as("postings"))
      .orderBy(col("df").desc, col("token")).limit(25)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == ref.toSeq)
    // df is non-increasing and postings are ascending
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    got.foreach { case (_, _, ps) =>
      val ids = ps.split(",").map(_.toLong)
      assert(ids.length <= 5 && (ids.toSeq == ids.sorted.toSeq))
    }
  }

  test("pmi collocations: scores match brute-force counts, ordered, floored") {
    val got = TextAnalysis.pmiCollocations(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.forall(_._2 >= 5), "min-count floor")
    assert(got.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)), "pmi desc")
    // brute-force the corpus counts and recompute each reported score
    val texts = Tables.documents(spark, sf).select("text")
      .collect().map(_.getString(0).split(" ", -1))
    val cu = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cbg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var n = 0L
    texts.foreach { ws =>
      ws.foreach { w => cu(w) += 1; n += 1 }
      ws.sliding(2).foreach { p => if (p.length == 2) cbg(p.mkString(" ")) += 1 }
    }
    got.foreach { case (bg, np, pmi) =>
      assert(np == cbg(bg), s"pair count for '$bg'")
      val Array(w1, w2) = bg.split(" ")
      val expect = BigDecimal(math.log((np.toDouble * n) / (cu(w1).toDouble * cu(w2))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(pmi - expect) < 1e-9, s"pmi for '$bg': got $pmi want $expect")
    }
  }

  test("quality classifier: zero-shuffle plan, verdicts split, score law holds") {
    val df = TextAnalysis.qualityClassifier(spark, sf)
    // the whole scoring pass must stay narrow — no Exchange anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier plan shuffled:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val n = Tables.documents(spark, sf).count()
    assert(rows.length.toLong == n, "one verdict per document")
    // hashed weights are ~uniform on [-1000,1000]: both verdicts occur
    assert(rows.exists(_._4) && rows.exists(!_._4), "classifier never discriminates")
    rows.foreach { case (id, nt, p, keep) =>
      assert(nt > 0 && p > 0.0 && p < 1.0)
      assert(keep == (p >= 0.5) || math.abs(p - 0.5) < 1e-6,
        s"doc $id: keep=$keep but p=$p")
    }
    // determinism across runs
    val again = TextAnalysis.qualityClassifier(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(again.toMap == rows.map(r => (r._1, r._3)).toMap)
  }

  test("bpe step: argmax pair and greedy merge contraction match brute force") {
    val df = TextAnalysis.bpeStep(spark, sf)
    // argmax is a partial top-1 (TakeOrderedAndProject), broadcast to the
    // vocabulary-bounded apply arm — never a sort-merge of the best pair
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") && plan.contains("BroadcastExchange"),
      s"bpe argmax should broadcast a partial top-1, plan:\n${plan.take(2000)}")
    val row = df.head()
    val (ma, mb, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
    val (nVocab, before, after) = (row.getLong(3), row.getLong(4), row.getLong(5))
    val wf = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // pair counts over the frequency table (overlapping, ordered)
    val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      w.toSeq.sliding(2).filter(_.length == 2).foreach { p =>
        val key = (p(0).toString, p(1).toString)
        pairs(key) = pairs.getOrElse(key, 0L) + f
      }
    }
    val bestBrute = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
    assert((ma, mb) == bestBrute._1 && cnt == bestBrute._2,
      s"argmax pair ($ma,$mb,$cnt) vs brute ${bestBrute}")
    assert(nVocab == wf.size)
    assert(before == wf.map { case (w, f) => w.length * f }.sum)
    // greedy non-overlapping application, same replace semantics
    val expectedAfter = wf.map { case (w, f) =>
      val padded = "|" + w.mkString("|") + "|"
      val merged = padded.replace(s"|$ma|$mb|", s"|$ma$mb|")
      (w.length - (padded.length - merged.length)) * f
    }.sum
    assert(after == expectedAfter && after < before,
      s"contraction $after vs $expectedAfter (before $before)")
  }

  test("bpe merges: k-step loop learns a consistent, strictly applied merge table") {
    val merges = TextAnalysis.bpeMerges(spark, sf, k = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 3 && merges.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // step 1 must agree with the single-step kernel
    val step1 = TextAnalysis.bpeStep(spark, sf).head()
    assert(merges(0)._2 == step1.getString(0) && merges(0)._3 == step1.getString(1)
      && merges(0)._4 == step1.getLong(2), "step 1 must equal the one-step kernel")
    // each learned pair is distinct and counts never increase implausibly:
    // a later merge can't out-count the pair chosen before it
    assert(merges.map(m => (m._2, m._3)).distinct.length == 3)
    assert(merges.sliding(2).forall { case Array(x, y) => y._4 <= x._4; case _ => true },
      s"monotone merge counts violated: ${merges.mkString(",")}")
  }

  test("lang confusion: cells partition the corpus and re-derive from langId rows") {
    val cells = TextAnalysis.langConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val perDoc = TextAnalysis.langId(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(5),
        r.getInt(2).toLong + r.getInt(3) + r.getInt(4)))
    assert(cells.values.map(_._1).sum == perDoc.length, "cells must partition the corpus")
    perDoc.groupBy(d => (d._1, d._2)).foreach { case (key, docs) =>
      val (n, avg) = cells(key)
      assert(n == docs.length, s"cell $key count")
      assert(math.abs(avg - docs.map(_._3).sum.toDouble / docs.length) < 1e-6,
        s"cell $key evidence")
    }
  }

  test("char entropy: shuffle-free plan, matches a brute-force recomputation") {
    val out = TextAnalysis.charEntropy(spark, sf)
    // the whole point: a narrow map over the scan — zero Exchanges
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "per-doc entropy must not shuffle")
    // the codegen expression and the declarative HOF fold agree to 6 dp
    val fold = TextAnalysis.charEntropyFold(spark, sf)
    assert(out.exceptAll(fold).isEmpty && fold.exceptAll(out).isEmpty,
      "char_entropy expression must equal the HOF formulation")
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == texts.keySet)
    texts.foreach { case (id, text) =>
      val counts = text.toSeq.groupBy(identity).view.mapValues(_.length.toDouble)
      val n = text.length.toDouble
      val h = counts.values.map(c => -(c / n) * (math.log(c / n) / math.log(2))).sum
      val (nd, nc, hb) = got(id)
      assert(nd == counts.size && nc == text.length, s"doc $id counts")
      assert(math.abs(hb - h) < 1e-5, s"doc $id entropy $hb vs $h")
      assert(hb >= 0.0 && hb <= math.log(counts.size.toDouble) / math.log(2) + 1e-9)
    }
  }

  test("invindex refresh digest equals an independent full re-index of the merged corpus") {
    import org.apache.spark.sql.functions.{array_distinct, concat_ws, conv, count, countDistinct, lit, md5, substring, sum}
    val refreshed = TextAnalysis.invindexRefresh(spark, sf).collect().head
    val merged = graft.operators.Curation.mergeTexts(
      Tables.documents(spark, sf).select("doc_id", "text", "lang", "source"),
      graft.operators.Curation.corpusDelta(spark, sf))
    val full = merged
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " ", -1))).as("token"))
      .select(col("token"),
        conv(substring(md5(concat_ws("|", col("token"), col("doc_id"))), 1, 8),
          16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("token")).as("n_tokens"),
        sum(col("h")).as("index_digest"))
      .collect().head
    assert(refreshed == full,
      s"incremental refresh drifted from the full rebuild: $refreshed vs $full")
  }

  test("tfidf cosine: graded similarity matches the hand-computed geometry") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    // equal-idf construction: every token appears in exactly 2 docs, so
    // all weights are equal and cosines reduce to |shared| / sqrt(na*nb)
    val docs = Seq(
      1L -> "a b c d e", // shares a,b,c with d2; d,e with d3
      2L -> "a b c x y", // shares x,y with d4
      3L -> "d e p q",   // p,q shared with d4
      4L -> "x y p q")
    val tmp = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-tfc-").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.tfidfCosinePairs(spark, tmp, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    def cos(pair: (Long, Long)): Double = out(pair).getAs[Double]("cosine")
    assert(math.abs(cos((1L, 2L)) - 3.0 / 5.0) < 1e-6, s"got ${cos((1L, 2L))}")
    assert(math.abs(cos((1L, 3L)) - 2.0 / math.sqrt(20.0)) < 1e-6)
    assert(math.abs(cos((3L, 4L)) - 2.0 / 4.0) < 1e-6)
    assert(!out.contains((1L, 4L)) || cos((1L, 4L)) < 0.1 + 1e-9,
      "docs sharing no token must not pair")
    assert(out.values.forall(_.getAs[Double]("cosine") <= 1.0 + 1e-9))
  }

  test("kneser-ney: continuation counts rank diverse-history words above frequent-but-captive ones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    // 'francisco' is FREQUENT (5 occurrences) but follows only 'san';
    // 'the' follows six distinct histories. Raw-frequency backoff would
    // score them alike after the shared history 'z'; KN's continuation
    // count must rank 'z the' above 'z francisco'.
    val docs =
      (10L to 14L).map(i => i -> "san francisco") ++ // 5x captive bigram
      (20L to 24L).map(i => i -> s"x${i - 20} the") ++ // 5 distinct histories
      Seq(1L -> "z the", 2L -> "z francisco")
    val tmp = java.nio.file.Files.createTempDirectory(Artifacts.root, "graft-kn-").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.knLogProb(spark, tmp).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 12 && out.values.forall(_.getLong(1) == 1L))
    val dThe = out(1L).getAs[Double]("mean_logprob_kn")
    val dFr = out(2L).getAs[Double]("mean_logprob_kn")
    // hand computation: B = 8 bigram types; c(z.) = 2, N1+(z,.) = 2;
    // N1+(.,the) = 6, N1+(.,francisco) = 2; D = 0.75
    //   P(the|z)       = 0.25/2 + 0.75*(2/2)*(6/8) = 0.6875
    //   P(francisco|z) = 0.25/2 + 0.75*(2/2)*(2/8) = 0.3125
    assert(math.abs(dThe - math.log(0.6875)) < 1e-5, s"got $dThe")
    assert(math.abs(dFr - math.log(0.3125)) < 1e-5, s"got $dFr")
    assert(dThe > dFr, "continuation backoff did not rank diverse-history word higher")
    // every scored doc: finite negative log-prob (KN never emits log 0)
    out.values.foreach { r =>
      val v = r.getAs[Double]("mean_logprob_kn")
      assert(!v.isNaN && !v.isInfinite && v < 0.0, s"bad score $r")
    }
  }

  test("zipf fit: full panel, negative slope, coherent OLS identities") {
    val r = TextAnalysis.zipfFit(spark, sf).collect().head
    val (n, slope, intercept, r2) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // the synthetic corpus draws from a ~31-token vocabulary, so the
    // panel is vocab-bounded below the 100 cap
    assert(n >= 10 && n <= 100, s"fit panel size out of range: $n")
    assert(slope < 0, s"rank-frequency slope must be negative, got $slope")
    assert(r2 >= 0 && r2 <= 1 + 1e-9, s"r2 out of range: $r2")
    // the fitted line must pass above the tail: intercept = ln(freq) at
    // rank 1, so it should at least reach the top frequency's magnitude
    assert(intercept > 0, s"ln-frequency intercept must be positive: $intercept")
    // re-running the fit is bit-identical (deterministic tie-break)
    val again = TextAnalysis.zipfFit(spark, sf).collect().head
    assert(r == again)
  }
}
