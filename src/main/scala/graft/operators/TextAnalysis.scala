package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}

/** X4 — text analysis over the `documents` table: tokenization, corpus
  * statistics, quality scoring, language-ID heuristics, fingerprinting —
  * the NLP heart of both the reference (Korean text parsing,
  * `dag-knlp.py:85-188`) and an LLM training-data pipeline.
  *
  * Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (split / explode / higher-order array lambdas / md5) — no UDFs — so the
  * whole stage stays inside WholeStageCodegen and scales embarrassingly
  * (per-row/narrow except the explicitly-noted groupBys).
  *
  * Scale notes:
  *  - per-doc stats are narrow (no shuffle at all — WholeStageCodegen over
  *    the parquet scan with only `doc_id`+`text` read);
  *  - token frequency explodes tokens then partially aggregates map-side —
  *    only (token, partial-count) pairs cross the shuffle, bounded by
  *    vocabulary size per partition, not corpus size;
  *  - top-k token selection is orderBy+limit ⇒ `TakeOrderedAndProject`
  *    (per-partition top-k, no global sort).
  */
object TextAnalysis {

  /** Whitespace tokens; -1 limit keeps trailing empties so the count
    * matches DuckDB's `string_split` exactly. */
  private def tokens: Column = split(col("text"), " ", -1)

  /** Per-document surface statistics — token count (whitespace), char
    * count, type-token ratio, mean token length. */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars_calc"),
        size(tokens).as("n_tokens"),
        size(array_distinct(tokens)).as("n_types"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double")
          / size(tokens), 6).as("mean_token_len"))

  /** Corpus token frequency, top 20 (TakeOrderedAndProject). */
  def tokenFreq(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)

  /** Per-language corpus profile (the groupBy-over-metadata shape every
    * training-data pipeline needs for mixture accounting). */
  def langProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(tokens).cast("long")).as("total_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))

  /** The [[docQuality]] `keep` verdict as ONE predicate Column over raw
    * documents columns — reusable inside other scans (the curation
    * pipeline) without a quality-table join: at corpus scale the filter
    * belongs in the scan, not behind a self-join. Identical rounding to
    * [[docQuality]] so both agree doc-for-doc. */
  private[graft] def qualityKeepExpr: Column = {
    val nTok = size(tokens)
    val stopHits = size(expr("filter(split(text, ' ', -1), t -> t IN ('the', 'a', 'of', 'and', 'is'))"))
    val sr = round(stopHits.cast("double") / nTok, 6)
    val ttr = round(size(array_distinct(tokens)).cast("double") / nTok, 6)
    col("n_chars") >= 50 && col("n_chars") <= 2000 && sr <= 0.5 && ttr >= 0.05
  }

  /** Quality scoring: stopword ratio, type-token ratio, length band —
    * the heuristics used to filter web-scale pretraining corpora. The
    * `keep` verdict is the filter a 100 TB pipeline would apply. */
  def docQuality(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens)
    val stopHits = size(expr("filter(split(text, ' ', -1), t -> t IN ('the', 'a', 'of', 'and', 'is'))"))
    val ttr = size(array_distinct(tokens)).cast("double") / nTok
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        nTok.as("n_tokens"),
        round(stopHits.cast("double") / nTok, 6).as("stopword_ratio"),
        round(ttr, 6).as("type_token_ratio"),
        (col("n_chars") >= 50 && col("n_chars") <= 2000).as("len_ok"))
      .withColumn("keep",
        col("len_ok") && col("stopword_ratio") <= 0.5 && col("type_token_ratio") >= 0.05)
  }

  /** COUNT-MIN SKETCH heavy-hitter check — the third sketch family next
    * to HLL++ (distinct) and GK (quantiles): a fixed O(1/ε·ln 1/δ)
    * counter grid answers point frequency queries over an unbounded
    * stream with one-sided error (estimate ≥ truth, ≤ truth + εN w.p.
    * 1−δ). Spark builds the sketch DISTRIBUTED (per-partition sketches
    * merged counter-wise — addition commutes, so the estimate is
    * partitioning-independent and seed-deterministic); the probe of the
    * top-`topK` tokens is driver-side metadata-scale work. Output is
    * self-verifying like the ANN recall checks: exact count per probed
    * token (oracle-checkable) + the sketch verdicts, which must be TRUE
    * by the CMS guarantee. */
  def cmsTokenCounts(spark: SparkSession, dir: String, topK: Int = 5,
                     eps: Double = 0.0001, confidence: Double = 0.99): DataFrame = {
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(tokens).as("token"))
    val cms = tok.stat.countMinSketch(col("token"), eps, confidence, 42)
    cmsVerdicts(spark, dir, cms, topK, eps)
  }

  /** The exact-top-k probe + one-sided-error verdict block shared by the
    * batch sketch and its streaming merge twin
    * (`StreamingOps.streamCmsEndToEnd`) — one copy, so the shared oracle
    * contract (tokenization, tie-break, bound arithmetic) cannot drift
    * between the two paths. */
  private[graft] def cmsVerdicts(spark: SparkSession, dir: String,
                                 cms: org.apache.spark.util.sketch.CountMinSketch,
                                 topK: Int, eps: Double): DataFrame = {
    import spark.implicits._
    val top = Tables.documents(spark, dir).select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(topK).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = cms.totalCount()
    top.toSeq.map { case (t, exact) =>
      val est = cms.estimateCount(t)
      (t, exact, est >= exact && est <= exact + (eps * total).toLong)
    }.toDF("token", "n", "cms_ok")
  }

  /** DuckDB oracle for [[cmsTokenCounts]] — the exact top-k counts; the
    * sketch verdict must be TRUE by construction. */
  def cmsTokenCountsOracleSql(topK: Int = 5): String =
    s"""SELECT token, count(*) AS n, TRUE AS cms_ok
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        GROUP BY token ORDER BY n DESC, token ASC LIMIT $topK"""

  /** TF-IDF keyword extraction: the top-`topK` most characteristic terms
    * per document (tf·idf with idf = ln(N/df), rank ties broken by term).
    * The classic per-doc salience signal next to [[bm25]]'s query-side
    * scoring. Per-doc term counts and corpus document frequencies are two
    * partial-aggregated groupBys; the idf table is vocabulary-sized, so
    * its join is left UNHINTED — AQE picks broadcast from measured size
    * here and degrades to a shuffle join at web vocabulary instead of
    * collecting a vocabulary-sized frame to the driver; the per-doc
    * top-k is a window over the doc's own distinct terms — state per
    * partition is one document's vocabulary, never the corpus. tf·idf is
    * one long→double multiply of identically-derived factors, so the
    * rounded scores agree bit-for-bit. */
  def keywordsTfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(tokens).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tok.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).select(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(nDocs))
      .select(col("term"), log(col("n_docs").cast("double") / col("df")).as("idf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf_raw"), asc("term"))
    tf.join(idf, "term")
      .withColumn("tfidf_raw", col("tf").cast("double") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        round(col("tfidf_raw"), 6).as("tfidf"))
  }

  /** DuckDB oracle for [[keywordsTfidf]] — same counts, same ln, same
    * multiply, same tie-break. */
  def keywordsTfidfOracleSql(topK: Int = 3): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
       nd AS (SELECT count(*) AS n_docs FROM documents),
       idf AS (SELECT term, ln(CAST(n_docs AS DOUBLE) / df) AS idf
               FROM df CROSS JOIN nd),
       scored AS (SELECT tf.doc_id, tf.term, tf.tf,
                         CAST(tf.tf AS DOUBLE) * idf.idf AS tfidf_raw
                  FROM tf JOIN idf USING (term))
       SELECT doc_id, "rank", term, tf, round(tfidf_raw, 6) AS tfidf FROM (
         SELECT doc_id, term, tf, tfidf_raw,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf_raw DESC, term ASC) AS "rank"
         FROM scored) t
       WHERE "rank" <= $topK ORDER BY doc_id, "rank""""

  /** SOURCE-level quality profile — domain curation, the level above
    * per-doc filtering: real pipelines block or down-weight whole
    * domains/crawl sources whose aggregate quality is poor, because
    * source reputation is a stronger prior than any single doc's score.
    * Per source: doc count, mean doc-quality signals (stopword ratio,
    * type-token ratio, keep rate from [[docQuality]]'s exact rule), and
    * the block verdict (keep rate below `minKeepRate`). One narrow pass
    * + one partial-aggregated groupBy over a source-cardinality key.
    * Ratio means are exact-rational (sums of 6-dp decimals / count)
    * so both engines agree bit-for-bit. */
  def sourceQuality(spark: SparkSession, dir: String,
                    minKeepRate: Double = 0.5): DataFrame = {
    val nTok = size(tokens)
    val stopHits = size(expr("filter(split(text, ' ', -1), t -> t IN ('the', 'a', 'of', 'and', 'is'))"))
    val ttr = size(array_distinct(tokens)).cast("double") / nTok
    val perDoc = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"),
        round(stopHits.cast("double") / nTok, 6).cast("decimal(10,6)").as("swr"),
        round(ttr, 6).cast("decimal(10,6)").as("ttr"),
        ((col("n_chars") >= 50 && col("n_chars") <= 2000)
          && round(stopHits.cast("double") / nTok, 6) <= 0.5
          && round(ttr, 6) >= 0.05).as("keep"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("swr")).cast("double") / count(lit(1))).as("mean_stopword_ratio"),
        (sum(col("ttr")).cast("double") / count(lit(1))).as("mean_ttr"),
        (sum(when(col("keep"), 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("keep_rate"))
      .withColumn("blocked", col("keep_rate") < minKeepRate)
  }

  /** DuckDB oracle for [[sourceQuality]] — same per-doc rule, same exact
    * decimal accumulation of the 6-dp ratios. */
  def sourceQualityOracleSql(minKeepRate: Double = 0.5): String =
    s"""WITH d AS (
         SELECT source,
                CAST(round(CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS DECIMAL(10,6)) AS swr,
                CAST(round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS DECIMAL(10,6)) AS ttr,
                (n_chars BETWEEN 50 AND 2000)
                  AND round(CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) <= 0.5
                  AND round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) >= 0.05 AS keep
         FROM documents)
       SELECT source, count(*) AS n_docs,
              CAST(sum(swr) AS DOUBLE) / count(*) AS mean_stopword_ratio,
              CAST(sum(ttr) AS DOUBLE) / count(*) AS mean_ttr,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                AS keep_rate,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                < $minKeepRate AS blocked
       FROM d GROUP BY source ORDER BY source"""

  /** Language-ID heuristic: marker-token hits per candidate language,
    * argmax with deterministic tie-break. (The testdata vocabulary is
    * synthetic English-ish, so most rows classify `en` — the operator
    * shape, a per-row scored classification over token sets, is what a
    * real lang-ID via char n-gram profiles would use.) */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: String*): Column = {
      val set = words.map(w => s"'$w'").mkString(", ")
      size(expr(s"filter(split(text, ' ', -1), t -> t IN ($set))"))
    }
    val en = hits("the", "a", "of", "and", "is")
    val es = hits("el", "la", "de", "que")
    val fr = hits("le", "la", "et", "les")
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang").as("lang_declared"),
        en.as("en_hits"), es.as("es_hits"), fr.as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
  }

  /** Token counting for budget accounting: whitespace tokens (what the
    * corpus stats use) next to a regex subword segmentation (alpha runs /
    * digit runs / single punctuation — the BPE-pretokenizer shape) and a
    * chars-per-token ratio, per doc. All codegen'd string ops, narrow. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val subword = split(col("text"), "[^a-z0-9]+", -1)
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(tokens).as("n_ws_tokens"),
        size(filter(subword, t => length(t) > 0)).as("n_subword_tokens"),
        round(col("n_chars").cast("double") / size(tokens), 6).as("chars_per_token"))
  }

  /** Negated-class regexes for per-script codepoint counts — literal `\x{…}`
    * syntax is shared verbatim by Java regex (Spark) and RE2 (DuckDB), so
    * the operator and its oracle run the exact same patterns. Ranges match
    * [[graft.functions.ScriptClass]]. */
  val HangulRe = "[^\\x{AC00}-\\x{D7A3}\\x{1100}-\\x{11FF}\\x{3130}-\\x{318F}\\x{A960}-\\x{A97F}\\x{D7B0}-\\x{D7FF}]"
  val HanjaRe = "[^\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}\\x{F900}-\\x{FAFF}]"
  val LatinRe = "[^A-Za-z]"
  val DigitRe = "[^0-9]"
  val SpaceRe = "[^\\t\\n\\x{0B}\\f\\r ]"

  /** Script-mixture profile per (lang, dominant script): doc counts and
    * per-script codepoint totals. The dominant-script label comes from the
    * custom codegen'd [[graft.functions.ScriptClass]] expression (the
    * Hangul/Hanja classifier SURVEY §2.8 X4 names — the reference's whole
    * domain is Korean/Hanja text, `dag-knlp.py:85-111`); the char counts
    * are codegen'd built-in regexp_replace/length. Narrow scan + one
    * partial-aggregated groupBy over a tiny (lang, script) key space. */
  def scriptProfile(spark: SparkSession, dir: String): DataFrame = {
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("lang"), expr("script_class(text)").as("script"),
        length(regexp_replace(col("text"), HangulRe, "")).as("hc"),
        length(regexp_replace(col("text"), HanjaRe, "")).as("jc"),
        length(regexp_replace(col("text"), LatinRe, "")).as("lc"),
        length(regexp_replace(col("text"), DigitRe, "")).as("dc"))
      .groupBy("lang", "script")
      .agg(count(lit(1)).as("n_docs"),
        sum("hc").as("hangul_chars"), sum("jc").as("hanja_chars"),
        sum("lc").as("latin_chars"), sum("dc").as("digit_chars"))
  }

  /** Document fingerprinting: full-content MD5 (the exact-dedup key) plus
    * a 64-bit prefix — the compact form a 100 TB dedup would shuffle on. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 16).as("fp64"))

  /** Unigram log-probability quality score — the KenLM-style perplexity
    * proxy corpus filtering uses, reduced to its distributable core:
    * corpus unigram probabilities (token count / total tokens), then each
    * document's token-count and mean token log-probability. Gibberish and
    * off-distribution text score far below the corpus mean; importance
    * resampling thresholds on exactly this number.
    *
    * Scale shape: one explode + map-side-combined vocabulary count (the
    * shuffle carries (token, partial n) — vocabulary-, not corpus-sized),
    * the total via a 1-row cross join (no driver action), then an
    * UNHINTED vocabulary-keyed join back to the exploded tokens (AQE:
    * broadcast at this scale, shuffle join at web vocabulary) and a
    * per-doc partial
    * agg. Determinism: ln values are summed as DECIMAL(28,12) — exact,
    * order-independent addition — so the result is identical regardless
    * of partitioning; the double division happens once at the end. */
  def docLogProb(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(tokens).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("total"))
    val withP = freq.crossJoin(total)
      .select(col("token"),
        log(col("n").cast("double") / col("total")).cast("decimal(28,12)").as("lp"))
    tok.join(withP, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round((sum(col("lp")).cast("double") / count(lit(1))), 6).as("mean_logprob"))
  }

  /** The [[docLogProb]] computation as a DuckDB CTE chain ending in
    * `lp(doc_id, n_tokens, mean_logprob)` — shared by its own oracle and
    * the score-ranked curation oracles (perplexity buckets, token-budget
    * selection) so every consumer scores documents identically. */
  private[graft] val docLogProbCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents),
       freq AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
       p AS (SELECT token,
                    CAST(ln(CAST(n AS DOUBLE) / total) AS DECIMAL(28,12)) AS lp
             FROM freq CROSS JOIN tot),
       lp AS (SELECT doc_id, count(*) AS n_tokens,
                     round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob
              FROM tok JOIN p USING (token)
              GROUP BY doc_id)"""

  /** DuckDB oracle for [[docLogProb]] — same probability, same ln, same
    * exact DECIMAL accumulation. */
  val docLogProbOracleSql: String =
    s"""WITH $docLogProbCtes
       SELECT doc_id, n_tokens, mean_logprob FROM lp ORDER BY doc_id"""

  /** Interpolated BIGRAM language-model scoring — the next rung of the
    * perplexity-proxy ladder above [[docLogProb]]'s unigram model:
    * P(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N (Jelinek-Mercer
    * interpolation with the unigram prior, so unseen-in-context words
    * never hit log 0), per-doc mean log-probability over its bigram
    * positions. Corpus counts come from two partial-aggregated groupBys;
    * the probability table is keyed by bigram TYPE (vocabulary-sized, not
    * corpus-sized — its join is left UNHINTED so AQE broadcasts from
    * measured size here and degrades to a shuffle join on the gram key at
    * web-corpus vocabulary, rather than a forced driver-side collect of a
    * vocabulary²-sized frame). The per-doc sum
    * accumulates exact DECIMAL(28,12) log-probs — partial-aggregation
    * order cannot move the result (the [[docLogProb]] determinism
    * pattern). */
  def bigramLogProb(spark: SparkSession, dir: String,
                    lambda: Double = 0.75): DataFrame = {
    // TWO corpus explode passes total: the bigram table is staged (it
    // feeds both the type counts and the final per-doc join — without
    // the cut Catalyst re-explodes the corpus per consumer), history
    // counts c(w1·) aggregate from the bigram TYPE counts (Σ_w2 c(w1w2)
    // — vocabulary-sized input, not another corpus pass), and N is the
    // sum of the unigram counts rather than a second token explode.
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(gramList(2)).as("bg"))) { bg =>
      Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
          .select(explode(tokens).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cu"))) { cu =>
        val total = cu.agg(sum(col("cu")).as("total"))
        Tables.withStaged(bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
            .withColumn("w1", expr("split(bg, ' ')[0]"))
            .withColumn("w2", expr("split(bg, ' ')[1]"))) { cbg =>
          val ch = cbg.groupBy("w1").agg(sum(col("cbg")).as("ch"))
          val ptab = cbg
            .join(ch, "w1")
            .join(cu.withColumnRenamed("token", "w2"), "w2")
            .crossJoin(total)
            .select(col("bg"),
              log(lit(lambda) * (col("cbg").cast("double") / col("ch"))
                + lit(1 - lambda) * (col("cu").cast("double") / col("total")))
                .cast("decimal(28,12)").as("lp"))
          val out = bg.join(ptab, "bg")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_bigrams"),
              round(sum(col("lp")).cast("double") / count(lit(1)), 6)
                .as("mean_logprob2"))
          Tables.materialize(out)
        }
      }
    }
  }

  /** DuckDB oracle for [[bigramLogProb]] — same counts, same interpolation
    * spelled with the identical operation order, same exact DECIMAL
    * accumulation. */
  def bigramLogProbOracleSql(lambda: Double = 0.75): String = {
    val l1 = lambda
    val l2 = 1 - lambda
    s"""WITH bg AS (
         SELECT doc_id, unnest(
           CASE WHEN len(string_split(text, ' ')) >= 2
             THEN [array_to_string(string_split(text, ' ')[i : i + 1], ' ')
                   for i in range(1, len(string_split(text, ' ')))]
             ELSE CAST([] AS VARCHAR[]) END) AS bg
         FROM documents),
       tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       cu AS (SELECT token, count(*) AS cu FROM tok GROUP BY token),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
       cbg AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
       ch AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS ch
              FROM bg GROUP BY 1),
       p AS (SELECT cbg.bg,
                    CAST(ln($l1 * (CAST(cbg.cbg AS DOUBLE) / ch.ch)
                            + $l2 * (CAST(cu.cu AS DOUBLE) / tot.total))
                      AS DECIMAL(28,12)) AS lp
             FROM cbg
             JOIN ch ON string_split(cbg.bg, ' ')[1] = ch.w1
             JOIN cu ON string_split(cbg.bg, ' ')[2] = cu.token
             CROSS JOIN tot)
       SELECT doc_id, count(*) AS n_bigrams,
              round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob2
       FROM bg JOIN p USING (bg)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Ordered (non-distinct) k-gram list — repetition needs the duplicates
    * [[graft.operators.Dedup.shingleSetK]] deliberately removes. */
  /** Word k-grams of `text` as an array column. The outer single-element
    * `transform` is a LET BINDING: it evaluates `split` ONCE per row and
    * hands the bound array `w` to the inner lambda — naming the split in
    * the inner lambda directly would re-evaluate it per GRAM (higher-order
    * functions get no subexpression elimination across lambda scopes),
    * which profiled as the whole cost of q_repetition: O(tokens²) token
    * copies per document instead of O(tokens·k). */
  private[operators] def gramList(k: Int): Column = expr(
    s"""transform(array(split(text, ' ', -1)), w ->
          CASE WHEN size(w) >= $k THEN
            transform(sequence(0, size(w) - $k),
              i -> array_join(slice(w, i + 1, $k), ' '))
          ELSE array() END)[0]""")

  /** Intra-document repetition scoring — the Gopher-style "repetition"
    * quality signal: the fraction of bigrams/trigrams that are repeats of
    * an earlier n-gram in the SAME document (looping generation, boiler-
    * plate stuffing, keyword spam all spike it). `repetitive` applies the
    * trigram threshold — the filter verdict a pretraining pipeline acts
    * on. Narrow per-row array arithmetic, all codegen'd, no shuffle; the
    * ratio arithmetic is (n − n_distinct)/n in BOTH engines so the
    * rounded doubles agree bit-for-bit. */
  def repetitionScore(spark: SparkSession, dir: String,
                      threshold: Double = 0.2): DataFrame = {
    def dupRatio(g: Column): Column =
      when(size(g) === 0, lit(0.0))
        .otherwise(round((size(g) - size(array_distinct(g))).cast("double") / size(g), 6))
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), gramList(2).as("bg"), gramList(3).as("tg"))
      .select(col("doc_id"),
        size(col("bg")).as("n_bigrams"),
        dupRatio(col("bg")).as("dup_bigram_ratio"),
        size(col("tg")).as("n_trigrams"),
        dupRatio(col("tg")).as("dup_trigram_ratio"))
      .withColumn("repetitive", col("dup_trigram_ratio") > threshold)
  }

  /** DuckDB oracle for [[repetitionScore]], generated from the same
    * threshold; list comprehensions mirror the operator's k-gram lists
    * (1-based inclusive slices, guarded short docs). */
  def repetitionScoreOracleSql(threshold: Double = 0.2): String = {
    def grams(k: Int): String =
      s"""CASE WHEN len(string_split(text, ' ')) >= $k
            THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                  for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
            ELSE CAST([] AS VARCHAR[]) END"""
    def dupRatio(c: String): String =
      s"CASE WHEN len($c) = 0 THEN 0.0 ELSE round(CAST(len($c) - len(list_distinct($c)) AS DOUBLE) / len($c), 6) END"
    s"""WITH g AS (SELECT doc_id, ${grams(2)} AS bg, ${grams(3)} AS tg
                   FROM documents)
       SELECT doc_id,
              len(bg) AS n_bigrams,
              ${dupRatio("bg")} AS dup_bigram_ratio,
              len(tg) AS n_trigrams,
              ${dupRatio("tg")} AS dup_trigram_ratio,
              ${dupRatio("tg")} > $threshold AS repetitive
       FROM g ORDER BY doc_id"""
  }

  /** Query terms for [[bm25]] — mid-frequency corpus tokens (df ≈ 380-400
    * of 500 docs at sf0.01), shared verbatim with the oracle. */
  private[graft] val Bm25Terms = Seq("join", "stream", "vector")
  // k1/b chosen inside the standard BM25 ranges AND exactly representable
  // in binary (1.25 = 5/4, 0.75 = 3/4), so constant folding (k1+1, 1-b)
  // yields bit-identical doubles in Spark (runtime double arithmetic) and
  // DuckDB (DECIMAL literal arithmetic, converted to double once).
  private[graft] val Bm25K1 = 1.25
  private[graft] val Bm25B  = 0.75

  /** BM25 relevance scoring — the search-ranking primitive over the
    * corpus: for each (document, query-term) hit, the Okapi BM25
    * contribution idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with
    * the standard +1-smoothed idf (always positive).
    *
    * Scale shape: tokenize once; the doc length rides THROUGH the explode
    * (first(dl) per group) so there is no corpus-sized dl join anywhere;
    * tf comes from an explode filtered to the query terms BEFORE the
    * shuffle (the grouped key space is |terms|·matching docs, not the
    * corpus vocabulary); df is a |terms|-row aggregate of tf and
    * broadcasts back; N and avgdl are one scalar agg cross-joined
    * (broadcast). Scores are emitted per term (not summed across terms)
    * so every double op has a fixed operand order — bit-identical in both
    * engines; rounded to 6 dp. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val k1 = Bm25K1
    val b  = Bm25B
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), tokens.as("toks"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(col("toks"))).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(log((col("n_docs").cast("double") - col("df").cast("double") + 0.5)
              / (col("df").cast("double") + 0.5) + 1)
            * (tfd * (k1 + 1))
            / (tfd + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 6)
          .as("bm25"))
  }

  /** DuckDB oracle for [[bm25]] — same terms, same constants, same
    * operation order in the double formula. */
  def bm25OracleSql: String = {
    val k1 = Bm25K1
    val b  = Bm25B
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         stats AS (SELECT count(*) AS n_docs,
                          CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
                   FROM docs),
         dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS term FROM docs) t
                WHERE term IN ($termList) GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
       SELECT doc_id, term, tf, df,
              round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                       / (CAST(df AS DOUBLE) + 0.5) + 1)
                    * (CAST(tf AS DOUBLE) * (${k1} + 1))
                    / (CAST(tf AS DOUBLE) + ${k1} * (1 - ${b} + ${b} * CAST(dl AS DOUBLE) / avgdl)), 6)
                AS bm25
       FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       ORDER BY doc_id, term"""
  }

  /** UNICODE NFC normalization over the corpus — the canonicalization
    * stage upstream of tokenization/dedup (the reference's Korean text
    * is exactly where precomposed syllables vs conjoining jamo collide,
    * `dag-knlp.py:122-152`). Denormalized input is synthesized
    * deterministically (every 'e' decomposed into e + U+0301 combining
    * acute), then canonicalized by the codegen'd
    * [[graft.functions.UnicodeNormalize]] expression; the emitted
    * before/after char counts and post-NFC digest are byte-pinned by
    * DuckDB's own `nfc_normalize` — two independent implementations of
    * the Unicode standard agreeing on every document. Narrow per-row
    * pipeline, no shuffle (Verify adds the canonical dump sort). */
  def unicodeNfc(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"),
        regexp_replace(col("text"), "e", "e" + "\u0301").as("decomposed"))
      .select(col("doc_id"),
        length(col("decomposed")).as("n_chars_raw"),
        expr("length(nfc_normalize(decomposed))").as("n_chars_nfc"),
        expr("md5(nfc_normalize(decomposed))").as("fp"))

  /** DuckDB oracle for [[unicodeNfc]] — same decomposition, DuckDB's own
    * nfc_normalize. */
  val unicodeNfcOracleSql: String =
    """SELECT doc_id,
              length(decomposed) AS n_chars_raw,
              length(nfc_normalize(decomposed)) AS n_chars_nfc,
              md5(nfc_normalize(decomposed)) AS fp
       FROM (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS decomposed
             FROM documents) t
       ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // Inverted index
  // ---------------------------------------------------------------------

  /** INVERTED INDEX head — the retrieval-side artifact behind [[bm25]]:
    * per token, its document frequency and the first `p` posting doc ids.
    * Output is the `k` highest-df entries (ties broken by token), the
    * "stopword report" a corpus audit prints.
    *
    * Scale shape: the posting heads come from a custom bounded
    * [[graft.functions.SmallestKLongs]] aggregator, NOT
    * `slice(sort_array(collect_set(id)), 1, p)` — collect_set holds the
    * WHOLE posting list per token in aggregation state (df-sized for
    * stopwords: tens of billions of ids at 100 TB), while the bounded
    * aggregator's partial state never exceeds p longs per (task, token)
    * and merges associatively, so the map side ships k-vectors, not
    * posting lists. One explode + one partial-aggregated groupBy +
    * TakeOrdered(k); per-doc `array_distinct` dedups before the shuffle
    * so (doc, token) pairs cross it at most once. */
  def invertedIndex(spark: SparkSession, dir: String,
                    k: Int = 25, p: Int = 5): DataFrame = {
    val smallest = udaf(new graft.functions.SmallestKLongs(p),
      org.apache.spark.sql.Encoders.scalaLong)
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(array_distinct(tokens)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", smallest(col("doc_id"))).as("postings"))
      .orderBy(col("df").desc, col("token")).limit(k)
  }

  /** DuckDB oracle for [[invertedIndex]] — full sorted posting list
    * sliced to p (tractable at oracle scale; the Spark side bounds the
    * state instead, which is the point under test). */
  def invertedIndexOracleSql(k: Int = 25, p: Int = 5): String =
    s"""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
       df AS (SELECT token, count(*) AS df,
                     array_to_string(list_sort(list(doc_id))[1:$p], ',') AS postings
              FROM tok GROUP BY token)
       SELECT token, df, postings FROM df ORDER BY df DESC, token LIMIT $k"""

  /** INCREMENTAL INVERTED-INDEX maintenance under the corpus merge — the
    * retrieval-index sibling of `q_sigstore_refresh`, completing the
    * index-maintenance family (MinHash signatures, now token postings):
    * the FULL postings relation (distinct `(token, doc_id)` pairs — the
    * actual inverted index) is staged once as the nightly artifact; when
    * the merge delta arrives, touched keys' postings are dropped with a
    * broadcast anti-join (delta key sets are tiny at any corpus scale)
    * and ONLY the delta documents are re-tokenized — delta-sized work
    * where the naive nightly rebuild re-tokenizes the corpus. At 100 TB
    * the drop side runs as a delete-bitmap applied at read (merge-on-read)
    * rather than a store rewrite; the algebra pinned here is the same.
    * The emitted order-independent digest must equal the oracle's
    * INDEPENDENT full re-index of the merged corpus — refresh proved
    * lossless, never drifting from the rebuild. */
  def invindexRefresh(spark: SparkSession, dir: String): DataFrame = {
    val store = Artifacts.ensure(
      s"invindex-${dir.replace('/', '_')}") { tmp =>
      Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(array_distinct(tokens)).as("token"))
        .write.mode("overwrite").parquet(tmp.resolve("postings").toString)
    }.toString + "/postings"
    val delta = Curation.corpusDelta(spark, dir)
    val kept = spark.read.parquet(store)
      .join(broadcast(delta.select("doc_id")), Seq("doc_id"), "left_anti")
    val fresh = delta
      .select(col("doc_id"), explode(array_distinct(tokens)).as("token"))
    kept.unionByName(fresh)
      .select(col("token"),
        conv(substring(md5(concat_ws("|", col("token"), col("doc_id"))), 1, 8),
          16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("token")).as("n_tokens"),
        sum(col("h")).as("index_digest"))
  }

  def invindexRefreshOracleSql: String = {
    val hex = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH delta AS (
         SELECT doc_id, text || ' [rev2]' AS text FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id + 100000, '[new] ' || text FROM documents WHERE doc_id % 13 = 3),
       merged AS (
         SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
                coalesce(d.text, b.text) AS text
         FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id),
       tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
               FROM merged),
       hh AS (SELECT token, substr(md5(token || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              FROM tok)
       SELECT count(*) AS n_postings,
              count(DISTINCT token) AS n_tokens,
              CAST(sum($hex) AS BIGINT) AS index_digest
       FROM hh"""
  }

  // ---------------------------------------------------------------------
  // PMI collocations
  // ---------------------------------------------------------------------

  /** PMI COLLOCATIONS — pointwise mutual information over adjacent word
    * pairs, the classic collocation detector (phrases like "machine
    * learning" that co-occur far above chance): PMI(x,y) =
    * ln(c(xy)·N / (c(x)·c(y))), reported for pairs with count ≥
    * `minCount`, top `k` by score. Tokenizer-vocabulary builders use
    * exactly this to promote pairs to merged tokens.
    *
    * Scale shape: the bigram TYPE table is min-count-filtered BEFORE its
    * two unigram joins, so the join input is the (tiny) surviving
    * vocabulary, not vocabulary²; unigram counts and N come from one
    * partial-aggregated token pass. Joins are left unhinted — AQE
    * broadcasts the filtered type tables from measured size and falls
    * back to key-shuffles at web-corpus vocabulary. The double
    * arithmetic is spelled in the identical order in both engines
    * ((c·N) / (c₁·c₂), then ln, then round 6) so the hash compare is
    * bit-stable — the [[docLogProb]] determinism pattern. */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Int = 5, k: Int = 20): DataFrame = {
    // fanOut: both explode passes (unigram census + bigram census) are
    // per-row-heavy map stages over the single-row-group scan
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val cu = docs.select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cu"))
      .localCheckpoint()
    val total = cu.agg(sum(col("cu")).cast("long").as("n"))
    val cbg = docs.select(explode(gramList(2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cbg"))
      .where(col("cbg") >= minCount)
      .withColumn("w1", expr("split(bigram, ' ')[0]"))
      .withColumn("w2", expr("split(bigram, ' ')[1]"))
    cbg
      .join(cu.select(col("token").as("w1"), col("cu").as("cu1")), "w1")
      .join(cu.select(col("token").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(total)
      .select(col("bigram"), col("cbg").as("n_pair"),
        round(log((col("cbg").cast("double") * col("n"))
          / (col("cu1").cast("double") * col("cu2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(k)
  }

  // ---------------------------------------------------------------------
  // Learned-filter scoring (linear classifier with frozen hashed weights)
  // ---------------------------------------------------------------------

  /** QUALITY-CLASSIFIER SCORING — the model-based filter pass (fastText /
    * DCLM-style) that replaced pure heuristics in modern curation: a
    * frozen linear model over hashed bag-of-words, p = σ(mean token
    * weight), keep at p ≥ 0.5. The "trained" weights are a deterministic
    * hash of the token (md5 prefix → integer in [−1000, 1000], scaled by
    * 1000) — the SERVING side under test is exactly what a real
    * classifier ships: per-token weight lookup by hash, no parameter
    * table to join or broadcast.
    *
    * Scale shape: ZERO shuffles — the per-doc weight sum is a codegen'd
    * `aggregate` fold over the token array (no explode, no groupBy), and
    * the accumulator is INTEGER (bounded by ±1000·doc_len), so the score
    * is exact and independent of fold/partition order — the determinism
    * the [[docLogProb]] DECIMAL pattern buys, got cheaper. The sigmoid
    * runs once per document on the exact mean. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    // no fanOut: the ZERO-SHUFFLE plan is this operator's pinned contract
    // (TextAnalysisSpec) — the serving-side story is that scoring adds no
    // exchange to whatever scan feeds it
    val mean = col("s").cast("double") / lit(1000) / col("n_tokens")
    val p = lit(1.0) / (lit(1.0) + exp(-mean))
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"),
        expr("""aggregate(split(text, ' ', -1), 0L,
          (acc, t) -> acc + CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000)""")
          .as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(p, 6).as("p_keep"), (p >= 0.5).as("keep"))
  }

  /** DuckDB oracle for [[qualityClassifier]] — same hash weights (md5
    * prefix expanded digit-by-digit), same integer sum, same operation
    * order into the sigmoid. */
  val qualityClassifierOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(md5(token), $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
       wt AS (SELECT doc_id, CAST(($hexToLong) % 2001 - 1000 AS BIGINT) AS w
              FROM tok)
       SELECT doc_id, count(*) AS n_tokens,
              round(1.0 / (1.0 + exp(-(CAST(sum(w) AS DOUBLE) / 1000 / count(*)))), 6) AS p_keep,
              (1.0 / (1.0 + exp(-(CAST(sum(w) AS DOUBLE) / 1000 / count(*))))) >= 0.5 AS keep
       FROM wt GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB oracle for [[pmiCollocations]] — same counts, same operation
    * order, same rounding. */
  def pmiCollocationsOracleSql(minCount: Int = 5, k: Int = 20): String =
    s"""WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
       bg AS (SELECT array_to_string(words[i : i + 1], ' ') AS bigram,
                     words[i] AS w1, words[i + 1] AS w2
              FROM w, unnest(range(1, CAST(len(words) AS BIGINT))) AS t(i)),
       tok AS (SELECT unnest(words) AS token FROM w),
       cu AS (SELECT token, count(*) AS cu FROM tok GROUP BY token),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
       cbg AS (SELECT bigram, any_value(w1) AS w1, any_value(w2) AS w2,
                      count(*) AS cbg
               FROM bg GROUP BY bigram HAVING count(*) >= $minCount)
       SELECT bigram, cbg AS n_pair,
              round(ln((CAST(cbg AS DOUBLE) * tot.n)
                / (CAST(c1.cu AS DOUBLE) * c2.cu)), 6) AS pmi
       FROM cbg JOIN cu c1 ON cbg.w1 = c1.token
                JOIN cu c2 ON cbg.w2 = c2.token
                CROSS JOIN tot
       ORDER BY pmi DESC, bigram LIMIT $k"""

  /** BPE MERGE STEP — the kernel of byte-pair-encoding tokenizer
    * training, the step that turns a raw corpus into a vocab: count
    * adjacent symbol pairs over the word-frequency table, pick the most
    * frequent pair (count desc, then lexicographic — deterministic), and
    * apply the merge greedily left-to-right to every word, reporting the
    * token-count contraction. A full trainer is a driver-side loop of
    * exactly this step; one step pins the whole kernel.
    *
    * Scale shape: the corpus is touched ONCE (the word-count groupBy,
    * partial-aggregated); everything downstream — pair explode, argmax
    * (TakeOrderedAndProject), merge application — runs on the DISTINCT
    * word table, i.e. is VOCABULARY-bounded, not corpus-bounded. That is
    * precisely how production BPE trainers survive 100 TB: they train on
    * the frequency table, never the text. The 1-row best pair broadcasts.
    *
    * Merge application is non-overlapping left-to-right `replace` on a
    * DOUBLE-delimited symbol string (each token wrapped '|tok|', so
    * back-to-back pair occurrences never share a matched delimiter —
    * replace-all IS exact greedy left-to-right BPE apply, including runs
    * like 'abab' and 'aaaa'), and the occurrence count falls out of pure
    * length arithmetic (each application deletes exactly two delimiter
    * chars), which both engines compute identically. */
  def bpeStep(spark: SparkSession, dir: String): DataFrame = {
    // materialize the vocabulary ONCE (it is tiny — distinct words); both
    // the pair-count arm and the merge-application arm read it, so the
    // corpus scan + word-count shuffle really do happen a single time
    val wf = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val ch = wf.withColumn("cs", expr("filter(split(word, ''), c -> c <> '')"))
    val pc = ch
      .select(col("freq"), explode(expr(
        """IF(size(cs) >= 2,
              transform(sequence(0, size(cs) - 2),
                        i -> struct(cs[i] AS a, cs[i + 1] AS b)),
              array())""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
    val best = pc.orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
      .select(col("a").as("ma"), col("b").as("mb"), col("cnt").as("pair_count"))
    ch.crossJoin(broadcast(best))
      .withColumn("padded", concat(lit("|"), array_join(col("cs"), "||"), lit("|")))
      .withColumn("occ", expr(
        """(length(padded) - length(
             replace(padded, concat('|', ma, '||', mb, '|'),
                             concat('|', ma, mb, '|')))) div 2"""))
      .groupBy(col("ma").as("merge_a"), col("mb").as("merge_b"), col("pair_count"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("freq") * size(col("cs"))).as("n_tokens_before"),
        sum(col("freq") * (size(col("cs")) - col("occ"))).as("n_tokens_after"))
  }

  val bpeStepOracleSql: String =
    """WITH wf AS (SELECT w AS word, count(*) AS freq
                   FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                   WHERE w <> '' GROUP BY 1),
       ch AS (SELECT word, freq, regexp_split_to_array(word, '') AS cs FROM wf),
       pr AS (SELECT cs[i] AS a, cs[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
              FROM ch, unnest(range(1, CAST(len(cs) AS BIGINT))) AS t(i)
              GROUP BY 1, 2),
       best AS (SELECT a AS ma, b AS mb, cnt AS pair_count
                FROM pr ORDER BY cnt DESC, a, b LIMIT 1),
       app AS (SELECT freq, len(cs) AS nb,
                      '|' || array_to_string(cs, '||') || '|' AS padded
               FROM ch)
       SELECT b.ma AS merge_a, b.mb AS merge_b, b.pair_count,
              count(*) AS n_vocab,
              CAST(sum(freq * nb) AS BIGINT) AS n_tokens_before,
              CAST(sum(freq * (nb - (length(padded)
                - length(replace(padded, '|' || b.ma || '||' || b.mb || '|',
                                         '|' || b.ma || b.mb || '|'))) // 2))
                   AS BIGINT) AS n_tokens_after
       FROM app CROSS JOIN best b
       GROUP BY 1, 2, 3"""

  /** BPE TRAINING LOOP — `k` iterations of [[bpeStep]]'s kernel, emitting
    * the learned MERGE TABLE (step, merge_a, merge_b, pair_count): the
    * actual artifact tokenizer training produces. Each iteration is one
    * vocabulary-bounded Spark job (pair counts → argmax → greedy apply);
    * the single driver-side transfer per step is the 1-row best pair —
    * the irreducible sequential dependency of BPE (merge i+1's counts
    * depend on merge i's application), exactly how production trainers
    * iterate. Symbols are double-delimited strings ('|tok|' per
    * token) so multi-char tokens from earlier merges survive later
    * splits AND back-to-back occurrences merge exactly like greedy
    * left-to-right BPE apply; the oracle replays the SAME k steps as k
    * unrolled CTE blocks in DuckDB. */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    var vocab = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(split(col("text"), " ", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit("|"), array_join(
        expr("filter(split(word, ''), c -> c <> '')"), "||"), lit("|")).as("padded"),
        col("freq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to k) {
      val best = vocab
        .select(col("freq"), expr(
          """filter(split(padded, '\\|'), t -> t <> '')""").as("cs"))
        .select(col("freq"), explode(expr(
          """IF(size(cs) >= 2,
                transform(sequence(0, size(cs) - 2),
                          i -> struct(cs[i] AS a, cs[i + 1] AS b)),
                array())""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
        .head() // 1 row to the driver per step: BPE's sequential dependency
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((step, a, b, cnt))
      vocab = vocab
        .withColumn("padded", expr(
          s"replace(padded, '|' || '${sqlEscape(a)}' || '||' || '${sqlEscape(b)}' || '|', " +
            s"'|' || '${sqlEscape(a)}${sqlEscape(b)}' || '|')"))
        .localCheckpoint()
    }
    merges.result()
      .toDF("step", "merge_a", "merge_b", "pair_count")
      .select(col("step").cast("long").as("step"),
        col("merge_a"), col("merge_b"), col("pair_count"))
  }

  private def sqlEscape(s: String): String = s.replace("'", "''")

  /** The identical `k` steps unrolled as CTE blocks: step i recomputes
    * pair counts over the step-(i−1) symbol strings, takes the same
    * (count desc, lexicographic) argmax, and applies the same greedy
    * replace — so the learned merge tables must agree row for row. */
  def bpeMergesOracleSql(k: Int = 3): String = {
    val base =
      """w0 AS (SELECT '|' || array_to_string(regexp_split_to_array(word, ''), '||') || '|' AS padded,
                       freq
                FROM (SELECT w AS word, count(*) AS freq
                      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                      WHERE w <> '' GROUP BY 1))"""
    val steps = (1 to k).map { i =>
      s"""p$i AS (SELECT cs[j] AS a, cs[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
                  FROM (SELECT freq, list_filter(string_split(padded, '|'), t -> t <> '') AS cs
                        FROM w${i - 1}),
                       unnest(range(1, CAST(len(cs) AS BIGINT))) AS t(j)
                  GROUP BY 1, 2),
          b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
          w$i AS (SELECT replace(padded, '|' || b$i.a || '||' || b$i.b || '|',
                                         '|' || b$i.a || b$i.b || '|') AS padded, freq
                  FROM w${i - 1} CROSS JOIN b$i)"""
    }.mkString(",\n")
    val rows = (1 to k)
      .map(i => s"SELECT $i AS step, a AS merge_a, b AS merge_b, cnt AS pair_count FROM b$i")
      .mkString("\n UNION ALL\n ")
    s"WITH $base,\n$steps\n $rows\n ORDER BY step"
  }

  /** LANG-ID CONFUSION matrix — the audit every classifier in the
    * curation loop needs: [[langId]]'s stopword-hit prediction crossed
    * against the declared label, one cell per (declared, predicted) with
    * doc counts and mean evidence strength. At 100 TB this is the daily
    * drift dashboard for the language router (a cell growing off the
    * diagonal = a crawl source shifted or the classifier broke); the
    * matrix is bounded by languages², so the aggregate is a tiny
    * partial-combined groupBy over the narrow per-doc scores. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("en_hits") + col("es_hits") + col("fr_hits")), 6)
          .as("avg_evidence"))

  val langConfusionOracleSql: String =
    """SELECT lang AS lang_declared,
              CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                   WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
                   WHEN fr_hits > 0 THEN 'fr'
                   ELSE 'und' END AS lang_pred,
              count(*) AS n_docs,
              round(avg(en_hits + es_hits + fr_hits), 6) AS avg_evidence
       FROM (
         SELECT lang,
                len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS en_hits,
                len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'de', 'que'))) AS es_hits,
                len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et', 'les'))) AS fr_hits
         FROM documents) t
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Per-document CHARACTER ENTROPY (bits/char) — the compression-style
    * gibberish detector next to [[docQuality]]'s ratio heuristics and
    * [[gopherRepetition]]'s n-gram screens: natural text sits ~4 bits,
    * keyboard mash and base64 blobs run high, single-char spam runs to 0.
    * Computed SHUFFLE-FREE as a pure per-row expression — split to a char
    * array, `array_distinct` for the alphabet, one `transform` for the
    * per-char counts, one `aggregate` fold for Σ c·log₂c, closed with
    * H = log₂n − (Σ c·log₂c)/n. No explode, no (doc, char) shuffle: at
    * 100 TB this runs as a narrow map over the corpus scan, where the
    * explode+groupBy formulation would shuffle ~40× the corpus row count.
    * The oracle recomputes the identical formula from a real char unnest,
    * so the HOF pipeline is pinned against a relational ground truth. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    // no fanOut: the shuffle-free plan is the pinned contract here
    // (TextAnalysisSpec) — the codegen expression's whole point is
    // scoring inline in the scan
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr("char_entropy(text)").as("p"))
      .select(col("doc_id"),
        col("p.n_distinct_chars").as("n_distinct_chars"),
        col("p.n_chars").as("n_chars_tok"),
        expr("round(p.entropy_bits, 6)").as("entropy_bits"))
  }

  /** The declarative HOF formulation of [[charEntropy]], kept as the
    * cross-check reference the spec pins the codegen expression against:
    * single-pass run-length fold over the SORTED chars (one lambda step
    * per character; the codegen expression replaces ~0.4 ms/doc of
    * interpreted lambda evaluation with one tight JVM loop). */
  private[graft] def charEntropyFold(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("chars", expr("filter(split(text, ''), c -> c <> '')"))
      .withColumn("fold", expr(
        """aggregate(
             array_sort(chars),
             named_struct('s', 0D, 'run', 0L, 'prev', '', 'k', 0L),
             (acc, c) -> IF(c = acc.prev,
               named_struct('s', acc.s, 'run', acc.run + 1L,
                            'prev', c, 'k', acc.k),
               named_struct(
                 's', acc.s + IF(acc.run > 0L, acc.run * log2(acc.run), 0D),
                 'run', 1L, 'prev', c, 'k', acc.k + 1L)),
             acc -> named_struct(
               's', acc.s + IF(acc.run > 0L, acc.run * log2(acc.run), 0D),
               'run', 0L, 'prev', '', 'k', acc.k))"""))
      .select(col("doc_id"),
        col("fold.k").as("n_distinct_chars"),
        size(col("chars")).cast("long").as("n_chars_tok"),
        expr("round(log2(size(chars)) - fold.s / size(chars), 6)")
          .as("entropy_bits"))

  val charEntropyOracleSql: String =
    """WITH chars AS (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
                      FROM documents),
         f AS (SELECT doc_id, c, count(*) AS cnt
               FROM chars WHERE c <> '' GROUP BY 1, 2)
       SELECT doc_id,
              count(*) AS n_distinct_chars,
              CAST(sum(cnt) AS BIGINT) AS n_chars_tok,
              round(log2(CAST(sum(cnt) AS DOUBLE))
                    - sum(cnt * log2(CAST(cnt AS DOUBLE))) / sum(cnt),
                    6) AS entropy_bits
       FROM f GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // Kneser-Ney smoothed bigram LM (absolute discounting + continuation)
  // ---------------------------------------------------------------------

  /** KNESER-NEY smoothed bigram scoring — the third rung of the
    * perplexity-proxy ladder above [[docLogProb]] (unigram) and
    * [[bigramLogProb]] (Jelinek-Mercer interpolation): absolute
    * discounting with the CONTINUATION-count unigram backoff,
    *
    *   P_kn(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *                 + D·N₁₊(w₁,·)/c(w₁·) · N₁₊(·,w₂)/B
    *
    * where N₁₊(w₁,·) = distinct continuations of w₁, N₁₊(·,w₂) = distinct
    * histories of w₂, and B = distinct bigram types — the backoff that
    * ranks "Francisco" low despite high raw frequency because it follows
    * only "San" (the standard KN motivation). Every history w₁ observed
    * in the corpus has c(w₁·) ≥ 1 and N₁₊(w₁,·) ≥ 1, so the smoothed
    * probability is strictly positive for every scored position.
    *
    * Scale shape: identical to [[bigramLogProb]] — two partial-aggregated
    * corpus passes (one checkpointed bigram explode reused by counts and
    * the final join), and ALL KN statistics (c(w₁·), both N₁₊ tables, B)
    * derive from the bigram TYPE table, which is vocabulary-sized, not
    * corpus-sized; its joins stay unhinted so AQE broadcasts from
    * measured size and degrades to shuffle joins at web-corpus
    * vocabulary. Per-doc sums accumulate exact DECIMAL(28,12). */
  def knLogProb(spark: SparkSession, dir: String,
                discount: Double = 0.75): DataFrame = {
    // the corpus-bigram stream feeds the type counts AND the final
    // per-doc join; the TYPE table feeds all four KN statistics — stage
    // both once
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(gramList(2)).as("bg"))) { bg =>
      Tables.withStaged(bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
          .withColumn("w1", expr("split(bg, ' ')[0]"))
          .withColumn("w2", expr("split(bg, ' ')[1]"))) { cbg =>
        val hist = cbg.groupBy("w1")
          .agg(sum(col("cbg")).as("ch"), count(lit(1)).as("n1f"))
        val cont = cbg.groupBy("w2").agg(count(lit(1)).as("n1b"))
        val btot = cbg.agg(count(lit(1)).as("btypes"))
        val ptab = cbg
          .join(hist, "w1")
          .join(cont, "w2")
          .crossJoin(btot)
          .select(col("bg"),
            log(greatest(col("cbg").cast("double") - lit(discount), lit(0.0))
                / col("ch")
              + (lit(discount) * col("n1f") / col("ch"))
                * (col("n1b").cast("double") / col("btypes")))
              .cast("decimal(28,12)").as("lp"))
        val out = bg.join(ptab, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("mean_logprob_kn"))
        Tables.materialize(out)
      }
    }
  }

  /** DuckDB oracle for [[knLogProb]] — same counts, same discount
    * formula spelled with the identical operation order, same exact
    * DECIMAL accumulation. */
  def knLogProbOracleSql(discount: Double = 0.75): String =
    s"""WITH bg AS (
         SELECT doc_id, unnest(
           CASE WHEN len(string_split(text, ' ')) >= 2
             THEN [array_to_string(string_split(text, ' ')[i : i + 1], ' ')
                   for i in range(1, len(string_split(text, ' ')))]
             ELSE CAST([] AS VARCHAR[]) END) AS bg
         FROM documents),
       cbg AS (SELECT bg, count(*) AS cbg,
                      string_split(bg, ' ')[1] AS w1,
                      string_split(bg, ' ')[2] AS w2
               FROM bg GROUP BY bg),
       hist AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS ch,
                       count(*) AS n1f
                FROM cbg GROUP BY w1),
       cont AS (SELECT w2, count(*) AS n1b FROM cbg GROUP BY w2),
       btot AS (SELECT count(*) AS btypes FROM cbg),
       p AS (SELECT cbg.bg,
                    CAST(ln(greatest(CAST(cbg.cbg AS DOUBLE) - $discount, 0.0)
                              / hist.ch
                            + ($discount * hist.n1f / hist.ch)
                              * (CAST(cont.n1b AS DOUBLE) / btot.btypes))
                      AS DECIMAL(28,12)) AS lp
             FROM cbg JOIN hist USING (w1) JOIN cont USING (w2)
             CROSS JOIN btot)
       SELECT doc_id, count(*) AS n_bigrams,
              round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logprob_kn
       FROM bg JOIN p USING (bg)
       GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // TF-IDF sparse cosine pairs (inverted-index sparse-vector similarity)
  // ---------------------------------------------------------------------

  /** TF-IDF SPARSE COSINE PAIRS — document similarity in TOKEN space,
    * the sparse-vector complement of the embedding-space ANN family
    * ([[graft.operators.Similarity]]): each document is the vector of
    * `count × ln(N/df)` weights over the df-bounded vocabulary
    * (2 ≤ df ≤ maxDf — df-1 tokens cannot contribute to any pair and
    * high-df tokens are stopword-like AND would blow the index fan-out,
    * so the FEATURE SPACE itself is df-capped, norms included: a defined
    * vector space, not a truncated dot product), and pairs above the
    * cosine threshold surface with their shared-term count.
    *
    * Scale shape: the dot products come from an inverted-index self-join
    * keyed by TOKEN (fan-out ≤ maxDf² per token — never all-pairs), the
    * norms from one partial-aggregated per-doc groupBy. Determinism: dot
    * and norm sums accumulate exact DECIMAL(28,12) per-term products, so
    * partial-aggregation order cannot move the rounded cosine; the
    * threshold applies to the RAW ratio in both engines. */
  def tfidfCosinePairs(spark: SparkSession, dir: String, maxDf: Int = 50,
                       threshold: Double = 0.5): DataFrame = {
    val tok = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val dfc = tok.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    Tables.withStaged(tok.join(dfc, "token").crossJoin(nDocs)
        .select(col("doc_id"), col("token"),
          (col("cnt") * log(col("n_docs").cast("double") / col("df"))).as("w"))) { w =>
      val norms = w.groupBy("doc_id")
        .agg(sqrt(sum((col("w") * col("w")).cast("decimal(28,12)"))
          .cast("double")).as("norm"))
      val dots = w.select(col("token"), col("doc_id").as("da"), col("w").as("wa"))
        .join(w.select(col("token"), col("doc_id").as("db"), col("w").as("wb")),
          Seq("token"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("n_shared_terms"),
          sum((col("wa") * col("wb")).cast("decimal(28,12)")).as("dot"))
      val out = dots
        .join(norms.select(col("doc_id").as("da"), col("norm").as("na")), "da")
        .join(norms.select(col("doc_id").as("db"), col("norm").as("nb")), "db")
        .withColumn("c_raw", col("dot").cast("double") / (col("na") * col("nb")))
        .filter(col("c_raw") >= threshold)
        .select(col("da"), col("db"), col("n_shared_terms"),
          round(col("c_raw"), 6).as("cosine"))
      Tables.materialize(out)
    }
  }

  /** DuckDB oracle for [[tfidfCosinePairs]] — same df-capped feature
    * space, same weight formula and operation order, same exact-decimal
    * accumulation, same raw-ratio threshold. */
  def tfidfCosinePairsOracleSql(maxDf: Int = 50,
                                threshold: Double = 0.5): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents),
       tc AS (SELECT doc_id, token, count(*) AS cnt
              FROM tok GROUP BY doc_id, token),
       dfc AS (SELECT token, count(*) AS df FROM tc GROUP BY token
               HAVING count(*) BETWEEN 2 AND $maxDf),
       nd AS (SELECT count(*) AS n_docs FROM documents),
       w AS (SELECT tc.doc_id, tc.token,
                    tc.cnt * ln(CAST(n_docs AS DOUBLE) / df) AS w
             FROM tc JOIN dfc USING (token) CROSS JOIN nd),
       nrm AS (SELECT doc_id,
                      sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE))
                        AS norm
               FROM w GROUP BY doc_id),
       dots AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       count(*) AS n_shared_terms,
                       sum(CAST(a.w * b.w AS DECIMAL(28,12))) AS dot
                FROM w a JOIN w b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
       SELECT da, db, n_shared_terms,
              round(CAST(dot AS DOUBLE) / (x.norm * y.norm), 6) AS cosine
       FROM dots JOIN nrm x ON x.doc_id = da JOIN nrm y ON y.doc_id = db
       WHERE CAST(dot AS DOUBLE) / (x.norm * y.norm) >= $threshold
       ORDER BY da, db"""

  // ---------------------------------------------------------------------
  // Zipf power-law fit — corpus-health statistic
  // ---------------------------------------------------------------------

  /** Least-squares fit of ln(freq) = intercept + slope·ln(rank) over the
    * top-`topN` token frequencies — the Zipf-law exponent. Natural text
    * sits near slope ≈ −1; a corpus whose slope drifts far from that
    * (template floods, boilerplate) fails the fit. One scalar row:
    * (n_points, slope, intercept, r2).
    *
    * Scale shape: frequency table is one shuffle; the top-N cut is
    * TakeOrdered (distributed heap, never a global sort of the vocab);
    * the window rank and OLS run over the N = $topN surviving rows only
    * — the driver/single-partition work is fit-panel-sized, not
    * vocab-sized. */
  def zipfFit(spark: SparkSession, dir: String, topN: Int = 100,
              minFreq: Long = 2L): DataFrame = {
    val freq = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minFreq)
      .orderBy(desc("n"), asc("token")).limit(topN)
    // rank over the already-cut N rows — the unpartitioned window is
    // deliberate and bounded (N rows), not a corpus-sized sort
    val w = org.apache.spark.sql.expressions.Window.orderBy(desc("n"), asc("token"))
    val pts = freq.withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val slope = covar_pop(col("y"), col("x")) / var_pop(col("x"))
    pts.agg(
      count(lit(1)).as("n_points"),
      round(slope, 6).as("slope"),
      round(avg(col("y")) - slope * avg(col("x")), 6).as("intercept"),
      round(corr(col("x"), col("y")) * corr(col("x"), col("y")), 6).as("r2"))
  }

  /** DuckDB oracle for [[zipfFit]] — identical tie-broken ranking and
    * the same population-moment OLS arithmetic. */
  def zipfFitOracleSql(topN: Int = 100, minFreq: Long = 2L): String =
    s"""WITH f AS (SELECT token, count(*) AS n
                   FROM (SELECT unnest(string_split(text, ' ')) AS token
                         FROM documents) t
                   GROUP BY token HAVING count(*) >= $minFreq),
       r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank
             FROM f),
       pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
               FROM r WHERE rank <= $topN)
       SELECT CAST(count(*) AS BIGINT) AS n_points,
              round(covar_pop(y, x) / var_pop(x), 6) AS slope,
              round(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), 6) AS intercept,
              round(corr(x, y) * corr(x, y), 6) AS r2
       FROM pts"""
}
