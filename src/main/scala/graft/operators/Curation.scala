package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}

/** [EXT] Training-data curation operators over `documents`: deterministic
  * hash sampling and token-budget sequence packing — the two selection/
  * layout steps every large-scale LLM data pipeline runs between cleaning
  * and training.
  *
  * Both are fully deterministic (no RNG), so the DuckDB oracle reproduces
  * them bit-for-bit — which is also the production argument: a 100 TB
  * pipeline must be re-runnable, and a task retry must select the SAME
  * sample and build the SAME packs, which Bernoulli RNG sampling and
  * order-dependent packing do not guarantee.
  */
object Curation {

  /** Deterministic p% sample keyed on a stable id: keep documents whose
    * 32-bit md5 prefix of `doc_id` lands under `pct` mod 100. This is the
    * reproducible alternative to `df.sample()`: membership depends only
    * on the id, so it is stable across retries, partitionings, and Spark
    * versions, and the same construction with disjoint ranges yields
    * consistent train/validation/test splits. Embarrassingly parallel —
    * a pure filter, no shuffle, fully pushed into the scan pipeline. */
  def sampleByHash(spark: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < pct)
  }

  /** DuckDB oracle for [[sampleByHash]] (strpos arithmetic stands in for
    * conv(); same 32-bit md5 prefix, same modulus). */
  def sampleByHashOracleSql(pct: Int = 10): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
         FROM documents) t
       WHERE ($hexToLong) % 100 < $pct
       ORDER BY doc_id"""
  }

  /** Stratified (per-group) deterministic sample — the domain-mixing
    * quota step: the `perGroup` documents per language whose id-hash
    * ranks lowest. Ordering by md5(doc_id) makes the within-group pick
    * uniform-random-but-reproducible (same retry-stability argument as
    * [[sampleByHash]]); the quota makes the mix across domains explicit
    * instead of whatever the corpus happens to contain.
    *
    * Scale shape: rank-filter windows compile to `WindowGroupLimit`
    * (plan-verified on the IVF argmax), so each input partition forwards
    * at most `perGroup` rows per group to the final per-group task — the
    * low group cardinality (languages/domains) never funnels the corpus
    * through a handful of tasks. */
  def stratifiedSample(spark: SparkSession, dir: String, perGroup: Int = 20): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perGroup)
      .select("doc_id", "lang", "n_chars")
  }

  /** DuckDB oracle for [[stratifiedSample]] (lowercase-hex md5 orders
    * identically under ASCII collation in both engines). */
  def stratifiedSampleOracleSql(perGroup: Int = 20): String =
    s"""SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                row_number() OVER (PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents) t
       WHERE rk <= $perGroup ORDER BY doc_id"""

  /** FIXED-SIZE deterministic uniform sample — the train/val carveout
    * primitive: the `k` documents whose id-hash ranks lowest, i.e. a
    * uniform-without-replacement draw that is reproducible across runs
    * and engines (same id → same hash → same rank). Unlike a percentage
    * sample the output size is exact.
    *
    * Scale shape: ORDER BY hash LIMIT k compiles to
    * TakeOrderedAndProject — per-partition top-k heaps, only k rows to
    * the driver side of the exchange, never a global sort of the
    * corpus. */
  def sampleFixed(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "n_chars")

  /** DuckDB oracle for [[sampleFixed]] — lowercase-hex md5 ordering is
    * identical under ASCII collation in both engines. */
  def sampleFixedOracleSql(k: Int = 100): String =
    s"""SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars
         FROM documents
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $k) t
       ORDER BY doc_id"""

  /** CORPUS FINGERPRINT — the dataset-versioning primitive: one row of
    * order-independent content digests (row count, token total, and a
    * SUM of per-document 32-bit md5 prefixes over id‖text) that changes
    * if any document is added, dropped, or edited. Pipelines stamp this
    * on every staged artifact so a re-run can prove it trained on the
    * same corpus. Sum-based (commutative) rather than concatenation-
    * based, so the digest is independent of partitioning and row order —
    * the only aggregation shape that is stable under distributed
    * execution.
    *
    * Scale shape: one narrow scan, one 1-row partial aggregate. */
  def corpusFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
          .cast("long").as("h"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ", -1))).as("n_tokens"),
        sum(col("h")).as("content_digest"))

  /** DuckDB oracle for [[corpusFingerprint]] — same md5 prefix, same
    * commutative sum. */
  val corpusFingerprintOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""SELECT count(*) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
              CAST(sum($hexToLong) AS BIGINT) AS content_digest
       FROM (SELECT text,
                    substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
             FROM documents) t"""
  }

  /** TEMPERATURE (α=0.5) source mixing — the multilingual/source
    * re-weighting every pretraining mix runs: low-resource groups are
    * UP-weighted relative to their share by sampling group g with
    * probability ∝ n_g^α instead of n_g, here α = 1/2. The whole
    * computation is INTEGER arithmetic (weights = ⌊√n_g⌋, targets by
    * integer division, keep-test on a 32-bit id-hash residue) so the
    * oracle is bit-exact — no float sum whose accumulation order could
    * differ between engines. Per-group output: corpus count, weight,
    * integer target, and how many docs the deterministic hash rule kept
    * (CurationSpec asserts kept ≈ target and the up-weighting
    * direction).
    *
    * Scale shape: one partial-aggregated groupBy for the counts (group
    * cardinality = languages, tiny), a broadcast join of the per-group
    * thresholds back onto the corpus scan, and a final partial-agg — the
    * corpus is touched by exactly one narrow pass, no corpus-sized
    * shuffle, same as [[sampleByHash]]. */
  def temperatureSample(spark: SparkSession, dir: String,
                        targetPct: Int = 30): DataFrame = {
    require(targetPct >= 0 && targetPct <= 100, s"targetPct in [0,100], got $targetPct")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .withColumn("w_l", floor(sqrt(col("n_l").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("n_l")).as("n_total"), sum(col("w_l")).as("w_total"))
    val targets = counts.crossJoin(broadcast(tot))
      .withColumn("t_l", expr(s"n_total * $targetPct div 100 * w_l div w_total"))
      .select("lang", "n_l", "w_l", "t_l")
    docs
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .join(broadcast(targets), "lang")
      .groupBy("lang")
      .agg(first(col("n_l")).as("n_docs"),
        first(col("w_l")).as("weight"),
        first(col("t_l")).as("n_target"),
        sum(when(col("h") * col("n_l") < col("t_l") * 1000000L, 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** DuckDB oracle for [[temperatureSample]] — identical integer
    * arithmetic (// mirrors div, left-associative), same md5 residue. */
  def temperatureSampleOracleSql(targetPct: Int = 30): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH c AS (SELECT lang, count(*) AS n_l,
                          CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_l
                   FROM documents GROUP BY lang),
       tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_total,
                      CAST(sum(w_l) AS BIGINT) AS w_total FROM c),
       tl AS (SELECT lang, n_l, w_l,
                     n_total * $targetPct // 100 * w_l // w_total AS t_l
              FROM c CROSS JOIN tot),
       h AS (SELECT lang, ($hexToLong) % 1000000 AS h
             FROM (SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
                   FROM documents) t)
       SELECT tl.lang, tl.n_l AS n_docs, tl.w_l AS weight, tl.t_l AS n_target,
              CAST(sum(CASE WHEN h.h * tl.n_l < tl.t_l * 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM h JOIN tl ON h.lang = tl.lang
       GROUP BY tl.lang, tl.n_l, tl.w_l, tl.t_l
       ORDER BY tl.lang"""
  }

  /** Token-budget sequence packing: documents in stable `doc_id` order are
    * laid greedily into packs of at most ~`budget` tokens (a document
    * starts a new pack when the running total would cross a budget
    * boundary) — the standard layout step before writing fixed-context
    * training shards. Output is one row per pack.
    *
    * Scale shape: the naive formulation is a GLOBAL ordered cumulative
    * sum — an unpartitioned window, i.e. every row through ONE task. This
    * implementation is the textbook distributed prefix-sum instead:
    * per-range token totals (one shuffle to ~n/rangeSize rows) are
    * prefix-summed on the driver (metadata-scale, like a parquet footer
    * read), then each range computes its LOCAL ordered cumsum in parallel
    * and adds its broadcast offset. Rows never funnel through one task.
    *
    * `rangeSize` 0 (the default) self-scales as max(1000, idSpan/1000) —
    * the driver collect is then bounded at ~1000 rows at ANY corpus size
    * (10^9 docs → 1000 ranges of 10^6 docs), derived from the parquet
    * max(doc_id) statistic, one metadata-scale action. The packing result
    * is identical for every rangeSize; only the decomposition changes. */
  def tokenPack(spark: SparkSession, dir: String, budget: Long = 512,
                rangeSize: Long = 0): DataFrame =
    packTokens(spark, Tables.documents(spark, dir), budget, rangeSize)

  /** [[tokenPack]] over an arbitrary (doc_id, text, …) frame — the reuse
    * point for composed pipelines packing a FILTERED corpus. */
  private[graft] def packTokens(spark: SparkSession, docs: DataFrame,
                                budget: Long, rangeSize: Long): DataFrame = {
    import spark.implicits._
    // Stage the NARROW (doc_id, n_tokens) projection once: the range-size
    // probe, the per-range totals, and the final window otherwise each
    // re-run the caller's scan + filter chain (three splits of `text` per
    // row in the curation pipeline) — three corpus passes for one packing.
    Tables.withStaged(docs.select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))) { t0 =>
      // coalesce: max over an EMPTY frame is null (a filter chain keeping
      // zero docs must yield an empty pack list, not an NPE)
      val rs =
        if (rangeSize > 0) rangeSize
        else math.max(1000L,
          (t0.agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0) + 1) / 1000L)
      val t = t0.withColumn("rk", expr(s"doc_id div $rs"))
      // Per-range totals → driver prefix sum. The collect is over ~1000 rows
      // (NOT the corpus) — the documented metadata-scale exception.
      val totals = t.groupBy("rk").agg(sum("n_tokens").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offsets = totals.map { case (rk, s) => val o = acc; acc += s; (rk, o) }
      val offDf = offsets.toSeq.toDF("rk", "off")
      val w = Window.partitionBy("rk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.materialize(t.join(broadcast(offDf), "rk")
        .withColumn("cum", sum(col("n_tokens")).over(w) + col("off"))
        .withColumn("pack_id", expr(s"CAST((cum - n_tokens) div $budget AS BIGINT)"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens")))
    }
  }

  /** Train/eval DECONTAMINATION — the overlap check every serious
    * pretraining pipeline runs before training: flag corpus documents
    * sharing any `k`-gram with a benchmark/eval set, so evaluation data
    * leaking into the training corpus is caught instead of inflating
    * scores. The benchmark here is the deterministic `pct`% id-hash slice
    * (standing in for an external eval suite; the operator only needs its
    * n-gram set). Output: (doc_id, n_shared) for every non-benchmark doc
    * sharing ≥1 distinct k-gram.
    *
    * Scale shape: eval suites are megabytes while the corpus is 100 TB —
    * so the benchmark's distinct k-gram set is BROADCAST and the corpus
    * side is one narrow scan + broadcast-hash semi-join + partial-agg
    * count. No corpus-sized shuffle; cost is linear in corpus tokens. */
  def contamination(spark: SparkSession, dir: String, pct: Int = 10,
                    k: Int = 8): DataFrame = {
    // The contamination VERDICT is a staged artifact like the dedup
    // stores: q_decontam, the pruned corpus, and the training-record
    // capstone all consume it, and each was re-running the corpus-wide
    // k-gram explode. First caller persists (doc_id, n_shared); later
    // dedup/curation queries in the process read the parquet — the
    // production flow, where decontamination runs once per benchmark
    // release, not once per consumer.
    val path = Artifacts.ensure(s"contam-${dir.replace('/', '_')}-p$pct-k$k") {
      tmp => computeContamination(spark, dir, pct, k)
        .write.mode("overwrite").parquet(tmp.resolve("contam").toString)
    }
    spark.read.parquet(path.resolve("contam").toString)
      .select("doc_id", "n_shared")
  }

  private[graft] def computeContamination(spark: SparkSession, dir: String, pct: Int,
                                   k: Int): DataFrame = {
    val isBench =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < pct
    val grams = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), isBench.as("is_bench"),
        explode(Dedup.shingleSetK(k)).as("ng"))
    val bench = grams.filter(col("is_bench")).select("ng").distinct()
    grams.filter(!col("is_bench"))
      .join(broadcast(bench), "ng")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** DuckDB oracle for [[contamination]] (same id-hash split as
    * [[sampleByHashOracleSql]], same k-gram construction as the dedup
    * oracles). count(*) per doc counts DISTINCT shared grams because the
    * per-doc gram list is already deduplicated. */
  def contaminationOracleSql(pct: Int = 10, k: Int = 8): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH h AS (SELECT doc_id, text, ($hexToLong) % 100 < $pct AS is_bench
                   FROM (SELECT doc_id, text,
                                substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
                         FROM documents) t),
       g AS (SELECT doc_id, is_bench, unnest(list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= $k
                 THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                       for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
                 ELSE CAST([] AS VARCHAR[]) END)) AS ng
             FROM h),
       bench AS (SELECT DISTINCT ng FROM g WHERE is_bench)
       SELECT g.doc_id, count(*) AS n_shared
       FROM g JOIN bench USING (ng)
       WHERE NOT g.is_bench
       GROUP BY g.doc_id ORDER BY g.doc_id"""
  }

  /** The WHOLE curation flow as one declarative plan — quality filter →
    * deterministic hash sample → token-budget packing, the
    * clean-select-layout sequence a pretraining pipeline runs between
    * raw corpus and training shards. Both filters are predicates INSIDE
    * the scan (no quality-table join, no shuffle before packing), so
    * Catalyst fuses scan+filters into one narrow pass and only the
    * pack's range aggregation shuffles — at 100 TB the whole selection
    * step is embarrassingly parallel. */
  def curationPipeline(spark: SparkSession, dir: String, samplePct: Int = 50,
                       budget: Long = 512): DataFrame = {
    val kept = Tables.fanOut(Tables.documents(spark, dir))
      .filter(TextAnalysis.qualityKeepExpr)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < samplePct)
      .select("doc_id", "text")
    packTokens(spark, kept, budget, 0)
  }

  /** DuckDB oracle for [[curationPipeline]]: the same composed predicate
    * chain, then the single-cumsum packing reference. */
  def curationPipelineOracleSql(samplePct: Int = 50, budget: Long = 512): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH scored AS (
         SELECT doc_id, text, n_chars,
                len(string_split(text, ' ')) AS n_tokens,
                round(CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS sr,
                round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / len(string_split(text, ' ')), 6) AS ttr,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
         FROM documents),
       kept AS (
         SELECT doc_id, n_tokens FROM scored
         WHERE n_chars BETWEEN 50 AND 2000 AND sr <= 0.5 AND ttr >= 0.05
           AND ($hexToLong) % 100 < $samplePct),
       c AS (SELECT doc_id, n_tokens,
                    sum(n_tokens) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
             FROM kept)
       SELECT CAST((cum - n_tokens) // $budget AS BIGINT) AS pack_id,
              count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       FROM c GROUP BY 1 ORDER BY pack_id"""
  }

  /** DuckDB oracle for [[tokenPack]]: the same packing as ONE global
    * ordered cumsum (fine at oracle scale; the operator's range/offset
    * decomposition computes the identical cum values). */
  def tokenPackOracleSql(budget: Long = 512): String =
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                   FROM documents),
       c AS (SELECT doc_id, n_tokens,
                    sum(n_tokens) OVER (ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
             FROM t)
       SELECT CAST((cum - n_tokens) // $budget AS BIGINT) AS pack_id,
              count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       FROM c GROUP BY 1 ORDER BY pack_id"""

  /** Boilerplate mining — the k-grams shared by the most documents
    * (headers, footers, templated spans): per-doc DISTINCT k-grams
    * ([[Dedup.shingleSetK]], shared with decontamination and the dedup
    * oracles) → count docs per gram → keep grams in ≥ `minDocs` docs →
    * top `top` by support. The mined list feeds a boilerplate-strip pass
    * (broadcast anti-join, same shape as [[contamination]] reversed).
    *
    * Scale shape: per-doc dedup happens inside the gram expression (no
    * pre-shuffle explode of repeats), the gram count partial-aggregates
    * map-side, and the top-k is TakeOrderedAndProject — per-partition
    * heaps, only `top` rows to the driver, no global sort. Full
    * (n_docs DESC, ng ASC) tie-break keeps the cut deterministic. */
  private[graft] def mineCommonNgrams(spark: SparkSession, dir: String, k: Int = 8,
                                      minDocs: Int = 2, top: Int = 20): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(Dedup.shingleSetK(k)).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(desc("n_docs"), asc("ng"))
      .limit(top)

  /** The mined set persisted once per (corpus, parameters) and read by
    * every downstream use — the same staged-artifact flow as the dedup
    * signature store (a nightly mining job writes the list; scoring and
    * stripping jobs read it instead of re-scanning the corpus). Tiny
    * (`top` rows), built via the shared per-key [[Artifacts.ensure]]
    * latch, atomically moved into place, removed at process exit. */
  private def ensureMinedNgrams(spark: SparkSession, dir: String, k: Int,
                                minDocs: Int, top: Int): String =
    Artifacts.ensure(s"ngrams-${dir.replace('/', '_')}-k$k-m$minDocs-t$top") {
      tmp => mineCommonNgrams(spark, dir, k, minDocs, top)
        .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("ngrams").toString)
    }.resolve("ngrams").toString

  /** [[mineCommonNgrams]] served from the per-process store (built on
    * first use); every caller in the same run reads the artifact. */
  def commonNgrams(spark: SparkSession, dir: String, k: Int = 8,
                   minDocs: Int = 2, top: Int = 20): DataFrame =
    spark.read.parquet(ensureMinedNgrams(spark, dir, k, minDocs, top))

  /** The decontamination story's final artifact (mirrors the dedup
    * pipeline's pruned corpus): the TRAINING slice — every non-benchmark
    * document minus those sharing any k-gram with the benchmark. The
    * contaminated-doc list is tiny (ids only), so it broadcasts and the
    * prune is one narrow corpus scan + broadcast LEFT ANTI — no corpus
    * shuffle, same shape as [[graft.operators.Dedup.dedupedCorpus]]. */
  def decontaminatedCorpus(spark: SparkSession, dir: String, pct: Int = 10,
                           k: Int = 8): DataFrame = {
    val isBench =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < pct
    val contaminated = contamination(spark, dir, pct, k).select("doc_id")
    Tables.documents(spark, dir)
      .filter(!isBench)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  /** DuckDB oracle for [[decontaminatedCorpus]] — the contamination CTE
    * chain, inverted: non-bench docs with zero shared grams. */
  def decontaminatedCorpusOracleSql(pct: Int = 10, k: Int = 8): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH h AS (SELECT doc_id, lang, n_chars, text,
                          ($hexToLong) % 100 < $pct AS is_bench
                   FROM (SELECT doc_id, lang, n_chars, text,
                                substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
                         FROM documents) t),
       g AS (SELECT doc_id, is_bench, unnest(list_distinct(
               CASE WHEN len(string_split(text, ' ')) >= $k
                 THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                       for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
                 ELSE CAST([] AS VARCHAR[]) END)) AS ng
             FROM h),
       bench AS (SELECT DISTINCT ng FROM g WHERE is_bench),
       bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (ng)
               WHERE NOT g.is_bench)
       SELECT doc_id, lang, n_chars FROM h
       WHERE NOT is_bench AND doc_id NOT IN (SELECT doc_id FROM bad)
       ORDER BY doc_id"""
  }

  /** Vocabulary build + out-of-vocabulary rate — the tokenizer-prep
    * profile: the top-`vocabSize` tokens by corpus frequency (full
    * (freq DESC, token ASC) tie-break so the cut is deterministic)
    * become the vocabulary; the OOV rate is the fraction of token
    * OCCURRENCES falling outside it. Two passes, both scale-shaped:
    * the vocab is a partial-aggregated token count + TakeOrdered top-k
    * (tiny, broadcasts); the rate is one narrow re-scan + broadcast
    * semi-join flag + single global sum — no corpus shuffle. */
  def vocabOov(spark: SparkSession, dir: String,
               vocabSize: Int = 25): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(split(col("text"), " ", -1)).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left_outer")
      .select(col("in_vocab").isNull.cast("long").as("oov"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(col("oov")).as("oov_tokens"),
        round(sum(col("oov")).cast("double") / count(lit(1)), 6).as("oov_rate"))
  }

  def vocabOovOracleSql(vocabSize: Int = 25): String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         vocab AS (SELECT token FROM (
             SELECT token, count(*) AS freq FROM toks GROUP BY token
             ORDER BY freq DESC, token ASC LIMIT $vocabSize) t)
       SELECT count(*) AS total_tokens,
              CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS oov_tokens,
              round(CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS oov_rate
       FROM toks LEFT JOIN vocab USING (token)"""

  /** The second half of the boilerplate loop: score every document by the
    * fraction of its distinct k-grams that land in the mined top set
    * ([[commonNgrams]]) — the per-doc signal a strip/filter pass keys on.
    * The mined set is `top` rows, so it BROADCASTS at any corpus scale
    * (same asymmetry argument as [[contamination]]); the corpus side is
    * one narrow scan + broadcast semi-join + partial-agg count. Short
    * docs (< k tokens) have zero grams and score 0 by definition. */
  def boilerplateScore(spark: SparkSession, dir: String, k: Int = 8,
                       minDocs: Int = 2, top: Int = 20): DataFrame = {
    // ONE k-gram construction pass: the exploded gram frame carries a hit
    // flag from a broadcast left join against the (staged) mined set, so
    // per-doc gram count and boilerplate count come out of the same
    // aggregate — the old shape built the gram arrays a second time just
    // to take their size. Docs with zero grams (shorter than k tokens)
    // never reach the explode; a narrow doc_id-only scan restores them.
    val mined = commonNgrams(spark, dir, k, minDocs, top).select("ng")
    val perDoc = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(Dedup.shingleSetK(k)).as("ng"))
      .join(broadcast(mined.withColumn("hit", lit(1L))), Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
    Tables.documents(spark, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("int").as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_boiler"), lit(0L)).cast("double")
            / col("n_grams"), 6)).as("boiler_ratio"))
  }

  /** DuckDB oracle for [[boilerplateScore]] — rebuilds the mined set with
    * the same support threshold, cut, and tie-break. */
  def boilerplateScoreOracleSql(k: Int = 8, minDocs: Int = 2, top: Int = 20): String =
    s"""WITH g AS (SELECT doc_id, list_distinct(
           CASE WHEN len(string_split(text, ' ')) >= $k
             THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                   for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
             ELSE CAST([] AS VARCHAR[]) END) AS gl
         FROM documents),
       ex AS (SELECT doc_id, unnest(gl) AS ng FROM g),
       mined AS (SELECT ng FROM (
           SELECT ng, count(*) AS n_docs FROM ex GROUP BY ng
           HAVING count(*) >= $minDocs
           ORDER BY n_docs DESC, ng ASC LIMIT $top) t),
       hit AS (SELECT doc_id, count(*) AS n_boiler
               FROM ex JOIN mined USING (ng) GROUP BY doc_id)
       SELECT g.doc_id, len(gl) AS n_grams,
              coalesce(n_boiler, 0) AS n_boiler,
              CASE WHEN len(gl) = 0 THEN 0.0
                   ELSE round(CAST(coalesce(n_boiler, 0) AS DOUBLE) / len(gl), 6)
              END AS boiler_ratio
       FROM g LEFT JOIN hit ON g.doc_id = hit.doc_id
       ORDER BY g.doc_id"""

  /** DuckDB oracle for [[commonNgrams]] — same list-comprehension k-gram
    * construction as [[contaminationOracleSql]]. */
  def commonNgramsOracleSql(k: Int = 8, minDocs: Int = 2, top: Int = 20): String =
    s"""WITH g AS (SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(string_split(text, ' ')) >= $k
             THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                   for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
             ELSE CAST([] AS VARCHAR[]) END)) AS ng
         FROM documents)
       SELECT ng, count(*) AS n_docs
       FROM g GROUP BY ng HAVING count(*) >= $minDocs
       ORDER BY n_docs DESC, ng ASC LIMIT $top"""

  /** The CAPSTONE record assembly — the final corpus a training run
    * actually reads, with every curation stage fused: a document survives
    * iff it (1) passes the quality rule, (2) is a near-dup KEEPER (or
    * unclustered — read from the persisted cluster artifact), and (3) is
    * neither benchmark-slice nor decontaminated away. One narrow
    * documents scan with the quality predicate pushed into it, then two
    * id-keyed joins against the (tiny) loser and contaminated sets —
    * broadcast-able at any corpus scale because both sets shrink with
    * quality, not grow with the corpus. This is the query that proves
    * the stages COMPOSE: its oracle chains the recursive cluster
    * closure, the decontamination CTEs, and the quality predicate into
    * one statement. */
  def trainingRecords(spark: SparkSession, dir: String, pct: Int = 10,
                      k: Int = 8): DataFrame = {
    // subtract the TINY exclusion sets from one corpus scan: near-dup
    // LOSERS (from the persisted cluster artifact) and CONTAMINATED docs
    // both shrink with duplication/overlap, not grow with the corpus, so
    // each is a broadcast LEFT ANTI; bench-slice membership and quality
    // are pure predicates inside the scan
    val losers = Dedup.nearDupClusters(spark, dir)
      .filter(!col("is_keeper")).select("doc_id")
    val contaminated = contamination(spark, dir, pct, k).select("doc_id")
    val isBench =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100 < pct
    Tables.fanOut(Tables.documents(spark, dir))
      .filter(TextAnalysis.qualityKeepExpr)
      .filter(!isBench)
      .join(broadcast(losers), Seq("doc_id"), "left_anti")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ", -1)).as("n_tokens"))
  }

  /** DuckDB oracle for [[trainingRecords]] — the cluster closure, the
    * decontamination chain, and the quality predicate in one recursive
    * statement (CTE names are disjoint across the fragments). */
  def trainingRecordsOracleSql(pct: Int = 10, k: Int = 8): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    val quality =
      """d.n_chars BETWEEN 50 AND 2000
         AND round(CAST(len(list_filter(string_split(d.text, ' '),
               t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
             / len(string_split(d.text, ' ')), 6) <= 0.5
         AND round(CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
             / len(string_split(d.text, ' ')), 6) >= 0.05"""
    s"""WITH RECURSIVE ${Dedup.clusterCtes(0.95, Dedup.DefaultMinBands,
          Dedup.DefaultEstJaccard, 1, Dedup.NumBands, Dedup.RowsPerBand)},
       losers AS (SELECT doc_id FROM lbl WHERE doc_id <> cluster_id),
       h AS (SELECT doc_id, lang, source, n_chars, text,
                    ($hexToLong) % 100 < $pct AS is_bench
             FROM (SELECT doc_id, lang, source, n_chars, text,
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
                   FROM documents) t),
       cg AS (SELECT doc_id, is_bench, unnest(list_distinct(
                CASE WHEN len(string_split(text, ' ')) >= $k
                  THEN [array_to_string(string_split(text, ' ')[i : i + ${k - 1}], ' ')
                        for i in range(1, len(string_split(text, ' ')) - ${k - 1} + 1)]
                  ELSE CAST([] AS VARCHAR[]) END)) AS ng
              FROM h),
       cbench AS (SELECT DISTINCT ng FROM cg WHERE is_bench),
       contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN cbench USING (ng)
                        WHERE NOT cg.is_bench)
       SELECT d.doc_id, d.lang, d.source, d.n_chars,
              len(string_split(d.text, ' ')) AS n_tokens
       FROM h d
       WHERE NOT d.is_bench
         AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
         AND d.doc_id NOT IN (SELECT doc_id FROM losers)
         AND $quality
       ORDER BY d.doc_id"""
  }

  /** KEYED MERGE/UPSERT — incremental corpus maintenance: a daily crawl
    * re-ingests documents, updating the ones whose `doc_id` already
    * exists and inserting the new ones, as ONE native plan. This is the
    * production heir of the reference's re-run INSERT-SELECT
    * (`dag-knlp.py:65-80`, re-executed monthly into an append-only
    * table): append-only accumulates stale versions; upsert converges.
    *
    * The delta batch is synthesized deterministically from the corpus so
    * the DuckDB oracle can rebuild it: revisions for every doc_id ≡ 0
    * (mod 7) (text gains a ` [rev2]` suffix) and brand-new documents for
    * every doc_id ≡ 3 (mod 13) (re-keyed past the id space). The merge is
    * a FULL OUTER join on the key with delta-wins coalesce — exactly the
    * plan a MERGE INTO compiles to when both matched and not-matched arms
    * are present. Each output row carries its action tag and the md5 of
    * the post-merge text, so the oracle pins every row of the merged
    * corpus, not just an aggregate.
    *
    * Scale shape: ONE shuffle of each side on the key (a keyed upsert
    * cannot broadcast — every corpus key must meet its delta key), then a
    * narrow coalesce projection. At 100 TB the corpus side is the
    * dominant cost and is exactly why production tables keep the corpus
    * BUCKETED by doc_id ([[graft.operators.Bucketing]]): then only the
    * (small) delta shuffles and the merge reads co-located buckets. */
  /** The deterministic delta batch shared by the batch merge and its
    * streaming twin ([[graft.streaming.StreamingOps]] `streamUpsert`):
    * revisions for doc_id ≡ 0 (mod 7), fresh documents for
    * doc_id ≡ 3 (mod 13) re-keyed past the id space. Columns
    * (doc_id, text, lang, source) — each key appears at most once. */
  private[graft] def corpusDelta(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    val updates = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"),
        col("lang"), col("source"))
    val inserts = base.filter(col("doc_id") % 13 === 3)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("[new] "), col("text")).as("text"),
        col("lang"), col("source"))
    updates.unionByName(inserts)
  }

  def corpusMerge(spark: SparkSession, dir: String): DataFrame =
    mergeInto(
      Tables.documents(spark, dir).select("doc_id", "text", "lang", "source"),
      corpusDelta(spark, dir))

  /** Delta-wins keyed merge of full document rows — the TEXT-level merge
    * kernel: full-outer join on doc_id, every column coalesced delta-first.
    * Shared by the snapshot builder (which digests its output) and the
    * merge property tests (idempotence: applying a delta twice equals
    * once; split-application: applying a delta in key-disjoint halves
    * equals applying it at once — the algebra that makes the streaming
    * micro-batched upsert land on the batch merge). */
  private[graft] def mergeTexts(base: DataFrame, delta: DataFrame): DataFrame = {
    val d = delta.select(col("doc_id").as("d_id"), col("text").as("d_text"),
      col("lang").as("d_lang"), col("source").as("d_source"))
    base.join(d, col("doc_id") === col("d_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("d_id")).as("doc_id"),
        coalesce(col("d_text"), col("text")).as("text"),
        coalesce(col("d_lang"), col("lang")).as("lang"),
        coalesce(col("d_source"), col("source")).as("source"))
  }

  /** The merge kernel shared by [[corpusMerge]] (plain corpus scan — both
    * sides shuffle) and [[corpusMergeBucketed]] (bucketed corpus — only
    * the delta shuffles): full-outer join on the key, delta-wins
    * coalesce, per-row action tag + post-merge digest. */
  private def mergeInto(base: DataFrame, deltaRaw: DataFrame): DataFrame = {
    val delta = deltaRaw
      .select(col("doc_id").as("d_id"), col("text").as("d_text"),
        col("lang").as("d_lang"), col("source").as("d_source"))
    base.join(delta, col("doc_id") === col("d_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("d_id")).as("doc_id"),
        when(col("doc_id").isNull, "insert")
          .when(col("d_id").isNull, "keep")
          .otherwise("update").as("action"),
        coalesce(col("d_lang"), col("lang")).as("lang"),
        md5(coalesce(col("d_text"), col("text"))).as("fp"))
  }

  /** [[corpusMerge]] against a corpus laid out BUCKETED by the merge key —
    * the shape a production 100 TB table actually keeps (the merge
    * Scaladoc's "bucketed store" claim, made concrete): the bucketed scan
    * already satisfies the join's hash partitioning, so the physical plan
    * shuffles ONLY the delta (one Exchange, delta-side — plan-asserted in
    * CurationSpec). At scale that turns the dominant merge cost — the
    * corpus-side shuffle — into a layout property paid once at ingest,
    * identical to [[Bucketing.bucketedLineitemOrderJoin]]'s story. Same
    * result, same oracle as the plain merge. */
  def corpusMergeBucketed(spark: SparkSession, dir: String): DataFrame =
    mergeInto(spark.table(ensureBucketedDocs(spark, dir)),
      corpusDelta(spark, dir))

  /** Stage `documents` as a table bucketed+sorted by doc_id (idempotent
    * per session+corpus via [[Bucketing.ensureStagedTable]]'s latch;
    * Bench pre-builds it as `bucketed_docs`) and return the table name. */
  def ensureBucketedDocs(spark: SparkSession, dir: String): String = {
    val name = Bucketing.taggedName("documents_bucketed", dir)
    Bucketing.ensureStagedTable(spark, dir, name) {
      Tables.documents(spark, dir).select("doc_id", "text", "lang", "source")
        .write.mode("overwrite")
        .bucketBy(16, "doc_id").sortBy("doc_id")
        .saveAsTable(name)
    }
  }

  /** SNAPSHOT VERSIONING — the reproducibility half of corpus
    * maintenance: each merge produces a NEW immutable snapshot instead of
    * mutating the old one, so yesterday's training run can re-read
    * yesterday's bytes (time travel) while today's reads the merged
    * corpus. v=0 is the pre-merge corpus, v=1 the post-merge result of
    * [[corpusMerge]]'s delta, both staged as digest-projected parquet
    * under one root with Hive-style `v=` partition dirs — so ONE
    * partitioned scan serves any version (partition pruning gives
    * time travel for free) and the emitted per-version
    * (n_docs, content_digest) profile is the proof that the snapshots
    * differ exactly by the delta. Digests use the same order-independent
    * 32-bit-md5-prefix sum as [[corpusFingerprint]].
    *
    * Scale shape: snapshots store doc_id + digest (not the text — the
    * corpus lives once; snapshots are manifests), the profile is one
    * narrow scan + a 2-group aggregate. */
  def ensureSnapshots(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"snapshots-${dir.replace('/', '_')}") { tmp =>
      def h(id: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column) =
        conv(substring(md5(concat_ws("|", id, text)), 1, 8), 16, 10).cast("long")
      val base = Tables.documents(spark, dir).select("doc_id", "text", "lang", "source")
      base.select(col("doc_id"), h(col("doc_id"), col("text")).as("h"))
        .write.mode("overwrite").parquet(tmp.resolve("v=0").toString)
      mergeTexts(base, corpusDelta(spark, dir))
        .select(col("doc_id"), h(col("doc_id"), col("text")).as("h"))
        .write.mode("overwrite").parquet(tmp.resolve("v=1").toString)
    }.toString

  /** Per-version (n_docs, content_digest) profile over the snapshot root
    * — one partitioned scan, two groups. */
  def snapshotVersions(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureSnapshots(spark, dir)
    spark.read.option("basePath", root).parquet(s"$root/v=0", s"$root/v=1")
      .groupBy("v")
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("content_digest"))
  }

  /** DuckDB oracle for [[snapshotVersions]] — v0 straight from the table,
    * v1 from the same full-outer merge CTE, same commutative digest. */
  val snapshotVersionsOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH delta AS (
          SELECT doc_id, text || ' [rev2]' AS text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 100000, '[new] ' || text FROM documents WHERE doc_id % 13 = 3),
        merged AS (
          SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
                 coalesce(d.text, b.text) AS text
          FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id)
        SELECT v, n_docs, content_digest FROM (
          SELECT 0 AS v, count(*) AS n_docs, CAST(sum($hexToLong) AS BIGINT) AS content_digest
          FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                FROM documents) t0
          UNION ALL
          SELECT 1 AS v, count(*) AS n_docs, CAST(sum($hexToLong) AS BIGINT) AS content_digest
          FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                FROM merged) t1) z
        ORDER BY v"""
  }

  /** SNAPSHOT DIFF — the audit half of snapshot versioning: what changed
    * between corpus versions, answered from the MANIFESTS alone (doc_id +
    * content digest), never touching the text. A data-versioning system
    * serves "what did yesterday's merge do?" this way — diffing two
    * digest manifests is metadata-scale work even when the corpus is
    * 100 TB. Output: (status, n_docs) over added / removed / changed /
    * unchanged (absent statuses — removed, for this insert/update delta —
    * simply emit no row).
    *
    * Scale shape: one full-outer join of two narrow (doc_id, h) manifests
    * on doc_id + a 4-group aggregate; the shuffle is manifest-sized, and
    * digest inequality stands in for text comparison. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureSnapshots(spark, dir)
    val v0 = spark.read.parquet(s"$root/v=0").select(col("doc_id"), col("h").as("h0"))
    val v1 = spark.read.parquet(s"$root/v=1").select(col("doc_id"), col("h").as("h1"))
    v0.join(v1, Seq("doc_id"), "full_outer")
      .select(when(col("h0").isNull, "added")
        .when(col("h1").isNull, "removed")
        .when(col("h0") === col("h1"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
  }

  /** DuckDB oracle for [[snapshotDiff]] — the same delta CTE, the same
    * per-version digests, the same full-outer status rules. */
  val snapshotDiffOracleSql: String = {
    def hexToLong(col: String) = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr($col, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH delta AS (
          SELECT doc_id, text || ' [rev2]' AS text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 100000, '[new] ' || text FROM documents WHERE doc_id % 13 = 3),
        merged AS (
          SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
                 coalesce(d.text, b.text) AS text
          FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id),
        v0 AS (SELECT doc_id, ${hexToLong("h8")} AS h FROM
                 (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                  FROM documents) t0),
        v1 AS (SELECT doc_id, ${hexToLong("h8")} AS h FROM
                 (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                  FROM merged) t1)
        SELECT status, count(*) AS n_docs FROM (
          SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.h = b.h THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM v0 a FULL OUTER JOIN v1 b ON a.doc_id = b.doc_id) t
        GROUP BY status ORDER BY status"""
  }

  // ---------------------------------------------------------------------
  // Two-writer isolation: optimistic concurrent commit
  // ---------------------------------------------------------------------

  /** Latest committed version under a `v=<n>`-layout store root. Listing
    * the directory is the version discovery every table format does from
    * its log — metadata-scale, never data-scale. */
  private def latestVersion(root: java.nio.file.Path): Int = {
    val s = java.nio.file.Files.list(root)
    try {
      var latest = -1
      s.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v=")) latest = math.max(latest, name.drop(2).toInt)
      }
      latest
    } finally s.close()
  }

  /** Optimistic concurrent commit — the table-format commit protocol
    * ([[ensureSnapshots]] gives immutable versions; THIS arbitrates who
    * writes the next one). Each writer: (1) reads the latest committed
    * manifest, (2) builds its successor with `build`, (3) stages it to a
    * temp dir under the root, (4) ATOMIC-renames the stage to
    * `v=<latest+1>`. The FILESYSTEM rename is the arbiter — exactly one
    * concurrent writer can create a given version slot; the loser's
    * rename fails, and it REBASES: re-reads the new latest (now
    * containing the winner's rows) and recomputes before retrying. The
    * result is serializable version history — no lost updates — which is
    * what Redshift arbitrated invisibly for the reference's concurrently
    * re-run monthly INSERT-SELECT (dag-knlp.py:378-383). On an object
    * store the same loop runs against a conditional PUT / log append.
    * Returns the version this writer committed. */
  private[graft] def commitNext(spark: SparkSession, root: java.nio.file.Path,
                                maxAttempts: Int = 20)
                               (build: DataFrame => DataFrame): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val latest = latestVersion(root)
      require(latest >= 0, s"store at $root has no committed version")
      val cur = spark.read.parquet(root.resolve(s"v=$latest").toString)
      val next = build(cur)
      val stage = java.nio.file.Files.createTempDirectory(root, ".stage-")
      val stagedData = stage.resolve("data")
      next.write.mode("overwrite").parquet(stagedData.toString)
      try {
        java.nio.file.Files.move(stagedData, root.resolve(s"v=${latest + 1}"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.deleteIfExists(stage)
        return latest + 1
      } catch {
        case _: java.nio.file.FileSystemException =>
          // lost the race for this slot — discard the stage and rebase
          Artifacts.deleteTree(stage)
      }
    }
    throw new IllegalStateException(s"commit did not land in $maxAttempts attempts")
  }

  /** Manifest digest column: the order-independent 32-bit-md5-prefix of
    * (doc_id, text) shared with [[ensureSnapshots]]. */
  private def manifestH(id: org.apache.spark.sql.Column,
                        text: org.apache.spark.sql.Column) =
    conv(substring(md5(concat_ws("|", id, text)), 1, 8), 16, 10).cast("long")

  /** TWO CONCURRENT WRITERS racing real merges onto one versioned store,
    * surfaced as an oracle-checked query: writer A upserts revisions
    * (doc_id % 7 → " [w1]"), writer B inserts new documents
    * (doc_id % 11 = 5 → id+200000), both through [[commitNext]] from two
    * JVM threads against a fresh store whose v=0 is the corpus manifest.
    * WHICH writer lands v=1 is nondeterministic; the INVARIANTS are not:
    * exactly 3 contiguous versions exist, and rebase makes the final
    * state the serial composition of both deltas (key-disjoint, so
    * order-commutative) — that final profile is what the oracle checks.
    * Manifests are (doc_id, h) — snapshots are metadata, the text lives
    * once ([[ensureSnapshots]]'s principle). */
  def concurrentCommit(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(Artifacts.root, "vstore-")
    val base = Tables.documents(spark, dir)
    base.select(col("doc_id"), manifestH(col("doc_id"), col("text")).as("h"))
      .write.mode("overwrite").parquet(root.resolve("v=0").toString)
    val deltaA = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        manifestH(col("doc_id"), concat(col("text"), lit(" [w1]"))).as("h"))
    val deltaB = base.filter(col("doc_id") % 11 === 5)
      .select((col("doc_id") + 200000L).as("doc_id"),
        manifestH(col("doc_id") + 200000L, concat(lit("[w2] "), col("text"))).as("h"))
    val writers = Seq(deltaA, deltaB).map { delta =>
      val t = new Thread(() => {
        commitNext(spark, root) { cur =>
          val d = delta.select(col("doc_id").as("d_id"), col("h").as("d_h"))
          cur.join(d, col("doc_id") === col("d_id"), "full_outer")
            .select(coalesce(col("doc_id"), col("d_id")).as("doc_id"),
              coalesce(col("d_h"), col("h")).as("h"))
        }
        ()
      })
      t.start(); t
    }
    writers.foreach(_.join())
    val versions = (0 to latestVersion(root))
      .map(v => root.resolve(s"v=$v")).filter(java.nio.file.Files.exists(_))
    val finalV = versions.size - 1
    spark.read.parquet(root.resolve(s"v=$finalV").toString)
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("content_digest"))
      .select(lit(versions.size.toLong).as("n_versions"),
        lit(finalV.toLong).as("final_version"),
        col("n_docs"), col("content_digest"))
  }

  /** DuckDB oracle for [[concurrentCommit]] — the serial composition of
    * both writers' deltas over the corpus manifest. The commit protocol
    * guarantees the racing execution converges on exactly this. */
  val concurrentCommitOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH merged AS (
          SELECT doc_id, text || ' [w1]' AS text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
          UNION ALL
          SELECT doc_id + 200000, '[w2] ' || text FROM documents WHERE doc_id % 11 = 5)
        SELECT CAST(3 AS BIGINT) AS n_versions, CAST(2 AS BIGINT) AS final_version,
               count(*) AS n_docs, CAST(sum($hexToLong) AS BIGINT) AS content_digest
        FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
              FROM merged) t"""
  }

  /** DuckDB oracle for [[corpusMerge]] — the same delta CTE and the same
    * full-outer merge. */
  val corpusMergeOracleSql: String =
    """WITH delta AS (
         SELECT doc_id, text || ' [rev2]' AS text, lang, source
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id + 100000, '[new] ' || text, lang, source
         FROM documents WHERE doc_id % 13 = 3)
       SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
              CASE WHEN b.doc_id IS NULL THEN 'insert'
                   WHEN d.doc_id IS NULL THEN 'keep'
                   ELSE 'update' END AS action,
              coalesce(d.lang, b.lang) AS lang,
              md5(coalesce(d.text, b.text)) AS fp
       FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id
       ORDER BY doc_id"""

  /** CDC OP-LOG APPLY — the Debezium-shaped ingestion path of corpus
    * maintenance: where [[corpusMerge]] takes one reconciled delta batch,
    * a change-data-capture feed delivers an ORDERED log of
    * insert/update/delete ops, several of which can hit the same key, and
    * the engine must converge on latest-op-wins with deletes erasing the
    * row. Applied as ONE aggregate: union base (version 0) with the op
    * log and take `max_by(payload, version)` per key — two-phase partial
    * aggregation (physically a partial SortAggregate per map task, the
    * struct buffer keeps it off the hash path), so each map task ships
    * ONE (payload, version) pair per key into the single shuffle. A
    * row_number window would shuffle and retain EVERY op row per key
    * before discarding all but one — at 100 TB the difference between
    * shuffling the op log and shuffling its keys. Deletes survive to the
    * aggregate as
    * tombstone payloads and are filtered after it — the only correct
    * order, since a late tombstone must beat earlier updates.
    *
    * The log is synthesized deterministically so the DuckDB oracle can
    * replay it: v1 revises doc_id ≡ 0 (mod 7), v2 inserts fresh docs for
    * doc_id ≡ 3 (mod 13), v3 re-revises doc_id ≡ 0 (mod 11) (beats v1 on
    * keys divisible by 77), v4 deletes doc_id ≡ 5 (mod 17) (beats any
    * earlier update). Each key appears at most once per version, so
    * latest-op-wins is unambiguous. */
  /** The versioned op LOG applied by [[cdcApply]] and replayed by the
    * streaming twin (`q_stream_cdc`): v1 U, v2 I, v3 U, v4 D — each key
    * at most once per version, synthesized from the corpus so the DuckDB
    * oracle can rebuild it. Excludes the version-0 base. */
  private[graft] def cdcOpLog(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text", "lang")
    cdcOp(base.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" [u1]"))), 1, "U")
      .unionByName(cdcOp(base.filter(col("doc_id") % 13 === 3)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("[new] "), col("text")).as("text"), col("lang")), 2, "I"))
      .unionByName(cdcOp(base.filter(col("doc_id") % 11 === 0)
        .withColumn("text", concat(col("text"), lit(" [u3]"))), 3, "U"))
      .unionByName(cdcOp(base.filter(col("doc_id") % 17 === 5)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang")), 4, "D"))
  }

  private def cdcOp(df: DataFrame, v: Int, o: String): DataFrame =
    df.select(col("doc_id"), lit(v).as("v"), lit(o).as("op"),
      col("text"), col("lang"))

  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select("doc_id", "text", "lang")
    val ops = cdcOp(base, 0, "K").unionByName(cdcOpLog(spark, dir))
    ops.groupBy("doc_id")
      .agg(max_by(struct(col("op"), col("text"), col("lang")), col("v")).as("last"))
      .filter(col("last.op") =!= "D")
      .select(col("doc_id"), col("last.op").as("action"),
        col("last.lang").as("lang"), md5(col("last.text")).as("fp"))
  }

  val cdcApplyOracleSql: String =
    """WITH ops AS (
         SELECT doc_id, 0 AS v, 'K' AS op, text, lang FROM documents
         UNION ALL
         SELECT doc_id, 1, 'U', text || ' [u1]', lang FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id + 200000, 2, 'I', '[new] ' || text, lang FROM documents WHERE doc_id % 13 = 3
         UNION ALL
         SELECT doc_id, 3, 'U', text || ' [u3]', lang FROM documents WHERE doc_id % 11 = 0
         UNION ALL
         SELECT doc_id, 4, 'D', NULL, NULL FROM documents WHERE doc_id % 17 = 5)
       SELECT doc_id, op AS action, lang, md5(text) AS fp
       FROM (SELECT ops.*, row_number() OVER (PARTITION BY doc_id ORDER BY v DESC) AS rn
             FROM ops) t
       WHERE rn = 1 AND op <> 'D'
       ORDER BY doc_id"""

  /** BLOCKLIST safety filter — the term-quarantine pass every training
    * corpus runs (toxicity/safety lists, contractual exclusions): a
    * document containing ANY blocked token is quarantined, reported per
    * source so a contaminated feed is visible as a block-rate spike. The
    * membership test is one codegen'd `arrays_overlap` against a literal
    * array — at 100 TB the real list (thousands of terms) broadcasts or
    * compiles into the same narrow per-row predicate; no shuffle until
    * the tiny per-source rollup. The list here is deterministic corpus
    * vocabulary so the oracle reproduces the decision exactly. */
  def blocklistFilter(spark: SparkSession, dir: String,
                      blocked: Seq[String] = DefaultBlocklist): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("hit",
        arrays_overlap(split(col("text"), " ", -1),
          array(blocked.map(lit): _*)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(col("hit"), 0L).otherwise(1L)).as("n_kept"))

  // 'dup' marks ~5% of docs at every sf — a realistic quarantine rate
  // (the other vocabulary tokens blanket ~75% of the corpus each)
  private val DefaultBlocklist = Seq("dup")

  def blocklistFilterOracleSql(blocked: Seq[String] = DefaultBlocklist): String = {
    val list = blocked.map(t => s"'$t'").mkString(", ")
    s"""SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN list_has_any(string_split(text, ' '), [$list])
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
               CAST(sum(CASE WHEN list_has_any(string_split(text, ' '), [$list])
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        FROM documents GROUP BY source ORDER BY source"""
  }

  // ---------------------------------------------------------------------
  // PII redaction
  // ---------------------------------------------------------------------

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{4}\\b"
  private val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII REDACTION — the compliance pass every web-scale corpus runs
    * before training: emails, phone numbers, and IPv4 addresses are
    * replaced by typed placeholders and the scrub is audited (per-type
    * match counts + a content digest of the redacted corpus, so a
    * re-run can prove the SAME scrub shipped). The synthetic corpus
    * contains no PII, so the query first plants deterministic fixtures
    * derived from `doc_id` (every 7th doc an email, 11th a phone, 13th
    * an IP) — the oracle replants the identical strings, making the
    * redaction itself the thing under test rather than the planting.
    *
    * Scale shape: one narrow scan — concat, three codegen'd
    * `regexp_extract_all`/`regexp_replace` passes, and a 1-row partial
    * aggregate. No shuffle, no UDF; the regexes are Java-compiled once
    * per task. The digest is the [[corpusFingerprint]] commutative-sum
    * construction, so it is independent of partitioning and row order. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"), lit("."),
          expr("(doc_id div 7) % 256").cast("string"), lit(" host")))
        .otherwise(lit(""))).as("text"))
    val red = planted.select(
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("ne"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("np"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("ni"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>").as("redacted"))
    red.agg(
      sum(when(col("ne") + col("np") + col("ni") > 0, 1L).otherwise(0L)).as("n_docs_pii"),
      sum(col("ne").cast("long")).as("n_emails"),
      sum(col("np").cast("long")).as("n_phones"),
      sum(col("ni").cast("long")).as("n_ips"),
      sum(conv(substring(md5(col("redacted")), 1, 8), 16, 10).cast("long"))
        .as("redacted_digest"))
  }

  /** DuckDB oracle for [[piiRedact]] — identical planting expressions,
    * identical regexes (both engines compile these patterns to the same
    * semantics), identical replace order, same commutative digest. */
  val piiRedactOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH planted AS (
         SELECT doc_id, text
           || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                     || CAST((doc_id // 7) % 256 AS VARCHAR) || ' host' ELSE '' END
           AS text
         FROM documents),
       red AS (
         SELECT
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS ne,
           len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b')) AS np,
           len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS ni,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
         FROM planted)
       SELECT CAST(count(*) FILTER (ne + np + ni > 0) AS BIGINT) AS n_docs_pii,
              CAST(sum(ne) AS BIGINT) AS n_emails,
              CAST(sum(np) AS BIGINT) AS n_phones,
              CAST(sum(ni) AS BIGINT) AS n_ips,
              CAST(sum($hexToLong) AS BIGINT) AS redacted_digest
       FROM (SELECT ne, np, ni, substr(md5(redacted), 1, 8) AS h8 FROM red) t"""
  }

  // ---------------------------------------------------------------------
  // Line-level (block) exact dedup
  // ---------------------------------------------------------------------

  /** LINE-LEVEL EXACT DEDUP (C4-style) — the sub-document twin of
    * [[graft.operators.Dedup]]'s whole-document dedup: boilerplate
    * (navigation bars, license headers, cookie banners) repeats ACROSS
    * documents that are not themselves duplicates, so production corpora
    * drop every repeated LINE, keeping only its first occurrence. The
    * synthetic corpus has no newlines, so "line" here is each
    * consecutive `block`-word window (non-overlapping), which exercises
    * the identical plan shape. Emits the corpus-level audit a curation
    * run reports: total blocks, distinct blocks, instances that would be
    * removed (non-first by global (doc_id, position) order), documents
    * touched, and words deleted.
    *
    * Scale shape: one narrow explode (no pre-shuffle), then ONE
    * corpus-sized shuffle partitioned by block text for the
    * first-occurrence window — the same content-keyed exchange exact
    * dedup pays, with dup groups tiny by nature so the per-group sort is
    * O(dups). Every audit number then derives from keeper ARITHMETIC
    * (each distinct block contributes exactly one rn=1 keeper, so
    * distinct = total − removed) via a per-doc partial aggregate — no
    * `countDistinct`, whose two-distinct Expand plan would triple the
    * exploded corpus through the aggregate. The two downstream exchanges
    * move doc-count-sized rows, not blocks. */
  def lineDedup(spark: SparkSession, dir: String, block: Int = 10): DataFrame = {
    val rk = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("words"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(words) >= $block THEN
              transform(sequence(0, CAST(size(words) / $block AS INT) - 1),
                        j -> array_join(slice(words, j * $block + 1, $block), ' '))
            ELSE array() END""")))
      .toDF("doc_id", "block_idx", "block")
      .withColumn("rn", row_number().over(
        Window.partitionBy("block").orderBy("doc_id", "block_idx")))
    rk.groupBy("doc_id").agg(
        count(lit(1)).as("nb"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("nr"))
      .agg(
        sum(col("nb")).as("total_blocks"),
        (sum(col("nb")) - sum(col("nr"))).as("distinct_blocks"),
        sum(col("nr")).as("removed_blocks"),
        sum(when(col("nr") > 0, 1L).otherwise(0L)).as("docs_affected"),
        (sum(col("nr")) * block).as("words_removed"))
  }

  /** DuckDB oracle for [[lineDedup]] — same blocks, same first-occurrence
    * rank, same aggregates. */
  def lineDedupOracleSql(block: Int = 10): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       blk AS (
         SELECT doc_id, j AS block_idx,
                array_to_string(words[j * $block + 1 : j * $block + $block], ' ') AS block
         FROM w, unnest(range(0, CAST(len(words) // $block AS BIGINT))) AS t(j)),
       rk AS (
         SELECT doc_id, block,
                row_number() OVER (PARTITION BY block ORDER BY doc_id, block_idx) AS rn
         FROM blk)
       SELECT count(*) AS total_blocks,
              count(DISTINCT block) AS distinct_blocks,
              CAST(count(*) FILTER (rn > 1) AS BIGINT) AS removed_blocks,
              CAST(count(DISTINCT doc_id) FILTER (rn > 1) AS BIGINT) AS docs_affected,
              CAST(count(*) FILTER (rn > 1) * $block AS BIGINT) AS words_removed
       FROM rk"""

  // ---------------------------------------------------------------------
  // Sliding-window chunking
  // ---------------------------------------------------------------------

  /** SLIDING-WINDOW CHUNKER — the retrieval/embedding prep step: split
    * each document into `width`-token windows every `stride` tokens
    * (50% overlap at the defaults) so no boundary-spanning passage is
    * lost to a hard cut. Trailing windows shorter than `minTok` are
    * dropped except chunk 0, so every document yields at least one
    * chunk. Emits (doc_id, chunk_idx, n_tokens, chunk_md5) — the digest
    * stands in for the chunk text a real pipeline would ship to the
    * embedder.
    *
    * Scale shape: pure narrow map (split → bounded transform → explode →
    * hash), zero shuffles before the presentation sort; the per-doc
    * fan-out is ⌈len/stride⌉, bounded by document length. This is the
    * shape that feeds [[graft.operators.Similarity]]'s ANN stages at
    * 100 TB — chunking and embedding-prep must not cost an exchange. */
  def chunkSliding(spark: SparkSession, dir: String, width: Int = 50,
                   stride: Int = 25, minTok: Int = 10, k: Int = 200): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("words"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST((size(words) + ${stride - 1}) / $stride AS INT) - 1),
                      j -> slice(words, j * $stride + 1, $width))""")))
      .toDF("doc_id", "chunk_idx", "chunk")
      .where(col("chunk_idx") === 0 || size(col("chunk")) >= minTok)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx").limit(k)

  /** DuckDB oracle for [[chunkSliding]] — same windows, same keep rule,
    * same digest; (doc_id, chunk_idx) is a key so the LIMIT is
    * deterministic under the shared sort. */
  def chunkSlidingOracleSql(width: Int = 50, stride: Int = 25,
                            minTok: Int = 10, k: Int = 200): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       c AS (
         SELECT doc_id, j AS chunk_idx,
                len(words[j * $stride + 1 : j * $stride + $width]) AS n_tokens,
                md5(array_to_string(words[j * $stride + 1 : j * $stride + $width], ' ')) AS chunk_md5
         FROM w, unnest(range(0, (CAST(len(words) AS BIGINT) + ${stride - 1}) // $stride)) AS t(j)
         WHERE j = 0 OR len(words[j * $stride + 1 : j * $stride + $width]) >= $minTok)
       SELECT doc_id, chunk_idx, CAST(n_tokens AS BIGINT) AS n_tokens, chunk_md5
       FROM c ORDER BY doc_id, chunk_idx LIMIT $k"""

  // ---------------------------------------------------------------------
  // Duplicated-passage spans (exact substring-level dedup signal)
  // ---------------------------------------------------------------------

  /** DUPLICATED-PASSAGE SPANS — the exact substring-dedup signal (the
    * "deduplicating training data" passage detector): every `k`-token
    * window is fingerprinted at its position; windows whose fingerprint
    * occurs ≥2 times ANYWHERE in the corpus (other docs or a repeat in
    * the same doc) mark their token range as duplicated; per document the
    * overlapping ranges are merged into maximal spans and the covered
    * token count / fraction emitted — the quality signal used to trim
    * boilerplate passages that whole-doc MinHash (too coarse) and
    * [[lineDedup]]'s fixed blocks (alignment-sensitive) both miss.
    *
    * Scale shape: the position-gram stream is corpus-token-sized and
    * flows through ONE count aggregate + one semi-join back — the sorted-
    * fingerprint approach published for exact substring dedup, with the
    * hash-shuffle standing in for the suffix-array sort. The span merge
    * is a per-document window (state bounded by doc length, partitioned
    * by doc_id — embarrassingly parallel across the corpus). */
  def dupSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    // The positional gram table feeds both the dup census and the span
    // join. No persist (ADVICE r16: the r16 MEMORY_AND_DISK staging here
    // held corpus-token-sized blocks for the session lifetime, and at
    // 100 TB would spill a gram table LARGER than the corpus): each
    // consumer streams its own (fanned-out, parallel) explode pass —
    // two cheap map passes instead of one pass plus a corpus-sized
    // materialization, and nothing stays cached on return. A/B at
    // sf0.1/32 cores: staged 1.78 s (suite) vs unstaged 1.78/1.41 s
    // (Scratch warm reps) — same or better, with zero storage footprint.
    val grams = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ", -1).as("words"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(words) >= $k THEN
              transform(sequence(0, size(words) - $k),
                        j -> md5(array_join(slice(words, j + 1, $k), ' ')))
            ELSE array() END""")))
      .toDF("doc_id", "pos", "gram")
    val dup = grams.groupBy("gram")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = grams.join(dup.select("gram"), Seq("gram"), "left_semi")
      // running max of span ends strictly BEFORE this row: a window whose
      // start lies inside it extends the current merged span
      .withColumn("prev_end", max(col("pos") + (k - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newg",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("gid", sum(col("newg"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "gid")
      .agg((max(col("pos")) - min(col("pos")) + k).cast("long").as("covered"))
      .groupBy("doc_id")
      .agg(sum(col("covered")).as("dup_tokens"), count(lit(1)).as("n_spans"))
    val out = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_fraction"))
    // nothing staged, nothing cached: the returned frame recomputes from
    // the shared (reused) gram exchange per action, so repeated calls
    // accumulate no storage (ADVICE r16)
    out
  }

  /** DuckDB oracle for [[dupSpans]] — same position grams, same ≥2 rule,
    * same window-merge of overlapping ranges. */
  def dupSpansOracleSql(k: Int = 8): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       g AS (SELECT doc_id, j AS pos,
                    md5(array_to_string(words[j + 1 : j + $k], ' ')) AS gram
             FROM w, unnest(range(0, greatest(CAST(len(words) AS BIGINT) - $k + 1, 0))) AS t(j)),
       dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       dp AS (SELECT doc_id, pos FROM g SEMI JOIN dupg USING (gram)),
       m AS (SELECT doc_id, pos,
               max(pos + ${k - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             FROM dp),
       grp AS (SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
               FROM m),
       spans AS (SELECT doc_id, gid, max(pos) - min(pos) + $k AS covered
                 FROM grp GROUP BY doc_id, gid),
       per_doc AS (SELECT doc_id, CAST(sum(covered) AS BIGINT) AS dup_tokens,
                          count(*) AS n_spans
                   FROM spans GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
              coalesce(p.dup_tokens, 0) AS dup_tokens,
              coalesce(p.n_spans, 0) AS n_spans,
              round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE)
                    / len(string_split(d.text, ' ')), 6) AS dup_fraction
       FROM documents d LEFT JOIN per_doc p USING (doc_id)
       ORDER BY d.doc_id"""

  // ---------------------------------------------------------------------
  // Score-ranked selection (distributed total-order rank / prefix sum)
  // ---------------------------------------------------------------------

  /** The per-document LM score table ([[TextAnalysis.docLogProb]]) as a
    * staged artifact — CCNet-style pipelines score the corpus ONCE and
    * every selection pass reads the persisted column, so the ranked
    * queries below time their selection, not a rescore (Bench pre-builds
    * this as `lm_scores`). */
  private[graft] def ensureLmScores(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"lmscores-${dir.replace('/', '_')}") { tmp =>
      TextAnalysis.docLogProb(spark, dir)
        .write.mode("overwrite").parquet(tmp.resolve("scores").toString)
    }.resolve("scores").toString

  /** The corpus LM-scored ([[TextAnalysis.docLogProb]]) and given a
    * GLOBAL total-order rank and running token sum over
    * (mean_logprob DESC, doc_id ASC) — the shared kernel under
    * [[perplexityBuckets]] and [[tokenBudgetSelect]].
    *
    * Scale shape: the naive formulation is an unpartitioned window —
    * every row through ONE task. This is the [[packTokens]] distributed
    * prefix-sum instead, transposed to SCORE order: range-shuffle on the
    * sort key, per-partition (count, token-sum) totals collected at
    * partition cardinality (32 rows — metadata-scale, NOT the corpus),
    * prefix-summed on the driver, broadcast back, and each partition
    * ranks/cumsums locally in parallel. The checkpoint pins the range
    * placement so the totals and the final pass see the SAME partitions
    * (rank itself is boundary-invariant — the order is total since
    * doc_id is unique — but the per-pid offsets must describe the frame
    * they join). The local rank/cumsum is a per-partition ITERATOR fold
    * (`mapPartitions` — the sanctioned imperative case) rather than a
    * pid-keyed window: the checkpointed scan reports no output
    * partitioning, so a window would re-Exchange the frame it is
    * already partitioned like; the fold keeps the whole pass to ONE
    * range shuffle. Returns (ranked frame, n docs, total tokens). */
  private def rankedByScore(spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    import spark.implicits._
    val order = Seq(col("mean_logprob").desc, col("doc_id").asc)
    val parts = spark.sessionState.conf.numShufflePartitions
    val ranged = spark.read.parquet(ensureLmScores(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("mean_logprob"))
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val totals = ranged.groupBy("pid")
      .agg(count(lit(1)).as("c"), sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var nAcc = 0L; var tAcc = 0L
    val offs = totals.map { case (p, c, t) =>
      val row = (p, nAcc, tAcc); nAcc += c; tAcc += t; row
    }
    val offDf = offs.toSeq.toDF("pid", "rank_off", "tok_off")
    val local = ranged.as[(Long, Long, Double, Int)]
      .mapPartitions { it =>
        var rk = 0L; var cum = 0L
        it.map { case (id, nt, s, pid) =>
          rk += 1; cum += nt; (id, nt, s, pid, rk, cum)
        }
      }
      .toDF("doc_id", "n_tokens", "mean_logprob", "pid", "lrank", "lcum")
    val ranked = local.join(broadcast(offDf), "pid")
      .withColumn("rank", col("lrank") + col("rank_off"))
      .withColumn("cum_tokens", col("lcum") + col("tok_off"))
    (ranked, nAcc, tAcc)
  }

  /** PERPLEXITY BUCKETING — the CCNet partition: rank every document by
    * LM score (best first) and split the corpus into head / middle /
    * tail TERTILES; downstream mixes train mostly on head+middle and
    * sample the tail. Buckets follow standard SQL `ntile` semantics
    * (sizes differ by at most one, larger buckets first) computed
    * ARITHMETICALLY from the distributed rank — no global window.
    * Output: one row per bucket with doc/token mass and mean score
    * (DECIMAL-summed, so the average is partitioning-independent). */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, n, _) = rankedByScore(spark, dir)
    val q = n / 3
    val r = n % 3
    // ntile(3): bucket b has q+1 rows for b ≤ r, else q rows
    val bucket =
      if (q == 0) col("rank")
      else expr(s"""CASE WHEN rank <= ${r * (q + 1)}
                         THEN (rank - 1) DIV ${q + 1}
                         ELSE $r + (rank - ${r * (q + 1)} - 1) DIV $q
                    END + 1""")
    ranked.withColumn("b", bucket)
      .groupBy("b")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(col("mean_logprob").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_logprob"))
      .select(
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("n_tokens"), col("avg_logprob"))
  }

  /** DuckDB oracle for [[perplexityBuckets]] — same scores, `ntile(3)`
    * over the same total order, same DECIMAL mean. */
  val perplexityBucketsOracleSql: String =
    s"""WITH ${TextAnalysis.docLogProbCtes},
       nt AS (SELECT n_tokens, mean_logprob,
                     ntile(3) OVER (ORDER BY mean_logprob DESC, doc_id ASC) AS b
              FROM lp)
       SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
              count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              round(CAST(sum(CAST(mean_logprob AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) AS avg_logprob
       FROM nt GROUP BY b ORDER BY b"""

  /** TOKEN-BUDGET SELECTION — "fill half the token budget with the best
    * documents": the greedy quality-per-token selection a data-
    * constrained training run makes when it cannot afford the whole
    * corpus. Documents ranked by LM score (best first, doc_id
    * tie-break); the selection is the longest prefix of that order whose
    * running token total stays within the budget (⌊total/2⌋ here).
    * Deterministic — a re-run selects the identical corpus slice.
    *
    * Scale shape: rank and running sum come from the [[rankedByScore]]
    * distributed prefix pattern (no single-task window), the budget is
    * derived from the SAME 32-row driver totals (no extra pass), and the
    * final filter is embarrassingly parallel. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val (ranked, _, totalTokens) = rankedByScore(spark, dir)
    val budget = totalTokens / 2
    ranked.filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("mean_logprob").as("score"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** DuckDB oracle for [[tokenBudgetSelect]] — same scores, one global
    * ordered window sum, same ⌊total/2⌋ budget and prefix rule. */
  val tokenBudgetSelectOracleSql: String =
    s"""WITH ${TextAnalysis.docLogProbCtes},
       s AS (SELECT doc_id, mean_logprob, n_tokens,
                    sum(n_tokens) OVER (ORDER BY mean_logprob DESC, doc_id ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum
             FROM lp),
       b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM lp)
       SELECT doc_id, mean_logprob AS score,
              CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(cum AS BIGINT) AS cum_tokens
       FROM s CROSS JOIN b WHERE cum <= budget ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // Deterministic train/validation/test split
  // ---------------------------------------------------------------------

  /** The split verdict for one document as a Column — the disjoint-range
    * construction [[sampleByHash]]'s contract promises: one id-hash draw
    * in [0,100), carved into train / val / test bands, so membership is
    * stable across retries and every doc lands in EXACTLY one split. */
  private[graft] def splitExpr(valPct: Int, testPct: Int) =
    splitExprFor(col("doc_id"), valPct, testPct)

  /** [[splitExpr]] over an arbitrary id column — the split is a pure
    * function of the id, so consumers holding only ids (the dedup pair
    * list, a cluster label) can derive membership without a join back to
    * `documents`. */
  private[graft] def splitExprFor(id: org.apache.spark.sql.Column,
                                  valPct: Int, testPct: Int) = {
    val h = conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    when(h < 100 - valPct - testPct, "train")
      .when(h < 100 - testPct, "val")
      .otherwise("test")
  }

  /** TRAIN/VAL/TEST SPLIT REPORT — deterministic 98/1/1 id-hash split
    * crossed with source, with doc and char mass per cell: the manifest
    * a pipeline emits so the held-out sets are reproducible and their
    * per-source composition is auditable (a val set that drifted to one
    * source is a broken eval). Pure scan + partial-aggregated groupBy —
    * no window, no join; the split column is a scan-stage expression. */
  def splitAssign(spark: SparkSession, dir: String,
                  valPct: Int = 1, testPct: Int = 1): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(splitExpr(valPct, testPct).as("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))

  /** DuckDB oracle for [[splitAssign]] (strpos arithmetic stands in for
    * conv(); same md5 prefix, same bands). */
  def splitAssignOracleSql(valPct: Int = 1, testPct: Int = 1): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH t AS (SELECT source, n_chars,
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
                   FROM documents),
       a AS (SELECT source, n_chars, ($hexToLong) % 100 AS h FROM t)
       SELECT CASE WHEN h < ${100 - valPct - testPct} THEN 'train'
                   WHEN h < ${100 - testPct} THEN 'val'
                   ELSE 'test' END AS split,
              source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
       FROM a GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  // ---------------------------------------------------------------------
  // Corpus data card
  // ---------------------------------------------------------------------

  /** CORPUS DATA CARD — the per-(source, language) composition report a
    * dataset release ships (datasheets-for-datasets): document count,
    * character and whitespace-token mass, corpus share, and how many of
    * the cell's docs are byte-exact duplicates of ANY corpus doc (the
    * cross-source duplication signal that drives mixture re-weighting).
    * This is the artifact a 100 TB pipeline regenerates after every
    * curation step — it has to be one cheap deterministic pass.
    *
    * Scale shape: one corpus scan; the duplicate flag reuses the exact-
    * dedup shuffle shape (groupBy on the text hash — content-keyed, so
    * it partial-aggregates map-side); the cell rollup is a second
    * partial-aggregated groupBy over source×lang (tiny); the corpus
    * total joins back as a broadcast 1-row aggregate, never a global
    * window over a single partition. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ", -1)).as("n_tokens"),
        md5(col("text")).as("th"))
    val dupGroups = docs.groupBy("th").agg(count(lit(1)).as("grp"))
    val cells = docs.join(dupGroups, "th")
      .groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_exact_dup"))
    val tot = cells.agg(sum(col("n_chars")).as("tot_chars"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_pct",
        round(col("n_chars").cast("double") * lit(100) / col("tot_chars"), 4))
      .drop("tot_chars")
  }

  /** DuckDB oracle for [[dataCard]] — same tokenization, same dup rule,
    * same share arithmetic (×100 before the divide). */
  def dataCardOracleSql: String =
    s"""WITH t AS (SELECT source, lang, n_chars,
                          len(string_split(text, ' ')) AS n_tokens,
                          count(*) OVER (PARTITION BY md5(text)) AS grp
                   FROM documents),
       c AS (SELECT source, lang, count(*) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS n_chars,
                    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                    CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_exact_dup
             FROM t GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tot_chars FROM c)
       SELECT source, lang, n_docs, n_chars, n_tokens, n_exact_dup,
              round(CAST(n_chars AS DOUBLE) * 100 / tot_chars, 4) AS share_pct
       FROM c CROSS JOIN tot ORDER BY source, lang"""

  // ---------------------------------------------------------------------
  // Mixture epoch planner
  // ---------------------------------------------------------------------

  /** MIXTURE EPOCH PLANNER — the step between the data card and the
    * training run: given per-source token mass and a total training
    * budget (`budgetX` × corpus tokens), allocate tokens per source under
    * temperature-α=0.5 weights (w_s = ⌊√tokens_s⌋ — up-weights small
    * sources exactly like [[temperatureSample]] up-weights small
    * languages) and report the implied EPOCH count (allocation ÷ mass,
    * i.e. how many times the source repeats). Sources whose allocation
    * exceeds `maxEpochs` passes are flagged and capped — the standard
    * memorization guard (repeating a small source 40× memorizes it; ~4
    * epochs is the usual ceiling).
    *
    * All selection arithmetic is INTEGER (the [[temperatureSample]]
    * discipline): weights are integer isqrt, allocations integer
    * `div`-floors of budget × weight, caps integer min — so the oracle
    * reproduces every row bit-for-bit and a re-run plans the identical
    * mixture. One corpus scan → source-sized rollup → broadcast 1-row
    * total; nothing corpus-sized shuffles twice. */
  def mixtureEpochs(spark: SparkSession, dir: String, budgetX: Int = 2,
                    maxEpochs: Int = 4): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ", -1)).cast("long")).as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = toks.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("weight")).as("w_total"))
    toks.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr(s"tot_tokens * $budgetX * weight div w_total"))
      .withColumn("epochs",
        round(col("target_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn("capped", col("epochs") > maxEpochs)
      .withColumn("alloc_tokens",
        least(col("target_tokens"), col("n_tokens") * maxEpochs))
      .select("source", "n_tokens", "weight", "target_tokens", "epochs",
        "capped", "alloc_tokens")
  }

  /** DuckDB oracle for [[mixtureEpochs]] — same isqrt weights, same
    * left-associative integer `//` allocation, same cap. */
  def mixtureEpochsOracleSql(budgetX: Int = 2, maxEpochs: Int = 4): String =
    s"""WITH toks AS (
         SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source),
       w AS (SELECT source, n_tokens,
                    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
             FROM toks),
       tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                      CAST(sum(weight) AS BIGINT) AS w_total FROM w),
       t AS (SELECT source, n_tokens, weight,
                    tot_tokens * $budgetX * weight // w_total AS target_tokens
             FROM w CROSS JOIN tot)
       SELECT source, n_tokens, weight, target_tokens,
              round(CAST(target_tokens AS DOUBLE) / n_tokens, 6) AS epochs,
              round(CAST(target_tokens AS DOUBLE) / n_tokens, 6) > $maxEpochs
                AS capped,
              least(target_tokens, n_tokens * $maxEpochs) AS alloc_tokens
       FROM t ORDER BY source"""

  // ---------------------------------------------------------------------
  // Incremental data-card maintenance under the corpus merge
  // ---------------------------------------------------------------------

  /** INCREMENTAL CARD REFRESH — materialized-view delta maintenance for
    * the data card: after the keyed MERGE ([[corpusMerge]]) applies a
    * delta, the composition report is refreshed WITHOUT recomputing over
    * the merged corpus — card' = card − contrib(replaced base rows) +
    * contrib(delta rows), with each contribution attributed to its OWN
    * (source, lang) cell so documents that move cells under the update
    * are handled. The oracle recomputes the card from a FULL merge, so a
    * green row proves incremental ≡ recompute — the invariant that lets
    * a 100 TB deployment keep its data card fresh at delta cost (the
    * [[graft.operators.Dedup.sigstoreRefresh]] pattern applied to an
    * AGGREGATE instead of a signature store).
    *
    * Scale shape: contrib(delta) is delta-sized; contrib(replaced) is a
    * semi-join of the base corpus against the delta's keys (AQE picks a
    * broadcast when the delta is small; a bucketed store would prune to
    * the delta's buckets); the three signed cell-lists then combine in
    * one card-sized aggregate. Char mass is `length(text)` (not the
    * stored n_chars) so updated texts re-count from bytes actually
    * merged. */
  def cardRefresh(spark: SparkSession, dir: String): DataFrame = {
    def contrib(df: DataFrame, sign: Int): DataFrame =
      df.groupBy("source", "lang").agg(
        (count(lit(1)) * sign).as("dn"),
        (sum(length(col("text")).cast("long")) * sign).as("dchars"),
        (sum(size(split(col("text"), " ", -1)).cast("long")) * sign).as("dtoks"))
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    val delta = corpusDelta(spark, dir)
    val replaced = base.join(delta.select("doc_id"), Seq("doc_id"), "left_semi")
    contrib(base, 1)
      .unionByName(contrib(replaced, -1))
      .unionByName(contrib(delta, 1))
      .groupBy("source", "lang").agg(
        sum(col("dn")).as("n_docs"),
        sum(col("dchars")).as("n_chars"),
        sum(col("dtoks")).as("n_tokens"))
      .filter(col("n_docs") > 0)
  }

  /** DuckDB oracle for [[cardRefresh]] — the card recomputed from a FULL
    * delta-wins merge (same delta synthesis as [[corpusMergeOracleSql]]);
    * equality proves the incremental maintenance correct. */
  val cardRefreshOracleSql: String =
    """WITH delta AS (
         SELECT doc_id, text || ' [rev2]' AS text, lang, source
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT doc_id + 100000, '[new] ' || text, lang, source
         FROM documents WHERE doc_id % 13 = 3),
       merged AS (
         SELECT coalesce(d.doc_id, b.doc_id) AS doc_id,
                coalesce(d.text, b.text) AS text,
                coalesce(d.lang, b.lang) AS lang,
                coalesce(d.source, b.source) AS source
         FROM documents b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id)
       SELECT source, lang, count(*) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS n_chars,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       FROM merged GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------------
  // Quality-score calibration against the dedup graph
  // ---------------------------------------------------------------------

  /** QUALITY CALIBRATION — does the quality score actually predict the
    * junk the pipeline removes elsewhere? Cross the type-token-ratio
    * quality signal ([[TextAnalysis.docQuality]]) in exact corpus
    * QUINTILES against near-dup cluster membership: repetitive low-TTR
    * documents (templates, boilerplate) should concentrate in the dedup
    * graph, so a flat dup_rate across bands means the quality score and
    * the dedup stage disagree about what "junk" is — the audit a pipeline
    * runs before trusting either as a standalone filter. One row per
    * quintile band: docs, near-dup members, keep verdicts, dup rate.
    *
    * Scale shape: quintile cuts are ONE 4-value exact-percentile
    * aggregate broadcast back ([[Analytics.revenueDeciles]] pattern — no
    * global sort, no single-partition window); cluster membership is a
    * BROADCAST left join against the persisted cluster artifact. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.docQuality(spark, dir)
      .select(col("doc_id"), col("type_token_ratio"), col("keep"))
    val dup = Dedup.nearDupClusters(spark, dir)
      .select("doc_id").distinct().withColumn("is_dup", lit(true))
    val cuts = q.agg(
      transform(percentile(col("type_token_ratio"),
        lit(Array(0.2, 0.4, 0.6, 0.8))), c => round(c, 6)).as("cuts"))
    q.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("keep"),
        (lit(1L) + aggregate(col("cuts"), lit(0L),
          (acc, c) => acc + when(col("type_token_ratio") > c, 1L)
            .otherwise(0L))).as("band"))
      .join(broadcast(dup), Seq("doc_id"), "left")
      .groupBy("band").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs"), 6))
  }

  /** DuckDB oracle for [[qualityCalibration]] — same rounded TTR, same
    * quantile_cont cuts, same cluster chain for membership. */
  def qualityCalibrationOracleSql: String = {
    val ttr = """round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')), 6)"""
    val stop = """round(CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
                        / len(string_split(text, ' ')), 6)"""
    s"""WITH RECURSIVE ${Dedup.clusterCtes(0.95, Dedup.DefaultMinBands,
          Dedup.DefaultEstJaccard, 1, Dedup.NumBands, Dedup.RowsPerBand)},
       q AS (SELECT doc_id, $ttr AS ttr,
                    (n_chars BETWEEN 50 AND 2000)
                      AND $stop <= 0.5 AND $ttr >= 0.05 AS keep
             FROM documents),
       cuts AS (SELECT [round(quantile_cont(ttr, 0.2), 6),
                        round(quantile_cont(ttr, 0.4), 6),
                        round(quantile_cont(ttr, 0.6), 6),
                        round(quantile_cont(ttr, 0.8), 6)] AS cs FROM q),
       dup AS (SELECT DISTINCT doc_id FROM lbl),
       b AS (SELECT q.doc_id, q.keep,
                    1 + len(list_filter(cs, c -> ttr > c)) AS band,
                    q.doc_id IN (SELECT doc_id FROM dup) AS is_dup
             FROM q CROSS JOIN cuts)
       SELECT band, count(*) AS n_docs,
              CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
              round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS dup_rate
       FROM b GROUP BY band ORDER BY band"""
  }

  /** DELETE PROPAGATION (right-to-forget / takedown) — the compliance op
    * every production corpus needs: a small keyed delete list must purge
    * the document AND every derived artifact that embeds it (here the
    * persisted MinHash signature store, [[Dedup.ensureSignatureStore]] —
    * at 100 TB the stores are where forgotten text hides). The delete
    * list is synthesized deterministically (doc_id ≡ 0 mod 97) so the
    * oracle can rebuild it. Both purges are BROADCAST anti/semi-joins —
    * the corpus and store scan once, nothing corpus-sized shuffles — and
    * the one-row audit couples them: kept-corpus count, char mass, and
    * content digest pin the corpus purge; `sig_rows_purged` pins the
    * cascade via the store's bands-rows-per-doc layout invariant (the
    * oracle recomputes it as bands × |delete list|, so a cascade that
    * missed rows or a store with ragged per-doc rows both fail). */
  def forgetPurge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val del = docs.select("doc_id").filter(col("doc_id") % 97 === 0)
    val kept = docs.join(broadcast(del), Seq("doc_id"), "left_anti")
      .select(col("n_chars"),
        conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
          .cast("long").as("h"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars").cast("long")).as("chars_kept"),
        sum(col("h")).as("content_digest"))
    val nDel = del.agg(count(lit(1)).as("n_requested"))
    val (sig, _) = Dedup.signatureStore(spark, dir)
    val sigPurged = sig.join(broadcast(del), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("sig_rows_purged"))
    kept.crossJoin(broadcast(nDel)).crossJoin(broadcast(sigPurged))
      .select("n_requested", "n_kept", "chars_kept", "content_digest",
        "sig_rows_purged")
  }

  /** DuckDB oracle for [[forgetPurge]] — delete list from the same mod
    * rule; the cascade count from the store's bands-per-doc invariant. */
  val forgetPurgeOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
       kept AS (SELECT n_chars,
                       substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                FROM documents
                WHERE doc_id NOT IN (SELECT doc_id FROM del))
       SELECT (SELECT count(*) FROM del) AS n_requested,
              count(*) AS n_kept,
              CAST(sum(n_chars) AS BIGINT) AS chars_kept,
              CAST(sum($hexToLong) AS BIGINT) AS content_digest,
              CAST(${Dedup.NumBands} * (SELECT count(*) FROM del) AS BIGINT)
                AS sig_rows_purged
       FROM kept"""
  }

  /** MERGE-ON-READ POSITION DELETES (deletion vectors) — the table-format
    * delete mechanism (Iceberg position deletes / Delta deletion vectors)
    * that makes row-level deletes O(delete) instead of O(table): the base
    * files stay immutable, deletes are recorded as (file, row position)
    * sidecar rows, and the read path subtracts them with a positional
    * anti-join. The complement of [[forgetPurge]] (which REWRITES the
    * corpus): here nothing is rewritten until a compaction applies the
    * vectors.
    *
    * The base store is staged once (4-file immutable table) and the DV
    * sidecar is derived positionally from a scan of the WRITTEN files via
    * Spark's `_metadata.file_path` / `_metadata.row_index` columns — the
    * read-side anti-join matches ONLY on position, never on keys, so it
    * exercises exactly the table-format contract (a key-based join would
    * hide position bookkeeping bugs). Output audits per-language base /
    * deleted / live masses; the spec pins live ≡ base ∖ deleted by
    * content as well.
    *
    * Scale shape: the DV side is delete-sized; the anti-join key leads
    * with file_path, so co-partitioning by file keeps the subtraction
    * file-local (production formats push the per-file DV bitmap into the
    * scan itself). The base scan stays narrow; one lang-keyed aggregate. */
  /** Physical layout targets for the MOR store — the SAME constants feed
    * the repartition calls and [[dvCompactionOracleSql]]'s expected file
    * counts, so a changed layout cannot silently diverge from the oracle.
    * (Round-robin repartition of a non-empty corpus never leaves an empty
    * output partition, so file count == partition count.) */
  private val DvBaseFiles = 4
  private val DvCompactFiles = 2

  /** The staged MOR store shared by [[deleteVectors]] and
    * [[dvCompaction]]: a 4-file immutable base table plus the positional
    * delete sidecar, built once per process. */
  private def dvStorePath(spark: SparkSession, dir: String): java.nio.file.Path =
    Artifacts.ensure(s"dvstore-${dir.replace('/', '_')}") { tmp =>
      val base = tmp.resolve("base").toString
      Tables.documents(spark, dir).repartition(DvBaseFiles)
        .write.mode("overwrite").parquet(base)
      // position-delete sidecar, derived from the written files. Keyed by
      // FILE NAME, not full path: the artifact dir is built in a temp
      // location and atomically moved into place, so absolute paths are
      // not stable across the move — part-file names are (and are unique
      // within one store, like the relative paths table formats record).
      spark.read.parquet(base)
        .select(col("doc_id"), col("_metadata.file_name").as("f"),
          col("_metadata.row_index").as("p"))
        .filter(col("doc_id") % 7 === 0)
        .select("f", "p")
        .write.mode("overwrite").parquet(tmp.resolve("dv").toString)
    }

  /** Base rows of the MOR store with their physical positions attached. */
  private def dvBase(spark: SparkSession, path: java.nio.file.Path): DataFrame =
    spark.read.parquet(path.resolve("base").toString)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        col("_metadata.file_name").as("f"), col("_metadata.row_index").as("p"))

  def deleteVectors(spark: SparkSession, dir: String): DataFrame = {
    val path = dvStorePath(spark, dir)
    val base = dvBase(spark, path)
    val dv = spark.read.parquet(path.resolve("dv").toString)
    val baseStats = base.groupBy("lang")
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)).as("n_deleted"))
    val liveStats = base.join(dv, Seq("f", "p"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_chars").cast("long")).as("chars_live"))
    // LEFT join + zero-fill: a language whose rows are ALL deleted must
    // still report (n_live=0, chars_live=0), exactly as the oracle's
    // whole-corpus GROUP BY does
    baseStats.join(liveStats, Seq("lang"), "left")
      .select(col("lang"), col("n_base"), col("n_deleted"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("chars_live"), lit(0L)).as("chars_live"))
  }

  /** MOR COMPACTION — the second half of the deletion-vector lifecycle:
    * apply the DV sidecar and REWRITE the live rows into fresh files,
    * after which the store needs no merge-on-read work (DVs retire with
    * the files they referenced). The audit measures physical file counts
    * distributedly (`_metadata.file_name` distinct counts, never a
    * driver listing), and proves losslessness with an order-independent
    * content digest over (doc_id, text) — compacted output ≡ the
    * positional live set ≡ the delete predicate's complement.
    *
    * Scale shape: the rewrite is ONE narrow scan + anti-join (the
    * [[deleteVectors]] read path) into a size-targeted write; at scale a
    * production compactor picks only files whose DV density crosses a
    * threshold — here the whole (4-file) store is one compaction unit. */
  def dvCompaction(spark: SparkSession, dir: String): DataFrame = {
    val path = dvStorePath(spark, dir)
    val base = dvBase(spark, path)
    val dv = spark.read.parquet(path.resolve("dv").toString)
    val live = base.join(dv, Seq("f", "p"), "left_anti")
    val compactedDir = Artifacts.ensure(
      s"dvcompact-${dir.replace('/', '_')}") { tmp =>
      live.select("doc_id", "text", "lang", "n_chars")
        .repartition(DvCompactFiles)
        .write.mode("overwrite").parquet(tmp.resolve("c").toString)
    }
    val compacted = spark.read.parquet(compactedDir.resolve("c").toString)
      .select(col("doc_id"), col("text"),
        col("_metadata.file_name").as("cf"))
    val digest =
      sum(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
        .cast("long"))
    val beforeStats = base.agg(
      countDistinct(col("f")).as("n_base_files"),
      count(lit(1)).as("n_base"))
    val afterStats = compacted.agg(
      countDistinct(col("cf")).as("n_compacted_files"),
      count(lit(1)).as("n_live"),
      digest.as("content_digest"))
    beforeStats.crossJoin(broadcast(afterStats))
      .select("n_base_files", "n_base", "n_compacted_files", "n_live",
        "content_digest")
  }

  /** DuckDB oracle for [[dvCompaction]] — file counts are the shared
    * layout constants ([[DvBaseFiles]]/[[DvCompactFiles]], the same
    * values the writers repartition to); row counts and the content
    * digest come from the delete predicate's complement. */
  val dvCompactionOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""SELECT CAST($DvBaseFiles AS BIGINT) AS n_base_files,
              (SELECT count(*) FROM documents) AS n_base,
              CAST($DvCompactFiles AS BIGINT) AS n_compacted_files,
              count(*) AS n_live,
              CAST(sum($hexToLong) AS BIGINT) AS content_digest
       FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
             FROM documents WHERE doc_id % 7 <> 0) t"""
  }

  /** DuckDB oracle for [[deleteVectors]] — the read path must equal the
    * delete predicate's complement, whatever the physical positions. */
  val deleteVectorsOracleSql: String =
    """SELECT lang, count(*) AS n_base,
              CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
              CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
              CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS chars_live
       FROM documents GROUP BY lang ORDER BY lang"""

  /** GOVERNANCE MASKING VIEW — the column-level security projection a
    * warehouse exposes to analysts who may aggregate but not read raw
    * content: the stable id is replaced by a salted one-way PSEUDONYM
    * (deterministic, so it still joins across derived tables and across
    * runs — the property ad-hoc randomization destroys — but not
    * invertible without the salt), raw text is reduced to a fixed-width
    * preview, and exact lengths are BANDED to 100-char buckets (k-anonymity
    * style coarsening: exact lengths fingerprint documents). Pure narrow
    * projection — no shuffle, column pruning reaches the scan, and the
    * masked view composes under every downstream aggregate. */
  def maskedView(spark: SparkSession, dir: String, salt: String = "graft-mask-v1")
      : DataFrame =
    Tables.documents(spark, dir)
      .select(
        substring(md5(concat_ws("|", lit(salt), col("doc_id"))), 1, 16)
          .as("doc_key"),
        col("lang"), col("source"),
        (floor(col("n_chars") / 100) * 100).cast("long").as("n_chars_band"),
        concat(substring(col("text"), 1, 12), lit("…")).as("preview"))

  /** DuckDB oracle for [[maskedView]] — same salt, same md5 prefix, same
    * banding and preview width. */
  def maskedViewOracleSql(salt: String = "graft-mask-v1"): String =
    s"""SELECT substr(md5('$salt' || '|' || CAST(doc_id AS VARCHAR)), 1, 16) AS doc_key,
              lang, source,
              CAST(floor(n_chars / 100) * 100 AS BIGINT) AS n_chars_band,
              substr(text, 1, 12) || '…' AS preview
       FROM documents ORDER BY doc_key"""

  /** PER-LANGUAGE ADAPTIVE LENGTH FILTER (CCNet-style) — fixed length
    * thresholds are wrong across languages (a 100-char Chinese document
    * is not a 100-char English one), so production filters cut each
    * language at its own quantiles. Thresholds are EXACT 5th/95th
    * percentiles computed the scale-correct way for an integer-valued
    * column: a (lang, n_chars) histogram (partial-aggregated, tiny — one
    * row per distinct length per language), a cumulative-sum window over
    * that HISTOGRAM (never over the corpus), and smallest-value-reaching-
    * rank selection in pure integer arithmetic (`cum·100 ≥ n·pct` —
    * quantile_disc semantics, no float interpolation to diverge between
    * engines). The thresholds broadcast back onto the corpus scan for the
    * keep/short/long tally — corpus touched by exactly one narrow pass,
    * no corpus-sized shuffle or sort, unlike the textbook
    * per-group-sort percentile. */
  def lengthOutliers(spark: SparkSession, dir: String,
                     loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(
        Window.partitionBy("lang").orderBy("n_chars")))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    val thr = cum.groupBy("lang").agg(
      min(when(col("cum") * 100 >= col("n") * loPct, col("n_chars"))).as("lo"),
      min(when(col("cum") * 100 >= col("n") * hiPct, col("n_chars"))).as("hi"))
    docs.join(broadcast(thr), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        max(col("lo")).cast("long").as("len_lo"),
        max(col("hi")).cast("long").as("len_hi"),
        sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_long"),
        sum(when(col("n_chars").between(col("lo"), col("hi")), 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** DuckDB oracle for [[lengthOutliers]] — same histogram, same integer
    * rank selection. */
  def lengthOutliersOracleSql(loPct: Int = 5, hiPct: Int = 95): String =
    s"""WITH hist AS (SELECT lang, n_chars, count(*) AS c
                      FROM documents GROUP BY 1, 2),
       cum AS (SELECT lang, n_chars,
                      sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
                      sum(c) OVER (PARTITION BY lang) AS n
               FROM hist),
       thr AS (SELECT lang,
                      min(CASE WHEN cum * 100 >= n * $loPct THEN n_chars END) AS lo,
                      min(CASE WHEN cum * 100 >= n * $hiPct THEN n_chars END) AS hi
               FROM cum GROUP BY lang)
       SELECT d.lang, count(*) AS n_docs,
              CAST(max(lo) AS BIGINT) AS len_lo,
              CAST(max(hi) AS BIGINT) AS len_hi,
              CAST(sum(CASE WHEN d.n_chars < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
              CAST(sum(CASE WHEN d.n_chars > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
              CAST(sum(CASE WHEN d.n_chars BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM documents d JOIN thr USING (lang)
       GROUP BY d.lang ORDER BY d.lang"""

  // ---------------------------------------------------------------------
  // Content-defined chunking (rolling-hash boundaries → chunk-level dedup)
  // ---------------------------------------------------------------------

  /** CONTENT-DEFINED CHUNKING — the storage-dedup primitive (Rabin/FastCDC
    * family): instead of fixed-width blocks ([[graft.operators.Dedup]]'s
    * `lineDedup` alignment-sensitive slices), chunk boundaries are chosen
    * by the CONTENT itself — a boundary falls after token `j` whenever the
    * rolling window of the last `w` tokens hashes into a target bucket —
    * so inserting one token near the start of a document shifts only the
    * chunk containing the edit, and every following chunk re-aligns and
    * dedups against the previous version. The boundary rule here is
    * `md5(last-w-token gram) starts with '0'` (P = 1/16 → expected chunk
    * ≈ 16 tokens); the FastCDC min/max chunk-size clamps are deliberately
    * omitted because they make boundary choice sequentially dependent on
    * the previous boundary — the pure content rule keeps the whole pass
    * expressible as window functions (and is the property that gives
    * shift-resistance in the first place).
    *
    * Scale shape: chunking is a per-ROW codegen'd kernel — boundary
    * detection, chunk extents, and digests all evaluate inside one array
    * expression (state bounded by doc length, embarrassingly parallel,
    * no corpus-token explode, no window shuffle); only the chunk stream
    * (~1/16 of tokens) is exploded, and the duplicate census is a
    * chunk-vocabulary groupBy. Nothing corpus-sized crosses an
    * unpartitioned window or the driver. */
  /** Per-document chunk array — the WHOLE boundary + digest algorithm as
    * one codegen'd row expression (no corpus-token explode, no window, no
    * collect_list): boundary positions come from a `filter` over the
    * token index, chunk extents from a `zip_with` of the derived
    * start/end arrays, digests from per-chunk `md5`. The outer
    * single-element `transform`s are LET BINDINGS (the
    * [[TextAnalysis]] gramList idiom) so `split` and the boundary set
    * each evaluate ONCE per row. */
  private def chunkArray(w: Int): org.apache.spark.sql.Column = expr(
    s"""transform(array(split(text, ' ', -1)), wd ->
          transform(array(filter(sequence(0, size(wd) - 1),
              j -> j >= ${w - 1} AND j < size(wd) - 1
                   AND substr(md5(array_join(
                     slice(wd, j - ${w - 2}, $w), ' ')), 1, 1) = '0')), bs ->
            zip_with(
              concat(array(0), transform(bs, b -> b + 1)),
              concat(bs, array(size(wd) - 1)),
              (s, e) -> named_struct(
                'n_tok', CAST(e - s + 1 AS BIGINT),
                'chash', md5(array_join(slice(wd, s + 1, e - s + 1), ' ')))))[0])[0]""")

  /** The (doc_id, chunk_id, n_tok, chash) chunk table under [[cdcChunks]]
    * — exposed so the shift-resistance property (an edit re-aligns every
    * following chunk) is assertable at chunk granularity in the spec. */
  private[graft] def cdcChunkTable(spark: SparkSession, dir: String,
                                   w: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(chunkArray(w)))
      .toDF("doc_id", "chunk_id", "c")
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("c.n_tok").as("n_tok"), col("c.chash").as("chash"))

  def cdcChunks(spark: SparkSession, dir: String, w: Int = 4): DataFrame = {
    // stage the per-row chunk arrays ONCE (the kernel would otherwise
    // evaluate per consumer): per-doc totals come straight off the array
    // (no shuffle); only the chunk census — ~1/16 of the token stream —
    // is exploded.
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), chunkArray(w).as("chunks"))) { perRow =>
      val perDoc = perRow.select(col("doc_id"),
        expr("CAST(aggregate(chunks, 0L, (a, c) -> a + c.n_tok) AS BIGINT)")
          .as("n_tokens"),
        size(col("chunks")).cast("long").as("n_chunks"))
      val exploded = perRow
        .select(col("doc_id"), explode(col("chunks")).as("c"))
        .select(col("doc_id"), col("c.chash").as("chash"))
      val dup = exploded.groupBy("chash")
        .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
      val dupPerDoc = exploded
        .join(dup.select("chash"), Seq("chash"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("dup_chunks"))
      val out = perDoc.join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
          coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
          round(coalesce(col("dup_chunks"), lit(0L)).cast("double")
            / col("n_chunks"), 6).as("dup_ratio"))
      Tables.materialize(out)
    }
  }

  /** DuckDB oracle for [[cdcChunks]] — same rolling boundary rule, same
    * strictly-before cumsum, same position-ordered chunk digest. */
  def cdcChunksOracleSql(w: Int = 4): String =
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       t AS (SELECT doc_id, j AS pos, words[j + 1] AS tok,
               CASE WHEN j >= ${w - 1} AND substr(md5(array_to_string(
                      words[j - ${w - 2} : j + 1], ' ')), 1, 1) = '0'
                    THEN 1 ELSE 0 END AS b
             FROM wd, unnest(range(0, CAST(len(words) AS BIGINT))) AS r(j)),
       c AS (SELECT doc_id, pos, tok,
               coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
             FROM t),
       ch AS (SELECT doc_id, chunk_id, count(*) AS n_tok,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
              FROM c GROUP BY doc_id, chunk_id),
       dup AS (SELECT chash FROM ch GROUP BY chash HAVING count(*) >= 2),
       pd AS (SELECT doc_id, count(*) AS n_chunks,
                     CAST(sum(n_tok) AS BIGINT) AS n_tokens
              FROM ch GROUP BY doc_id),
       dd AS (SELECT doc_id, count(*) AS dup_chunks
              FROM ch SEMI JOIN dup USING (chash) GROUP BY doc_id)
       SELECT pd.doc_id, pd.n_tokens, pd.n_chunks,
              coalesce(dd.dup_chunks, 0) AS dup_chunks,
              round(CAST(coalesce(dd.dup_chunks, 0) AS DOUBLE) / pd.n_chunks, 6)
                AS dup_ratio
       FROM pd LEFT JOIN dd USING (doc_id) ORDER BY pd.doc_id"""

  // ---------------------------------------------------------------------
  // Winnowing fingerprints (MOSS local fingerprint selection)
  // ---------------------------------------------------------------------

  /** WINNOWING — the local-fingerprint selection algorithm (Schleimer,
    * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03; the MOSS detector): hash every `k`-token
    * gram, slide a window of `ww` consecutive gram hashes, and keep the
    * minimum hash of each window. The guarantee: any shared run of at
    * least `ww + k − 1` tokens between two documents is caught by at
    * least one SHARED selected fingerprint, while only ~2/(ww+1) of all
    * grams are kept — the bounded-density sketch that whole-doc MinHash
    * (set-level, position-blind) and [[dupSpans]] (exhaustive, corpus-
    * token-sized output) sit on either side of.
    *
    * Ties and partial windows: min is taken over `md5hex || '@' ||
    * zero-padded pos` so ties (astronomically unlikely with md5) break to
    * the SMALLEST position deterministically in both engines; leading
    * windows shorter than `ww` are kept (each prefix window still emits
    * its min) so documents with fewer than `ww` grams keep ≥ 1
    * fingerprint — the published algorithm's "every window of w hashes"
    * with the prefix windows included, a deviation chosen over dropping
    * short documents silently.
    *
    * Scale shape: the selection is a per-ROW codegen'd kernel (no
    * corpus-gram explode, no window shuffle — state bounded by doc
    * length); only the distinct fingerprints (~2/(ww+1) of grams) are
    * exploded, and the cross-document census is a fingerprint-keyed
    * groupBy — vocabulary-sized, never all-pairs. */
  /** Per-document winnowing fingerprint array — gram hashing, tie-break
    * keys, and the per-window min selection as ONE row expression over
    * `text` (the [[chunkArray]] pattern; exposed for the kernel-shape
    * plan assertion in the spec). Keys are NUMERIC: the first 10 hex
    * chars of the gram md5 (40 bits) shifted left 20, plus the gram
    * position — one BIGINT compare per window element instead of a
    * 39-char string compare (profiled ~4× on the whole query), with the
    * identical smallest-(hash, pos) tie-break, and DuckDB reproduces the
    * exact arithmetic via its '0x…'-string cast. The selected
    * fingerprint is the min key shifted back down (hash only — the
    * position must NOT distinguish fingerprints or the cross-document
    * census would never match). */
  private[graft] def winnowArray(k: Int, ww: Int): org.apache.spark.sql.Column = expr(
    s"""transform(array(split(text, ' ', -1)), wd ->
          transform(array(CASE WHEN size(wd) >= $k THEN
              transform(sequence(0, size(wd) - $k),
                j -> (CAST(conv(substr(md5(array_join(
                        slice(wd, j + 1, $k), ' ')), 1, 10), 16, 10)
                      AS BIGINT) << 20) + j)
            ELSE CAST(array() AS ARRAY<BIGINT>) END), ky ->
            CASE WHEN size(ky) = 0 THEN CAST(array() AS ARRAY<BIGINT>)
            ELSE array_distinct(transform(sequence(0, size(ky) - 1),
              p -> shiftright(array_min(slice(ky,
                     greatest(0, p - ${ww - 1}) + 1,
                     p - greatest(0, p - ${ww - 1}) + 1)), 20)))
            END)[0])[0]""")

  def winnowing(spark: SparkSession, dir: String,
                k: Int = 5, ww: Int = 8): DataFrame = {
    // the WHOLE gram-hash + per-window-min selection runs as one
    // codegen'd per-row expression (the [[chunkArray]] pattern — no
    // corpus-gram explode, no window shuffle): nested single-element
    // `transform`s LET-BIND the token array, the gram-hash array, and
    // the pos-padded key array; the selection is an O(grams·ww)
    // `array_min` over each trailing slice. Only the DISTINCT
    // fingerprint array — density ~2/(ww+1) of grams — is exploded for
    // the cross-document census, staged once for its two consumers.
    // stage perRow: the kernel would otherwise evaluate TWICE (once for
    // the exploded census, once for the per-doc sizes)
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), winnowArray(k, ww).as("fps"),
          expr(s"""CAST(greatest(size(split(text, ' ', -1)) - ${k - 1}, 0)
                 AS BIGINT)""").as("n_grams"))
        .where(col("n_grams") > 0)) { perRow =>
      val fps = perRow.select(col("doc_id"), explode(col("fps")).as("fp"))
      val shared = fps.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("nd")).where(col("nd") >= 2)
      val sharedPerDoc = fps.join(shared.select("fp"), Seq("fp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("shared_fps"))
      val out = perRow
        .select(col("doc_id"), col("n_grams"),
          size(col("fps")).cast("long").as("n_fps"))
        .join(sharedPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_fps"),
          coalesce(col("shared_fps"), lit(0L)).as("shared_fps"),
          round(col("n_fps").cast("double") / col("n_grams"), 6).as("density"))
      Tables.materialize(out)
    }
  }

  /** WINNOWING PAIR MINING — the MOSS detector end-to-end: rank document
    * pairs by how many SELECTED fingerprints they share. This is the
    * sketch-density operating point between [[graft.operators.Dedup]]'s
    * whole-doc MinHash (set-level, position-blind) and
    * [[graft.operators.Dedup.containmentPairs]]'s full inverted index
    * (every distinct shingle): the join runs over ~2/(ww+1) of the grams,
    * so at 100 TB the pair-mining cost shrinks by the winnowing density
    * while the ≥ ww+k−1 shared-run guarantee still bounds what can be
    * missed. High-df fingerprints (boilerplate) are capped out exactly as
    * in containmentPairs; pairs need ≥ `minShared` independent shared
    * fingerprints so a single colliding window can't nominate a pair.
    *
    * Scale shape: per-row kernel ([[winnowArray]]) → fingerprint-keyed
    * join bounded by maxDf² fan-out per fingerprint — never all-pairs. */
  def winnowPairs(spark: SparkSession, dir: String, k: Int = 5, ww: Int = 8,
                  maxDf: Int = 50, minShared: Int = 2): DataFrame = {
    // stage perRow once: the kernel feeds the exploded census AND the
    // per-doc sizes (same staging rationale as [[winnowing]])
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), winnowArray(k, ww).as("fps"))
        .where(size(col("fps")) > 0)) { perRow =>
      val exploded = perRow.select(col("doc_id"), explode(col("fps")).as("fp"))
      val dfc = exploded.groupBy("fp").agg(count(lit(1)).as("df"))
      val kept = exploded
        .join(dfc.filter(col("df").between(2, maxDf)), "fp")
        .select("fp", "doc_id")
      val pairs = kept.select(col("fp"), col("doc_id").as("da"))
        .join(kept.select(col("fp"), col("doc_id").as("db")), Seq("fp"))
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      val sizes = perRow.select(col("doc_id"),
        size(col("fps")).cast("long").as("nf"))
      val out = pairs
        .join(sizes.select(col("doc_id").as("da"), col("nf").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("nf").as("nb")), "db")
        .select(col("da"), col("db"), col("n_shared"),
          round(col("n_shared").cast("double") / least(col("na"), col("nb")), 6)
            .as("overlap"))
      Tables.materialize(out)
    }
  }

  /** DuckDB oracle for [[winnowPairs]] — same kernel semantics (via the
    * [[winnowingOracleSql]] CTE chain), same df cap, same pair rule. */
  def winnowPairsOracleSql(k: Int = 5, ww: Int = 8,
                           maxDf: Int = 50, minShared: Int = 2): String =
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       ky AS (SELECT doc_id, j AS pos,
                     (CAST(concat('0x', substr(md5(array_to_string(
                        words[j + 1 : j + $k], ' ')), 1, 10)) AS BIGINT)
                      << 20) + j AS key
              FROM wd, unnest(range(0, greatest(CAST(len(words) AS BIGINT) - $k + 1, 0))) AS r(j)),
       sel AS (SELECT DISTINCT doc_id,
                      min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN ${ww - 1} PRECEDING AND CURRENT ROW) >> 20 AS fp
               FROM ky),
       dfc AS (SELECT fp, count(*) AS df FROM sel GROUP BY fp),
       keep AS (SELECT s.doc_id, s.fp FROM sel s JOIN dfc USING (fp)
                WHERE df BETWEEN 2 AND $maxDf),
       pr AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
              FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= $minShared),
       sz AS (SELECT doc_id, count(*) AS nf FROM sel GROUP BY doc_id)
       SELECT da, db, n_shared,
              round(CAST(n_shared AS DOUBLE) / least(x.nf, y.nf), 6) AS overlap
       FROM pr JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
       ORDER BY da, db"""

  /** DuckDB oracle for [[winnowing]] — same numeric gram-hash keys, same
    * smallest-(hash, pos) tie-break, same prefix-window policy, same
    * census. */
  def winnowingOracleSql(k: Int = 5, ww: Int = 8): String =
    s"""WITH wd AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       ky AS (SELECT doc_id, j AS pos,
                     (CAST(concat('0x', substr(md5(array_to_string(
                        words[j + 1 : j + $k], ' ')), 1, 10)) AS BIGINT)
                      << 20) + j AS key
              FROM wd, unnest(range(0, greatest(CAST(len(words) AS BIGINT) - $k + 1, 0))) AS r(j)),
       sel AS (SELECT DISTINCT doc_id,
                      min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN ${ww - 1} PRECEDING AND CURRENT ROW) >> 20 AS fp
               FROM ky),
       ng AS (SELECT doc_id, count(*) AS n_grams FROM ky GROUP BY doc_id),
       sh AS (SELECT fp FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       pd AS (SELECT doc_id, count(*) AS n_fps FROM sel GROUP BY doc_id),
       sp AS (SELECT doc_id, count(*) AS shared_fps
              FROM sel SEMI JOIN sh USING (fp) GROUP BY doc_id)
       SELECT ng.doc_id, ng.n_grams,
              coalesce(pd.n_fps, 0) AS n_fps,
              coalesce(sp.shared_fps, 0) AS shared_fps,
              round(CAST(coalesce(pd.n_fps, 0) AS DOUBLE) / ng.n_grams, 6) AS density
       FROM ng LEFT JOIN pd USING (doc_id) LEFT JOIN sp USING (doc_id)
       ORDER BY ng.doc_id"""

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. NeurIPS 2023) — the published recipe for
    * "select raw web data that looks like a high-quality target corpus":
    * fit two bag-of-hashed-ngram multinomials, target p and raw q, and
    * score every document by its summed per-feature log importance ratio
    * Σ c_d[b]·(ln p̂[b] − ln q̂[b]) with add-1 smoothing over `buckets`
    * hashed bigram features. The target distribution here is the
    * `targetLang` slice of the corpus itself (the quality-corpus
    * stand-in); production DSIR adds Gumbel noise before the top-k cut —
    * this deterministic variant takes the exact top-`k`, which is what a
    * re-runnable pipeline (and the oracle) needs.
    *
    * Scale shape: ONE corpus bigram explode staged with spillable
    * `persist` feeds all three consumers (raw bucket counts, target
    * bucket counts — a filter of the same frame, not a second pass — and
    * the per-doc scoring join). Bucket tables are `buckets`-sized (1024),
    * so the λ table is built with a 1-row-aggregate crossJoin and joined
    * back BROADCAST; the only corpus-sized shuffle is the final doc_id
    * aggregation. λ values are ln-casts to DECIMAL(28,12) subtracted and
    * summed exactly (the [[graft.operators.TextAnalysis.docLogProb]]
    * determinism pattern), so partial-aggregation order cannot move a
    * weight, and the top-k cut (TakeOrderedAndProject) orders on the
    * EXACT decimal sum with a doc_id tie-break. Documents with fewer than
    * two tokens have no features and are not scored — mirrored by the
    * oracle's inner join. */
  def dsirWeights(spark: SparkSession, dir: String, buckets: Int = 1024,
                  targetLang: String = "en", k: Int = 100): DataFrame = {
    require(buckets > 0 && k > 0, s"buckets=$buckets k=$k must be positive")
    Tables.withStaged(Tables.fanOut(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.gramList(2)).as("bg"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("bg")), 1, 8), 16, 10).cast("long") % buckets)
            .as("b"))) { pos =>
      // rc and tc in ONE pass over pos (guide §2.4: two aggregations keyed
      // the same way share one exchange): the conditional count equals the
      // old filter→count→left-join→coalesce chain row for row — a bucket
      // with no target-lang rows counts 0 either way.
      val counts = pos.groupBy("b").agg(
        count(lit(1)).as("rc"),
        count(when(col("lang") === targetLang, lit(1))).as("tc"))
      val tots = counts.agg(sum(col("rc")).as("rt"), sum(col("tc")).as("tt"))
      val lam = counts.crossJoin(tots)
        .select(col("b"),
          (log((col("tc") + 1).cast("double") / (col("tt") + buckets))
            .cast("decimal(28,12)")
            - log((col("rc") + 1).cast("double") / (col("rt") + buckets))
              .cast("decimal(28,12)")).as("lam"))
      val out = pos.join(broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lam")).as("w_exact"))
        .orderBy(desc("w_exact"), asc("doc_id"))
        .limit(k)
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          round(col("w_exact").cast("double"), 6).as("dsir_weight"))
      Tables.materialize(out)
    }
  }

  /** DuckDB oracle for [[dsirWeights]] — same bigram construction as the
    * winnowing oracle at k=2, same 32-bit md5 bucket hash as
    * [[sampleByHashOracleSql]], same smoothing arithmetic and exact
    * DECIMAL ln accumulation, same exact-sum ordering for the top-k. */
  def dsirWeightsOracleSql(buckets: Int = 1024, targetLang: String = "en",
                           k: Int = 100): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH pos AS (
         SELECT doc_id, lang, ($hexToLong) % $buckets AS b
         FROM (SELECT doc_id, lang, substr(md5(bg), 1, 8) AS h8 FROM (
                 SELECT doc_id, lang,
                        array_to_string(words[j + 1 : j + 2], ' ') AS bg
                 FROM (SELECT doc_id, lang, string_split(text, ' ') AS words
                       FROM documents) wd,
                      unnest(range(0, greatest(CAST(len(words) AS BIGINT) - 1, 0))) AS r(j)) g) h),
       rc AS (SELECT b, count(*) AS rc FROM pos GROUP BY b),
       tc AS (SELECT b, count(*) AS tc FROM pos WHERE lang = '$targetLang' GROUP BY b),
       tot AS (SELECT (SELECT sum(rc) FROM rc) AS rt,
                      (SELECT coalesce(sum(tc), 0) FROM tc) AS tt),
       lam AS (SELECT rc.b,
                      CAST(ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE) / (tt + $buckets)) AS DECIMAL(28,12))
                    - CAST(ln(CAST(rc.rc + 1 AS DOUBLE) / (rt + $buckets)) AS DECIMAL(28,12)) AS lam
               FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot),
       w AS (SELECT doc_id, lang, count(*) AS n_bigrams, sum(lam) AS w_exact
             FROM pos JOIN lam USING (b) GROUP BY doc_id, lang)
       SELECT doc_id, lang, n_bigrams,
              round(CAST(w_exact AS DOUBLE), 6) AS dsir_weight
       FROM w ORDER BY w_exact DESC, doc_id LIMIT $k"""
  }
}
