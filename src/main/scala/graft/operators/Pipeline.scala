package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType}
import graft.{Artifacts, Tables}

/** The reference's whole pipeline as ONE Spark application (SURVEY.md §3.1,
  * reference `dag-knlp.py:85-238,408-447`): raw line-text sources → parsers
  * → chunked JSONL staging → tables (temp views) → SQL dimension query →
  * data-quality checks. Closes operators S1/S2/S3, K1/K2/K3/K4, P1/P2/P3,
  * O4/O5 from SURVEY.md §2.
  *
  * To make the pipeline oracle-checkable (DuckDB can't read our raw text),
  * the raw fixtures are synthesized DETERMINISTICALLY from the driver's
  * parquet tables, shaped exactly like the reference's three input formats
  * (FIXTURES.md A1–A3). A correct parse+load round-trips the data, so the
  * DuckDB oracle can compute the expected dimension table straight from the
  * parquet sources:
  *
  *  - titles (A2, `edit_id:word_id:korean`, ref `dag-knlp.py:113-152`):
  *    one line per `orders` row → `o_orderpriority:o_orderkey:o_custkey`.
  *  - hanja (A1, `korean:hanja:examples`, ref `dag-knlp.py:85-111`): one
  *    line per `customer` row with a FOURTH field so the overflow-arity
  *    path (P3, ref `:104-105`) is exercised on real data:
  *    `c_custkey:c_mktsegment:c_name:c_nationkey` → examples =
  *    `c_name:c_nationkey` (tail rejoined, SURVEY Q1).
  *  - langlink (A3, SQL-dump tuples, one line → N rows, ref
  *    `dag-knlp.py:154-188`): `lineitem` rows packed per order key into
  *    `"),("`-joined tuples `l_orderkey,l_linenumber,l_returnflag` — the
  *    P2 explode fans each line back out to its lineitem rows.
  *
  * Scale notes: every stage is a narrow pipeline (text scan → split →
  * JSONL write, parallel by input split — the Spark answer to the
  * reference's "hours" of single-threaded pandas appends,
  * `dag-knlp.py:98-99`); the only shuffles are the langlink groupBy used
  * to synthesize the fixture and the final DISTINCT. Join strategy is
  * AQE-chosen. Nothing collects to the driver except the two D1/D2 check
  * scalars, mirroring the reference's own result flow (`dag-knlp.py:252,
  * 273`).
  */
object Pipeline {

  /** P1+P3 — colon-split with schema-arity coercion to `names.length`
    * fields: first k-1 fields verbatim, overflow tail rejoined with the
    * delimiter into the last (SURVEY Q1); under-arity lines filtered
    * (SURVEY Q2 — the reference would crash, `dag-knlp.py:105`). */
  private[graft] def parseDelimited(raw: DataFrame, names: Seq[String], delim: String = ":"): DataFrame = {
    val k = names.length
    val f = split(col("value"), java.util.regex.Pattern.quote(delim), -1)
    val fields = names.zipWithIndex.map { case (n, i) =>
      if (i < k - 1) element_at(f, i + 1).as(n)
      else array_join(slice(f, k, 1 << 20), delim).as(n)
    }
    raw.filter(size(f) >= k).select(fields: _*)
  }

  /** P2 — nested-tuple split (ref `dag-knlp.py:173-177`): each line splits
    * on `"),("` into tuples (1 line → N rows, a Generator/flatMap shape),
    * each tuple on `,` with the same arity coercion. */
  private[graft] def parseTuples(raw: DataFrame, names: Seq[String]): DataFrame = {
    val exploded = raw.select(explode(split(col("value"), "\\),\\(")).as("value"))
    parseDelimited(exploded, names, ",")
  }

  /** Stage 1: synthesize the three raw line-text fixtures (deterministic
    * from the parquet tables) ONCE per (process, corpus) and return their
    * directory. The raw files are the pipeline's INPUT — the reference
    * reads pre-existing `hanja.txt` / wiki-dump files (`dag-knlp.py:94,
    * 122,164`), it does not create them — so their synthesis is staged
    * like the dedup signature stores and kept OFF the per-run pipeline
    * cost; every timed/verified run still performs the full parse →
    * JSONL → load → SQL → checks flow. Bench pre-builds this and reports
    * it in store_build. */
  def ensureRawFixtures(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"rawfix-${dir.replace('/', '_')}") { tmp =>
      Tables.orders(spark, dir)
        .select(concat_ws(":", col("o_orderpriority"), col("o_orderkey"), col("o_custkey")).as("value"))
        .write.mode("overwrite").text(tmp.resolve("titles_raw").toString)
      Tables.customer(spark, dir)
        .select(concat_ws(":", col("c_custkey"), col("c_mktsegment"), col("c_name"), col("c_nationkey")).as("value"))
        .write.mode("overwrite").text(tmp.resolve("hanja_raw").toString)
      Tables.lineitem(spark, dir)
        .groupBy(col("l_orderkey"))
        .agg(concat_ws("),(", sort_array(collect_list(
          concat_ws(",", col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))))).as("value"))
        .select("value")
        .write.mode("overwrite").text(tmp.resolve("langlink_raw").toString)
    }.toString

  /** Full pipeline; returns the derived dimension table
    * (word_id, korean, japanese, hanjya — all strings, like the JSONL
    * staging the reference loads from). */
  def dimensionPipeline(spark: SparkSession, dir: String): DataFrame =
    dimensionFromRaw(spark, ensureRawFixtures(spark, dir), Artifacts.scratch(dir))

  /** Stages 2–5 over already-staged raw line-text at
    * `rawBase`/{titles_raw,hanja_raw,langlink_raw}, writing all pipeline
    * outputs under `base` — shared by [[dimensionPipeline]] (fixtures
    * synthesized from parquet, oracle-checked as `q_pipeline_dimension`)
    * and [[dimensionFromRawLines]] (caller-supplied golden lines, e.g.
    * the Hangul/Hanja fixture). `viewSuffix` keeps the K3 temp views of
    * concurrent flows in the same session from clobbering each other. */
  private[graft] def dimensionFromRaw(spark: SparkSession, rawBase: String,
                                      base: String,
                                      viewSuffix: String = ""): DataFrame = {
    // ── Stage 2 (S1 text scan → P1/P2/P3 parse → K1/K2 chunked JSONL) ──
    // fanOut before the parses: the raw fixtures arrive as one/few text
    // parts below the scan's open-cost split floor, so the split/rejoin
    // parse and the JSON encode of every staged file otherwise run in one
    // task (identity at production input sizes — see Tables.fanOut)
    val titles = parseDelimited(Tables.fanOut(spark.read.text(s"$rawBase/titles_raw")),
      Seq("edit_id", "word_id", "korean"))
    val hanja = parseDelimited(Tables.fanOut(spark.read.text(s"$rawBase/hanja_raw")),
      Seq("korean", "hanjya", "examples"))
    val langlink = parseTuples(Tables.fanOut(spark.read.text(s"$rawBase/langlink_raw")),
      Seq("article_id", "language", "text"))
    // K2: chunked multi-file write (the reference's 10k-row part files,
    // `dag-knlp.py:139-145`) — part count, not row count, is the Spark
    // unit of chunking; consumers prefix-scan the directory (S3).
    // The three staging writes are INDEPENDENT jobs (guide §2.6: overlap
    // independent jobs so the next job's tasks back-fill executors freed
    // by the current job's tail — here each write's tail would otherwise
    // leave the cores idle while the next hasn't started). Threads are
    // created under the caller's job group (InheritableThreadLocal), so
    // the bench watchdog's cancel still reaches all three.
    locally {
      val writes = Seq[() => Unit](
        () => titles.repartition(4).write.mode("overwrite").json(s"$base/korean_jsonl"),
        () => hanja.write.mode("overwrite").json(s"$base/korean_hanjya_jsonl"), // K1 single-dir write
        () => langlink.repartition(4).write.mode("overwrite").json(s"$base/korean_japanese_jsonl"))
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val threads = writes.map { w =>
        val t = new Thread(() =>
          try w() catch { case e: Throwable => failure.compareAndSet(null, e) })
        t.start(); t
      }
      threads.foreach(_.join())
      if (failure.get() != null) throw failure.get()
    }

    // ── Stage 3 (S2/S3: schema'd JSONL load + K3 temp views) ──
    def st(names: String*) = StructType(names.map(StructField(_, StringType, nullable = true)))
    val v = viewSuffix
    spark.read.schema(st("edit_id", "word_id", "korean")).json(s"$base/korean_jsonl")
      .createOrReplaceTempView(s"korean$v")
    spark.read.schema(st("article_id", "language", "text")).json(s"$base/korean_japanese_jsonl")
      .createOrReplaceTempView(s"korean_japanese$v")
    spark.read.schema(st("korean", "hanjya", "examples")).json(s"$base/korean_hanjya_jsonl")
      .createOrReplaceTempView(s"korean_hanjya$v")

    // ── Stage 4 (O4 SQL task: the dimension query, ref `dag-knlp.py:65-80`;
    //    K4 INSERT-SELECT materialization as a stored table read back) ──
    spark.sql(
      s"""SELECT DISTINCT korean$v.word_id, korean$v.korean,
         |       korean_japanese$v.text AS japanese, korean_hanjya$v.hanjya
         |FROM korean$v
         |LEFT JOIN korean_japanese$v ON korean$v.word_id = korean_japanese$v.article_id
         |LEFT JOIN korean_hanjya$v   ON korean$v.korean  = korean_hanjya$v.korean
         |""".stripMargin)
      .write.mode("overwrite").parquet(s"$base/korean_japanese_hanjya")
    val dim = spark.read.parquet(s"$base/korean_japanese_hanjya")

    // ── Stage 5 (D1/D2 data-quality checks, ref `dag-knlp.py:243-279`) ──
    // Both checks are pure aggregates over the same table, so they share
    // ONE scan+aggregate job (guide §2.4: two operations keyed the same
    // way share one pass) — the checks themselves are unchanged.
    val checks = dim.agg(count(lit(1)).as("n"),
      max(length(col("word_id"))).as("max_len")).head()
    val n = checks.getLong(0)
    require(n >= 1, s"check_data_count failed: $n rows")
    val maxLen = checks.getInt(1)
    require(maxLen <= 13, s"check_data_length failed: max len(word_id)=$maxLen > 13")

    dim
  }

  /** The reference's ACTUAL payload — Hangul word titles (A2), Hanja
    * readings (A1 `korean:hanja:examples`), Japanese langlink tuples (A3)
    * — through the full staged pipeline from caller-supplied raw lines.
    * K1's write semantics are explicitly UTF-8 (`force_ascii=False`,
    * ref `dag-knlp.py:109,184`): the staged JSONL must carry raw UTF-8
    * bytes (never \\uXXXX ASCII escapes) and the dimension output must
    * round-trip the non-ASCII text byte-exactly. PipelineSpec drives this
    * with golden Hangul/Hanja/Katakana rows and asserts both. */
  def dimensionFromRawLines(spark: SparkSession, base: String,
                            titles: Seq[String], hanja: Seq[String],
                            langlink: Seq[String]): DataFrame = {
    import spark.implicits._
    titles.toDF("value").coalesce(1).write.mode("overwrite").text(s"$base/titles_raw")
    hanja.toDF("value").coalesce(1).write.mode("overwrite").text(s"$base/hanja_raw")
    langlink.toDF("value").coalesce(1).write.mode("overwrite").text(s"$base/langlink_raw")
    dimensionFromRaw(spark, base, base, viewSuffix = "_raw")
  }

  /** CSV sink + source — the third interchange format next to the JSONL
    * staging above and the parquet tables: a projection of `orders` is
    * written as headered multi-part CSV and read back with a DECLARED
    * schema (no inference pass — inference both scans twice and yields a
    * data-dependent schema), then aggregated. A correct write+parse
    * round-trips exactly (longs and shortest-repr doubles are lossless in
    * CSV), so the oracle computes the aggregate straight from the parquet
    * source. Narrow write, narrow schema'd scan, one partial-agg shuffle. */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.scratch(dir) + "/orders_csv"
    // fanOut: parallel CSV encode + parallel read-back (see orcRoundTrip)
    Tables.fanOut(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(base)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))
    spark.read.schema(schema).option("header", "true").csv(base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
  }

  val csvRoundTripOracleSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** ORC sink + source — the columnar interchange format next to parquet:
    * a projection of `lineitem` is written as ORC (self-describing footer
    * schema, so the read-back needs NO declared schema — unlike CSV) and
    * re-aggregated. ORC round-trips longs/doubles losslessly, so the
    * oracle computes the aggregate straight from the parquet source. The
    * scan keeps the columnar virtues parquet has here: column pruning and
    * predicate pushdown both reach the ORC reader. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.scratch(dir) + "/lineitem_orc"
    // fanOut: parallelizes the ORC encode AND gives the read-back a
    // multi-stripe layout to scan in parallel (the single-row-group
    // parquet source otherwise serializes both sides)
    Tables.fanOut(Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"))
      .write.mode("overwrite").orc(base)
    spark.read.orc(base)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
  }

  val orcRoundTripOracleSql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** CORRUPT-RECORD handling at the load boundary — the S2 JSONL load's
    * twin of the parser's Q1/Q2 arity guards (`parseDelimited`; reference
    * try/except `dag-knlp.py:104-105`): a staged JSONL directory with
    * deterministically injected malformed lines (every o_orderkey ≡ 7
    * mod 10 is truncated mid-object — the shape a truncated part file
    * leaves behind) is loaded in PERMISSIVE mode with a declared
    * `_corrupt_record` column. Malformed lines land in the corrupt column
    * with every data field null; good lines parse normally; the load
    * NEVER throws — at 100 TB a single truncated file must cost a counted
    * quarantine row, not the job. Emits (good_rows, corrupt_rows,
    * good_revenue); the oracle recomputes all three from the injection
    * rule. Narrow write + narrow schema'd scan + one 1-row aggregate. */
  /** Stage the corrupted-JSONL input ONCE per (process, corpus) — input
    * staging like [[ensureRawFixtures]] (a real ingest receives the dirty
    * files; it does not write them), so the query times the PERMISSIVE
    * load, not the fixture synthesis. Pre-built by Bench as the
    * `dirty_jsonl` store_build entry. */
  def ensureDirtyJsonl(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"dirtyjsonl-${dir.replace('/', '_')}") { tmp =>
      Tables.orders(spark, dir)
        .select(
          when(col("o_orderkey") % 10 === 7,
            concat(lit("{\"o_orderkey\":"), col("o_orderkey"), lit(",\"o_totalprice\":")))
          .otherwise(to_json(struct(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))))
          .as("value"))
        .write.mode("overwrite").text(tmp.resolve("data").toString)
    }.toString + "/data"

  def corruptLoad(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureDirtyJsonl(spark, dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(base)
      .agg(
        count(when(col("_corrupt_record").isNull, lit(1))).as("good_rows"),
        count(col("_corrupt_record")).as("corrupt_rows"),
        sum(when(col("_corrupt_record").isNull, col("o_totalprice").cast(DecimalType(18, 2))))
          .cast("double").as("good_revenue"))
  }

  val corruptLoadOracleSql: String =
    """SELECT CAST(count(*) FILTER (WHERE o_orderkey % 10 <> 7) AS BIGINT) AS good_rows,
              CAST(count(*) FILTER (WHERE o_orderkey % 10 = 7) AS BIGINT) AS corrupt_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                   FILTER (WHERE o_orderkey % 10 <> 7) AS DOUBLE) AS good_revenue
       FROM orders"""

  /** SMALL-FILE COMPACTION — the maintenance rewrite every incrementally
    * loaded 100 TB table needs: daily chunked appends (the reference's
    * 10k-row part files, `dag-knlp.py:139-145`) fragment partition
    * directories until file-open overhead dominates scans; compaction
    * rewrites them into size-targeted files. Here the fragmented producer
    * writes ⌈n/fragRecords⌉ small files, the compactor rewrites to
    * ⌈n/targetRecords⌉ via `maxRecordsPerFile` (the file-size governor a
    * production rewrite uses with byte targets), and the emitted row
    * carries both file counts (counted DISTRIBUTEDLY via
    * input_file_name(), no driver listing) plus the order-independent
    * content digest of the compacted copy — losslessness is part of the
    * oracle check, not an assumption. Single-writer tasks make both file
    * counts exactly ⌈n/records⌉ (deterministic, so DuckDB can recompute
    * them); a cluster-scale rewrite runs the same plan with
    * `repartition(⌈bytes/target⌉)` ahead of the sink — the multi-task
    * variant is spec-covered in PipelineSpec. */
  /** Stage the fragmented directory ONCE per (process, corpus) — it is the
    * compactor's INPUT (the accumulated small-file state daily appends
    * leave behind), staged like [[ensureRawFixtures]] so the query times
    * the compaction rewrite itself. Pre-built by Bench as `frag_docs`. */
  def ensureFragmentedDocs(spark: SparkSession, dir: String,
                           fragRecords: Int = 10): String =
    Artifacts.ensure(s"fragdocs-${dir.replace('/', '_')}-r$fragRecords") { tmp =>
      Tables.documents(spark, dir).select("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .option("maxRecordsPerFile", fragRecords).parquet(tmp.resolve("frag").toString)
    }.toString + "/frag"

  def compactRewrite(spark: SparkSession, dir: String, fragRecords: Int = 10,
                     targetRecords: Int = 100): DataFrame = {
    val base = Artifacts.scratch(dir) + "/documents_compact"
    val frag = spark.read.parquet(ensureFragmentedDocs(spark, dir, fragRecords))
    frag.coalesce(1).write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecords).parquet(s"$base/compact")
    val compact = spark.read.parquet(s"$base/compact")
    val fragFiles = frag.select(input_file_name().as("f"))
      .agg(countDistinct(col("f")).as("n_frag_files"))
    val compactFiles = compact.select(input_file_name().as("f"))
      .agg(countDistinct(col("f")).as("n_compact_files"))
    compact
      .select(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("content_digest"))
      .crossJoin(broadcast(fragFiles))
      .crossJoin(broadcast(compactFiles))
      .select("n_docs", "n_frag_files", "n_compact_files", "content_digest")
  }

  def compactRewriteOracleSql(fragRecords: Int = 10, targetRecords: Int = 100): String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""SELECT count(*) AS n_docs,
               CAST(ceil(count(*) / $fragRecords.0) AS BIGINT) AS n_frag_files,
               CAST(ceil(count(*) / $targetRecords.0) AS BIGINT) AS n_compact_files,
               CAST(sum($hexToLong) AS BIGINT) AS content_digest
        FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
              FROM documents) t"""
  }

  /** DYNAMIC PARTITION OVERWRITE — the idempotent-backfill staple of a
    * partitioned 100 TB table: a daily job that died mid-run, or a
    * correction batch for one slice, is simply re-run and must replace
    * ONLY the partitions it produces, leaving every other slice's files
    * untouched (static overwrite mode would truncate the whole table —
    * the classic production incident). Here the events table is staged
    * hive-partitioned by `event_type`, then the `hot` partition is
    * backfilled with corrected (doubled) values under
    * `partitionOverwriteMode=dynamic`; the read-back aggregates per type,
    * so the oracle — doubled values for `hot`, originals elsewhere —
    * proves exactly one partition changed and none were lost. The
    * untouched-files assertion lives in PipelineSpec. */
  def partitionOverwrite(spark: SparkSession, dir: String,
                         hot: String = "click"): DataFrame = {
    val base = Artifacts.scratch(dir) + "/events_backfill"
    val ev = Tables.events(spark, dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
    ev.filter(col("event_type") === hot)
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(base)
    spark.read.parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
  }

  def partitionOverwriteOracleSql(hot: String = "click"): String =
    s"""SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = '$hot'
                             THEN CAST(value * 2 AS DECIMAL(18,2))
                             ELSE CAST(value AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type"""

  /** SCHEMA-EVOLUTION read — LLM corpora gain columns over time (a new
    * quality score, a license tag) and a 100 TB table is never rewritten
    * just to add one: old batches keep the old schema, new batches carry
    * the superset, and the scan NULL-pads. Two parquet batches are staged
    * (even orderkeys without `o_orderstatus`, odd ones with it) and read
    * back through `mergeSchema` — the footer-merging union read — then
    * aggregated per status with the pre-schema rows surfacing as a
    * sentinel group. The oracle is the explicit NULL-padded UNION ALL. */
  /** Stage the two differently-schema'd parquet batches ONCE per
    * (process, corpus) — they are the evolving table's on-disk state (old
    * batches are never rewritten; that is the point), staged like
    * [[ensureRawFixtures]]. Pre-built by Bench as `evolving_batches`. */
  def ensureEvolvingBatches(spark: SparkSession, dir: String): String =
    Artifacts.ensure(s"evolve-${dir.replace('/', '_')}") { tmp =>
      val orders = Tables.orders(spark, dir)
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(tmp.resolve("batch1").toString)
      orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(tmp.resolve("batch2").toString)
    }.toString

  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val base = ensureEvolvingBatches(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(s"$base/batch1", s"$base/batch2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-schema>")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
  }

  val schemaEvolutionOracleSql: String =
    """SELECT coalesce(o_orderstatus, '<pre-schema>') AS status,
              count(*) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM (SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
             FROM orders WHERE o_orderkey % 2 = 0
             UNION ALL
             SELECT o_orderkey, o_totalprice, o_orderstatus
             FROM orders WHERE o_orderkey % 2 = 1) t
       GROUP BY 1 ORDER BY 1"""

  /** COMPRESSION-CODEC round-trip — the storage-cost knob at 100 TB: cold
    * corpus partitions are written zstd (denser, slower to encode), hot
    * ones snappy (the Spark default — cheaper CPU per scan), and both
    * must be LOSSLESS. The corpus text is written once per codec and read
    * back into the order-independent [[Curation.corpusFingerprint]]
    * digest, so any byte lost or altered by an encode/decode pair changes
    * the output row. Parquet names its part files with the codec
    * (`….zstd.parquet`) — PipelineSpec asserts the layout really carries
    * each codec, so this cannot silently test snappy twice. Per codec:
    * one narrow write + one narrow scan + a 1-row aggregate. */
  def codecRoundTrip(spark: SparkSession, dir: String): DataFrame =
    Seq("snappy", "zstd").map { codec =>
      val base = Artifacts.scratch(dir) + s"/docs_codec_$codec"
      Tables.documents(spark, dir).select("doc_id", "text")
        .write.mode("overwrite").option("compression", codec).parquet(base)
      spark.read.parquet(base)
        .select(conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))), 1, 8), 16, 10)
          .cast("long").as("h"))
        .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("content_digest"))
        .select(lit(codec).as("codec"), col("n_docs"), col("content_digest"))
    }.reduce(_ unionByName _)

  val codecRoundTripOracleSql: String = {
    val hexToLong = (1 to 8)
      .map(i => s"(strpos('0123456789abcdef', substr(h8, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH fp AS (SELECT count(*) AS n_docs,
                           CAST(sum($hexToLong) AS BIGINT) AS content_digest
                    FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS h8
                          FROM documents) t)
        SELECT c.codec, fp.n_docs, fp.content_digest
        FROM (VALUES ('snappy'), ('zstd')) c(codec), fp
        ORDER BY c.codec"""
  }
}
