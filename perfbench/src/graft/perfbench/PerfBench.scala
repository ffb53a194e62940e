package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.perfbench.Tracer

import graft.Sessions
import graft.operators.{Dedup, Pipeline, Similarity}

/** The benchmark's measured JVM: one workload, one fresh `local[N]` session.
  *
  * Set-up is `Sessions.build`, one warm-up iteration on the input (for the
  * catalog: the table's bulk load and first rounds) and a full GC; the
  * ready line marks its end. Then it runs measured iterations until
  * `--seconds` have passed (at least one), each on its own copy of the input
  * path so no per-process artifact cache can serve it, forces full GCs and
  * reads the used heap, then writes the outputs the oracle checks and a JSON
  * report to `--out`. With `--trace 1` iterations alternate untraced and
  * traced (listeners attached) and traced ones carry a per-layer profile.
  *
  * Usage: PerfBench --workload W --input DIR --work DIR
  *                  --seconds S --trace 0|1 --out FILE
  */
object PerfBench {
  val ReadyLine = "PERFBENCH_READY"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work"))
    val spans = new Spans
    val tBuild = System.nanoTime()
    val spark = Sessions.build(s"perfbench-${opt("workload")}")
    val buildMs = (System.nanoTime() - tBuild) / 1e6
    val warehouse = Paths.get(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val warehouseExisted = Files.exists(warehouse)
    val wl: Workload = opt("workload") match {
      case "pipeline_ref" => new PipelineWorkload
      case "dedup_corpus" => new DedupWorkload
      case "catalog_incremental" => new CatalogWorkload(spark, work)
      case other => sys.error(s"unknown workload $other")
    }
    val report = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"),
      "sessions_build_ms" -> buildMs)
    val input = Paths.get(opt("input"))
    val tWarm = System.nanoTime()
    wl.warmup(spark, input, work.resolve("iter-0"), spans)
    report("warmup_ms") = (System.nanoTime() - tWarm) / 1e6
    report("warmup_jobs") = jobsOf(spark, "pb-0")._1
    report("warmup_tasks") = jobsOf(spark, "pb-0")._2
    // collecting the warm-up's garbage is set-up work too: left to the
    // first measured iteration, its cleanup slowed that iteration
    settle()
    println(ReadyLine)
    System.out.flush()

    val traced = opt("trace") == "1"
    val tracer = new Tracer(spark)
    wl.prepare(spark, input, work)
    val iters = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val seconds = opt("seconds").toDouble
    val t0 = System.nanoTime()
    // After the set-up's full-size warm-up one iteration is enough;
    // --seconds allow more. A traced run alternates untraced and traced
    // iterations, so trace_overhead compares iterations equally warm.
    val minIters = if (traced) 2 else 1
    var n = 0
    while ((n < minIters || (System.nanoTime() - t0) / 1e9 < seconds) && wl.hasNext) {
      n += 1
      val withTrace = traced && n % 2 == 0
      val group = s"pb-$n"
      val dir = work.resolve(s"iter-$n")
      wl.stage(input, dir)
      if (withTrace) tracer.attach()
      val cg0 = codegen()
      val gc0 = gcCount()
      spans.clear()
      spark.sparkContext.setJobGroup(group, s"perfbench iteration $n", interruptOnCancel = false)
      val ticks0 = cpuTicks()
      val it0 = System.nanoTime()
      val rec = mutable.LinkedHashMap[String, Any]("n" -> n, "traced" -> withTrace,
        "dir" -> dir.toString)
      try wl.iteration(spark, dir, spans, rec)
      catch { case e: Throwable => rec("error") = e.toString; e.printStackTrace() }
      val wallMs = (System.nanoTime() - it0) / 1e6 - spans.offClockMs
      val ticks1 = cpuTicks()
      rec("steal_share") = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
      spark.sparkContext.clearJobGroup()
      rec("wall_ms") = wallMs
      val (jobs, tasks) = jobsOf(spark, group)
      rec("jobs") = jobs
      rec("tasks") = tasks
      if (withTrace) {
        tracer.detach()
        rec("layers") = layers(wl, tracer, group, spans, wallMs, cg0, gc0)
        rec("sql") = tracer.execs.asScala.filter(_.group == group)
          .map(e => s"${e.id}:${if (e.kind.isEmpty) "query" else e.kind}:${e.endMs - e.startMs}ms")
      }
      iters += rec
    }
    report("measured_s") = (System.nanoTime() - t0) / 1e9
    report("iterations") = iters.toSeq
    report("heap_after_gc_mb") = heapAfterGc()
    // off the clock: outputs for the oracle, workload-level trace figures
    report("outputs") = wl.finish(spark, iters.toSeq, work, traced)
    report("failed_queries") = tracer.failedQueries
    report("warehouse_created") = !warehouseExisted && Files.exists(warehouse)
    report("warehouse_dir") = warehouse.toString
    writeReport(Paths.get(opt("out")), report ++ env(spark))
    spark.stop()
  }

  /** Jobs and tasks Spark's status store still holds for a job group. */
  private def jobsOf(spark: SparkSession, group: String): (Int, Long) = {
    val st = spark.sparkContext.statusTracker
    val ids = st.getJobIdsForGroup(group)
    val tasks = ids.flatMap(st.getJobInfo).flatMap(_.stageIds())
      .flatMap(st.getStageInfo).map(_.numTasks().toLong).sum
    (ids.length, tasks)
  }

  /** (compilations, summed compile ms, generated classes) so far. */
  private def codegen(): (Long, Double, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }

  /** A full GC, then a pause for the ContextCleaner to release the
    * shuffle, broadcast and checkpoint state it enqueued. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  /** Used heap (MB) after forced full GCs. Spark's ContextCleaner releases
    * shuffle and broadcast state only after a GC has enqueued the dead
    * references, so collect until the used heap stops falling. */
  private def heapAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var used = Long.MaxValue - 1
    var rounds = 0
    while (used < last && rounds < 6) {
      last = used
      System.gc()
      Thread.sleep(300)
      used = math.min(last, mem.getHeapMemoryUsage.getUsed)
      rounds += 1
    }
    used / 1048576.0
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of CPU
    * time the hypervisor gave to other guests during an iteration. */
  private def cpuTicks(): (Long, Long) = {
    val v =
      try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      catch { case _: java.io.IOException => Array.empty[Long] }
    (if (v.length > 7) v(7) else 0L, v.sum)
  }

  private def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  private def layers(wl: Workload, tracer: Tracer, group: String, spans: Spans,
                     wallMs: Double, cg0: (Long, Double, Long),
                     gc0: Long): mutable.LinkedHashMap[String, Double] = {
    val l = Tracer.layerTotals(tracer, group)
    val cg1 = codegen()
    val compiles = cg1._1 - cg0._1
    // the histogram keeps every sample until its 1028-slot reservoir fills;
    // past that, estimate from the reservoir mean
    l("codegen.compile_ms") =
      if (cg1._1 <= 1028) cg1._2 - cg0._2
      else compiles * (cg1._2 / math.max(1, CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.size))
    l("codegen.classes") = (cg1._3 - cg0._3).toDouble
    l("exec.core_busy_share") = l("exec.run_ms") / (wallMs * Sessions.cpus.toDouble)
    l("jvm.code_cache_mb") = codeCacheMb()
    l("jvm.gc_count") = (gcCount() - gc0).toDouble
    val parts = wl.partition(tracer, group, spans)
    parts.foreach { case (k, v) => l(k) = v }
    l("wall_ms") = wallMs
    l("unattributed_ms") = wallMs - parts.filter(_._1.endsWith("_ms")).map(_._2).sum
    l
  }

  private def env(spark: SparkSession): Map[String, Any] = Map("env" -> Map(
    "available_processors" -> Runtime.getRuntime.availableProcessors,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "spark_master" -> spark.sparkContext.master,
    "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
    "SPARK_GRAFT_JAVA_OPTS" -> sys.env.getOrElse("SPARK_GRAFT_JAVA_OPTS", ""),
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> spark.version))

  def writeReport(path: Path, report: collection.Map[String, Any]): Unit =
    Files.write(path, Json(report).getBytes("UTF-8"))

  /** Hard-link every regular file under `from` into the same relative path
    * under `to`: a fresh path for the program, no copied bytes. */
  def linkTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.createLink(q, p)
    } finally s.close()
  }
}

/** Wall-clock spans the benchmark records around its calls into the
  * program's modules, plus time it spends on its own bookkeeping inside an
  * iteration (subtracted from the iteration's wall time). */
final class Spans {
  val spans = mutable.ArrayBuffer[(String, Long, Long, Double)]()
  var offClockMs = 0.0

  def clear(): Unit = { spans.clear(); offClockMs = 0.0 }

  def apply[T](name: String)(f: => T): T = {
    val s = System.currentTimeMillis()
    val t = System.nanoTime()
    try f
    finally spans += ((name, s, System.currentTimeMillis(), (System.nanoTime() - t) / 1e6))
  }

  def offClock[T](f: => T): T = {
    val t = System.nanoTime()
    try f finally offClockMs += (System.nanoTime() - t) / 1e6
  }

  def total(name: String): Double = spans.filter(_._1 == name).map(_._4).sum
}

trait Workload {
  def warmup(spark: SparkSession, input: Path, dir: Path, spans: Spans): Unit = {
    spark.sparkContext.setJobGroup("pb-0", "perfbench warm-up", interruptOnCancel = false)
    stage(input, dir)
    iteration(spark, dir, spans, mutable.LinkedHashMap())
    spark.sparkContext.clearJobGroup()
  }
  def prepare(spark: SparkSession, input: Path, work: Path): Unit = ()
  def hasNext: Boolean = true
  /** Give iteration `dir` its own copy of the input path. */
  def stage(input: Path, dir: Path): Unit
  def iteration(spark: SparkSession, dir: Path, spans: Spans,
                rec: mutable.LinkedHashMap[String, Any]): Unit
  /** The iteration's wall time split into module layers (ms). */
  def partition(t: Tracer, group: String, spans: Spans): Seq[(String, Double)]
  def finish(spark: SparkSession, iters: Seq[collection.Map[String, Any]], work: Path,
             traced: Boolean): Any = Map.empty
}

/** pipeline_ref: the reference DAG (Pipeline.dimensionFromRaw) over raw
  * line-text in the three reference formats. */
final class PipelineWorkload extends Workload {
  def stage(input: Path, dir: Path): Unit =
    PerfBench.linkTree(input.resolve("raw"), dir.resolve("in"))

  def iteration(spark: SparkSession, dir: Path, spans: Spans,
                rec: mutable.LinkedHashMap[String, Any]): Unit =
    spans("pipeline.dimension") {
      Pipeline.dimensionFromRaw(spark, dir.resolve("in").toString, dir.resolve("out").toString)
    }

  def partition(t: Tracer, group: String, spans: Spans): Seq[(String, Double)] = {
    // SQL executions by what they write; nested executions overlap their
    // parent, so each layer gets only the time the earlier ones leave over
    val es = t.execs.asScala.filter(_.group == group).toSeq
    def span(kinds: String*) = Tracer.unionMs(es.filter(e => kinds.isEmpty ||
      kinds.contains(e.kind)).map(e => (e.startMs, e.endMs))).toDouble
    val staging = es.filter(_.kind == "json").map(_.id).toSet
    val ts = t.tasks.asScala.filter(r => staging.contains(r.exec)).toSeq
    Seq(
      "pipeline.staging_ms" -> span("json"),
      "pipeline.load_join_ms" -> (span("json", "parquet") - span("json")),
      "pipeline.checks_ms" -> (span() - span("json", "parquet")),
      "pipeline.kept_ratio" ->
        ts.map(_.outputRecords).sum.toDouble / math.max(1L, ts.map(_.inputRecords).sum))
  }
}

/** dedup_corpus: text near-dup clusters (signature store → pairs →
  * clusters) and semantic clusters over a tiled corpus. */
final class DedupWorkload extends Workload {
  def stage(input: Path, dir: Path): Unit =
    PerfBench.linkTree(input.resolve("in"), dir.resolve("in"))

  def iteration(spark: SparkSession, dir: Path, spans: Spans,
                rec: mutable.LinkedHashMap[String, Any]): Unit = {
    val d = dir.resolve("in").toString
    spans("dedup.signature")(Dedup.ensureSignatureStore(spark, d))
    spans("dedup.pairs")(Dedup.nearDupPairs(spark, d))
    spans("dedup.clusters")(Dedup.nearDupClusters(spark, d))
    spans("similarity.semdedup")(Similarity.semanticDedupClusters(spark, d))
  }

  def partition(t: Tracer, group: String, spans: Spans): Seq[(String, Double)] = {
    val cc = spans.spans.find(_._1 == "dedup.clusters")
    Seq(
      "dedup.signature_ms" -> spans.total("dedup.signature"),
      "dedup.pairs_ms" -> spans.total("dedup.pairs"),
      "dedup.clusters_ms" -> spans.total("dedup.clusters"),
      "similarity.semdedup_ms" -> spans.total("similarity.semdedup"),
      // Spark jobs started inside the clusters call (propagation rounds)
      "dedup.cc_jobs" -> cc.map { case (_, s, e, _) =>
        t.jobs.asScala.count { case (g, at) => g == group && at >= s && at <= e }.toDouble
      }.getOrElse(0.0))
  }

  override def finish(spark: SparkSession, iters: Seq[collection.Map[String, Any]],
                      work: Path, traced: Boolean): Any = {
    val out = iters.map { it =>
      val dir = Paths.get(it("dir").toString)
      val d = dir.resolve("in").toString
      Dedup.nearDupClusters(spark, d).write.parquet(dir.resolve("out/clusters").toString)
      Similarity.semanticDedupClusters(spark, d).write.parquet(dir.resolve("out/eclusters").toString)
      val extra = if (traced && it("traced") == true) {
        // verified pairs per LSH candidate: the verify stage's yield
        val verified = Dedup.nearDupPairs(spark, d).count()
        val candidates = Dedup.candidatePairs(spark, d).count()
        Map("verified_pairs" -> verified, "lsh_candidates" -> candidates)
      } else Map.empty
      Map("n" -> it("n")) ++ extra
    }
    Map("iterations" -> out,
      "oracle_sql" -> Map("clusters" -> Dedup.nearDupClustersOracleSql(),
        "eclusters" -> Similarity.semanticDedupOracleSql()))
  }
}

/** catalog_incremental: a closed loop of daily ingest rounds (INSERT,
  * MERGE, DELETE, current read, VERSION AS OF read; compaction and version
  * expiry every few rounds) by one client against a GraftCatalog table. */
final class CatalogWorkload(spark: SparkSession, work: Path) extends Workload {
  private val cat = "pbcat"
  spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
  spark.conf.set(s"spark.sql.catalog.$cat.root", work.resolve("catalog").toString)

  /** One statement of the script; `version` is the table version a read
    * sees, `batch` the parquet file an INSERT or MERGE reads as `pb_batch`
    * (a temp view: the `parquet.`path`` form would make Spark create the
    * session catalog's warehouse directory, which lies outside the run). */
  private case class Op(kind: String, sql: String, version: Int = -1, batch: Option[Path] = None)
  private var table = ""
  private var input: Path = _
  private var ops: Seq[Map[String, Any]] = Nil
  private var pos = 0
  private var latest = -1
  private var createVersion = -1
  private val nFiles = mutable.Map[Int, Long]()
  /** op index → table version after it, for every op that ran */
  private val versionAfter = mutable.ArrayBuffer[Int]()
  private val reads = mutable.ArrayBuffer[Map[String, Any]]()
  private val stmts = mutable.ArrayBuffer[(Int, String, Double)]()
  private var round = 0

  private def load(dir: Path, name: String): Unit = {
    input = dir
    table = s"$cat.$name.events"
    ops = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(dir.resolve("ops.json")), "UTF-8"))
      .values.asInstanceOf[List[Map[String, Any]]]
    pos = 0; latest = -1; versionAfter.clear(); reads.clear(); nFiles.clear()
    spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, day INT, tag STRING)")
    refreshVersions()
    createVersion = latest
  }

  private def refreshVersions(): Unit = {
    val h = spark.sql(s"CALL $cat.system.history(table => '${table.stripPrefix(cat + ".")}')")
      .collect()
    h.foreach(r => nFiles(r.getInt(0)) = r.getInt(4).toLong)
    latest = h.map(_.getInt(0)).max
  }

  private def sqlOf(op: Map[String, Any]): Op = {
    def file = input.resolve("in").resolve(op("file").toString)
    def read(version: Int) = Op("read",
      s"""SELECT count(*) AS n, coalesce(sum(v), 0) AS sv, coalesce(sum(k), 0) AS sk,
         |       coalesce(max(day), -1) AS md, coalesce(sum(length(tag)), 0) AS st
         |FROM $table ${if (version == latest) "" else s"VERSION AS OF $version"}
         |WHERE k BETWEEN ${op("lo")} AND ${op("hi")}""".stripMargin, version)
    val short = table.stripPrefix(cat + ".")
    op("op") match {
      case "insert" => Op("insert", s"INSERT INTO $table SELECT k, v, day, tag FROM pb_batch",
        batch = Some(file))
      case "merge" => Op("merge",
        s"""MERGE INTO $table t USING (SELECT k, v, day, tag FROM pb_batch) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v, day = s.day, tag = s.tag
           |WHEN NOT MATCHED THEN INSERT (k, v, day, tag) VALUES (s.k, s.v, s.day, s.tag)
           |""".stripMargin, batch = Some(file))
      case "delete" => Op("delete",
        s"DELETE FROM $table WHERE k IN (${op("keys").asInstanceOf[List[Any]].mkString(", ")})")
      case "read" => read(latest)
      case "read_version" => read(math.max(0, latest - op("lag").toString.toInt))
      case "compact" => Op("maint",
        s"CALL $cat.system.compact(table => '$short', target_files => ${op("target_files")})")
      case "expire" => Op("maint",
        s"CALL $cat.system.expire_versions(table => '$short', keep_last => ${op("keep_last")})")
      case "end_round" => Op("end", "")
    }
  }

  /** Set-up: create the table, bulk-load it and run its first
    * `WarmRounds` daily rounds. Warm-up rounds on a smaller table of their
    * own left the measured rounds speeding up by a fifth part-way through
    * a run (plans and JIT profiles still settling). */
  override def warmup(spark: SparkSession, input: Path, dir: Path, spans: Spans): Unit = {
    spark.sparkContext.setJobGroup("pb-0", "perfbench warm-up", interruptOnCancel = false)
    load(input, "main")
    if (ops.headOption.exists(_("op") == "insert")) runOp(spans)
    for (_ <- 1 to CatalogWorkload.WarmRounds if hasNext)
      iteration(spark, dir, spans, mutable.LinkedHashMap())
    spark.sparkContext.clearJobGroup()
  }

  /** Statement latencies count the measured rounds only; the oracle still
    * replays and checks the set-up's statements. */
  override def prepare(spark: SparkSession, in: Path, work: Path): Unit = {
    stmts.clear()
    round = 0
  }

  override def hasNext: Boolean = pos < ops.size

  def stage(input: Path, dir: Path): Unit = ()

  private def runOp(spans: Spans): Op = {
    val op = sqlOf(ops(pos))
    if (op.kind != "end") {
      val t = System.nanoTime()
      val rows = spans(s"catalog.${op.kind}") {
        op.batch.foreach(f => spark.read.parquet(f.toString).createOrReplaceTempView("pb_batch"))
        spark.sql(op.sql).collect()
      }
      stmts += ((round, op.kind, (System.nanoTime() - t) / 1e6))
      spans.offClock {
        if (op.kind == "read") reads += Map("op" -> pos, "version" -> op.version,
          "row" -> rowSeq(rows.head))
        else refreshVersions()
      }
    }
    versionAfter += latest
    pos += 1
    op
  }

  private def rowSeq(r: Row): Seq[Any] = r.toSeq.map {
    case l: java.lang.Long => l.longValue
    case i: java.lang.Integer => i.longValue
    case x => x
  }

  def iteration(spark: SparkSession, dir: Path, spans: Spans,
                rec: mutable.LinkedHashMap[String, Any]): Unit = {
    round += 1
    val first = pos
    var last: Op = null
    while (hasNext && (last == null || last.kind != "end")) last = runOp(spans)
    rec("ops") = Seq(first, pos)
    rec("user_bytes") = (first until pos).map(i => ops(i)).collect {
      case o if o("op") == "insert" || o("op") == "merge" =>
        Files.size(input.resolve("in").resolve(o("file").toString))
    }.sum
    val readVersions = reads.filter(r => r("op").asInstanceOf[Int] >= first)
      .map(r => nFiles.getOrElse(r("version").asInstanceOf[Int], 0L).toDouble)
    rec("files_per_read") = if (readVersions.isEmpty) 0.0 else readVersions.sum / readVersions.size
  }

  def partition(t: Tracer, group: String, spans: Spans): Seq[(String, Double)] =
    Seq("insert", "merge", "delete", "maint", "read").map(k => s"catalog.${k}_ms" -> spans.total(s"catalog.$k"))

  override def finish(spark: SparkSession, iters: Seq[collection.Map[String, Any]],
                      work: Path, traced: Boolean): Any = {
    val short = table.stripPrefix(cat + ".")
    val hist = spark.sql(s"CALL $cat.system.history(table => '$short')").collect()
    val digests = hist.map(_.getInt(0)).sorted.map { v =>
      val r = spark.sql(
        s"""SELECT count(*), coalesce(sum(k), 0), coalesce(sum(v), 0), coalesce(sum(day), 0),
           |       coalesce(sum(length(tag)), 0), coalesce(sum(k * v % 1000003), 0)
           |FROM $table VERSION AS OF $v""".stripMargin).head()
      Map("version" -> v, "digest" -> rowSeq(r))
    }.toSeq
    val tableDir = work.resolve("catalog").resolve(short.replace('.', '/'))
    val onDisk = {
      val s = Files.walk(tableDir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).sum finally s.close()
    }
    val live = spark.sql(s"SELECT DISTINCT input_file_name() FROM $table").collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).filter(_.nonEmpty)
      .map(p => Files.size(Paths.get(p))).sum
    Map("ops_run" -> pos, "create_version" -> createVersion, "version_after" -> versionAfter.toSeq, "reads" -> reads.toSeq,
      "versions" -> digests, "statements" -> stmts.map { case (r, k, ms) =>
        Map("round" -> r, "kind" -> k, "ms" -> ms) }.toSeq,
      "data_bytes_on_disk" -> onDisk, "live_bytes" -> live)
  }
}

object CatalogWorkload {
  val WarmRounds = 4
}

/** Minimal JSON rendering for the report (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
