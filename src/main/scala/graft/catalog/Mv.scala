package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
import org.apache.spark.sql.types._
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Incrementally-maintained MATERIALIZED VIEWS over catalog tables —
  * `CALL <cat>.system.create_mv(...)` / `refresh_mv(...)`, the batch
  * complement of the streaming derived-table loop (`q_stream_derived_table`).
  *
  * == Why affected-key recompute, not delta math ==
  *
  * A refresh must stay correct under DELETE and UPDATE, where
  * incremental +/- arithmetic only works for the distributive aggregates
  * (count/sum) and silently breaks min/max (a deleted row that held the
  * minimum cannot be "subtracted"). The sound general algorithm — the
  * one Materialize/Snowflake-style maintenance degrades to for
  * non-invertible aggregates — is AFFECTED-KEY RECOMPUTE:
  *
  *   1. the change feed of the source commits since the MV's recorded
  *      watermark yields the set of group keys any change touched
  *      (cost ∝ churn: [[ChangeFeed]] reads touched files, never the
  *      table);
  *   2. those keys — and ONLY those keys — are recomputed from the
  *      current source snapshot (pinned `VERSION AS OF`, so a racing
  *      writer can't tear the read); on a source CLUSTERED by the group
  *      keys the recompute scan prunes to the keys' files via the
  *      ordinary footer-stats skipping (an inlined `IN` predicate when
  *      the key set is small, a key join otherwise);
  *   3. one `MERGE INTO` applies the recomputed rows: refreshed keys
  *      update, new keys insert, keys whose rows all vanished delete —
  *      a single row-level commit, itself file-granular on the MV side.
  *
  * At 100 TB the refresh therefore costs the day's churn twice (feed +
  * recompute) plus the merge — never a full-table pass. When the feed is
  * UNRECONSTRUCTABLE (a watermark version expired by retention) the
  * refresh falls back to a full `INSERT OVERWRITE` recompute, loudly
  * reported in the output's `mode` column — degraded cost, never
  * degraded correctness.
  *
  * Any aggregate of the supported grammar (`count`, `sum`, `min`,
  * `max`, `avg`) is maintainable because nothing is ever delta-adjusted;
  * adding an aggregate is adding one line to [[MvSpecs.sqlOf]]. Crash
  * safety: the watermark bump is a separate metadata write AFTER the
  * merge commit; a crash between the two re-runs an idempotent refresh
  * (recompute from snapshot + key-equality merge converges to the same
  * MV state).
  */
private[graft] object Mv {
  /** MV definition, carried in the MV table's own props so the view
    * survives restarts and is inspectable via SHOW TBLPROPERTIES. */
  val SourceProp = "graft.mv.source"
  val KeysProp = "graft.mv.keys"
  val AggsProp = "graft.mv.aggs"
  val WhereProp = "graft.mv.where"
  val WatermarkProp = "graft.mv.source_version"

  /** Above this many changed keys the recompute predicate switches from
    * an inlined IN list (pushes into footer-stats file pruning) to a
    * broadcast-able key join — an IN list of millions of literals would
    * blow up the plan, and at that churn the scan is near-full anyway. */
  val MaxInlineKeys = 1024

  /** `where` is an optional ROW FILTER over source columns (most real
    * MVs are filtered aggregates). Affected-key recompute stays sound
    * under it: the change feed marks a key as affected whenever ANY row
    * of that key changed — including a row that changed INTO or OUT OF
    * the filter set — and the recompute re-applies the filter to the
    * key's current rows, so entering/leaving rows are accounted exactly.
    * Subqueries and nondeterministic predicates are refused at create
    * (a subquery smuggles in a second source the watermark doesn't
    * cover; nondeterminism breaks refresh idempotence). */
  final case class Def(source: String, keys: Seq[String], aggs: Seq[MvAgg],
                       where: Option[String] = None)

  def readDef(meta: TableMeta, view: String): Def = {
    def p(k: String) = meta.props.getOrElse(k, throw new IllegalArgumentException(
      s"'$view' is not a materialized view (missing $k; create via CALL system.create_mv)"))
    Def(p(SourceProp), p(KeysProp).split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      MvAgg.parseList(p(AggsProp)), meta.props.get(WhereProp))
  }

  /** `prefix` qualifies every source-column reference (`s.`) — required
    * on the join path, where the changed-key set carries the same key
    * column names. */
  def selectListSql(d: Def, prefix: String = ""): String =
    (d.keys.map(k => s"$prefix$k") ++
      d.aggs.map(a => s"${a.sql(prefix)} AS ${a.alias}")).mkString(", ")

  /** Recompute of the MV content at source version `v`: the definition's
    * own WHERE filter always applies; `extra` narrows further (the
    * inlined affected-key predicate). */
  def recomputeSql(d: Def, srcFq: String, v: Int, extra: Option[String]): String = {
    val preds = d.where.map(w => s"($w)").toSeq ++ extra.map(p => s"($p)").toSeq
    s"SELECT ${selectListSql(d)} FROM $srcFq VERSION AS OF $v" +
      (if (preds.isEmpty) "" else preds.mkString(" WHERE ", " AND ", "")) +
      s" GROUP BY ${d.keys.mkString(", ")}"
  }

  /** Characters a string key may contain and still be INLINED as a SQL
    * literal. Deliberately narrow: Spark's parser treats backslash as an
    * escape inside string literals (and other specials invite injection-
    * shaped bugs), so anything outside this set takes the join path —
    * slower, never wrong. */
  private val SafeInlineString = "^[A-Za-z0-9_\\-./: ]*$".r

  /** SQL literal for an IN-list element; None = this value (or type)
    * cannot be inlined and the refresh must take the join path. */
  def renderLiteral(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (x, _: ByteType | _: ShortType | _: IntegerType | _: LongType) => Some(x.toString)
    case (s: String, _: StringType) if SafeInlineString.matches(s) => Some(s"'$s'")
    case (d: java.sql.Date, _: DateType) => Some(s"DATE'$d'")
    case _ => None
  }

  final case class RefreshResult(fromVersion: Int, toVersion: Int, mode: String,
                                 changedKeys: Long, liveKeys: Long, vanishedKeys: Long)

  /** One refresh of `view` (a `ns.name` identifier within `cat`).
    *
    * The WHOLE refresh — feed read, recompute, MERGE, watermark bump —
    * runs under the MV's commit lock: two unserialized refreshes could
    * interleave so the slower one (older `to`) overwrites the newer
    * merge and regresses the watermark (ADVICE r13). The inner SQL
    * verbs commit on this same driver thread, so the reentrant lock is
    * safe; chained MVs lock in DAG order (cycles are refused at create),
    * so no deadlock is reachable. */
  def refresh(ss: SparkSession, cat: GraftCatalog, view: String,
              forceFull: Boolean): RefreshResult = {
    val mvDir = cat.existingTableDir(view)
    GraftTable.withCommitLock(mvDir) {
      refreshLocked(ss, cat, view, forceFull, mvDir)
    }
  }

  private def refreshLocked(ss: SparkSession, cat: GraftCatalog, view: String,
                            forceFull: Boolean,
                            mvDir: java.nio.file.Path): RefreshResult = {
    val mvMeta = TableMeta.read(mvDir)
    val d = readDef(mvMeta, view)
    val fromW = mvMeta.props(WatermarkProp).toInt
    val srcDir = cat.tableDirOf(d.source)
    require(Files.exists(srcDir.resolve(TableMeta.MetaFile)),
      s"materialized view '$view': source table '${d.source}' no longer exists")
    val srcMeta = TableMeta.read(srcDir)
    val to = srcMeta.latest
    val mvFq = s"${cat.name()}.$view"
    val srcFq = s"${cat.name()}.${d.source}"

    // force_full is the operational repair lever for a suspect MV: it
    // must run BEFORE the noop/layout-only early returns, or an
    // up-to-date watermark would silently skip the recompute (ADVICE r13)
    if (forceFull) {
      ss.sql(s"INSERT OVERWRITE $mvFq ${recomputeSql(d, srcFq, to, None)}")
      bumpWatermark(mvDir, to)
      val n = ss.table(mvFq).count()
      return RefreshResult(fromW, to, "full_forced", n, n, 0)
    }

    if (to <= fromW) return RefreshResult(fromW, to, "noop", 0, 0, 0)
    // every version in (fromW, to] still present? Retention may have
    // expired older commits — and an EXPIRED window can never justify a
    // noop: a data-changing commit may have been retired from history,
    // so concluding "layout-only" from the survivors would silently
    // advance the watermark past real churn (code-review r13 finding).
    val windowPresent = (fromW to to).forall(v => srcMeta.history.exists(_.version == v))
    val dataChanging = srcMeta.history
      .exists(c => c.version > fromW && c.version <= to && c.dataChange)
    if (windowPresent && !dataChanging) { // provably layout-only: just advance
      bumpWatermark(mvDir, to)
      return RefreshResult(fromW, to, "noop", 0, 0, 0)
    }
    // the feed needs every manifest fromW..to (each commit diffs against
    // its parent)
    if (!windowPresent) {
      ss.sql(s"INSERT OVERWRITE $mvFq ${recomputeSql(d, srcFq, to, None)}")
      bumpWatermark(mvDir, to)
      val n = ss.table(mvFq).count()
      return RefreshResult(fromW, to, "full_fallback", n, n, 0)
    }

    val cdf = ChangeFeed.tableChanges(ss, srcFq, fromW + 1, to)
    val changed = cdf.select(d.keys.map(col): _*).distinct()
    val tvChanged = s"__graft_mv_changed_${java.util.UUID.randomUUID().toString.take(8)}"
    val tvMergeSrc = s"__graft_mv_src_${java.util.UUID.randomUUID().toString.take(8)}"
    val keyTypes = d.keys.map(k => srcMeta.schema(
      srcMeta.schema.fieldNames.find(_.equalsIgnoreCase(k)).get).dataType)

    // the changed-key set is read three times (predicate build, merge
    // source, accounting) — stage it once; it is churn-sized. Each temp
    // view drops after its stage's release, as dropping a view over a
    // still-cached plan uncaches that plan through the view.
    try graft.Tables.withStaged(changed) { changedC =>
      val inlined: Option[String] =
        if (d.keys.length != 1) None
        else {
          val rows = changedC.limit(MaxInlineKeys + 1).collect()
          if (rows.length > MaxInlineKeys) None
          else {
            val lits = rows.map(r => renderLiteral(r.get(0), keyTypes.head))
            if (lits.exists(_.isEmpty)) None // null key or un-inlinable type
            else if (lits.isEmpty) Some("FALSE") // nothing changed row-wise
            else Some(s"${d.keys.head} IN (${lits.flatten.mkString(", ")})")
          }
        }
      val recompute = inlined match {
        case Some(pred) => ss.sql(recomputeSql(d, srcFq, to, Some(pred)))
        case None =>
          changedC.createOrReplaceTempView(tvChanged)
          // inner join against the DISTINCT key set restricts the group
          // scan to affected keys without an inline predicate; the
          // definition's WHERE applies inside the source subquery (the
          // predicate references bare source columns)
          ss.sql(
            s"""SELECT ${selectListSql(d, "s.")}
                FROM (SELECT * FROM $srcFq VERSION AS OF $to${
                  d.where.fold("")(w => s" WHERE $w")}) s
                JOIN $tvChanged c ON ${d.keys.map(k => s"s.$k <=> c.$k").mkString(" AND ")}
                GROUP BY ${d.keys.map(k => s"s.$k").mkString(", ")}""")
      }
      // merge source: every changed key, alive (has recomputed row) or not
      try graft.Tables.withStaged(changedC.alias("c")
          .join(recompute.withColumn("__alive", lit(true)).alias("r"),
            d.keys.map(k => col(s"c.$k") <=> col(s"r.$k")).reduce(_ && _), "left")
          .select((d.keys.map(k => col(s"c.$k").as(k)) ++
            d.aggs.map(a => col(s"r.${a.alias}").as(a.alias)) :+
            coalesce(col("r.__alive"), lit(false)).as("__alive")): _*)) { msrc =>
        val acct = msrc.agg(
          sum(when(col("__alive"), 1L).otherwise(0L)),
          sum(when(col("__alive"), 0L).otherwise(1L))).head()
        val (live, vanished) =
          (Option(acct.get(0)).fold(0L)(_.asInstanceOf[Long]),
           Option(acct.get(1)).fold(0L)(_.asInstanceOf[Long]))
        if (live + vanished > 0) {
          msrc.createOrReplaceTempView(tvMergeSrc)
          ss.sql(
            s"""MERGE INTO $mvFq t USING $tvMergeSrc s
                ON ${d.keys.map(k => s"t.$k <=> s.$k").mkString(" AND ")}
                WHEN MATCHED AND s.__alive THEN UPDATE SET
                  ${d.aggs.map(a => s"${a.alias} = s.${a.alias}").mkString(", ")}
                WHEN MATCHED AND NOT s.__alive THEN DELETE
                WHEN NOT MATCHED AND s.__alive THEN INSERT
                  (${(d.keys ++ d.aggs.map(_.alias)).mkString(", ")})
                  VALUES (${(d.keys ++ d.aggs.map(_.alias)).map(c => s"s.$c").mkString(", ")})""")
        }
        bumpWatermark(mvDir, to)
        RefreshResult(fromW, to, "incremental", live + vanished, live, vanished)
      } finally ss.catalog.dropTempView(tvMergeSrc)
    } finally ss.catalog.dropTempView(tvChanged)
  }

  /** The MV's recorded source watermark (observability, like
    * [[Manifests.latestVersion]]). */
  def watermarkOf(ss: SparkSession, mvTable: String): Int = {
    val dir = Manifests.tableDir(ss, mvTable)
    TableMeta.read(dir).props.getOrElse(WatermarkProp, throw new IllegalArgumentException(
      s"'$mvTable' is not a materialized view")).toInt
  }

  /** Rewind the watermark (operational lever: force the next refresh to
    * reprocess from an older source version — Delta's `startingVersion`
    * analog; also how the crash-window replay invariant is exercised:
    * refresh is key-idempotent, so replaying commits the same MV state). */
  def resetWatermark(ss: SparkSession, mvTable: String, to: Int): Unit = {
    val dir = Manifests.tableDir(ss, mvTable)
    require(to >= 0, s"watermark must be >= 0, got $to")
    GraftTable.withCommitLock(dir) {
      val m = TableMeta.read(dir)
      require(m.props.contains(WatermarkProp), s"'$mvTable' is not a materialized view")
      TableMeta.write(dir, m.copy(props = m.props + (WatermarkProp -> to.toString)),
        expectedLatest = Some(m.latest))
    }
  }

  /** Advance the MV's source watermark — a metadata-only write under the
    * MV's commit lock (the TagProcedure idiom). MONOTONE: a stored
    * watermark already at or past `to` is left alone (belt to the
    * whole-refresh lock's suspenders — an older refresh can never
    * regress a newer one's mark; deliberate rewinds go through
    * [[resetWatermark]]). */
  private def bumpWatermark(mvDir: java.nio.file.Path, to: Int): Unit =
    GraftTable.withCommitLock(mvDir) {
      val m = TableMeta.read(mvDir)
      if (!m.props.get(WatermarkProp).exists(_.toInt >= to))
        TableMeta.write(mvDir, m.copy(props = m.props + (WatermarkProp -> to.toString)),
          expectedLatest = Some(m.latest))
    }
}

/** One aggregate of an MV definition: `alias:count` or `alias:fn(col)`
  * with fn in count/sum/min/max/avg. A closed grammar (not arbitrary
  * SQL) so the refresh can rebuild the recompute deterministically from
  * the stored props and validation happens at CREATE time, not at the
  * first refresh. */
private[graft] final case class MvAgg(alias: String, fn: String, column: Option[String]) {
  def sql(prefix: String = ""): String = column.fold(s"$fn(*)")(c => s"$fn($prefix$c)")
  def toColumn: Column = {
    import org.apache.spark.sql.{functions => F}
    val c = (fn, column) match {
      case ("count", None) => F.count(F.lit(1))
      case ("count", Some(cl)) => F.count(F.col(cl))
      case ("sum", Some(cl)) => F.sum(F.col(cl))
      case ("min", Some(cl)) => F.min(F.col(cl))
      case ("max", Some(cl)) => F.max(F.col(cl))
      case ("avg", Some(cl)) => F.avg(F.col(cl))
      case other => throw new IllegalArgumentException(s"unsupported aggregate $other")
    }
    c.as(alias)
  }
}

private[graft] object MvAgg {
  val Fns: Set[String] = Set("count", "sum", "min", "max", "avg")
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val WithCol = s"^($Ident):($Ident)\\(($Ident)\\)$$".r
  private val Bare = s"^($Ident):count$$".r

  def parseList(s: String): Seq[MvAgg] = {
    val specs = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(specs.nonEmpty, "aggs must declare at least one aggregate")
    val parsed = specs.map {
      case Bare(alias) => MvAgg(alias, "count", None)
      case WithCol(alias, fn, colName) =>
        require(Fns.contains(fn.toLowerCase),
          s"unsupported aggregate '$fn' (supported: ${Fns.toSeq.sorted.mkString(", ")})")
        MvAgg(alias, fn.toLowerCase, Some(colName))
      case other => throw new IllegalArgumentException(
        s"bad aggregate spec '$other'; expected alias:count or alias:fn(col)")
    }
    val dup = parsed.groupBy(_.alias).collectFirst { case (a, g) if g.size > 1 => a }
    require(dup.isEmpty, s"duplicate aggregate alias '${dup.get}'")
    parsed
  }

  def canonical(aggs: Seq[MvAgg]): String =
    aggs.map(a => a.column.fold(s"${a.alias}:${a.fn}")(c => s"${a.alias}:${a.fn}($c)"))
      .mkString(",")
}

/** `CALL <cat>.system.create_mv(view => 'ns.mv', source => 'ns.t',
  * keys => 'k1,k2', aggs => 'n:count,s:sum(x)')` — declare + initially
  * load a materialized view. The MV is an ordinary catalog table
  * CLUSTERED BY the group keys (so the refresh MERGE prunes MV files)
  * whose props carry the definition and the source-version watermark.
  * Returns (view, source_version, rows). */
private[catalog] class CreateMvProcedure(cat: GraftCatalog) extends GraftProcedure(
    "create_mv",
    "create + initially load an incrementally-maintained materialized view",
    Array(
      ProcedureParameter.in("view", StringType).build(),
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("keys", StringType).build(),
      ProcedureParameter.in("aggs", StringType)
        .comment("alias:count | alias:sum(col) | min | max | avg, comma-separated")
        .build(),
      ProcedureParameter.in("where", StringType)
        .defaultValue("NULL")
        .comment("optional row filter over source columns (deterministic, " +
          "no subqueries); affected-key recompute re-applies it per refresh")
        .build()),
    StructType(Seq(
      StructField("view", StringType, nullable = false),
      StructField("source_version", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val view = input.getUTF8String(0).toString
    val source = input.getUTF8String(1).toString
    val keys = input.getUTF8String(2).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val aggs = MvAgg.parseList(input.getUTF8String(3).toString)
    val where = if (input.isNullAt(4)) None
      else Some(input.getUTF8String(4).toString).filter(_.trim.nonEmpty)
    require(keys.nonEmpty, "keys must name at least one group-by column")
    // the incremental contract covers exactly ONE source table: a
    // join would need a watermark PAIR (one change feed per side,
    // affected keys from either) — refused loudly, not half-built
    require("\\s".r.findFirstIn(source.trim).isEmpty,
      s"source must be a single ns.table identifier, got '$source' — an MV over " +
        "a join is not supported: incremental maintenance tracks ONE source " +
        "watermark; materialize the join as a table (or stream it) and define " +
        "the MV over that")
    val srcDir = cat.tableDirOf(source)
    require(Files.exists(srcDir.resolve(TableMeta.MetaFile)),
      s"no such source table '$source' in catalog ${cat.name()}")
    val srcMeta = TableMeta.read(srcDir)
    (keys ++ aggs.flatMap(_.column)).foreach(c =>
      require(srcMeta.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"column '$c' is not in ${source}'s schema " +
          s"(${srcMeta.schema.fieldNames.mkString(", ")})"))
    aggs.foreach(a => require(!keys.exists(_.equalsIgnoreCase(a.alias)),
      s"aggregate alias '${a.alias}' collides with a group key"))
    val ss = SparkSession.active
    val v = srcMeta.latest
    // WHERE validation: analyze the filter against the source NOW
    // (bad references fail the CALL, not the first refresh), then
    // refuse subqueries (a second source outside the watermark) and
    // nondeterminism (refresh idempotence)
    where.foreach { w =>
      val analyzed = ss.sql(
        s"SELECT count(*) FROM ${cat.name()}.$source WHERE $w").queryExecution.analyzed
      analyzed.foreach { plan =>
        plan.expressions.foreach(_.foreach {
          case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            throw new IllegalArgumentException(
              s"MV where-clause '$w' contains a subquery: it would reference a " +
                "second source the MV's watermark does not track; inline the " +
                "values or materialize the other table into the source")
          case e if !e.deterministic =>
            throw new IllegalArgumentException(
              s"MV where-clause '$w' is nondeterministic ($e): refreshes would " +
                "not be idempotent")
          case _ => ()
        })
      }
    }
    // MV schema = what the recompute produces (Spark owns the agg
    // result types; deriving them from an empty frame means the DDL
    // can never drift from the refresh)
    val d = Mv.Def(source, keys, aggs, where)
    val empty = ss.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), srcMeta.schema)
    val mvSchema = empty.groupBy(keys.map(col): _*)
      .agg(aggs.head.toColumn, aggs.tail.map(_.toColumn): _*).schema
    val parts = view.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    val props = new java.util.HashMap[String, String]()
    props.put(Mv.SourceProp, source)
    props.put(Mv.KeysProp, keys.mkString(","))
    props.put(Mv.AggsProp, MvAgg.canonical(aggs))
    where.foreach(props.put(Mv.WhereProp, _))
    props.put(Mv.WatermarkProp, v.toString)
    cat.createTable(ident, mvSchema,
      keys.map(k => Expressions.identity(k)).toArray[Transform], props)
    val mvFq = s"${cat.name()}.$view"
    ss.sql(s"INSERT INTO $mvFq ${Mv.recomputeSql(d, s"${cat.name()}.$source", v, None)}")
    val rows = ss.table(mvFq).count()
    Seq(InternalRow(UTF8String.fromString(view), v, rows))
  }
}

/** `CALL <cat>.system.refresh_mv(view => 'ns.mv' [, force_full =>
  * true])` — bring the MV up to the source's current version. Returns
  * (from_version, to_version, mode, changed_keys, live_keys,
  * vanished_keys); `mode` is `incremental` (affected-key recompute via
  * the change feed), `full_fallback` (feed unreconstructable — a
  * watermark version was expired), `full_forced`, or `noop`. */
private[catalog] class RefreshMvProcedure(cat: GraftCatalog) extends GraftProcedure(
    "refresh_mv",
    "refresh a materialized view (affected-key recompute driven by the change feed)",
    Array(
      ProcedureParameter.in("view", StringType).build(),
      ProcedureParameter.in("force_full", BooleanType)
        .defaultValue("false").comment("skip the change feed; recompute everything")
        .build()),
    StructType(Seq(
      StructField("from_version", IntegerType, nullable = false),
      StructField("to_version", IntegerType, nullable = false),
      StructField("mode", StringType, nullable = false),
      StructField("changed_keys", LongType, nullable = false),
      StructField("live_keys", LongType, nullable = false),
      StructField("vanished_keys", LongType, nullable = false)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val view = input.getUTF8String(0).toString
    val forceFull = !input.isNullAt(1) && input.getBoolean(1)
    val r = Mv.refresh(SparkSession.active, cat, view, forceFull)
    Seq(InternalRow(r.fromVersion, r.toVersion,
      UTF8String.fromString(r.mode), r.changedKeys, r.liveKeys, r.vanishedKeys))
  }
}
