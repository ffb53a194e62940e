package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.procedures.ProcedureParameter
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Column-level statistics for the cost-based optimizer, served through
  * DSv2 `Statistics.columnStats()` (SPARK-41378 — `DataSourceV2Relation`
  * folds them into catalyst attribute stats when CBO is enabled).
  *
  * Two sources, two costs:
  *
  *  - min / max / null-count come FREE from the manifest: the footer
  *    stats collected at commit time aggregate across the scan's KEPT
  *    file set at plan time (min of mins, max of maxes, sum of knowns) —
  *    always current, zero extra IO. Range-predicate selectivity on
  *    catalog tables therefore estimates correctly with no ANALYZE step
  *    at all. Null counts are served only on tables without deletion
  *    vectors (a tombstoned row may hide a null; an over-count would
  *    skew selectivity, so MOR tables skip the column until a rewrite
  *    materializes the vectors away).
  *  - distinct counts (and string avg/max lengths) need a data pass:
  *    `CALL <cat>.system.analyze(table => 'ns.t' [, columns => 'a,b'])`
  *    computes approx_count_distinct per column at the CURRENT snapshot
  *    in ONE aggregation pass and stores the results in table props
  *    (`graft.stats.*`), a metadata-only commit. Like every engine's
  *    ANALYZE, NDV is as-of the analyzed version — staleness is the
  *    user's tradeoff, recorded in `graft.stats.version` for audit.
  *
  * Why it matters at 100 TB: join REORDER is cardinality arithmetic —
  * `JoinEstimation` needs base-relation row counts (free here, exact)
  * and join-key distinct counts (the ANALYZE) to put the small
  * dimension chain first; without them the optimizer keeps the
  * syntactic order and a fact-first star join shuffles the fact table
  * twice. CboSpec's catalog twin pins exactly that flip.
  */
private[graft] object TableColumnStats {
  val VersionProp = "graft.stats.version"
  def ndvProp(c: String): String = s"graft.stats.ndv.$c"
  def lenProp(c: String): String = s"graft.stats.len.$c" // "avgLen:maxLen"

  /** Decode a canonical bound string to the CATALYST-internal value the
    * CBO's estimation arithmetic expects (dates = days Int, timestamps =
    * micros Long). None = the type has no usable range stats for CBO
    * (strings/booleans — engines skip them too). */
  def catalystValue(dt: DataType, canonical: String): Option[Any] = dt match {
    case ByteType => Some(java.lang.Byte.valueOf(canonical.toLong.toByte))
    case ShortType => Some(java.lang.Short.valueOf(canonical.toLong.toShort))
    case IntegerType | DateType => Some(java.lang.Integer.valueOf(canonical.toLong.toInt))
    case LongType | TimestampType | TimestampNTZType =>
      Some(java.lang.Long.valueOf(canonical.toLong))
    case FloatType => Some(java.lang.Float.valueOf(canonical.toDouble.toFloat))
    case DoubleType => Some(java.lang.Double.valueOf(canonical.toDouble))
    case _ => None
  }

  /** Assemble per-column stats for a scan over `kept` files. Bounds and
    * null counts only when EVERY kept file contributes (a single
    * stat-less file poisons the column — conservative, like SkipEval). */
  def forScan(schema: StructType, kept: Seq[String], stats: Map[String, FileStats],
              hasDvs: Boolean, props: Map[String, String])
      : java.util.Map[NamedReference, ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val perFile = kept.flatMap(stats.get)
    val complete = perFile.size == kept.size
    schema.fields.foreach { f =>
      val ord = SkipEval.domainOrdering(f.dataType)
      val bounds: Option[(Any, Any)] =
        if (!complete || kept.isEmpty || ord.isEmpty) None
        else {
          val mins = perFile.map(_.mins.get(FieldIds.statKey(f)))
          val maxs = perFile.map(_.maxs.get(FieldIds.statKey(f)))
          if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) None
          else for {
            lo <- catalystValue(f.dataType,
              mins.flatten.minBy(SkipEval.decode(f.dataType, _))(ord.get))
            hi <- catalystValue(f.dataType,
              maxs.flatten.maxBy(SkipEval.decode(f.dataType, _))(ord.get))
          } yield (lo, hi)
        }
      val nulls: Option[Long] =
        if (!complete || kept.isEmpty || hasDvs) None
        else {
          val ns = perFile.map(_.nullCounts.getOrElse(FieldIds.statKey(f), -1L))
          if (ns.exists(_ < 0)) None else Some(ns.sum)
        }
      val ndv = props.get(ndvProp(f.name)).flatMap(_.toLongOption)
      val lens = props.get(lenProp(f.name)).map(_.split(':')).collect {
        case Array(a, m) => (a.toLong, m.toLong)
      }
      if (bounds.isDefined || nulls.isDefined || ndv.isDefined || lens.isDefined)
        out.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def min(): java.util.Optional[Object] =
            bounds.fold(java.util.Optional.empty[Object]())(b =>
              java.util.Optional.of(b._1.asInstanceOf[Object]))
          override def max(): java.util.Optional[Object] =
            bounds.fold(java.util.Optional.empty[Object]())(b =>
              java.util.Optional.of(b._2.asInstanceOf[Object]))
          override def nullCount(): java.util.OptionalLong =
            nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def avgLen(): java.util.OptionalLong =
            lens.fold(java.util.OptionalLong.empty())(l => java.util.OptionalLong.of(l._1))
          override def maxLen(): java.util.OptionalLong =
            lens.fold(java.util.OptionalLong.empty())(l => java.util.OptionalLong.of(l._2))
        })
    }
    out
  }
}

/** `CALL <cat>.system.analyze(table => 'ns.t' [, columns => 'a,b'])` —
  * ANALYZE TABLE for catalog tables (Spark's own statement serves only
  * the session catalog): one aggregation pass over the current snapshot
  * computing approx_count_distinct per column (plus avg/max length for
  * strings), persisted in table props as a metadata write. Returns one
  * row per analyzed column: (column, ndv, avg_len, max_len). */
private[catalog] class AnalyzeProcedure(cat: GraftCatalog) extends GraftProcedure(
    "analyze",
    "compute + persist per-column NDV / length statistics for the CBO",
    Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType)
        .defaultValue("NULL").comment("comma-separated; default = every column")
        .build()),
    StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false),
      StructField("avg_len", LongType, nullable = true),
      StructField("max_len", LongType, nullable = true)))) {

  override protected def body(input: InternalRow): Seq[InternalRow] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.existingTableDir(table)
    val m = TableMeta.read(dir)
    // default = every leaf-typed column; nested types are skipped
    // (their NDV is rarely meaningful to JoinEstimation and their
    // sketch cost is not) — name one explicitly to force it
    val cols = if (input.isNullAt(1))
      m.schema.fields.filterNot(f => f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] || f.dataType.isInstanceOf[StructType])
        .map(_.name).toSeq
      else input.getUTF8String(1).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
        // case-insensitive like the rest of the SQL surface, resolved
        // to the schema's canonical spelling
        .map(c => m.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"column '$c' is not in ${m.schema.fieldNames.mkString(", ")}")))
    require(cols.nonEmpty,
      s"nothing to analyze on '$table': no leaf-typed columns selected " +
        "(name columns explicitly via columns => 'a,b')")
    val ss = SparkSession.active
    val v = m.latest
    import org.apache.spark.sql.functions.{approx_count_distinct, avg, col, length, max}
    val strCols = cols.filter(c => m.schema(c).dataType == StringType)
    val aggs =
      cols.map(c => approx_count_distinct(col(c)).as(s"ndv_$c")) ++
        strCols.flatMap(c => Seq(avg(length(col(c))).as(s"al_$c"),
          max(length(col(c))).as(s"ml_$c")))
    val row = ss.sql(s"SELECT * FROM ${cat.name()}.$table VERSION AS OF $v")
      .agg(aggs.head, aggs.tail: _*).head()
    val ndvs = cols.map(c => c -> row.getAs[Long](s"ndv_$c")).toMap
    val lens = strCols.flatMap { c =>
      (Option(row.getAs[java.lang.Double](s"al_$c")),
        Option(row.getAs[java.lang.Integer](s"ml_$c"))) match {
        case (Some(a), Some(mx)) =>
          Some(c -> (math.ceil(a.doubleValue).toLong, mx.longValue))
        case _ => None // all-null column: no lengths
      }
    }.toMap
    GraftTable.withCommitLock(dir) {
      val cur = TableMeta.read(dir)
      val newProps = cur.props +
        (TableColumnStats.VersionProp -> v.toString) ++
        ndvs.map { case (c, n) => TableColumnStats.ndvProp(c) -> n.toString } ++
        lens.map { case (c, (a, mx)) => TableColumnStats.lenProp(c) -> s"$a:$mx" }
      TableMeta.write(dir, cur.copy(props = newProps),
        expectedLatest = Some(cur.latest))
    }
    cols.map { c =>
      InternalRow(UTF8String.fromString(c), ndvs(c),
        lens.get(c).map(l => java.lang.Long.valueOf(l._1)).orNull,
        lens.get(c).map(l => java.lang.Long.valueOf(l._2)).orNull)
    }
  }
}
