package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.View
import org.apache.spark.sql.types.{DataType, StructType}

/** Persistent SQL VIEWS for the graft catalog.
  *
  * A view is one `view.json` in the same namespace tree the tables live
  * in (`<root>/<ns...>/<name>/view.json`) — table-ness is "has
  * `meta.json`", view-ness is "has `view.json`", and the two are
  * mutually exclusive at create time. The definition stores the ORIGINAL
  * SQL text plus the session context it was created under (current
  * catalog + namespace), Iceberg's v2-view model: at read time the text
  * is re-parsed and bare relation names are qualified with the stored
  * context, so a view keeps meaning what it meant where it was written,
  * not where it happens to be read.
  *
  * == Why the SQL surface needs BOTH a parser hook and a resolver rule ==
  *
  * Spark 4.1 ships the DSv2 [[org.apache.spark.sql.connector.catalog.ViewCatalog]]
  * interface but wires NOTHING to it: `ResolveSessionCatalog` throws
  * `MISSING_CATALOG_ABILITY.VIEWS` for any view DDL whose identifier
  * resolves to a non-session catalog, and it sits BEFORE injected
  * resolution rules in the analyzer's rule sequence — a custom
  * resolution rule never sees the statement. So:
  *
  *  - DDL (`CREATE/DROP/SHOW VIEW`) is intercepted at PARSE time
  *    ([[GraftViewParser]], injected via `injectParser`): statements
  *    whose target identifier names a graft catalog are rewritten to
  *    runnable commands before the analyzer can refuse them; every
  *    other statement passes through untouched.
  *  - READS (`SELECT ... FROM cat.ns.v`) go through an injected
  *    resolution rule ([[GraftResolveViews]]): Spark's own
  *    `ResolveRelations` leaves an unknown v2 identifier UNRESOLVED
  *    (the error is deferred to CheckAnalysis), so the custom rule gets
  *    the `UnresolvedRelation`, parses the stored text, substitutes
  *    CTEs, qualifies bare names with the stored context and splices
  *    the subtree in — the surrounding fixed-point then resolves it,
  *    including views-on-views, one layer per iteration.
  *
  * The catalog still implements the full [[ViewCatalog]] interface over
  * the same store, so a future Spark that DOES wire v2 views natively
  * picks these up unchanged.
  *
  * Views are metadata-only: nothing is materialized, a 100 TB view costs
  * one JSON read at plan time (for MATERIALIZED, see [[Mv]]). Cycles are
  * refused at CREATE time by walking the stored dependency closure —
  * cheaper and clearer than failing analysis with a max-iteration error
  * at first read. Scope limits, both deliberate: views are BATCH-only
  * (`readStream.table` of a view is not served — stream the base table
  * or the `.changes` feed; the resolver skips streaming relations so the
  * error stays Spark's own not-found), and a persistent view may not
  * reference a session temp view (refused at CREATE — the stored-context
  * qualification would rebind the name at read time).
  */
private[graft] object GraftViewStore {
  val ViewFile = "view.json"

  final case class ViewDef(sql: String, catalog: String, namespace: Seq[String],
                           schemaJson: String, comment: Option[String],
                           props: Map[String, String]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def write(dir: Path, d: ViewDef): Unit = {
    val j = JObject(
      "sql" -> JString(d.sql),
      "catalog" -> JString(d.catalog),
      "namespace" -> JArray(d.namespace.toList.map(JString(_))),
      "schema" -> JsonMethods.parse(d.schemaJson),
      "comment" -> d.comment.fold[JValue](JNothing)(JString(_)),
      "props" -> JObject(d.props.toList.sortBy(_._1).map { case (k, v) =>
        k -> (JString(v): JValue) }))
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$ViewFile.tmp")
    Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(j)))
    Files.move(tmp, dir.resolve(ViewFile), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def read(dir: Path): Option[ViewDef] = {
    val f = dir.resolve(ViewFile)
    if (!Files.exists(f)) None
    else {
      val j = JsonMethods.parse(Files.readString(f))
      def str(k: String) = (j \ k).asInstanceOf[JString].s
      val ns = (j \ "namespace").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
      val comment = j \ "comment" match { case JString(s) => Some(s); case _ => None }
      val props = j \ "props" match {
        case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
      Some(ViewDef(str("sql"), str("catalog"), ns,
        JsonMethods.compact(JsonMethods.render(j \ "schema")), comment, props))
    }
  }

  /** Resolve a (possibly relative) multipart relation name against a
    * definition context → (catalogName, namespace, name). */
  def resolveParts(parts: Seq[String], ctxCatalog: String,
                   ctxNamespace: Seq[String]): (String, Seq[String], String) =
    parts match {
      case Seq(one) => (ctxCatalog, ctxNamespace, one)
      case many if many.length == 2 => (ctxCatalog, many.init, many.last)
      case many => (many.head, many.tail.init, many.last)
    }

  /** Is `name` a configured graft catalog on this session? Conf-based
    * (not CatalogManager) for the same pool-thread reason as
    * [[ChangeFeed.tableChanges]]. */
  def graftRoot(ss: SparkSession, catalogName: String): Option[Path] =
    ss.conf.getOption(s"spark.sql.catalog.$catalogName")
      .filter(_ == classOf[GraftCatalog].getName)
      .flatMap(_ => ss.conf.getOption(s"spark.sql.catalog.$catalogName.root"))
      .map(java.nio.file.Paths.get(_))

  def viewDir(root: Path, namespace: Seq[String], name: String): Path =
    namespace.foldLeft(root)(_.resolve(_)).resolve(name)

  def load(ss: SparkSession, catalogName: String, namespace: Seq[String],
           name: String): Option[ViewDef] =
    graftRoot(ss, catalogName).flatMap(r => read(viewDir(r, namespace, name)))

  /** The set of graft views the SQL text references, resolved against
    * its definition context — one step of the dependency walk. */
  def referencedViews(ss: SparkSession, sql: String, ctxCatalog: String,
                      ctxNamespace: Seq[String]): Seq[(String, Seq[String], String)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val parsed = ss.sessionState.sqlParser.parsePlan(sql)
    parsed.collectWithSubqueries {
      case u: UnresolvedRelation =>
        resolveParts(u.multipartIdentifier, ctxCatalog, ctxNamespace)
    }.filter { case (c, n, t) => load(ss, c, n, t).isDefined }.distinct
  }

  /** Refuse a definition whose transitive dependency closure contains
    * the view being (re)defined — the CREATE-time cycle guard. */
  def assertAcyclic(ss: SparkSession, target: (String, Seq[String], String),
                    sql: String, ctxCatalog: String, ctxNamespace: Seq[String]): Unit = {
    val seen = scala.collection.mutable.Set[(String, Seq[String], String)]()
    def walk(deps: Seq[(String, Seq[String], String)], path: List[String]): Unit =
      deps.foreach { d =>
        val label = (d._1 +: d._2 :+ d._3).mkString(".")
        if (d == target) throw new IllegalArgumentException(
          s"view definition is cyclic: ${(path :+ label).mkString(" -> ")} " +
            "references the view being defined")
        if (seen.add(d)) load(ss, d._1, d._2, d._3).foreach(v =>
          walk(referencedViews(ss, v.sql, v.catalog, v.namespace), path :+ label))
      }
    walk(referencedViews(ss, sql, ctxCatalog, ctxNamespace), Nil)
  }
}

/** The connector-API view served by [[GraftCatalog.loadView]]. */
private[catalog] class GraftView(viewName: String, d: GraftViewStore.ViewDef)
    extends View {
  override def name(): String = viewName
  override def query(): String = d.sql
  override def currentCatalog(): String = d.catalog
  override def currentNamespace(): Array[String] = d.namespace.toArray
  override def schema(): StructType = d.schema
  override def queryColumnNames(): Array[String] = d.schema.fieldNames
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): java.util.Map[String, String] = d.props.asJava
}
