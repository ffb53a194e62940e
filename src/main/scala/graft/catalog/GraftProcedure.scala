package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.StructType

/** The DSv2 shell every `CALL <cat>.system.<name>(...)` procedure shares:
  * a fixed parameter list (so binding is the identity), never
  * deterministic (each call reads or commits live table state), and a
  * result of `outSchema` rows returned as one [[LocalScan]]. A subclass
  * supplies only `body`: bound arguments in, result rows out. */
private[catalog] abstract class GraftProcedure(
    procName: String, procDescription: String,
    params: Array[ProcedureParameter], outSchema: StructType)
    extends UnboundProcedure with BoundProcedure {

  protected def body(input: InternalRow): Seq[InternalRow]

  override def name(): String = procName
  override def description(): String = procDescription
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = params

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    // not named `rows`: inside the LocalScan that name resolves to the
    // override itself, a self-call scalac turns into an infinite loop
    val result = body(input).toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = result
      override def readSchema(): StructType = outSchema
    }).iterator()
  }
}

private[catalog] object GraftProcedure {
  /** Every `system.*` procedure in listing order, name -> constructor:
    * `loadProcedure`, `listProcedures` and the unknown-name error all
    * read this one table. */
  val table: Seq[(String, GraftCatalog => GraftProcedure)] = Seq(
    ("expire_versions", new ExpireVersionsProcedure(_)),
    ("compact", new CompactProcedure(_)),
    ("create_branch", new BranchProcedure(_, BranchProcedure.Create)),
    ("publish_branch", new BranchProcedure(_, BranchProcedure.Publish)),
    ("drop_branch", new BranchProcedure(_, BranchProcedure.Drop)),
    ("rebase_branch", new BranchProcedure(_, BranchProcedure.Rebase)),
    ("restore", new RestoreProcedure(_)),
    ("remove_orphans", new RemoveOrphansProcedure(_)),
    ("history", new HistoryProcedure(_)),
    ("tag", new TagProcedure(_, untag = false)),
    ("untag", new TagProcedure(_, untag = true)),
    ("set_clustering", new SetClusteringProcedure(_)),
    ("create_mv", new CreateMvProcedure(_)),
    ("refresh_mv", new RefreshMvProcedure(_)),
    ("analyze", new AnalyzeProcedure(_)),
    ("eq_upsert", new EqUpsertProcedure(_)))
}
