package graft.engine

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Plan-verification gate of the SQL-text entry `Params.plan` (SURVEY §2.A
  * A3, §4.4.1; mirrors SQLOptions.verify_plan,
  * datafusion-flight-sql-server/src/service.rs:170-175).
  *
  * The verifier is a plain function over the PARSED plan (validation, not
  * rewrite — the reference applies zero rewrite rules of its own, §4.1);
  * defaults allow everything, matching SQLOptions::default.
  */
final case class SqlOptions(
    allowDdl: Boolean = true,
    allowDml: Boolean = true,
    allowStatements: Boolean = true)

object SqlGate {

  /** Statement classes, by parsed-plan node name. Mirrors DataFusion's
    * DDL / DML / Statement split.
    */
  private val ddlNodes = Set(
    "CreateTable", "CreateTableAsSelect", "ReplaceTable", "ReplaceTableAsSelect",
    "CreateView", "CreateViewCommand", "CreateTempViewUsing", "DropTable",
    "DropView", "AlterTable", "RenameTable", "CreateNamespace", "DropNamespace",
    "CreateFunction", "DropFunction", "AddColumns", "DropColumns", "AlterColumns",
    "RenameColumn", "AlterViewAs", "AlterViewSchemaBinding", "CacheTable",
    "UncacheTable", "RefreshTable")

  private val dmlNodes = Set(
    "InsertIntoStatement", "DeleteFromTable", "UpdateTable", "MergeIntoTable",
    "OverwriteByExpression", "OverwritePartitionsDynamic", "AppendData",
    "InsertIntoDir")

  private val statementNodes = Set(
    "SetCommand", "ResetCommand", "SetNamespaceCommand", "SetCatalogCommand",
    "SetNamespaceProperties", "SetNamespaceLocation")

  final case class PlanRejected(kind: String, node: String)
      extends RuntimeException(s"plan contains a $kind node ($node) which is not allowed")

  /** Validation pass over every node of the parsed plan. */
  def verify(plan: LogicalPlan, options: SqlOptions): Unit = {
    plan.foreach { node =>
      val name = node.nodeName
      if (!options.allowDdl && ddlNodes.contains(name)) throw PlanRejected("DDL", name)
      if (!options.allowDml && dmlNodes.contains(name)) throw PlanRejected("DML", name)
      if (!options.allowStatements && statementNodes.contains(name))
        throw PlanRejected("statement", name)
    }
  }
}
