package graft.engine

import org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command._

/** Plan-verification gate of the SQL-text entry `Params.plan` (SURVEY §2.A
  * A3, §4.4.1; mirrors SQLOptions.verify_plan,
  * datafusion-flight-sql-server/src/service.rs:170-175).
  *
  * The verifier is a plain function over the PARSED plan (validation, not
  * rewrite — the reference applies zero rewrite rules of its own, §4.1);
  * defaults allow every class, matching SQLOptions::default. Each node falls
  * in one of four classes, by Spark's plan types:
  *  - DML: the write nodes (INSERT, V2 writes, DELETE/UPDATE/MERGE,
  *    INSERT OVERWRITE DIRECTORY, TRUNCATE, LOAD DATA), under `allowDml`;
  *  - statement: commands that change session state (SET, RESET, USE,
  *    session variables), under `allowStatements`;
  *  - read-only: SHOW, DESCRIBE and EXPLAIN, always allowed (as in
  *    DataFusion, where they are not DDL); the plan an EXPLAIN or
  *    DESCRIBE QUERY supervises is verified in turn;
  *  - DDL: every other Spark `Command`, plus `CALL`, under `allowDdl`.
  * The DDL class is the fail-closed default: a command class the gate does
  * not name (ADD JAR, CREATE TEMPORARY FUNCTION, any command a later Spark
  * adds) is DDL. EXECUTE IMMEDIATE and SQL-script bodies are refused
  * whatever the options: they hide their inner statements from the parsed
  * plan, and Spark's analyzer runs those statements while it plans, so a
  * served one would run at GetFlightInfo and again at DoGet.
  */
final case class SqlOptions(
    allowDdl: Boolean = true,
    allowDml: Boolean = true,
    allowStatements: Boolean = true)

object SqlGate {

  final case class PlanRejected(kind: String, node: String)
      extends RuntimeException(s"plan contains a $kind node ($node) which is not allowed")

  /** Validation pass over every node of the parsed plan, its subqueries
    * and the plans that read-only commands supervise.
    */
  def verify(plan: LogicalPlan, options: SqlOptions): Unit = {
    val allowed = Map("DDL" -> options.allowDdl, "DML" -> options.allowDml,
      "statement" -> options.allowStatements, "nested statement" -> false)
    plan.foreachWithSubqueries { node =>
      classes(node).find(!allowed(_)).foreach(kind => throw PlanRejected(kind, node.nodeName))
      node match {
        case s: SupervisingCommand => s.withTransformedSupervisedPlan { p => verify(p, options); p }
        case _ => ()
      }
    }
  }

  /** The classes a node needs allowed; empty for queries and read-only commands. */
  private def classes(node: LogicalPlan): Seq[String] = node match {
    case _: UnresolvedExecuteImmediate | _: CompoundPlanStatement => Seq("nested statement")
    case _: InsertIntoStatement | _: V2WriteCommand | _: RowLevelWrite | _: DeleteFromTable |
        _: UpdateTable | _: MergeIntoTable | _: InsertIntoDir | _: TruncateTable |
        _: TruncatePartition | _: LoadData => Seq("DML")
    case _: SetCommand | _: ResetCommand | _: SetCatalogAndNamespace | _: SetNamespaceCommand |
        _: SetCatalogCommand | _: CreateVariable | _: DropVariable | _: SetVariable =>
      Seq("statement")
    case _: ShowTables | _: ShowTablesExtended | _: ShowViews | _: ShowFunctions |
        _: ShowColumns | _: ShowCreateTable | _: ShowTableProperties | _: ShowPartitions |
        _: ShowTablePartition | _: ShowNamespacesCommand | _: ShowCatalogsCommand |
        _: ShowCurrentNamespaceCommand | _: DescribeRelation | _: DescribeColumn |
        _: DescribeFunction | _: DescribeNamespace | _: DescribeQueryCommand |
        _: ExplainCommand => Seq.empty
    case _: Command | _: Call => Seq("DDL")
    case _ => Seq.empty
  }
}
