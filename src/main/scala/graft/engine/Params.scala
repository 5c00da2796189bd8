package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ipc.ArrowCodec

/** Prepared-statement parameter machinery (SURVEY §2.A A8/A20/A22/A25):
  * `$n` / `$name` placeholder rewriting onto Spark's named-parameter
  * markers, parameter-type inference from the analyzed plan, and the
  * positional-vs-named decode rules of
  * datafusion-flight-sql-server/src/service.rs:1144-1192.
  */
object Params {

  private val markerPrefix = "gp_"

  /** Rewrite `$name`/`$n` placeholders (outside quotes/comments) to Spark
    * named markers `:gp_name`. Returns the rewritten SQL and the
    * marker→original-name map ("gp_1" → "1").
    */
  def rewrite(sql: String): (String, Map[String, String]) = {
    val out = new StringBuilder
    val mapping = mutable.LinkedHashMap.empty[String, String]
    var i = 0
    var state: Char = 'n' // n=normal, s='string', d="ident", l=line comment, b=block comment
    while (i < sql.length) {
      val c = sql.charAt(i)
      state match {
        case 'n' =>
          if (c == '\'') { state = 's'; out.append(c); i += 1 }
          else if (c == '"') { state = 'd'; out.append(c); i += 1 }
          else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
            state = 'l'; out.append("--"); i += 2
          } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
            state = 'b'; out.append("/*"); i += 2
          } else if (c == '$' && i + 1 < sql.length &&
              (sql.charAt(i + 1).isLetterOrDigit || sql.charAt(i + 1) == '_')) {
            var j = i + 1
            while (j < sql.length && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
            val name = sql.substring(i + 1, j)
            mapping.put(markerPrefix + name, name)
            out.append(':').append(markerPrefix).append(name)
            i = j
          } else { out.append(c); i += 1 }
        case 's' =>
          out.append(c)
          if (c == '\'') state = 'n'
          i += 1
        case 'd' =>
          out.append(c)
          if (c == '"') state = 'n'
          i += 1
        case 'l' =>
          out.append(c)
          if (c == '\n') state = 'n'
          i += 1
        case 'b' =>
          if (c == '*' && i + 1 < sql.length && sql.charAt(i + 1) == '/') {
            out.append("*/"); state = 'n'; i += 2
          } else { out.append(c); i += 1 }
      }
    }
    (out.toString, mapping.toMap)
  }

  final case class UninferableParameter(name: String)
      extends RuntimeException(s"unable to determine type of query parameter $$$name")

  /** Infer the parameter schema for a SQL text without executing it
    * (mirrors parameter_schema_for_plan + DataFusion's placeholder
    * inference, service.rs:1085-1105): fields named `$<name>`, non-null,
    * sorted by name (the reference's BTreeMap order); errors if any
    * parameter's type can't be determined.
    *
    * Two passes, like DataFusion's infer_placeholder_types: (1) a walk of
    * the parsed tree assigning each placeholder the type of the expression
    * it is compared against (attribute types come from analyzing a
    * null-substituted probe); (2) for anything left, an analyzer probe with
    * tagged sentinel literals — type coercion wraps the sentinel in a Cast
    * to the type the context requires.
    */
  def parameterTypes(spark: SparkSession, sql: String): Seq[(String, DataType)] = {
    val (rewritten, mapping) = rewrite(sql)
    if (mapping.isEmpty) return Seq.empty
    val parsed = spark.sessionState.sqlParser.parsePlan(rewritten)
    val inferred = mutable.Map.empty[String, DataType]

    // ---- pass 1: comparison-context walk with resolved attribute types ----
    val attrTypes = mutable.Map.empty[String, DataType]
    try {
      val nullProbe = parsed.transformAllExpressionsWithSubqueries {
        case NamedParameter(_) => Literal(null)
      }
      spark.sessionState.analyzer.execute(nullProbe).foreach { node =>
        node.output.foreach(a => attrTypes.getOrElseUpdate(a.name.toLowerCase, a.dataType))
      }
    } catch { case _: Exception => () }

    def typeOf(e: Expression): Option[DataType] = e match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        attrTypes.get(u.nameParts.last.toLowerCase)
      case l: Literal => Some(l.dataType)
      case c: Cast => Some(c.dataType)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("count") => Some(LongType)
      case _ => None
    }

    parsed.foreach { node =>
      node.expressions.foreach(_.foreach {
        case b: org.apache.spark.sql.catalyst.expressions.BinaryOperator =>
          (b.left, b.right) match {
            case (NamedParameter(n), other) =>
              typeOf(other).foreach(t => inferred.getOrElseUpdate(n, t))
            case (other, NamedParameter(n)) =>
              typeOf(other).foreach(t => inferred.getOrElseUpdate(n, t))
            case _ => ()
          }
        case _ => ()
      })
    }

    // ---- pass 2: sentinel-coercion probe for the rest ----
    if (mapping.keys.exists(!inferred.contains(_))) {
      def sentinel(marker: String) = s"__graft_param_${marker}__"
      val probe = parsed.transformAllExpressionsWithSubqueries {
        case NamedParameter(name) =>
          Literal(UTF8String.fromString(sentinel(name)), StringType)
      }
      def scan(e: Expression): Unit = e match {
        case Cast(Literal(s: UTF8String, StringType), t, _, _)
            if s.toString.startsWith("__graft_param_") =>
          val marker = s.toString.stripPrefix("__graft_param_").stripSuffix("__")
          inferred.getOrElseUpdate(marker, t)
        case _ => ()
      }
      try {
        spark.sessionState.analyzer.execute(probe).foreach { node =>
          node.expressions.foreach(_.foreach(scan))
          node.subqueries.foreach(_.foreach(n => n.expressions.foreach(_.foreach(scan))))
        }
      } catch { case _: Exception => () }
    }

    mapping.toSeq
      .map { case (marker, original) =>
        val t = inferred.getOrElse(marker, throw UninferableParameter(original))
        (s"$$$original", t)
      }
      .sortBy(_._1) // BTreeMap iteration order = lexicographic by name
  }

  /** Analyzed-but-unexecuted plan for a (possibly parameterized) SQL text:
    * placeholders are substituted with NULLs of their `parameterTypes` so
    * analysis can produce the result schema without bound parameters (the
    * reference plans placeholder queries the same way for GetFlightInfo,
    * service.rs:388-425).
    */
  def planForSchema(
      spark: SparkSession,
      sql: String,
      types: Seq[(String, DataType)],
      options: SqlOptions): DataFrame = {
    val (rewritten, mapping) = rewrite(sql)
    if (mapping.isEmpty) return SqlGate.plan(spark, sql, options)
    val typeOf = types.toMap
    val parsed = spark.sessionState.sqlParser.parsePlan(rewritten)
    SqlGate.verify(parsed, options)
    val substituted = parsed.transformAllExpressionsWithSubqueries {
      case NamedParameter(marker) =>
        Literal.create(null, typeOf("$" + marker.stripPrefix(markerPrefix)))
    }
    org.apache.spark.sql.graftbridge.SparkArrowBridge.ofRows(spark, substituted)
  }

  /** Decoded prepared-statement parameters, after the reference's rules
    * (service.rs:1162-1191): strip a leading `$` from each field name; if
    * every name is numeric → positional (sorted by index), else named.
    */
  sealed trait ParamValues
  final case class Positional(values: Seq[Any]) extends ParamValues
  final case class Named(values: Map[String, Any]) extends ParamValues

  def decodeParamValues(ipc: Array[Byte]): Option[ParamValues] = {
    val decoded = ArrowCodec.decode(ipc)
    if (decoded.rows.isEmpty) return None
    val row = decoded.rows.head
    val names = decoded.schema.getFields
    val entries = (0 until names.size()).map { i =>
      val name = names.get(i).getName.stripPrefix("$")
      (name, name.toIntOption, row(i))
    }
    Some(
      if (entries.nonEmpty && entries.forall(_._2.isDefined))
        Positional(entries.sortBy(_._2.get).map(_._3))
      else
        Named(entries.map(e => e._1 -> e._3).toMap))
  }

  /** Plan a SQL text with bound parameters: rewrite `$x` → `:gp_x`, verify
    * through the SQL gate, bind by name through Spark's parameterized-SQL
    * path. Positional decode binds value i to `$<i>` (the reference's
    * with_param_values semantics).
    */
  def bind(
      spark: SparkSession,
      sql: String,
      parameters: Option[Array[Byte]],
      options: SqlOptions = SqlOptions()): DataFrame = {
    val (rewritten, mapping) = rewrite(sql)
    val params = parameters.filter(_.nonEmpty).flatMap(decodeParamValues)
    if (mapping.isEmpty || params.isEmpty) return SqlGate.plan(spark, sql, options)

    SqlGate.verify(spark.sessionState.sqlParser.parsePlan(rewritten), options)
    val args: Map[String, Any] = params.get match {
      case Positional(values) =>
        values.zipWithIndex.map { case (v, i) => s"$markerPrefix${i + 1}" -> v }.toMap
      case Named(values) =>
        values.map { case (k, v) => s"$markerPrefix$k" -> v }
    }
    spark.sql(rewritten, args)
  }
}
