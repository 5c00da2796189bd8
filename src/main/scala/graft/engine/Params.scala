package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.antlr.v4.runtime.{CharStreams, Token}
import org.apache.arrow.flatbuf.MessageHeader
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamedParameter, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{BinaryOperator, Cast, Expression, In, Literal}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.SparkArrowBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ipc.ArrowCodec

/** Planning of SQL text with prepared-statement parameters (SURVEY §2.A
  * A3/A8/A20/A22/A25): `$n` / `$name` placeholder rewriting onto Spark's
  * named-parameter markers (tokenized by Spark's SQL lexer, `SqlBaseLexer`),
  * the SQL gate, binding values into the parsed plan,
  * parameter-type inference from the analyzed plan, and the
  * positional-vs-named decode rules of
  * datafusion-flight-sql-server/src/service.rs:1144-1192.
  */
object Params {

  private val markerPrefix = "gp_"
  private val placeholderName = "[A-Za-z0-9_]+".r

  /** Rewrite `$name`/`$n` placeholders to Spark named markers `:gp_name`,
    * and return the rewritten SQL with the marker→original-name map
    * ("gp_1" → "1"). The text is tokenized by Spark's own SQL lexer
    * (`SqlBaseLexer`), so string literals, quoted identifiers, nested
    * comments and hints are exactly what Spark's parser sees: a placeholder
    * is a `$` token directly followed by a `[A-Za-z0-9_]+` token.
    */
  def rewrite(sql: String): (String, Map[String, String]) = {
    val lexer = new SqlBaseLexer(CharStreams.fromString(sql))
    lexer.removeErrorListeners() // the parser reports malformed text
    val codePoints = sql.codePoints.toArray // ANTLR offsets count code points
    val out = new StringBuilder
    var copied = 0
    val tokens: Seq[Token] = lexer.getAllTokens.asScala.toSeq
    val names = tokens.sliding(2).collect {
      case Seq(dollar, name) if dollar.getText == "$" && placeholderName.matches(name.getText) =>
        out.append(new String(codePoints, copied, dollar.getStartIndex - copied))
          .append(':').append(markerPrefix).append(name.getText)
        copied = name.getStopIndex + 1
        name.getText
    }.toList
    out.append(new String(codePoints, copied, codePoints.length - copied))
    (out.toString, names.map(n => markerPrefix + n -> n).toMap)
  }

  final case class UninferableParameter(name: String)
      extends RuntimeException(s"unable to determine type of query parameter $$$name")

  /** The parameter schema of the `unbound` markers left in a parsed plan,
    * without executing it (mirrors parameter_schema_for_plan + DataFusion's
    * placeholder inference, service.rs:1085-1105): fields named `$<name>`,
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
  private def parameterTypes(
      spark: SparkSession,
      parsed: LogicalPlan,
      unbound: Map[String, String]): Seq[(String, DataType)] = {
    val inferred = mutable.Map.empty[String, DataType]
    // ---- pass 1: comparison-context walk with resolved attribute types ----
    // keyed by Seq(name) and Seq(qualifier, name), lower-cased
    val attrTypes = mutable.Map.empty[Seq[String], DataType]
    try {
      val nullProbe = parsed.transformAllExpressionsWithSubqueries {
        case NamedParameter(_) => Literal(null)
      }
      spark.sessionState.analyzer.execute(nullProbe).foreachWithSubqueries { node =>
        for (a <- node.output; qualifier <- Seq(Nil) ++ a.qualifier.lastOption.map(List(_)))
          attrTypes.getOrElseUpdate((qualifier :+ a.name).map(_.toLowerCase), a.dataType)
      }
    } catch { case _: Exception => () }

    def typeOf(e: Expression): Option[DataType] = e match {
      case u: UnresolvedAttribute => attrTypes.get(u.nameParts.takeRight(2).map(_.toLowerCase))
      case l: Literal => Some(l.dataType)
      case c: Cast => Some(c.dataType)
      case f: UnresolvedFunction if f.nameParts.last.equalsIgnoreCase("count") => Some(LongType)
      case _ => None
    }
    def compared(param: Expression, other: Expression): Unit = param match {
      case NamedParameter(n) => typeOf(other).foreach(t => inferred.getOrElseUpdate(n, t))
      case _ => ()
    }

    parsed.foreachWithSubqueries { node =>
      node.expressions.foreach(_.foreach {
        case b: BinaryOperator => compared(b.left, b.right); compared(b.right, b.left)
        case In(value, list) => list.foreach { e => compared(e, value); compared(value, e) }
        case _ => ()
      })
    }

    // ---- pass 2: sentinel-coercion probe for the rest ----
    if (unbound.keys.exists(!inferred.contains(_))) {
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
        spark.sessionState.analyzer.execute(probe)
          .foreachWithSubqueries(_.expressions.foreach(_.foreach(scan)))
      } catch { case _: Exception => () }
    }

    unbound.toSeq
      .map { case (marker, original) =>
        val t = inferred.getOrElse(marker, throw UninferableParameter(original))
        (s"$$$original", t)
      }
      .sortBy(_._1) // BTreeMap iteration order = lexicographic by name
  }

  /** A parameter stream the reference refuses at DoPut (service.rs:826-853). */
  final case class InvalidParameters(message: String) extends RuntimeException(message)

  /** The schema and first two rows of a parameter stream, read once the
    * reference's three schema distinctions hold (service.rs:826-853 +
    * decode_schema at service.rs:1123-1141): a batch before any schema, a
    * second schema mid-stream and no schema at all each get their own
    * message, as does a field of an Arrow type Spark cannot read. A
    * corrupt batch BODY past well-formed headers is no `InvalidParameters`:
    * the reference, too, propagates mid-stream Arrow decode errors as
    * decoder errors.
    */
  private def read(ipc: Array[Byte]): (StructType, Seq[InternalRow]) = {
    val kinds =
      try ArrowCodec.messageHeaderTypes(ipc) // bounds every length before Arrow allocates it
      catch {
        case e: Exception =>
          throw InvalidParameters(s"parameter flight data must have a schema: ${e.getMessage}")
      }
    val firstSchema = kinds.indexOf(MessageHeader.Schema)
    val firstBatch = kinds.indexOf(MessageHeader.RecordBatch)
    if (firstBatch >= 0 && (firstSchema < 0 || firstBatch < firstSchema))
      throw InvalidParameters("parameter flight data must have a known schema")
    if (kinds.count(_ == MessageHeader.Schema) > 1)
      throw InvalidParameters("parameter flight data must contain a single schema")
    if (firstSchema < 0)
      throw InvalidParameters("parameter flight data must have a schema")
    try SparkArrowBridge.fromIPC(ipc, maxRows = 2)
    catch {
      case e: SparkThrowable if e.getCondition == "UNSUPPORTED_ARROWTYPE" =>
        throw InvalidParameters(s"parameter flight data has a type Spark cannot read: ${e.getMessage}")
    }
  }

  /** DoPut's checks of a parameter stream: `read`'s, and at most one row
    * (service.rs:849-853).
    */
  def verifyParameters(ipc: Array[Byte]): Unit =
    if (read(ipc)._2.size > 1) throw InvalidParameters("parameters should contain a single row")

  /** Decoded prepared-statement parameters, each the literal of its Arrow
    * field's Spark type, after the reference's rules (service.rs:1162-1191):
    * strip a leading `$` from each field name; if every name is numeric →
    * positional (sorted by index), else named. The first row binds; no row
    * binds nothing.
    */
  sealed trait ParamValues
  final case class Positional(values: Seq[Literal]) extends ParamValues
  final case class Named(values: Map[String, Literal]) extends ParamValues

  def decodeParamValues(ipc: Array[Byte]): Option[ParamValues] = {
    val (schema, rows) = read(ipc)
    rows.headOption.map { row =>
      val entries = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val name = f.name.stripPrefix("$")
        (name, name.toIntOption, Literal(if (row.isNullAt(i)) null else row.get(i, f.dataType), f.dataType))
      }
      if (entries.nonEmpty && entries.forall(_._2.isDefined))
        Positional(entries.sortBy(_._2.get).map(_._3))
      else
        Named(entries.map(e => e._1 -> e._3).toMap)
    }
  }

  /** A planned SQL text: the analyzed, unexecuted DataFrame (a command
    * too runs only when its stream is pulled) and the type of each
    * placeholder that was filled with a typed NULL, by `$name`.
    */
  final case class Planned(df: DataFrame, parameterTypes: Seq[(String, DataType)])

  /** The one planning path for SQL text: rewrite `$name` placeholders onto
    * markers, parse once, verify through the SQL gate, put each bound
    * value's literal in place of its marker, then analyze (the reference's
    * sql_to_logical_plan + verify_plan + with_param_values,
    * service.rs:170-175). Values bind by the rules of `decodeParamValues`,
    * positional value i to `$<i>`, each a literal of its field's type.
    *
    * With `typeUnbound`, a placeholder without a value becomes a NULL of its
    * inferred type, the way the reference plans a placeholder query for its
    * schema (service.rs:388-425); otherwise it stays a marker and analysis
    * rejects it (UNBOUND_SQL_PARAMETER).
    */
  def plan(
      spark: SparkSession,
      sql: String,
      parameters: Option[Array[Byte]] = None,
      options: SqlOptions = SqlOptions(),
      typeUnbound: Boolean = false): Planned = {
    val (rewritten, markers) = rewrite(sql)
    val parsed = spark.sessionState.sqlParser.parsePlan(rewritten)
    SqlGate.verify(parsed, options)
    val values: Map[String, Literal] = parameters.filter(_.nonEmpty).flatMap(decodeParamValues) match {
      case Some(Positional(vs)) =>
        vs.zipWithIndex.map { case (v, i) => s"$markerPrefix${i + 1}" -> v }.toMap
      case Some(Named(vs)) => vs.map { case (k, v) => s"$markerPrefix$k" -> v }
      case None => Map.empty
    }
    val bound = substitute(parsed, values)
    val unbound = markers -- values.keys
    val types =
      if (typeUnbound && unbound.nonEmpty) parameterTypes(spark, bound, unbound) else Seq.empty
    val typed = substitute(bound,
      types.map { case (name, t) => markerPrefix + name.drop(1) -> Literal.create(null, t) }.toMap)
    Planned(SparkArrowBridge.ofRows(spark, typed), types)
  }

  private def substitute(plan: LogicalPlan, exprs: Map[String, Expression]): LogicalPlan =
    if (exprs.isEmpty) plan
    else plan.transformAllExpressionsWithSubqueries {
      case NamedParameter(marker) if exprs.contains(marker) => exprs(marker)
    }
}
