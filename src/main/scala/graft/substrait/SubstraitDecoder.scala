package graft.substrait

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.protocol.Proto
import graft.protocol.Proto.Field

/** Minimal Substrait plan consumer: protobuf bytes → Spark DataFrame.
  *
  * The reference executes `CommandStatementSubstraitPlan` by deserializing
  * the plan bytes and handing the logical plan to DataFusion
  * (datafusion-flight-sql-server/src/service.rs:1018-1029 via
  * `deserialize_bytes` + `from_substrait_plan`; the DoGet arm at
  * service.rs:274-303 and GetFlightInfo at service.rs:349-386). No
  * substrait-java exists offline, so this decodes the wire format field by
  * field through [[graft.protocol.Proto]] and lowers
  * each relation onto the DataFrame API — Catalyst then optimizes the
  * declarative plan exactly as it would the SQL twin (predicate pushdown,
  * join strategy, whole-stage codegen come free, which is the Spark-first
  * answer to DataFusion's consumer).
  *
  * Field numbers follow the public Substrait protos (substrait.io,
  * proto/substrait/{plan,algebra,type,extensions}.proto). Cross-validation
  * against an independent consumer is partial, bounded by Acero's own
  * coverage: scripts/check_substrait.py executes the builder's
  * Read/Join/Filter/Project+emit/Sort/Fetch plan under Acero
  * (pyarrow.substrait.run_query) and matches DuckDB exactly, and pins that
  * the aggregate plan is rejected there *only* because Acero lacks a
  * `modulus` kernel (the wire bytes themselves parse — the extension URIs,
  * anchors and relation layout are accepted). Shapes Acero cannot run
  * (decimal aggregate measures, post_join_filter — which Acero silently
  * drops) are covered by the DuckDB oracle via SubstraitQueries and by
  * SubstraitSpec unit tests instead.
  *
  * Supported relations: Read (named_table), Filter, Project (+emit),
  * Fetch, Sort, Aggregate (single OR multiple groupings — grouping sets,
  * inline or expression_references form), Join, Set (UNION ALL / UNION
  * DISTINCT), Cross; plus window-function EXPRESSIONS (default-frame rank
  * family / lead / lag / aggregates-over) and subquery (NOT) IN
  * predicates at a filter's top level (lowered to semi/anti joins). Unsupported
  * relations and expressions fail with a message naming the construct,
  * mirroring the reference's error-not-guess behavior for plans its
  * consumer cannot map.
  */
object SubstraitDecoder {

  // ---- Rel oneof tags (algebra.proto Rel) ----
  private val RelRead = 1
  private val RelFilter = 2
  private val RelFetch = 3
  private val RelAggregate = 4
  private val RelSort = 5
  private val RelJoin = 6
  private val RelProject = 7
  private val RelSet = 8
  private val RelCross = 12

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Deepest nesting of relations, expressions and AND chains a plan may
    * have (protobuf-java's default recursion limit). Each level recurses on
    * the JVM stack, so a deeper, hostile plan fails here with an
    * `IllegalArgumentException` instead of a `StackOverflowError`.
    */
  private val MaxDepth = 100
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private def nested[A](body: => A): A = {
    val d = depth.get
    if (d >= MaxDepth) fail(s"substrait: plan nests deeper than $MaxDepth levels")
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  private def sub(bytes: Array[Byte]): Seq[Field] = Proto.decodeFields(bytes)
  private def one(fs: Seq[Field], tag: Int): Option[Field] = fs.find(_.tag == tag)
  private def req(fs: Seq[Field], tag: Int, what: String): Field =
    one(fs, tag).getOrElse(fail(s"substrait: missing $what"))

  /** Function registry decoded from the plan's SimpleExtensionDeclarations:
    * anchor → simple name (compound `sum:i64` → `sum`, matching how both
    * DataFusion's and Acero's consumers resolve by name).
    */
  private def functionRegistry(planFields: Seq[Field]): Map[Long, String] =
    planFields.filter(_.tag == 2).flatMap { decl =>
      sub(decl.bytes).filter(_.tag == 3).map { fn =>
        val fs = sub(fn.bytes)
        val anchor = one(fs, 2).map(_.varint).getOrElse(0L)
        val name = one(fs, 3).map(Proto.string).getOrElse(fail("substrait: extension function without name"))
        anchor -> name.takeWhile(_ != ':')
      }
    }.toMap

  /** Decode a serialized substrait.Plan into a lazy DataFrame. */
  def decode(spark: SparkSession, planBytes: Array[Byte]): DataFrame = {
    val planFields = sub(planBytes)
    val fns = functionRegistry(planFields)
    val relations = planFields.filter(_.tag == 3)
    if (relations.isEmpty) fail("substrait: plan has no relations")
    if (relations.size > 1) fail("substrait: multi-relation plans are not supported")
    val fresh = new AtomicInteger(0)
    val planRel = sub(relations.head.bytes)
    planRel.head.tag match {
      case 2 => // RelRoot { Rel input = 1; repeated string names = 2; }
        val rootFields = sub(planRel.head.bytes)
        val df = decodeRel(spark, fns, fresh, req(rootFields, 1, "root input relation").bytes)
        val names = rootFields.filter(_.tag == 2).map(Proto.string)
        if (names.isEmpty) df
        else if (names.length != df.columns.length)
          fail(s"substrait: root names ${names.length} != plan output ${df.columns.length}")
        else df.toDF(names: _*)
      case 1 => decodeRel(spark, fns, fresh, planRel.head.bytes)
      case t => fail(s"substrait: unsupported PlanRel tag $t")
    }
  }

  /** Decode one Rel. Output columns carry unique internal names (`_s<n>`)
    * positionally matching the substrait field order, so join composition
    * never collides and field references resolve by index.
    */
  private def decodeRel(
      spark: SparkSession,
      fns: Map[Long, String],
      fresh: AtomicInteger,
      relBytes: Array[Byte]): DataFrame = nested {
    def freshName(): String = s"_s${fresh.getAndIncrement()}"
    val relFields = sub(relBytes)
    if (relFields.isEmpty) fail("substrait: empty relation")
    val f = relFields.head
    def recur(b: Array[Byte]) = decodeRel(spark, fns, fresh, b)
    val body = sub(f.bytes)
    def common: Option[Field] = one(body, 1)
    def input = recur(req(body, 2, "input relation").bytes)

    val direct: DataFrame = f.tag match {
      case RelRead =>
        // ReadRel { common=1; base_schema=2; filter=3; named_table=7 }
        val named = one(body, 7).getOrElse(
          fail("substrait: only named_table reads are supported"))
        val tableName = sub(named.bytes).filter(_.tag == 1).map(Proto.string).mkString(".")
        if (tableName.isEmpty) fail("substrait: named_table without names")
        val baseNames = one(body, 2).map(ns => sub(ns.bytes).filter(_.tag == 1).map(Proto.string))
          .getOrElse(Seq.empty)
        val table = spark.table(tableName)
        // base_schema fixes the positional field order the plan's indexes
        // assume; resolve it against the live table (error on drift)
        val positioned =
          if (baseNames.isEmpty) table
          else {
            val missing = baseNames.filterNot(n => table.columns.exists(_.equalsIgnoreCase(n)))
            if (missing.nonEmpty)
              fail(s"substrait: table $tableName lacks base_schema columns ${missing.mkString(", ")}")
            table.select(baseNames.map(col): _*)
          }
        val renamed = positioned.toDF(positioned.columns.map(_ => freshName()).toSeq: _*)
        one(body, 3) match {
          case Some(cond) => renamed.filter(expression(cond.bytes, renamed.columns.map(renamed(_)), fns))
          case None => renamed
        }

      case RelFilter =>
        // FilterRel { common=1; input=2; condition=3 } — subquery IN
        // predicates (Expression.Subquery.in_predicate) are handled HERE,
        // not in expression(): a Column cannot carry a subplan, so each
        // IN / NOT IN conjunct lowers to a left_semi / left_anti join and
        // the residual conjuncts stay an ordinary filter (exactly how
        // Catalyst itself rewrites IN subqueries — we just do it at the
        // wire format's level)
        val in = input
        // split the condition into AND conjuncts at the BYTES level
        def conjuncts(b: Array[Byte]): Seq[Array[Byte]] = nested {
          val f = sub(b).headOption
          f match {
            case Some(x) if x.tag == 3 =>
              val sfs = sub(x.bytes)
              val anchor = one(sfs, 1).map(_.varint).getOrElse(0L)
              if (fns.get(anchor).contains("and"))
                sfs.filter(_.tag == 4).flatMap { a =>
                  one(sub(a.bytes), 3).map(v => conjuncts(v.bytes)).getOrElse(Seq(b))
                }
              else Seq(b)
            case _ => Seq(b)
          }
        }
        // (negated, needles, haystackRel) for an IN-subquery conjunct
        def asInPredicate(b: Array[Byte]): Option[(Boolean, Seq[Field], Array[Byte])] = {
          def inPred(bytes: Array[Byte]): Option[(Seq[Field], Array[Byte])] =
            sub(bytes).headOption.filter(_.tag == 12).flatMap { sq =>
              one(sub(sq.bytes), 2).map { ip =>
                val ipf = sub(ip.bytes)
                (ipf.filter(_.tag == 1),
                  req(ipf, 2, "IN-subquery haystack relation").bytes)
              }
            }
          val f = sub(b).headOption
          f match {
            case Some(x) if x.tag == 12 => inPred(b).map { case (n, h) => (false, n, h) }
            case Some(x) if x.tag == 3 =>
              val sfs = sub(x.bytes)
              val anchor = one(sfs, 1).map(_.varint).getOrElse(0L)
              if (!fns.get(anchor).contains("not")) None
              else sfs.filter(_.tag == 4).flatMap(a => one(sub(a.bytes), 3)) match {
                case Seq(arg) => inPred(arg.bytes).map { case (n, h) => (true, n, h) }
                case _ => None
              }
            case _ => None
          }
        }
        val parts = conjuncts(req(body, 3, "filter condition").bytes)
        parts.foldLeft(in) { (df, c) =>
          asInPredicate(c) match {
            case Some((negated, needles, haystack)) =>
              if (needles.isEmpty) fail("substrait: IN-subquery without needles")
              val right = recur(haystack)
              if (right.columns.length != needles.length)
                fail(s"substrait: IN-subquery arity ${needles.length} != haystack width ${right.columns.length}")
              val cond = needles.zip(right.columns).map { case (n, rc) =>
                expression(n.bytes, df.columns.map(df(_)), fns) === right(rc)
              }.reduce(_ && _)
              df.join(right, cond, if (negated) "left_anti" else "left_semi")
            case None =>
              df.filter(expression(c, df.columns.map(df(_)), fns))
          }
        }

      case RelFetch =>
        // FetchRel { common=1; input=2; offset=3; count=4 }
        val in = input
        val off = one(body, 3).map(_.varint).getOrElse(0L)
        val cnt = one(body, 4).map(_.varint)
        val afterOffset = if (off > 0) in.offset(off.toInt) else in
        cnt.filter(_ >= 0).map(c => afterOffset.limit(c.toInt)).getOrElse(afterOffset)

      case RelSort =>
        // SortRel { common=1; input=2; sorts=3 }
        val in = input
        val cols = in.columns.map(in(_))
        val sorts = body.filter(_.tag == 3).map { sf =>
          val sfs = sub(sf.bytes)
          val e = expression(req(sfs, 1, "sort expression").bytes, cols, fns)
          one(sfs, 2).map(_.varint).getOrElse(0L) match {
            case 1 => e.asc_nulls_first
            case 2 => e.asc_nulls_last
            case 3 => e.desc_nulls_first
            case 4 => e.desc_nulls_last
            case d => fail(s"substrait: unsupported sort direction $d")
          }
        }
        if (sorts.isEmpty) in else in.sort(sorts: _*)

      case RelProject =>
        // ProjectRel { common=1; input=2; expressions=3 } — direct output is
        // input fields THEN the new expressions (algebra.proto contract;
        // emit remapping usually trims the echo of the input)
        val in = input
        val cols = in.columns.map(in(_))
        val exprs = body.filter(_.tag == 3)
          .map(e => expression(e.bytes, cols, fns).as(freshName()))
        in.select((cols ++ exprs): _*)

      case RelAggregate =>
        // AggregateRel { common=1; input=2; groupings=3; measures=4;
        //                grouping_expressions=5 } — direct output is the
        // distinct grouping expressions (by first appearance across the
        // groupings), then measures, then an i32 grouping-set index when
        // more than one grouping is present (the substrait Aggregate
        // output contract; DataFusion's producer emits the
        // expression_references + grouping_expressions form)
        val in = input
        val cols = in.columns.map(in(_))
        val groupings = body.filter(_.tag == 3)
        // shared expression table for Grouping.expression_references,
        // keyed for dedup by serialized expression bytes
        val exprTable: Seq[(String, Column)] = body.filter(_.tag == 5)
          .map(e => e.bytes.map("%02x".format(_)).mkString ->
            expression(e.bytes, cols, fns))
        // each grouping resolves to (dedup key, column) pairs: inline
        // expressions (tag 1) and/or references into the table (tag 2)
        def resolve(g: Field): Seq[(String, Column)] = {
          val gfs = sub(g.bytes)
          val inline = gfs.filter(_.tag == 1).map(e =>
            e.bytes.map("%02x".format(_)).mkString -> expression(e.bytes, cols, fns))
          val refs = gfs.filter(_.tag == 2).flatMap {
            case f if f.wireType == 0 => Seq(f.varint)
            case f if f.wireType == 2 => Proto.packedVarints(f.bytes)
            case _ => Seq.empty
          }.map { i =>
            if (i < 0 || i >= exprTable.length)
              fail(s"substrait: grouping expression reference $i out of range ${exprTable.length}")
            exprTable(i.toInt)
          }
          inline ++ refs
        }
        val resolved = groupings.map(resolve)
        val measures = body.filter(_.tag == 4).map { m =>
          val mfs = sub(m.bytes)
          val filterCond = one(mfs, 2).map(c => expression(c.bytes, cols, fns))
          aggregateFunction(req(mfs, 1, "measure function").bytes, cols, fns, filterCond)
            .as(freshName())
        }
        if (resolved.size <= 1) {
          val groupExprs = resolved.headOption.getOrElse(Nil).map(_._2.as(freshName()))
          (groupExprs.isEmpty, measures.isEmpty) match {
            case (true, true) => fail("substrait: aggregate with no groupings and no measures")
            case (true, false) => in.agg(measures.head, measures.tail: _*)
            case (false, true) => in.select(groupExprs: _*).distinct()
            case (false, false) =>
              in.groupBy(groupExprs: _*).agg(measures.head, measures.tail: _*)
          }
        } else {
          // grouping sets: distinct grouping columns by first appearance
          val distinctKeys = scala.collection.mutable.LinkedHashMap.empty[String, Column]
          resolved.flatten.foreach { case (k, c) => distinctKeys.getOrElseUpdate(k, c) }
          val keyOrder = distinctKeys.keys.toSeq
          val sets: Seq[Seq[Column]] = resolved.map(_.map(_._2))
          // grouping_id() bit j (MSB-first over the groupBy column order)
          // is 1 when column j is NOT in the active set → each declared
          // grouping has one expected mask; the set index is its position
          val masks = resolved.map { g =>
            val inSet = g.map(_._1).toSet
            keyOrder.zipWithIndex.map { case (k, j) =>
              if (inSet(k)) 0L else 1L << (keyOrder.length - 1 - j)
            }.sum
          }
          val setIndex = masks.zipWithIndex.tail.foldLeft(
            when(grouping_id() === masks.head, lit(0))) { case (acc, (m, i)) =>
            acc.when(grouping_id() === m, lit(i))
          }.cast(IntegerType).as(freshName())
          // Spark's grouping-sets DEDUPLICATES identical sets; substrait
          // keeps duplicates (each with its own index). Producers in the
          // wild don't emit duplicate sets; error rather than mis-count.
          if (masks.distinct.size != masks.size)
            fail("substrait: duplicate grouping sets are not supported")
          val aggExprs = measures :+ setIndex
          val grouped = in.groupingSets(sets, keyOrder.map(distinctKeys): _*)
            .agg(aggExprs.head, aggExprs.tail: _*)
          // positional rename: distinct grouping cols, measures, set index
          grouped.toDF(grouped.columns.map(_ => freshName()).toSeq: _*)
        }

      case RelJoin =>
        // JoinRel { common=1; left=2; right=3; expression=4; post_join_filter=5; type=6 }
        val left = recur(req(body, 2, "join left").bytes)
        val right = recur(req(body, 3, "join right").bytes)
        val combined = left.columns.map(left(_)) ++ right.columns.map(right(_))
        val joinType = one(body, 6).map(_.varint).getOrElse(0L) match {
          case 1 => "inner"
          case 2 => "full_outer"
          case 3 => "left_outer"
          case 4 => "right_outer"
          case 5 => "left_semi"
          case 6 => "left_anti"
          case t => fail(s"substrait: unsupported join type $t")
        }
        val cond = one(body, 4).map(c => expression(c.bytes, combined, fns))
          .getOrElse(fail("substrait: join without expression (use CrossRel)"))
        val joined = left.join(right, cond, joinType)
        one(body, 5) match {
          case Some(post) =>
            joined.filter(expression(post.bytes, joined.columns.map(joined(_)), fns))
          case None => joined
        }

      case RelSet =>
        // SetRel { common=1; inputs=2; op=3 } — inputs union by POSITION
        // (substrait fields are positional; internal names never match)
        val inputs = body.filter(_.tag == 2).map(i => recur(i.bytes))
        if (inputs.size < 2) fail("substrait: set relation needs at least two inputs")
        val widths = inputs.map(_.columns.length).distinct
        if (widths.size > 1)
          fail(s"substrait: set inputs have mismatched widths ${widths.mkString(", ")}")
        one(body, 3).map(_.varint).getOrElse(0L) match {
          case 6 => inputs.reduce(_ union _) // UNION_ALL
          case 5 => inputs.reduce(_ union _).distinct() // UNION_DISTINCT
          case op => fail(s"substrait: unsupported set op $op (only UNION_ALL/UNION_DISTINCT)")
        }

      case RelCross =>
        // CrossRel { common=1; left=2; right=3 }
        val left = recur(req(body, 2, "cross left").bytes)
        val right = recur(req(body, 3, "cross right").bytes)
        left.crossJoin(right)

      case t => fail(s"substrait: unsupported relation tag $t")
    }

    applyEmit(direct, common, freshName _)
  }

  /** RelCommon emit remapping: `direct` (tag 1) is identity; `emit` (tag 2)
    * selects output_mapping indexes (packed or unpacked varints) from the
    * direct output, re-aliased fresh because a mapping may repeat an index.
    */
  private def applyEmit(df: DataFrame, common: Option[Field], freshName: () => String): DataFrame =
    common.flatMap(c => one(sub(c.bytes), 2)) match {
      case None => df
      case Some(emit) =>
        val efs = sub(emit.bytes)
        val mapping = efs.flatMap {
          case f if f.tag == 1 && f.wireType == 0 => Seq(f.varint)
          case f if f.tag == 1 && f.wireType == 2 => Proto.packedVarints(f.bytes)
          case _ => Seq.empty
        }
        if (mapping.isEmpty) df
        else {
          val names = df.columns
          mapping.foreach(i =>
            if (i < 0 || i >= names.length) fail(s"substrait: emit index $i out of range ${names.length}"))
          df.select(mapping.map(i => df(names(i.toInt)).as(freshName())): _*)
        }
    }

  // ---- expressions ----

  /** Expression { literal=1; selection=2; scalar_function=3; if_then=6;
    * singular_or_list=8; cast=11 } over the positional column frame.
    */
  private def expression(bytes: Array[Byte], cols: Seq[Column], fns: Map[Long, String]): Column = nested {
    val fs = sub(bytes)
    if (fs.isEmpty) fail("substrait: empty expression")
    val f = fs.head
    f.tag match {
      case 1 => literal(f.bytes)
      case 2 => fieldReference(f.bytes, cols)
      case 3 => scalarFunction(f.bytes, cols, fns)
      case 5 => windowFunction(f.bytes, cols, fns)
      case 6 => ifThen(f.bytes, cols, fns)
      case 8 =>
        // SingularOrList { value=1; options=2 }
        val sfs = sub(f.bytes)
        val value = expression(req(sfs, 1, "IN value").bytes, cols, fns)
        val options = sfs.filter(_.tag == 2).map(o => expression(o.bytes, cols, fns))
        if (options.isEmpty) lit(false)
        else options.map(value === _).reduce(_ || _)
      case 11 =>
        // Cast { type=1; input=2; failure_behavior=3 } — failure_behavior
        // lowers to a plain Cast (engine-default semantics), matching how
        // DataFusion's consumer maps substrait casts onto its Cast expr
        val cfs = sub(f.bytes)
        val in = expression(req(cfs, 2, "cast input").bytes, cols, fns)
        in.cast(sparkType(req(cfs, 1, "cast type").bytes))
      case 12 =>
        fail("substrait: subquery expressions are supported only as (NOT) IN predicates at a filter's top level")
      case t => fail(s"substrait: unsupported expression tag $t")
    }
  }

  /** FieldReference { direct_reference=1 → StructField index; root_reference=4 }. */
  private def fieldReference(bytes: Array[Byte], cols: Seq[Column]): Column = {
    val fs = sub(bytes)
    if (one(fs, 3).isDefined || one(fs, 5).isDefined)
      fail("substrait: only root field references are supported")
    val seg = sub(req(fs, 1, "direct field reference").bytes)
    val sf = one(seg, 2).getOrElse(fail("substrait: only struct_field references are supported"))
    val sffs = sub(sf.bytes)
    if (one(sffs, 2).isDefined) fail("substrait: nested struct_field references are not supported")
    val idx = one(sffs, 1).map(_.varint.toInt).getOrElse(0)
    if (idx < 0 || idx >= cols.length)
      fail(s"substrait: field reference $idx out of range ${cols.length}")
    cols(idx)
  }

  private def scalarFunction(bytes: Array[Byte], cols: Seq[Column], fns: Map[Long, String]): Column = {
    val fs = sub(bytes)
    val anchor = one(fs, 1).map(_.varint).getOrElse(0L)
    val name = fns.getOrElse(anchor, fail(s"substrait: unknown function anchor $anchor"))
    // arguments=4 (FunctionArgument.value=3), legacy args=2 (bare Expression)
    val args: Seq[Column] =
      fs.filter(_.tag == 4).map { a =>
        val afs = sub(a.bytes)
        one(afs, 3).map(v => expression(v.bytes, cols, fns))
          .getOrElse(fail(s"substrait: non-value argument for $name"))
      } ++ fs.filter(_.tag == 2).map(a => expression(a.bytes, cols, fns))
    def arity(n: Int): Unit =
      if (args.length != n) fail(s"substrait: $name expects $n arguments, got ${args.length}")
    def a0 = args.head
    def a1 = args(1)
    name match {
      case "and" => args.reduceLeft(_ && _)
      case "or" => args.reduceLeft(_ || _)
      case "not" => arity(1); !a0
      case "xor" => arity(2); a0 =!= a1
      case "equal" => arity(2); a0 === a1
      case "not_equal" => arity(2); a0 =!= a1
      case "lt" => arity(2); a0 < a1
      case "gt" => arity(2); a0 > a1
      case "lte" => arity(2); a0 <= a1
      case "gte" => arity(2); a0 >= a1
      case "is_null" => arity(1); a0.isNull
      case "is_not_null" => arity(1); a0.isNotNull
      case "is_nan" => arity(1); isnan(a0)
      case "between" => arity(3); a0 >= a1 && a0 <= args(2)
      case "add" => arity(2); a0 + a1
      case "subtract" => arity(2); a0 - a1
      case "multiply" => arity(2); a0 * a1
      case "divide" => arity(2); a0 / a1
      case "modulus" => arity(2); a0 % a1
      case "negate" => arity(1); -a0
      case "abs" => arity(1); abs(a0)
      case "power" => arity(2); pow(a0, a1)
      case "sqrt" => arity(1); sqrt(a0)
      case "exp" => arity(1); exp(a0)
      case "ln" => arity(1); log(a0)
      case "floor" => arity(1); floor(a0)
      case "ceil" => arity(1); ceil(a0)
      case "round" => arity(2); call_function("round", a0, a1)
      case "concat" => concat(args: _*)
      case "lower" => arity(1); lower(a0)
      case "upper" => arity(1); upper(a0)
      case "char_length" => arity(1); length(a0)
      case "starts_with" => arity(2); a0.startsWith(a1)
      case "ends_with" => arity(2); a0.endsWith(a1)
      case "contains" => arity(2); a0.contains(a1)
      case "like" => arity(2); call_function("like", a0, a1)
      case "substring" =>
        if (args.length == 2) a0.substr(a1, length(a0))
        else { arity(3); a0.substr(a1, args(2)) }
      case "coalesce" => coalesce(args: _*)
      case other => fail(s"substrait: unsupported scalar function $other")
    }
  }

  /** AggregateFunction { function_reference=1; legacy args=2; phase=4;
    * invocation=6; arguments=7 }. The measure FILTER folds into the
    * argument (`agg(when(cond, x))`) — null contributions are skipped by
    * every supported aggregate, which is exactly FILTER semantics.
    */
  private def aggregateFunction(
      bytes: Array[Byte],
      cols: Seq[Column],
      fns: Map[Long, String],
      filterCond: Option[Column]): Column = {
    val fs = sub(bytes)
    val anchor = one(fs, 1).map(_.varint).getOrElse(0L)
    val name = fns.getOrElse(anchor, fail(s"substrait: unknown aggregate anchor $anchor"))
    val distinct = one(fs, 6).exists(_.varint == 2L)
    val args: Seq[Column] =
      fs.filter(_.tag == 7).map { a =>
        val afs = sub(a.bytes)
        one(afs, 3).map(v => expression(v.bytes, cols, fns))
          .getOrElse(fail(s"substrait: non-value aggregate argument for $name"))
      } ++ fs.filter(_.tag == 2).map(a => expression(a.bytes, cols, fns))
    def guarded(c: Column): Column = filterCond.map(p => when(p, c)).getOrElse(c)
    (name, args) match {
      case ("count", Seq()) =>
        if (distinct) fail("substrait: COUNT(DISTINCT *) is not supported")
        count(guarded(lit(1)))
      case ("count", Seq(a)) => if (distinct) count_distinct(guarded(a)) else count(guarded(a))
      case ("sum", Seq(a)) => if (distinct) sum_distinct(guarded(a)) else sum(guarded(a))
      case ("min", Seq(a)) => min(guarded(a))
      case ("max", Seq(a)) => max(guarded(a))
      case ("avg", Seq(a)) => if (distinct) fail("substrait: AVG(DISTINCT) is not supported") else avg(guarded(a))
      case (other, as) => fail(s"substrait: unsupported aggregate $other/${as.length}")
    }
  }

  /** Expression.WindowFunction { function_reference=1; partitions=2;
    * sorts=3; upper_bound=4; lower_bound=5; phase=6; output_type=7;
    * arguments=9; invocation=11 } → a Spark window Column. Frame bounds:
    * the substrait defaults (unspecified) lower to each function's Spark
    * default — rank-family functions ignore frames, and the aggregate
    * default (UNBOUNDED PRECEDING .. CURRENT ROW with an ORDER BY) is the
    * same contract in both systems; EXPLICIT non-default bounds are
    * rejected by name rather than silently mis-framed (DataFusion's
    * consumer maps them; this subset errors, mirroring the
    * error-not-guess rule).
    */
  private def windowFunction(bytes: Array[Byte], cols: Seq[Column], fns: Map[Long, String]): Column = {
    import org.apache.spark.sql.expressions.{Window => WSpec}
    val fs = sub(bytes)
    val anchor = one(fs, 1).map(_.varint).getOrElse(0L)
    val name = fns.getOrElse(anchor, fail(s"substrait: unknown window function anchor $anchor"))
    // explicit frame bounds (upper=4 / lower=5): only the all-defaults
    // form is supported — Bound { preceding=1; following=2; current_row=3;
    // unbounded=4 } with unbounded/current defaults matches Spark's own
    for (tag <- Seq(4, 5); b <- one(fs, tag)) {
      val bfs = sub(b.bytes)
      val kind = bfs.headOption.map(_.tag).getOrElse(0)
      if (kind == 1 || kind == 2)
        fail(s"substrait: explicit numeric window frame bounds are not supported ($name)")
    }
    val partitions = fs.filter(_.tag == 2).map(p => expression(p.bytes, cols, fns))
    val sorts = fs.filter(_.tag == 3).map { sf =>
      val sfs = sub(sf.bytes)
      val e = expression(req(sfs, 1, "window sort expression").bytes, cols, fns)
      one(sfs, 2).map(_.varint).getOrElse(0L) match {
        case 1 => e.asc_nulls_first
        case 2 => e.asc_nulls_last
        case 3 => e.desc_nulls_first
        case 4 => e.desc_nulls_last
        case d => fail(s"substrait: unsupported window sort direction $d")
      }
    }
    val distinct = one(fs, 11).exists(_.varint == 2L)
    if (distinct) fail(s"substrait: DISTINCT window invocation is not supported ($name)")
    val args: Seq[Column] = fs.filter(_.tag == 9).map { a =>
      val afs = sub(a.bytes)
      one(afs, 3).map(v => expression(v.bytes, cols, fns))
        .getOrElse(fail(s"substrait: non-value window argument for $name"))
    }
    val base = if (partitions.isEmpty) WSpec.partitionBy() else WSpec.partitionBy(partitions: _*)
    val spec = if (sorts.isEmpty) base else base.orderBy(sorts: _*)
    val fn: Column = (name, args) match {
      case ("row_number", Seq()) => row_number()
      case ("rank", Seq()) => rank()
      case ("dense_rank", Seq()) => dense_rank()
      case ("percent_rank", Seq()) => percent_rank()
      case ("cume_dist", Seq()) => cume_dist()
      case ("ntile", Seq(n)) => call_function("ntile", n)
      case ("lead", a) if a.size >= 1 && a.size <= 3 => call_function("lead", a: _*)
      case ("lag", a) if a.size >= 1 && a.size <= 3 => call_function("lag", a: _*)
      case ("sum", Seq(a)) => sum(a)
      case ("count", Seq()) => count(lit(1))
      case ("count", Seq(a)) => count(a)
      case ("min", Seq(a)) => min(a)
      case ("max", Seq(a)) => max(a)
      case ("avg", Seq(a)) => avg(a)
      case (other, as) => fail(s"substrait: unsupported window function $other/${as.length}")
    }
    fn.over(spec)
  }

  private def ifThen(bytes: Array[Byte], cols: Seq[Column], fns: Map[Long, String]): Column = {
    // IfThen { repeated IfClause ifs=1 { if=1; then=2 }; Expression else=2 }
    val fs = sub(bytes)
    val clauses = fs.filter(_.tag == 1).map { c =>
      val cfs = sub(c.bytes)
      (expression(req(cfs, 1, "IF condition").bytes, cols, fns),
        expression(req(cfs, 2, "THEN value").bytes, cols, fns))
    }
    if (clauses.isEmpty) fail("substrait: IfThen without clauses")
    val chain = clauses.tail.foldLeft(when(clauses.head._1, clauses.head._2)) {
      case (acc, (c, t)) => acc.when(c, t)
    }
    one(fs, 2).map(e => chain.otherwise(expression(e.bytes, cols, fns))).getOrElse(chain)
  }

  /** Literal — oneof tags from substrait type system; fp32/fp64 arrive as
    * fixed32/fixed64 wire values.
    */
  private def literal(bytes: Array[Byte]): Column = {
    val fs = sub(bytes)
    val payload = fs.filterNot(f => f.tag == 50 || f.tag == 51) // nullable / variation
    if (payload.isEmpty) fail("substrait: empty literal")
    val f = payload.head
    f.tag match {
      case 1 => lit(f.varint != 0L)
      case 2 => lit(f.varint.toByte)
      case 3 => lit(f.varint.toShort)
      case 5 => lit(f.varint.toInt)
      case 7 => lit(f.varint)
      case 10 => lit(java.lang.Float.intBitsToFloat(f.varint.toInt))
      case 11 => lit(java.lang.Double.longBitsToDouble(f.varint))
      case 12 => lit(Proto.string(f))
      case 13 => lit(f.bytes)
      case 16 => lit(java.time.LocalDate.ofEpochDay(f.varint.toInt))
      case 24 =>
        // Decimal { bytes value=1 (16-byte LE two's complement); precision=2; scale=3 }
        val dfs = sub(f.bytes)
        val raw = req(dfs, 1, "decimal value").bytes.reverse // LE → BE
        val scale = one(dfs, 3).map(_.varint.toInt).getOrElse(0)
        val precision = one(dfs, 2).map(_.varint.toInt).getOrElse(38)
        val bd = new java.math.BigDecimal(new java.math.BigInteger(raw), scale)
        lit(bd).cast(DecimalType(precision, scale))
      case 29 => lit(null).cast(sparkType(f.bytes))
      case t => fail(s"substrait: unsupported literal tag $t")
    }
  }

  /** Type { kind oneof } → Spark DataType (nullability is a schema concern;
    * Spark columns are nullable by construction here).
    */
  private def sparkType(bytes: Array[Byte]): DataType = {
    val fs = sub(bytes)
    if (fs.isEmpty) fail("substrait: empty type")
    val f = fs.head
    f.tag match {
      case 1 => BooleanType
      case 2 => ByteType
      case 3 => ShortType
      case 5 => IntegerType
      case 7 => LongType
      case 10 => FloatType
      case 11 => DoubleType
      case 12 => StringType
      case 13 => BinaryType
      case 14 => TimestampNTZType // deprecated micros timestamp
      case 16 => DateType
      case 21 | 22 => StringType // fixed_char / varchar
      case 24 =>
        val dfs = sub(f.bytes)
        // Decimal type { scale=1; precision=2 } (type.proto ordering)
        val scale = one(dfs, 1).map(_.varint.toInt).getOrElse(0)
        val precision = one(dfs, 2).map(_.varint.toInt).getOrElse(38)
        DecimalType(precision, scale)
      case t => fail(s"substrait: unsupported type tag $t")
    }
  }
}
