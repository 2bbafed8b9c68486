package graft.substrait

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._

import model._

/** Catalyst analyzed `LogicalPlan` → Substrait `Plan`.
  *
  * Spark-native rebuild of the reference producer (src/producer.rs:37-63,
  * to_substrait_rel 66-286): a recursive pattern-match over the analyzed plan,
  * with the mutable function-extension registry threaded through
  * (producer.rs:393-431 — dense anchors from 0, dedup by name). Where DataFusion
  * hands the reference an optimizer-normalized plan, Spark's analyzer output
  * still carries implicit Casts / CheckOverflow / alias layers, so this walk
  * additionally understands those (SURVEY.md §7.4 "plan-shape drift").
  */
object Producer {

  def produce(df: DataFrame): Plan = produce(df.queryExecution.analyzed)

  def produce(plan: LogicalPlan): Plan = {
    val ctx = new Ctx
    val rel = ctx.toRel(plan)
    Plan(ctx.extensions, Seq(PlanRel.Root(rel.rel, plan.output.map(_.name))))
  }

  /** Build a bounded-iteration plan (Rel.ExtIteration): `init`'s rows are
    * state₀; `body` is built by the caller over a schema-only placeholder
    * view registered under [[Consumer.IterationStateTable]], so its state
    * leaf naturally produces as the RESERVED NamedTable the consumer binds
    * per round. The body rides as a COMPLETE nested plan — its function
    * anchors stay scoped to it, so no cross-plan re-anchoring is needed.
    * This is how the iterative fixpoints (graph rank d17, connected
    * components d08/d13) ship as ONE wire artifact: loop control — round
    * count and optional multiset-fixpoint early exit — is IN the plan, not
    * host-side.
    */
  def produceIteration(init: DataFrame, body: DataFrame => DataFrame,
                       maxIters: Int, checkFixpoint: Boolean,
                       requireFixpoint: Boolean = false): Plan = {
    require(!requireFixpoint || checkFixpoint,
      "requireFixpoint needs checkFixpoint (there is no fixpoint to require otherwise)")
    require(maxIters >= 1 && maxIters <= 1000,
      s"iteration maxIters out of range: $maxIters")
    val spark = init.sparkSession
    val initPlan = produce(init)
    val (initRel, rootNames) = initPlan.relations.head match {
      case PlanRel.Root(r, names) => (r, names)
      case PlanRel.RelOnly(r) => (r, Nil)
    }
    // Schema-only placeholder: resolves the body's analysis; the consumer
    // never reads it (the reserved name binds to the loop state first).
    // Registered under a PER-CALL unique name, then renamed to the reserved
    // name in the produced rel tree: registering the reserved name directly
    // would silently replace (and, via the finally, destroy) a pre-existing
    // user view called graft_iteration_state, and two concurrent
    // produceIteration calls in one session would race on the shared
    // placeholder (one call's drop unbinding the other's mid-build).
    val scratch = Consumer.IterationStateTable + "_build_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val placeholder = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), init.schema)
    placeholder.createOrReplaceTempView(scratch)
    val bodyPlan =
      try produce(body(spark.table(scratch)))
      finally spark.catalog.dropTempView(scratch)
    Plan(initPlan.extensions, Seq(PlanRel.Root(
      Rel.ExtIteration(initRel,
        renameTable(bodyPlan, scratch, Consumer.IterationStateTable),
        maxIters, checkFixpoint, requireFixpoint),
      rootNames)))
  }

  /** Rewrite every ReadRel/NamedTable of `from` (matched on the final name
    * segment, case-insensitively — Spark lowercases temp-view identifiers)
    * to the single-segment reserved name `to`, across the whole plan
    * including nested iteration bodies. Exhaustive over the sealed Rel ADT
    * so a new rel case fails compilation here instead of silently keeping
    * the scratch name on the wire. */
  private def renameTable(plan: Plan, from: String, to: String): Plan =
    Plan(plan.extensions, plan.relations.map {
      case PlanRel.Root(r, names) => PlanRel.Root(renameTable(r, from, to), names)
      case PlanRel.RelOnly(r) => PlanRel.RelOnly(renameTable(r, from, to))
    })

  private def renameTable(rel: Rel, from: String, to: String): Rel = {
    def go(r: Rel): Rel = renameTable(r, from, to)
    rel match {
      case r: Rel.Read
        if r.tableNames.nonEmpty &&
           r.tableNames.last.equalsIgnoreCase(from) =>
        r.copy(tableNames = Seq(to))
      case r: Rel.Read => r
      case r: Rel.Project => r.copy(input = go(r.input))
      case r: Rel.Filter => r.copy(input = go(r.input))
      case r: Rel.Fetch => r.copy(input = go(r.input))
      case r: Rel.Sort => r.copy(input = go(r.input))
      case r: Rel.Aggregate => r.copy(input = go(r.input))
      case r: Rel.Join => r.copy(left = go(r.left), right = go(r.right))
      case r: Rel.Cross => r.copy(left = go(r.left), right = go(r.right))
      case r: Rel.Set => r.copy(inputs = r.inputs.map(go))
      case r: Rel.ExtGenerate => r.copy(input = go(r.input))
      case r: Rel.ExtExchange => r.copy(input = go(r.input))
      case r: Rel.ExtSample => r.copy(input = go(r.input))
      case r: Rel.ExtStage => r.copy(input = go(r.input))
      case r: Rel.ExtSessionWindow => r.copy(input = go(r.input))
      case r: Rel.ExtIteration =>
        r.copy(input = go(r.input),
          bodyPlan = renameTable(r.bodyPlan, from, to))
      case r: Rel.ExtHint => r.copy(input = go(r.input))
    }
  }

  /** A produced relation plus the attribute list its FieldRef ordinals index. */
  private final case class Produced(rel: Rel, attrs: Seq[Attribute])

  private final class Ctx {
    /** name → dense anchor, insertion-ordered (producer.rs:393-431). */
    private val registry = mutable.LinkedHashMap.empty[String, Int]
    def anchor(name: String): Int = registry.getOrElseUpdate(name, registry.size)

    // PIVOT lowering: Spark's pivotfirst measure returns an ARRAY the parent
    // project indexes; the producer rewrites it into one
    // first(IF(pivot <=> v, value), ignoreNulls) measure per pivot value and
    // records the array attr → replacement columns here so the parent
    // project's GetArrayItem(attr, i) resolves to the i-th column
    private val pivotSlices = mutable.Map.empty[ExprId, Seq[Attribute]]

    // CTE definitions in scope (WithCTE registers, CTERelationRef inlines):
    // substrait 0.3 has no common-subplan sharing, so each reference
    // re-produces the definition's subtree — the same inlined form the
    // reference engines exchange
    private val cteDefs = mutable.Map.empty[Long, LogicalPlan]

    // lambda-variable slot assignment (depth-first scope order) for the
    // __lambda/__lambda_var wire convention; see the LambdaFunction case
    private val lambdaSlots = mutable.Map.empty[ExprId, Int]
    private var lambdaDepth = 0
    def extensions: Seq[ExtensionFunction] =
      registry.toSeq.map { case (n, a) =>
        // extension_uri_reference = u32::MAX, like the reference (producer.rs:412)
        ExtensionFunction(0xffffffffL, a, n)
      }

    // ---------------------------------------------------------------- leaves
    /** Named leaf scan: a SubqueryAlias at the catalog boundary. Resolved
      * views arrive as SubqueryAlias(name, View(..., storedPlan)) — the View
      * marker distinguishes a catalog-registered name from an inline SQL
      * alias over a subquery (which must be walked, not scanned). A
      * SubqueryAlias directly over a relation leaf is the same boundary.
      * An extra user alias (FROM data d1) wraps ANOTHER SubqueryAlias and is
      * stripped by the passthrough case, so the innermost (catalog) name wins.
      */
    private def leafRead(p: LogicalPlan): Option[(Seq[String], Seq[Attribute])] = p match {
      case a: logical.SubqueryAlias =>
        a.child match {
          case _: logical.View | _: LogicalRelation | _: DataSourceV2Relation |
               // a checkpointed frame registered as a temp view: the RDD leaf
               // is opaque, but the VIEW NAME is a valid named read (the
               // consumer resolves it against the same session catalog) —
               // what lets iterative operators wire their per-round plans
               _: org.apache.spark.sql.execution.LogicalRDD =>
            Some((a.identifier.qualifier :+ a.identifier.name, p.output))
          case lr: logical.LocalRelation =>
            // the alias is a NAMED read only when a temp view of this exact
            // frame exists — `VALUES ... AS t(x, y)` also arrives as
            // SubqueryAlias(t, LocalRelation), and emitting NamedTable("t")
            // for it would make the consumer look up a table that isn't
            // there; unmatched aliases fall through to VirtualTable (the
            // rows travel in the plan, correct under any name)
            val matchesTempView = try {
              org.apache.spark.sql.SparkSession.active.sessionState.catalog
                .getTempView(a.identifier.name)
                .map { case v: logical.View => v.child; case other => other }
                .exists(_.canonicalized == lr.canonicalized)
            } catch { case _: Throwable => false }
            if (matchesTempView)
              Some((a.identifier.qualifier :+ a.identifier.name, p.output))
            else None
          case _ => None
        }
      case _ => None
    }

    private def readRel(names: Seq[String], attrs: Seq[Attribute],
                        mask: Seq[Int]): Rel =
      Rel.Read(
        NamedStruct(attrs.map(_.name), attrs.map(a => (sTypeOf(a.dataType), a.nullable))),
        names, Some(mask))

    // ------------------------------------------------------------------ rels
    def toRel(p: LogicalPlan): Produced = p match {
      case _ if leafRead(p).isDefined =>
        val (names, attrs) = leafRead(p).get
        Produced(readRel(names, attrs, attrs.indices), attrs)

      // bare file-backed scan (spark.read.parquet(path) without a registered
      // view) → ReadRel/LocalFiles (algebra.proto field 6 — beyond the
      // reference, which rejects LocalFiles at consumer.rs:371-373): the
      // root paths and format travel on the wire, the declared schema is the
      // scan's attribute schema
      case r: LogicalRelation
          if r.relation.isInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        val fs = r.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        val fmt = fs.fileFormat match {
          case _: org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat =>
            "parquet"
          case _: org.apache.spark.sql.execution.datasources.orc.OrcFileFormat => "orc"
          case _: org.apache.spark.sql.execution.datasources.csv.CSVFileFormat => "csv"
          case other => notImplemented(s"LocalFiles file format ${other.getClass.getSimpleName}")
        }
        val headerLines =
          if (fmt == "csv" && fs.options.getOrElse("header", "false") == "true") 1L else 0L
        val delim = if (fmt == "csv") fs.options.get("sep").orElse(fs.options.get("delimiter"))
                    else None
        val items = fs.location.rootPaths.map(p =>
          FileItem(p.toString, pathKind = 1, format = fmt,
            csvDelimiter = delim, csvHeaderLines = headerLines))
        val schema = NamedStruct(r.output.map(_.name),
          r.output.map(a => (sTypeOf(a.dataType), a.nullable)))
        Produced(Rel.Read(schema, Nil, None, None, None, Some(items)), r.output)

      // inline literal frame (Seq(...).toDF without a registered view) →
      // ReadRel/VirtualTable: rows travel IN the plan as struct literals
      // (algebra.proto ReadRel.virtual_table — beyond the reference, which
      // resolves catalog names only). Small dimension/config tables only;
      // data tables belong in the catalog.
      case l: logical.LocalRelation =>
        val schema = NamedStruct(l.output.map(_.name),
          l.output.map(a => (sTypeOf(a.dataType), a.nullable)))
        val rows = l.data.map { row =>
          l.output.zipWithIndex.map { case (a, i) =>
            literal(Literal(row.get(i, a.dataType), a.dataType))
          }
        }
        Produced(Rel.Read(schema, Nil, None, None, Some(rows)), l.output)

      // SELECT without FROM (literal/expression evaluation): a one-row,
      // zero-column VirtualTable — the projection above supplies every column
      case _: logical.OneRowRelation =>
        Produced(Rel.Read(NamedStruct(Nil, Nil), Nil, None, None,
          Some(Seq(Nil))), Nil)

      // attribute-only projection over a leaf → ReadRel projection mask
      // (mirrors producer.rs:74-116 carrying the scan's projection)
      case logical.Project(list, child)
          if leafRead(child).isDefined && list.forall(_.isInstanceOf[AttributeReference]) =>
        val (names, attrs) = leafRead(child).get
        val mask = list.map { a =>
          val i = attrs.indexWhere(_.exprId == a.exprId)
          if (i < 0) internalErr(s"projection attribute ${a.name} not in scan")
          i
        }
        Produced(readRel(names, attrs, mask), list.map(_.toAttribute))

      case logical.Project(list, child) =>
        var in = toRel(child)
        // uncorrelated scalar subqueries in a PROJECTION (e.g. probing a
        // bloom_filter_agg subquery with might_contain) ride the same way
        // as in filters: cross-join the provably-one-row subplan and
        // replace the subquery expression with its appended column. The
        // Rel.Project emits exactly `list`, so the appended column never
        // leaks downstream.
        val scalarSubs = mutable.ArrayBuffer.empty[ScalarSubquery]
        list.foreach(_.foreach {
          case s: ScalarSubquery if s.outerAttrs.isEmpty &&
              !scalarSubs.exists(_.exprId == s.exprId) => scalarSubs += s
          case _ => ()
        })
        val replaced: Seq[NamedExpression] =
          if (scalarSubs.isEmpty) list
          else {
            def oneRow(p: LogicalPlan): Boolean = p match {
              case agg: logical.Aggregate => agg.groupingExpressions.isEmpty
              case prj: logical.Project => oneRow(prj.child)
              case _ => false
            }
            val replacement = mutable.Map.empty[ExprId, Expression]
            scalarSubs.foreach { s =>
              if (!oneRow(s.plan)) notImplemented(
                "projected scalar subquery whose plan is not a global aggregate " +
                  "(cannot guarantee exactly one row on the wire)")
              val sub = toRel(s.plan)
              if (sub.attrs.size != 1) notImplemented("scalar subquery arity != 1")
              replacement(s.exprId) = sub.attrs.head
              in = Produced(Rel.Cross(in.rel, sub.rel), in.attrs ++ sub.attrs)
            }
            list.map(_.transform {
              case s: ScalarSubquery if replacement.contains(s.exprId) =>
                replacement(s.exprId)
            }.asInstanceOf[NamedExpression])
          }
        val exprs = replaced.map(e => toSExpr(e, in.attrs))
        Produced(Rel.Project(in.rel, exprs), list.map(_.toAttribute))

      case logical.Filter(cond, child) =>
        produceFilter(cond, child)

      case a: logical.SubqueryAlias => toRel(a.child) // alias stripped (producer.rs:276-280)
      case v: logical.View => toRel(v.child)
      // join-strategy hints cross the wire as a schema-preserving extension
      // rel: post-roundtrip plans have no reliable stats, so Catalyst can
      // invert a hinted broadcast (build the large side) and collapse the
      // parallelism of everything downstream of the small stream
      case h: logical.ResolvedHint =>
        val in = toRel(h.child)
        h.hints.strategy match {
          case Some(s) => Produced(Rel.ExtHint(in.rel, s.displayName), in.attrs)
          case None => in
        }

      case j: logical.Join =>
        val l = toRel(j.left); val r = toRel(j.right)
        val both = l.attrs ++ r.attrs
        val outAttrs = j.joinType match {
          case plans.LeftSemi | plans.LeftAnti => l.attrs
          case _ => both
        }
        (j.joinType, j.condition) match {
          case (plans.Cross, None) | (plans.Inner, None) =>
            Produced(Rel.Cross(l.rel, r.rel), outAttrs)
          case (_, None) => notImplemented(s"${j.joinType} join without condition")
          case (jt, Some(cond)) =>
            val t = jt match {
              case plans.Inner => JoinType.Inner
              case plans.LeftOuter => JoinType.Left
              case plans.RightOuter => JoinType.Right
              case plans.FullOuter => JoinType.Outer
              case plans.LeftSemi => JoinType.Semi
              case plans.LeftAnti => JoinType.Anti
              case other => notImplemented(s"join type $other")
            }
            Produced(Rel.Join(l.rel, r.rel, toSExpr(cond, both), t), outAttrs)
        }

      // hash repartition → ExtensionSingleRel (substrait 0.3 predates
      // ExchangeRel); partition placement is schema-preserving, so the
      // output attrs are the child's
      case r: logical.RepartitionByExpression =>
        val in = toRel(r.child)
        if (r.partitionExpressions.exists(_.isInstanceOf[SortOrder])) {
          // repartitionByRange: every partition expr is a SortOrder
          val dirs = r.partitionExpressions.map {
            case so: SortOrder => sortField(so, toSExpr(_, in.attrs))
            case other => notImplemented(s"mixed range partition expr $other")
          }
          Produced(
            Rel.ExtExchange(in.rel, dirs.map(_.expr),
              r.optNumPartitions.getOrElse(0), shuffle = true,
              rangeDirections = dirs.map(_.direction)),
            in.attrs)
        } else Produced(
          Rel.ExtExchange(in.rel,
            r.partitionExpressions.map(toSExpr(_, in.attrs)),
            r.optNumPartitions.getOrElse(0)),
          in.attrs)

      // round-robin repartition / coalesce (no partition expressions)
      case r: logical.Repartition =>
        val in = toRel(r.child)
        Produced(Rel.ExtExchange(in.rel, Nil, r.numPartitions, r.shuffle),
          in.attrs)

      // Bernoulli sampling: the seed rides so the consumed plan draws the
      // same rows on the same engine
      case s0: logical.Sample =>
        val in = toRel(s0.child)
        Produced(Rel.ExtSample(in.rel, s0.lowerBound, s0.upperBound,
          s0.withReplacement, s0.seed), in.attrs)

      // registered typed stages (mapPartitions pipelines) cross the wire by
      // SYMBOLIC NAME — the convention engines use for UDF stages. Closures
      // are not introspectable, so only stages in the Stages registry
      // encode; anything else stays a loud notImplemented below.
      case so: logical.SerializeFromObject => so.child match {
        case logical.MapPartitions(f, _, logical.DeserializeToObject(_, _, child))
            if Stages.nameOf(f).isDefined =>
          val in = toRel(child)
          val name = Stages.nameOf(f).get
          val st = Stages.registry(name)
          if (in.attrs.size != st.inputCols.size)
            internalErr(s"stage '$name' expects ${st.inputCols.size} input " +
              s"columns, plan provides ${in.attrs.size}")
          Produced(Rel.ExtStage(in.rel, name), so.output)
        case other =>
          notImplemented(s"typed object pipeline without a registered stage: " +
            s"${other.nodeName}")
      }

      // explode/posexplode/inline → ExtensionSingleRel (substrait 0.3 has no
      // unnest; the Any detail is graft's sanctioned extension point)
      case g: logical.Generate =>
        if (g.unrequiredChildIndex.nonEmpty)
          notImplemented("Generate with pruned child columns")
        val in = toRel(g.child)
        val (gname, garg) = g.generator match {
          case Explode(c) => ("explode", c)
          case PosExplode(c) => ("posexplode", c)
          case Inline(c) => ("inline", c)
          case other => notImplemented(s"generator ${other.prettyName}")
        }
        Produced(
          Rel.ExtGenerate(in.rel, gname, toSExpr(garg, in.attrs), g.outer,
            g.generatorOutput.size),
          in.attrs ++ g.generatorOutput.map(_.toAttribute))

      case agg: logical.Aggregate => produceAggregate(agg)

      // Window node output = child.output ++ window columns; encoded as a
      // ProjectRel of pass-through refs + WindowFn expressions (beyond the
      // reference's subset — SURVEY.md §2.8)
      case w: logical.Window =>
        val in = toRel(w.child)
        val passthrough = in.attrs.indices.map(i => SExpr.FieldRef(i))
        val wexprs = w.windowExpressions.map(e => toSExpr(e, in.attrs))
        Produced(Rel.Project(in.rel, passthrough ++ wexprs),
          w.child.output ++ w.windowExpressions.map(_.toAttribute))

      // SELECT DISTINCT → AggregateRel grouping on all columns, zero measures
      // (producer.rs:203-222)
      case logical.Distinct(child) =>
        val in = toRel(child)
        Produced(Rel.Aggregate(in.rel, Seq(in.attrs.indices.map(SExpr.FieldRef(_))), Nil),
          in.attrs)
      case d: logical.Deduplicate if d.keys.map(_.exprId).toSet ==
          d.child.output.map(_.exprId).toSet =>
        val in = toRel(d.child)
        Produced(Rel.Aggregate(in.rel, Seq(in.attrs.indices.map(SExpr.FieldRef(_))), Nil),
          in.attrs)
      // subset-key dedup (dropDuplicates(keys)): encoded exactly as Spark's
      // own ReplaceDeduplicateWithAggregate rewrite executes it — groupBy the
      // keys, first() every other column — plus a ProjectRel restoring the
      // child's column order (AggregateRel output is groups ++ measures)
      case d: logical.Deduplicate =>
        val in = toRel(d.child)
        val keyIds = d.keys.map(_.exprId).toSet
        val keyIdx = in.attrs.zipWithIndex.collect {
          case (a, i) if keyIds.contains(a.exprId) => i
        }
        val otherIdx = in.attrs.zipWithIndex.collect {
          case (a, i) if !keyIds.contains(a.exprId) => i
        }
        val measures = otherIdx.map(i => Measure(
          AggFunction(anchor("first"), Seq(SExpr.FieldRef(i)), AggInvocation.All),
          None))
        val aggRel = Rel.Aggregate(in.rel,
          Seq(keyIdx.map(SExpr.FieldRef(_))), measures)
        val aggPos: Map[Int, Int] = (keyIdx ++ otherIdx).zipWithIndex.toMap
        Produced(Rel.Project(aggRel,
          in.attrs.indices.map(i => SExpr.FieldRef(aggPos(i)))), in.attrs)

      // streaming watermarks are execution-time metadata with no substrait
      // 0.3 counterpart; on a batch frame the plan's semantics are identical
      // without the node, so the wire form carries the batch twin of the
      // streaming pipeline (the consumer re-attaches watermarks when it
      // re-deploys the plan against a stream)
      case w: logical.EventTimeWatermark => toRel(w.child)

      case s: logical.Sort =>
        if (!s.global) notImplemented("partition-local sort")
        val in = toRel(s.child)
        val sorts = s.order.map(so => sortField(so, toSExpr(_, in.attrs)))
        Produced(Rel.Sort(in.rel, sorts), in.attrs)

      // limit/offset shapes → one FetchRel (SURVEY.md §7.4); reference quirk:
      // no fetch → count 0 (producer.rs:147-150)
      case logical.Limit(IntegerLiteral(l), logical.Offset(IntegerLiteral(o), child)) =>
        val in = toRel(child); Produced(Rel.Fetch(in.rel, o.toLong, l.toLong), in.attrs)
      case logical.Limit(IntegerLiteral(l), child) =>
        val in = toRel(child); Produced(Rel.Fetch(in.rel, 0L, l.toLong), in.attrs)
      case logical.Offset(IntegerLiteral(o), logical.Limit(IntegerLiteral(l), child)) =>
        val in = toRel(child)
        Produced(Rel.Fetch(in.rel, o.toLong, math.max(l.toLong - o, 0L)), in.attrs)
      case logical.Offset(IntegerLiteral(o), child) =>
        val in = toRel(child); Produced(Rel.Fetch(in.rel, o.toLong, 0L), in.attrs)

      case u: logical.Union =>
        val ins = u.children.map(toRel)
        Produced(Rel.Set(ins.map(_.rel), SetOp.UnionAll), ins.head.attrs)
      case i: logical.Intersect =>
        val l = toRel(i.left); val r = toRel(i.right)
        val op = if (i.isAll) SetOp.IntersectionMultiset else SetOp.IntersectionPrimary
        Produced(Rel.Set(Seq(l.rel, r.rel), op), l.attrs)
      case e: logical.Except =>
        val l = toRel(e.left); val r = toRel(e.right)
        val op = if (e.isAll) SetOp.MinusMultiset else SetOp.MinusPrimary
        Produced(Rel.Set(Seq(l.rel, r.rel), op), l.attrs)

      // LATERAL (SELECT <aggregates> ... WHERE <equality correlation>): a
      // correlated apply whose subquery is a GLOBAL aggregate yields exactly
      // one row per probe row, so it decorrelates into the same grouped LEFT
      // join as the correlated-scalar-subquery path (group the aggregate by
      // the lifted keys, left-join, project the aggregate columns; bare
      // COUNT columns coalesce to 0 on group misses). Multi-row laterals
      // have no relational wire form — rejected loudly.
      case lj: logical.LateralJoin
          if lj.condition.isEmpty &&
            (lj.joinType == plans.Inner || lj.joinType == plans.LeftOuter) =>
        def peel(p: LogicalPlan): LogicalPlan = p match {
          case a: logical.SubqueryAlias => peel(a.child)
          case v: logical.View => peel(v.child)
          case other => other
        }
        peel(lj.right.plan) match {
          case agg: logical.Aggregate if agg.groupingExpressions.isEmpty =>
            val left = toRel(lj.left)
            // the grouped-left-join rewrite yields NULL on a group miss; a
            // GLOBAL aggregate over empty input yields NULL only for a BARE
            // non-count aggregate. Anything non-null-on-empty — coalesce
            // wraps, literals, count buried in wider expressions — would
            // silently diverge, so only bare aggregates are accepted: exact
            // counts coalesce to 0, everything else must be NULL-on-empty.
            def aggFn(ne: NamedExpression): Option[String] = ne match {
              case Alias(ae: AggregateExpression, _) =>
                Some(ae.aggregateFunction.prettyName)
              case ae: AggregateExpression =>
                Some(ae.aggregateFunction.prettyName)
              case _ => None
            }
            val bareCountNames = Set("count", "count_if")
            // aggregates whose GLOBAL form yields NULL on empty input — the
            // only ones whose semantics a join miss reproduces (collect_list
            // gives [], count_min_sketch an empty sketch, etc.: those would
            // silently diverge and are rejected)
            val nullOnEmpty = Set("min", "max", "sum", "avg", "mean", "first",
              "last", "any_value", "stddev", "stddev_samp", "stddev_pop",
              "variance", "var_samp", "var_pop", "corr", "covar_samp",
              "covar_pop", "median", "percentile", "percentile_approx",
              "approx_percentile", "mode", "skewness", "kurtosis", "bool_and",
              "bool_or", "every", "max_by", "min_by", "bit_and", "bit_or",
              "bit_xor")
            def isBareCount(ne: NamedExpression): Boolean =
              aggFn(ne).exists(bareCountNames.contains)
            if (lj.right.outerAttrs.isEmpty) {
              // uncorrelated lateral aggregate = one-row cross join; the
              // global aggregate always yields its row, so there is no
              // group-miss hazard and any output expression is fine
              val sub = toRel(agg)
              Produced(Rel.Cross(left.rel, sub.rel), lj.left.output ++ agg.output)
            } else {
              agg.aggregateExpressions.foreach { ne =>
                val ok = aggFn(ne).exists(n =>
                  nullOnEmpty.contains(n) || bareCountNames.contains(n))
                if (!ok) notImplemented(
                  s"lateral output $ne: only bare NULL-on-empty aggregates (or " +
                    "bare counts) survive the grouped-join rewrite — anything " +
                    "non-null on an empty group would silently diverge")
              }
              val (core, _, corr, _) = decorrelateRaw(agg.child, lj.right.outerAttrs)
              val keyPairs = correlationKeyPairs(corr, lj.right.outerAttrs, "lateral")
              if (keyPairs.isEmpty)
                notImplemented("correlated lateral aggregate without equality keys")
              val innerKeys = keyPairs.map(_._2).distinctBy(_.exprId)
              val newAgg = logical.Aggregate(innerKeys,
                (innerKeys: Seq[NamedExpression]) ++ agg.aggregateExpressions, core)
              val sub = toRel(newAgg)
              val both = left.attrs ++ sub.attrs
              val cond = keyPairs.map { case (o, i) =>
                SExpr.ScalarFn(anchor("equal"),
                  Seq(toSExpr(o, left.attrs), toSExpr(i, both)))
              }.reduceLeft((a, b) => SExpr.ScalarFn(anchor("and"), Seq(a, b)))
              val joined = Rel.Join(left.rel, sub.rel, cond, JoinType.Left)
              val nL = left.attrs.size
              val nK = innerKeys.size
              val aggAttrs = sub.attrs.drop(nK)
              val outCols: Seq[SExpr] =
                left.attrs.indices.map(i => SExpr.FieldRef(i): SExpr) ++
                  agg.aggregateExpressions.zipWithIndex.map { case (ne, i) =>
                    if (isBareCount(ne))
                      toSExpr(Coalesce(Seq(aggAttrs(i), Literal(0L, LongType))), both)
                    else SExpr.FieldRef(nL + nK + i): SExpr
                  }
              Produced(Rel.Project(joined, outCols),
                lj.left.output ++ lj.right.plan.output)
            }
          case _ =>
            notImplemented("LATERAL subquery that is not a global aggregate")
        }

      // WITH ... : register the definitions, produce the main plan; each
      // CTERelationRef inlines its definition's subtree with the REF's
      // output attributes (positional match) so parent exprId lookups bind
      case w: logical.WithCTE =>
        w.cteDefs.foreach(d => cteDefs(d.id) = d.child)
        toRel(w.plan)
      case r: logical.CTERelationRef =>
        val child = cteDefs.getOrElse(r.cteId,
          internalErr(s"CTERelationRef ${r.cteId} without a WithCTE definition"))
        val in = toRel(child)
        if (in.attrs.size != r.output.size)
          internalErr(s"CTE ${r.cteId}: def arity ${in.attrs.size} != ref arity ${r.output.size}")
        Produced(in.rel, r.output)

      // standalone Expand (UNPIVOT / melt): a row-expansion is the union of
      // its projections — encode as SetRel UnionAll of one ProjectRel per
      // projection, each over its own copy of the child subtree (substrait
      // 0.3 has no expand/unnest-projection relation). The consumed plan
      // scans the child once per branch; Catalyst prunes each branch's scan
      // to its projection's columns. (Expand under an Aggregate is the
      // grouping-sets encoding, matched earlier in produceAggregate.)
      case ex: logical.Expand =>
        val branches = ex.projections.map { proj =>
          val in = toRel(ex.child)
          Rel.Project(in.rel, proj.map(p => toSExpr(p, in.attrs)))
        }
        // a one-projection expand is just that projection (SetRel needs ≥2)
        Produced(
          if (branches.size == 1) branches.head
          else Rel.Set(branches, SetOp.UnionAll), ex.output)

      case other =>
        notImplemented(s"logical plan node ${other.getClass.getSimpleName}")
    }

    // ------------------------------------------------------------- aggregate
    /** Catalyst `Aggregate(ge, ae, child)` → AggregateRel (+ ProjectRel when the
      * result expressions are not exactly groups-then-measures). Mirrors
      * producer.rs:177-202 / 320-376 measure emission: lower-cased fn name,
      * DISTINCT invocation, optional FILTER, aliases stripped.
      */
    private def produceAggregate(agg: logical.Aggregate): Produced = {
      agg.child match {
        // only the grouping-sets Expand (trailing spark_grouping_id) takes
        // the multi-groupings path — an aggregate directly over an UNPIVOT
        // Expand falls through to the generic path, whose child production
        // handles the standalone Expand as a union of projections
        case ex: logical.Expand
            if ex.output.nonEmpty &&
              ex.output.last.name.contains("spark_grouping_id") =>
          return produceGroupingSets(agg, ex)
        case _ => ()
      }
      // PIVOT: rewrite each pivotfirst measure into per-value
      // first-ignore-nulls measures (the inner pivot aggregate guarantees at
      // most one non-null per (group, value), so first IS the pivot cell;
      // a miss yields NULL — exactly PIVOT's semantics)
      def isPivot(e: Expression): Boolean = e match {
        case ae: AggregateExpression =>
          ae.aggregateFunction.isInstanceOf[aggregate.PivotFirst]
        case _ => false
      }
      if (agg.aggregateExpressions.exists(_.exists(isPivot))) {
        val newExprs: Seq[NamedExpression] = agg.aggregateExpressions.flatMap {
          case al @ Alias(ae: AggregateExpression, name) if isPivot(ae) =>
            val pf = ae.aggregateFunction.asInstanceOf[aggregate.PivotFirst]
            val slices = pf.pivotColumnValues.zipWithIndex.map { case (v, i) =>
              Alias(new aggregate.First(
                If(EqualNullSafe(pf.pivotColumn,
                    Literal.create(v, pf.pivotColumn.dataType)),
                  pf.valueColumn,
                  Literal.create(null, pf.valueColumn.dataType)),
                ignoreNulls = true).toAggregateExpression(), s"${name}_$i")()
            }
            pivotSlices(al.exprId) = slices.map(_.toAttribute)
            slices
          case ne if ne.exists(isPivot) =>
            notImplemented("pivotfirst inside a wider expression")
          case other => Seq(other)
        }
        return produceAggregate(
          logical.Aggregate(agg.groupingExpressions, newExprs, agg.child))
      }
      // Session-window aggregate: the SessionWindowing analyzer rule rewrote
      //   groupBy(keys, session_window(ts, gap))
      // into Aggregate(groupings incl. session attr marked with
      // SessionWindow.marker metadata) over Filter(isnotnull(ts)) over
      // Project(session struct alias +: passthrough attrs). Recognize that
      // exact shape and ship the sessionization as ExtSessionWindow below a
      // PLAIN AggregateRel; the isnotnull filter is NOT encoded — the
      // consumer's rebuilt session_window() re-derives it through the same
      // analyzer rule. Anything session-marked that doesn't match (dynamic
      // gap expressions, rewritten projections) stays loudly notImplemented.
      // The session computation may sit DIRECTLY below the aggregate
      // (SQL / direct-groupBy form) or below further pass-through Projects
      // (each wire replay of a consumed session plan adds one — the rule
      // wraps the consumer's Project rather than the Aggregate). Peel
      // Projects recursively: a layer whose session entry aliases an inner
      // attribute re-encodes as a plain Rel.Project over the sessionized
      // input; the terminal Filter/struct-Project layer becomes
      // ExtSessionWindow.
      // the SessionWindowing rule's generated filter: IsNotNull(ts) for a
      // literal gap; And(IsNotNull(ts), sess.end > sess.start) for a
      // DYNAMIC gap (the guard drops rows whose per-row gap is ≤ 0)
      def isSessionFilter(cond: Expression): Boolean = cond match {
        case IsNotNull(_) => true
        case And(IsNotNull(_),
          GreaterThan(_: GetStructField, _: GetStructField)) => true
        case _ => false
      }
      def sessionize(plan: LogicalPlan, sessId: ExprId): Produced = plan match {
        case logical.Filter(cond, p: logical.Project)
            if isSessionFilter(cond) && p.projectList.exists {
              case al: Alias => al.exprId == sessId &&
                !al.child.isInstanceOf[AttributeReference]
              case _ => false
            } =>
          val sessionAlias = p.projectList.collectFirst {
            case al: Alias if al.exprId == sessId => al
          }.get
          val passthrough = p.projectList.filter {
            case al: Alias => al.exprId != sessId
            case _ => true
          }
          if (!(passthrough.forall(_.isInstanceOf[AttributeReference]) &&
              passthrough.map(_.exprId) == p.child.output.map(_.exprId)))
            notImplemented("session-window projection with rewritten columns")
          // struct = named_struct(start, ptc(ptc(ts,..)), end,
          // knownnullable(ptc(ptc(ts + INTERVAL gap, ..)))): the ts is the
          // one attribute inside, the gap the one interval constant
          val tsAttr = sessionAlias.child.collectFirst {
            case a: AttributeReference => a
          }.getOrElse(notImplemented("session window without a timestamp column"))
          // the gap arrives as Cast('120 minutes' AS INTERVAL) — a foldable
          // interval expression, not a bare literal; fold it here. A
          // DYNAMIC per-row gap (session_window(ts, gapCol)) arrives as a
          // NON-foldable Cast(stringExpr AS INTERVAL) — ship the string
          // expression itself (Spark's own gap contract) as gapExpr.
          val gapLit = sessionAlias.child.collectFirst {
            case e if e.dataType == CalendarIntervalType && e.foldable &&
                e.eval(null) != null =>
              e.eval(null)
                .asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
          }
          val child = toRel(p.child)
          val tsOrd = child.attrs.indexWhere(_.exprId == tsAttr.exprId)
          if (tsOrd < 0) internalErr("session ts column not in child output")
          val sessionRel = gapLit match {
            case Some(gap) =>
              if (gap.months != 0)
                notImplemented("session gap with a month component " +
                  "(no fixed microsecond length)")
              val gapMicros = gap.days * 86400000000L + gap.microseconds
              Rel.ExtSessionWindow(child.rel, tsOrd, gapMicros)
            case None =>
              val dynGap = sessionAlias.child.collectFirst {
                case c @ Cast(g, CalendarIntervalType, _, _)
                    if !c.foldable && g.dataType == StringType => g
              }.getOrElse(notImplemented(
                "session window with a dynamic gap that is not a " +
                  "string-typed expression"))
              Rel.ExtSessionWindow(child.rel, tsOrd, 0L,
                Some(toSExpr(dynGap, child.attrs)))
          }
          Produced(sessionRel, child.attrs :+ sessionAlias.toAttribute)
        case p: logical.Project =>
          val innerSess = p.projectList.collectFirst {
            case al: Alias if al.exprId == sessId => al.child
            case a: AttributeReference if a.exprId == sessId => a
          } match {
            case Some(a: AttributeReference) => a
            case _ => notImplemented("session-window aggregate without the " +
              "SessionWindowing filter/project shape")
          }
          val inner = sessionize(p.child, innerSess.exprId)
          Produced(
            Rel.Project(inner.rel, p.projectList.map(toSExpr(_, inner.attrs))),
            p.projectList.map(_.toAttribute))
        case _ =>
          notImplemented("session-window aggregate without the " +
            "SessionWindowing filter/project shape")
      }
      val in: Produced = agg.groupingExpressions.collectFirst {
        case a: AttributeReference if a.metadata.contains(SessionWindow.marker) => a
      } match {
        case Some(sessionAttr) => sessionize(agg.child, sessionAttr.exprId)
        case None => toRel(agg.child)
      }
      val groups = agg.groupingExpressions
      val groupExprs = groups.map(g => toSExpr(g, in.attrs))

      val (measureList, measures) = collectMeasures(agg, in.attrs)

      val aggRel = Rel.Aggregate(in.rel, Seq(groupExprs), measures)
      val nG = groups.size

      // post-aggregation projection: rewrite result exprs over groups++measures
      def post(e: Expression): SExpr = {
        val gi = groups.indexWhere(_.semanticEquals(e))
        if (gi >= 0) SExpr.FieldRef(gi)
        else e match {
          case ae: AggregateExpression =>
            val mi = measureList.indexWhere(_.canonicalized == ae.canonicalized)
            if (mi < 0) internalErr("measure not collected")
            SExpr.FieldRef(nG + mi)
          case Alias(c, _) => post(c)
          case _ => toSExprWith(e, post)
        }
      }
      val resultExprs = agg.aggregateExpressions.map(post)
      val identity = resultExprs.size == nG + measures.size &&
        resultExprs.zipWithIndex.forall {
          case (SExpr.FieldRef(i), j) => i == j
          case _ => false
        }
      val rel = if (identity) aggRel else Rel.Project(aggRel, resultExprs)
      Produced(rel, agg.aggregateExpressions.map(_.toAttribute))
    }

    /** Filter production. Uncorrelated IN/EXISTS subquery conjuncts become
      * SEMI JoinRels (the same rewrite Spark's own optimizer applies) — the
      * wire has no subquery-expression message in the reference's subset, and
      * the semi join preserves IN's null semantics exactly (a NULL probe
      * value matches nothing in both). NOT IN becomes an ANTI JoinRel whose
      * condition is `eq OR is_null(eq)` — Spark's own null-aware rewrite,
      * expressible with plain JoinRel + scalar functions, so it crosses the
      * wire with exact SQL semantics (NULL probe → dropped; any NULL in the
      * subquery side → nothing survives). On consume, Spark's planner
      * recognizes the single-column shape as a null-aware anti join
      * (broadcast hash); multi-column falls back to nested-loop — fine for
      * the dimension-sized subqueries NOT IN is used with.
      * Remaining conjuncts fold into a ReadRel scan filter when the child is
      * a leaf scan (algebra.proto field 3), else a FilterRel.
      */
    private def produceFilter(cond: Expression, child: LogicalPlan): Produced = {
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val (subq, plain0) = conjuncts(cond).partition {
        case InSubquery(_, _: ListQuery) => true
        case Not(InSubquery(_, _: ListQuery)) => true // null-aware anti join
        case _: Exists => true
        case Not(_: Exists) => true // NOT EXISTS = plain anti join
        case _ => false
      }
      var cur = toRel(child)
      val nLeft = cur.attrs.size
      // SCALAR subqueries in the remaining conjuncts become joins whose
      // single result column replaces the subquery expression:
      // - uncorrelated → cross join of the one-row result (1-row broadcast);
      // - correlated equality over a global Aggregate (the TPC-H Q17 shape)
      //   → group the aggregate by the lifted keys and LEFT join on them
      //     (a key with no group yields NULL, and NULL comparisons filter
      //     out — exactly the empty-subquery semantics; COUNT is rejected,
      //     whose empty-group value is 0, not NULL).
      // The appended columns are projected away below.
      val scalarSubs = mutable.ArrayBuffer.empty[ScalarSubquery]
      plain0.foreach(_.foreach {
        case s: ScalarSubquery
            if !scalarSubs.exists(_.exprId == s.exprId) => scalarSubs += s
        case _ => ()
      })
      val replacement = mutable.Map.empty[ExprId, Expression]
      // A cross join only preserves scalar-subquery semantics when the
      // subplan yields EXACTLY one row: 0 rows would drop every probe row
      // (SQL says the value is NULL) and >1 would duplicate them (SQL says
      // runtime error). Only a global Aggregate (no grouping) proves that,
      // possibly under Projects — anything else is loud-rejected.
      def provablySingleRow(p: LogicalPlan): Boolean = p match {
        case agg: logical.Aggregate => agg.groupingExpressions.isEmpty
        case prj: logical.Project => provablySingleRow(prj.child)
        case _ => false
      }
      scalarSubs.foreach { s =>
        if (s.outerAttrs.isEmpty) {
          if (!provablySingleRow(s.plan)) notImplemented(
            "uncorrelated scalar subquery whose plan is not a global aggregate " +
              "(cannot guarantee exactly one row on the wire)")
          val sub = toRel(s.plan)
          if (sub.attrs.size != 1) notImplemented("scalar subquery arity != 1")
          replacement(s.exprId) = sub.attrs.head
          cur = Produced(Rel.Cross(cur.rel, sub.rel), cur.attrs ++ sub.attrs)
        } else s.plan match {
          case agg: logical.Aggregate
              if agg.groupingExpressions.isEmpty &&
                agg.aggregateExpressions.size == 1 =>
            // COUNT of an empty group is 0, but a left-join miss yields
            // NULL. The fix-up must happen at the AGGREGATE level, not the
            // expression top: each embedded AggregateExpression becomes its
            // own inner output column, count-rooted columns coalesce to 0
            // after the join, and the wider scalar expression (if any) is
            // rebuilt OUTSIDE the join over the fixed-up columns — so
            // `(SELECT count(*) … WHERE corr) > n` and
            // `(SELECT count(*) + 1 …)` both get empty-group semantics
            // right (NULL-propagating aggs like sum/avg stay NULL on a
            // miss, exactly SQL's empty-set value for them).
            val headExpr = agg.aggregateExpressions.head match {
              case Alias(e, _) => e
              case e => e
            }
            val aggParts = mutable.ArrayBuffer.empty[AggregateExpression]
            headExpr.foreach {
              case ae: AggregateExpression
                  if !aggParts.exists(_.resultId == ae.resultId) =>
                aggParts += ae
              case _ => ()
            }
            if (aggParts.isEmpty) notImplemented(
              "correlated scalar subquery without an aggregate function")
            val (core, _, corr, _) = decorrelateRaw(agg.child, s.outerAttrs)
            val keyPairs = correlationKeyPairs(corr, s.outerAttrs, "scalar subquery")
            if (keyPairs.isEmpty) notImplemented(
              "correlated scalar subquery without equality keys")
            val innerKeys = keyPairs.map(_._2).distinctBy(_.exprId)
            val aliased: Seq[NamedExpression] = aggParts.toSeq.zipWithIndex
              .map { case (ae, i) => Alias(ae, s"__graft_agg_$i")() }
            val newAgg = logical.Aggregate(innerKeys,
              (innerKeys: Seq[NamedExpression]) ++ aliased, core)
            val sub = toRel(newAgg)
            val aggAttrs = sub.attrs.takeRight(aggParts.size)
            val fixed = aggParts.toSeq.zip(aggAttrs).map { case (ae, attr) =>
              ae.resultId ->
                (if (ae.aggregateFunction.prettyName.startsWith("count"))
                   Coalesce(Seq(attr, Literal(0L, LongType)))
                 else attr)
            }.toMap
            replacement(s.exprId) = headExpr.transform {
              case ae: AggregateExpression => fixed(ae.resultId)
            }
            val both = cur.attrs ++ sub.attrs
            val cond = keyPairs.map { case (o, i) =>
              SExpr.ScalarFn(anchor("equal"),
                Seq(toSExpr(o, cur.attrs), toSExpr(i, both)))
            }.reduceLeft((a, b) => SExpr.ScalarFn(anchor("and"), Seq(a, b)))
            cur = Produced(Rel.Join(cur.rel, sub.rel, cond, JoinType.Left),
              cur.attrs ++ sub.attrs)
          case _ => notImplemented(
            "correlated scalar subquery outside the single-aggregate shape")
        }
      }
      val plain = plain0.map(_.transform {
        case s: ScalarSubquery if replacement.contains(s.exprId) =>
          // stand-in attr: resolves via the appended join columns
          replacement(s.exprId)
      })
      subq.foreach {
        case InSubquery(values, l: ListQuery) =>
          // keep the subquery's output exprs in front, then the inner attrs
          // the lifted correlated predicates need
          val (subPlan, corr, needed) =
            decorrelate(l.plan, l.outerAttrs, keepOutput = true)
          val sub = toRel(subPlan)
          val nL = cur.attrs.size
          val nOut = sub.attrs.size - needed.size
          val both = cur.attrs ++ sub.attrs
          val eqs = values.zipWithIndex.map { case (v, i) =>
            if (i >= nOut) internalErr("IN value arity > subquery output")
            SExpr.ScalarFn(anchor("equal"),
              Seq(toSExpr(v, cur.attrs), SExpr.FieldRef(nL + i)))
          }
          val corrS = corr.map(e => toSExpr(stripOuter(e), both))
          val c = (eqs ++ corrS).reduceLeft((a, b) =>
            SExpr.ScalarFn(anchor("and"), Seq(a, b)))
          cur = Produced(Rel.Join(cur.rel, sub.rel, c, JoinType.Semi), cur.attrs)
        case Not(InSubquery(values, l: ListQuery)) =>
          // NOT IN: anti join on (eqs AND …) OR is_null(eqs AND …) — the
          // null-aware form. Correlated predicates AND on the outside (they
          // gate WHICH right rows participate, exactly as in the semi case).
          val (subPlan, corr, needed) =
            decorrelate(l.plan, l.outerAttrs, keepOutput = true)
          val sub = toRel(subPlan)
          val nL = cur.attrs.size
          val nOut = sub.attrs.size - needed.size
          val both = cur.attrs ++ sub.attrs
          val eqs = values.zipWithIndex.map { case (v, i) =>
            if (i >= nOut) internalErr("NOT IN value arity > subquery output")
            SExpr.ScalarFn(anchor("equal"),
              Seq(toSExpr(v, cur.attrs), SExpr.FieldRef(nL + i)))
          }
          val eqConj = eqs.reduceLeft((a, b) =>
            SExpr.ScalarFn(anchor("and"), Seq(a, b)))
          val nullAware = SExpr.ScalarFn(anchor("or"),
            Seq(eqConj, SExpr.ScalarFn(anchor("is_null"), Seq(eqConj))))
          val corrS = corr.map(e => toSExpr(stripOuter(e), both))
          val c = (nullAware +: corrS).reduceLeft((a, b) =>
            SExpr.ScalarFn(anchor("and"), Seq(a, b)))
          cur = Produced(Rel.Join(cur.rel, sub.rel, c, JoinType.Anti), cur.attrs)
        case ex: Exists =>
          cur = existsJoin(cur, ex, JoinType.Semi)
        case Not(ex: Exists) =>
          cur = existsJoin(cur, ex, JoinType.Anti)
        case other => internalErr(s"subquery partition leak: $other")
      }
      val filtered: Produced =
        if (plain.isEmpty) cur
        else {
          val c = toSExpr(plain.reduceLeft(And(_, _)), cur.attrs)
          cur.rel match {
            // fold a filter directly above a leaf scan into ReadRel.filter
            // (algebra.proto field 3) so the predicate arrives AT the scan on
            // any consumer — scan-level pushdown survives the wire instead of
            // depending on the consumer's optimizer. Refs are rebased onto
            // the BASE schema (mask indexes it; stacked filters AND).
            case r: Rel.Read =>
              val onBase = r.projection match {
                case Some(idxs) => remapRefs(c, idxs)
                case None => c
              }
              val merged = r.filter match {
                case Some(prev) => SExpr.ScalarFn(anchor("and"), Seq(prev, onBase))
                case None => onBase
              }
              Produced(r.copy(filter = Some(merged)), cur.attrs)
            case _ =>
              Produced(Rel.Filter(cur.rel, c), cur.attrs)
          }
        }
      // strip the scalar-subquery helper columns back off the output
      if (scalarSubs.isEmpty) filtered
      else Produced(
        Rel.Project(filtered.rel, (0 until nLeft).map(SExpr.FieldRef(_))),
        filtered.attrs.take(nLeft))
    }

    /** [NOT] EXISTS → semi/anti join. EXISTS ignores the subquery's output,
      * so the subplan is replaced with exactly the inner attrs the lifted
      * correlated predicates reference; uncorrelated EXISTS joins on TRUE.
      */
    private def existsJoin(cur: Produced, ex: Exists, joinType: Int): Produced = {
      val (subPlan, corr, _) =
        decorrelate(ex.plan, ex.outerAttrs, keepOutput = false)
      val sub = toRel(subPlan)
      val both = cur.attrs ++ sub.attrs
      val c =
        if (corr.isEmpty) SExpr.Lit(LitVal.LBool(true))
        else corr.map(e => toSExpr(stripOuter(e), both))
          .reduceLeft((a, b) => SExpr.ScalarFn(anchor("and"), Seq(a, b)))
      Produced(Rel.Join(cur.rel, sub.rel, c, joinType), cur.attrs)
    }

    /** Correlated-subquery decorrelation (the same rewrite Spark's optimizer
      * applies): correlated conjuncts are lifted out of the subplan's Filter
      * nodes into the enclosing semi-join condition. Lifting is only legal
      * across Filter/Project/alias layers — an Aggregate/Limit/Window between
      * the correlation and the top would change semantics, so any
      * OuterReference below such a node fails loudly.
      *
      * Returns (rebuilt subplan, lifted correlated conjuncts, appended inner
      * attrs). The rebuilt plan's output = (original output exprs when
      * `keepOutput`, for IN) ++ the inner attributes the lifted predicates
      * reference — a semi join ignores extra right-side columns.
      */
    private def decorrelate(plan: LogicalPlan, outerAttrs: Seq[Expression],
                            keepOutput: Boolean)
        : (LogicalPlan, Seq[Expression], Seq[Attribute]) = {
      val (core, outExprs, corr, needed) = decorrelateRaw(plan, outerAttrs)
      val out: Seq[NamedExpression] =
        (if (keepOutput) outExprs.getOrElse(core.output) else Nil) ++ needed
      (logical.Project(out, core), corr, needed)
    }

    /** peel Filter/Project/alias layers (stopping at catalog leaves), lift
      * correlated conjuncts, keep local filters in place. Returns
      * (core plan, top-level output exprs if any, lifted conjuncts, inner
      * attrs those conjuncts reference).
      */
    private def decorrelateRaw(plan: LogicalPlan, outerAttrs: Seq[Expression])
        : (LogicalPlan, Option[Seq[NamedExpression]], Seq[Expression], Seq[Attribute]) = {
      def hasOuter(e: Expression): Boolean =
        e.exists(_.isInstanceOf[OuterReference])
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      // peel Filter/Project/alias layers, collecting correlated conjuncts;
      // keep local filters, remember the top-level output exprs
      var outExprs: Option[Seq[NamedExpression]] = None
      val corr = mutable.ArrayBuffer.empty[Expression]
      def strip(p: LogicalPlan): LogicalPlan = p match {
        // catalog boundary (named scan) is a leaf — never peel into a View
        case _ if leafRead(p).isDefined => p
        case logical.Filter(c, child) =>
          val (cs, local) = conjuncts(c).partition(hasOuter)
          corr ++= cs
          val stripped = strip(child)
          if (local.isEmpty) stripped
          else logical.Filter(local.reduceLeft(And(_, _)), stripped)
        case pr: logical.Project =>
          if (outExprs.isEmpty) outExprs = Some(pr.projectList)
          // drop the projection: needed columns are re-selected at the top
          strip(pr.child)
        case a: logical.SubqueryAlias => strip(a.child)
        case v: logical.View => strip(v.child)
        case other =>
          if (other.exists(n => n.expressions.exists(hasOuter)))
            notImplemented(
              "correlated predicate below an aggregation/limit/window")
          other
      }
      val core = strip(plan)
      val outerIds = outerAttrs.collect { case a: AttributeReference => a.exprId }.toSet
      val needed: Seq[Attribute] = corr.toSeq
        .flatMap(_.references.toSeq)
        .filter(a => !outerIds.contains(a.exprId))
        .distinctBy(_.exprId)
      needed.foreach { a =>
        if (!core.outputSet.contains(a))
          notImplemented(s"correlated inner attribute ${a.name} not in subquery scan")
      }
      (core, outExprs, corr.toSeq, needed)
    }

    /** OuterReference(a) → a, so the lifted predicate resolves over the
      * combined (left ++ right) join schema */
    /** Lifted correlation conjuncts → (outer, inner) equality key pairs —
      * shared by the correlated-scalar-subquery and LATERAL decorrelations;
      * anything but `outer = inner` rejects loudly. */
    private def correlationKeyPairs(corr: Seq[Expression],
                                    outerAttrs: Seq[Expression],
                                    what: String): Seq[(Attribute, Attribute)] = {
      val outerIds = outerAttrs.collect {
        case a: AttributeReference => a.exprId
      }.toSet
      corr.map(stripOuter).map {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if outerIds.contains(a.exprId) && !outerIds.contains(b.exprId) =>
          (a, b)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if outerIds.contains(b.exprId) && !outerIds.contains(a.exprId) =>
          (b, a)
        case other =>
          notImplemented(s"non-equality correlation in $what: $other")
      }
    }

    private def stripOuter(e: Expression): Expression = e.transform {
      case OuterReference(a) => a
    }

    /** rewrite positional refs through a projection mask (ref i → mask(i)) —
      * used when folding a filter into a masked ReadRel, whose filter field
      * indexes the base schema */
    private def remapRefs(e: SExpr, mask: Seq[Int]): SExpr = e match {
      case SExpr.FieldRef(i) => SExpr.FieldRef(mask(i))
      case SExpr.NestedRef(i, path) => SExpr.NestedRef(mask(i), path)
      case SExpr.ScalarFn(r, args) => SExpr.ScalarFn(r, args.map(remapRefs(_, mask)))
      case SExpr.IfThen(cls, els) =>
        SExpr.IfThen(cls.map(cl => IfClause(remapRefs(cl.cond, mask),
          cl.thenExpr.map(remapRefs(_, mask)))), els.map(remapRefs(_, mask)))
      case SExpr.Cast(t, n, in) => SExpr.Cast(t, n, remapRefs(in, mask))
      case l: SExpr.Lit => l
      case _: SExpr.WindowFn => internalErr("window function in a scan filter")
    }

    /** distinct aggregate calls in first-appearance order + their measures */
    private def collectMeasures(agg: logical.Aggregate, inAttrs: Seq[Attribute])
        : (Seq[AggregateExpression], Seq[Measure]) = {
      val measureList = mutable.ArrayBuffer.empty[AggregateExpression]
      agg.aggregateExpressions.foreach(_.foreach {
        case ae: AggregateExpression
            if !measureList.exists(_.canonicalized == ae.canonicalized) =>
          measureList += ae
        case _ => ()
      })
      val measures = measureList.toSeq.map { ae =>
        // IGNORE NULLS is part of first/last's SEMANTICS, not an argument —
        // encoding it as plain first/last would silently change results on
        // the consumer; distinct extension names keep it explicit (a foreign
        // consumer that lacks them rejects loudly, the intended contract)
        val name = ae.aggregateFunction match {
          case f: org.apache.spark.sql.catalyst.expressions.aggregate.First
              if f.ignoreNulls => "first_ignore_nulls"
          case l: org.apache.spark.sql.catalyst.expressions.aggregate.Last
              if l.ignoreNulls => "last_ignore_nulls"
          // the DESC-within-group flag is a constructor param, not a child —
          // emitting plain children would silently flip it to ASC on consume;
          // since round 8 the flag rides in the NAME (the first_ignore_nulls
          // convention), so both orderings cross the wire explicitly
          case p: org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc
              if p.reverse => "percentile_disc_desc"
          case m: org.apache.spark.sql.catalyst.expressions.aggregate.Mode
              if m.reverseOpt.isDefined =>
            if (m.reverseOpt.get) "mode_desc" else "mode_asc"
          // any_value IS first modulo the (already unspecified) pick — the
          // ignoreNulls flag is a constructor param, carried by name
          case a: org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue =>
            if (a.ignoreNulls) "first_ignore_nulls" else "first"
          case f => Producer.wireAggName(f.prettyName)
        }
        val args = ae.aggregateFunction.children.map(c => toSExpr(c, inAttrs))
        Measure(
          AggFunction(anchor(name.toLowerCase), args,
            if (ae.isDistinct) AggInvocation.Distinct else AggInvocation.All),
          ae.filter.map(f => toSExpr(f, inAttrs)))
      }
      (measureList.toSeq, measures)
    }

    /** GROUPING SETS / ROLLUP / CUBE: Catalyst plans these as
      * `Aggregate(groupCopies :+ gid, out, Expand(projections, _,
      * Project(base ++ groupAliases, input)))` — each Expand projection is one
      * grouping set with grouped-out columns nulled and a grouping-id literal.
      * Emitted as a substrait AggregateRel with MULTIPLE groupings (beyond the
      * reference, which rejects these — consumer.rs:230-235 allows exactly 1).
      *
      * Wire convention (must match the consumer): the rel's group-column
      * output is the distinct grouping expressions in first-appearance order
      * across the grouping sets, then measures. Each side computes that union
      * from the wire data itself, so no extra field is needed.
      */
    private def produceGroupingSets(agg: logical.Aggregate,
                                    ex: logical.Expand): Produced = {
      val gidAttr = ex.output.last
      if (!gidAttr.name.contains("spark_grouping_id"))
        notImplemented("Expand node outside grouping-sets shape")
      val proj = ex.child match {
        case p: logical.Project => p
        case other => notImplemented(
          s"grouping-sets Expand over ${other.getClass.getSimpleName}")
      }
      val nBase = proj.child.output.size
      val nG = ex.output.size - nBase - 1
      if (proj.projectList.size != nBase + nG)
        notImplemented("unexpected grouping-sets projection shape")
      // original grouping expressions over the real input, in position order
      val origExprs: Seq[Expression] = proj.projectList.drop(nBase).map {
        case Alias(c, _) => c
        case other => other
      }
      val in = toRel(proj.child)
      val origS = origExprs.map(e => toSExpr(e, in.attrs))
      // one grouping per Expand projection: position j kept iff not nulled
      val sets: Seq[Seq[Int]] = ex.projections.map { row =>
        (0 until nG).filter(j => row(nBase + j) match {
          case Literal(null, _) => false
          case _ => true
        })
      }
      val unionOrder: Seq[Int] = sets.flatten.distinct
      if (unionOrder.size != nG)
        notImplemented("grouping column absent from every grouping set")
      val (measureList, measures) = collectMeasures(agg, in.attrs)
      if (measures.isEmpty) notImplemented("grouping sets without measures")
      val aggRel = Rel.Aggregate(in.rel, sets.map(_.map(origS)), measures)

      val nU = unionOrder.size
      // wire convention: a multi-grouping AggregateRel emits a TRAILING i32
      // grouping-set index (the substrait grouping identifier). Spark's
      // grouping_id() bitmask is recovered from it via the Expand
      // projections' own gid literals, so grouping()/grouping_id() in the
      // output survive the wire with their exact Spark values.
      val gidLits: Seq[Long] = ex.projections.map(_.last match {
        case Literal(v: Long, _) => v
        case Literal(v: Int, _) => v.toLong
        case other => notImplemented(s"grouping-id literal shape $other")
      })
      val setIdxRef = SExpr.FieldRef(nU + measures.size)
      def gidExpr: SExpr =
        if (gidLits.size == 1) SExpr.Lit(LitVal.LI64(gidLits.head))
        else SExpr.IfThen(
          gidLits.init.zipWithIndex.map { case (g, i) =>
            IfClause(
              SExpr.ScalarFn(anchor("equal"),
                Seq(setIdxRef, SExpr.Lit(LitVal.LI32(i)))),
              Some(SExpr.Lit(LitVal.LI64(g))))
          },
          Some(SExpr.Lit(LitVal.LI64(gidLits.last))))
      def post(e: Expression): SExpr = e match {
        case a: AttributeReference if a.exprId == gidAttr.exprId => gidExpr
        case a: AttributeReference
            if (0 until nG).exists(j => ex.output(nBase + j).exprId == a.exprId) =>
          val j = (0 until nG).find(j => ex.output(nBase + j).exprId == a.exprId).get
          SExpr.FieldRef(unionOrder.indexOf(j))
        case ae: AggregateExpression =>
          val mi = measureList.indexWhere(_.canonicalized == ae.canonicalized)
          if (mi < 0) internalErr("measure not collected")
          SExpr.FieldRef(nU + mi)
        case Alias(c, _) => post(c)
        case other => toSExprWith(other, post)
      }
      val resultExprs = agg.aggregateExpressions.map(post)
      // never identity: the trailing set-index column must be projected away
      val rel = Rel.Project(aggRel, resultExprs)
      Produced(rel, agg.aggregateExpressions.map(_.toAttribute))
    }

    // ----------------------------------------------------------- expressions
    def toSExpr(e: Expression, input: Seq[Attribute]): SExpr =
      toSExprWith(e, resolveAttr(input))

    private def resolveAttr(input: Seq[Attribute])(e: Expression): SExpr = e match {
      case a: AttributeReference =>
        val i = input.indexWhere(_.exprId == a.exprId)
        if (i < 0) internalErr(s"attribute ${a.name}#${a.exprId.id} not found in input")
        SExpr.FieldRef(i)
      case other => convert(other, resolveAttr(input))
    }

    /** Convert with a pluggable leaf resolver (post-agg projection reuses this
      * with grouping/measure lookup). */
    def toSExprWith(e: Expression, rec: Expression => SExpr): SExpr = e match {
      case a: AttributeReference => rec(a)
      case _ => convert(e, rec)
    }

    private def fn(name: String, args: SExpr*): SExpr =
      SExpr.ScalarFn(anchor(name), args.toSeq)

    private def sortField(so: SortOrder, rec: Expression => SExpr): SortField = {
      val dir = (so.direction, so.nullOrdering) match {
        case (Ascending, NullsFirst) => SortDirection.AscNullsFirst
        case (Ascending, NullsLast) => SortDirection.AscNullsLast
        case (Descending, NullsFirst) => SortDirection.DescNullsFirst
        case (Descending, NullsLast) => SortDirection.DescNullsLast
      }
      SortField(rec(so.child), dir)
    }

    /** drop lag/lead's implicit untyped-null default argument */
    private def trimNullDefault(args: Seq[Expression]): Seq[Expression] =
      args match {
        case init :+ Literal(null, NullType) => init
        case other => other
      }

    /** Catalyst frame boundary → WBound (negative literal = preceding).
      * RANGE bounds arrive cast to the order column's type — peel the cast;
      * substrait offsets are i64, so non-integral value bounds fail loudly.
      */
    private def windowBound(e: Expression): WBound = e match {
      case UnboundedPreceding | UnboundedFollowing => WBound.Unbounded
      case CurrentRow => WBound.CurrentRow
      case Cast(inner, _, _, _) => windowBound(inner)
      // RANGE/ROWS n PRECEDING parses as UnaryMinus(Literal(n)) in SQL form
      case UnaryMinus(inner, _) => windowBound(inner) match {
        case WBound.Following(n) => WBound.Preceding(n)
        case WBound.Preceding(n) => WBound.Following(n)
        case b => b
      }
      case Literal(n: Int, _) =>
        if (n < 0) WBound.Preceding(-n.toLong) else WBound.Following(n.toLong)
      case Literal(n: Long, _) =>
        if (n < 0) WBound.Preceding(-n) else WBound.Following(n)
      case Literal(d: Double, _) if d.isWhole =>
        val n = d.toLong
        if (n < 0) WBound.Preceding(-n) else WBound.Following(n)
      case Literal(d: org.apache.spark.sql.types.Decimal, _)
          if d.toBigDecimal.isWhole =>
        val n = d.toBigDecimal.toLongExact
        if (n < 0) WBound.Preceding(-n) else WBound.Following(n)
      case other => notImplemented(s"window frame boundary $other")
    }

    private def convert(e: Expression, rec: Expression => SExpr): SExpr = e match {
      case Alias(c, _) => rec(c) // names live only in RelRoot (producer.rs:605)
      // PIVOT extraction: the parent project indexes the pivotfirst array —
      // resolve to the per-value replacement column recorded by the rewrite
      // (ordinary array indexing falls through to the element_at case below)
      case GetArrayItem(a: AttributeReference, Literal(i: Int, _), _)
          if pivotSlices.contains(a.exprId) =>
        rec(pivotSlices(a.exprId)(i))
      // Catalyst keeps BETWEEN / nvl / nullif … as RuntimeReplaceable wrappers
      // in the analyzed plan; the replacement is the desugared form the
      // reference's producer sees from DataFusion (producer.rs:473-530)
      case r: RuntimeReplaceable => rec(r.replacement)
      // the replacement may use common-subexpression form (With/ref); inline
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        rec(w.child.transformUp { case r: CommonExpressionRef => defs(r.id) })
      case l: Literal => SExpr.Lit(literal(l))
      // CAST(NULL AS t): the child is an untyped NullType literal — emit the
      // typed null directly (substrait has no untyped null, §1.2)
      case c: Cast if (c.child match {
            case Literal(null, NullType) => true; case _ => false }) =>
        SExpr.Lit(LitVal.LNull(sTypeOf(c.dataType)))
      case c: Cast => SExpr.Cast(sTypeOf(c.dataType), c.child.nullable, rec(c.child))
      case co: CheckOverflow => // decimal-arithmetic wrapper ≡ cast to target type
        SExpr.Cast(sTypeOf(co.dataType), co.child.nullable, rec(co.child))

      // the 26 binary operators (name_to_op, consumer.rs:37-71); canonical
      // "subtract" — the reference's "substract" typo (producer.rs:297) is
      // accepted on consume for compatibility
      case EqualTo(l, r) => fn("equal", rec(l), rec(r))
      case Not(EqualTo(l, r)) => fn("not_equal", rec(l), rec(r))
      case LessThan(l, r) => fn("lt", rec(l), rec(r))
      case LessThanOrEqual(l, r) => fn("lte", rec(l), rec(r))
      case GreaterThan(l, r) => fn("gt", rec(l), rec(r))
      case GreaterThanOrEqual(l, r) => fn("gte", rec(l), rec(r))
      // TRY eval mode must not be silently dropped: plain "divide" would
      // turn try_divide(x, 0)'s NULL into an ANSI runtime error on the
      // consumer. try_* ride as their own SQL-callable names.
      // NOTE guard form, not Divide(l, r, EvalMode.TRY): the arithmetic
      // companions' extractors don't expose evalMode, so the constructor
      // pattern silently never matches
      case e: Add if e.evalMode == EvalMode.TRY =>
        fn("try_add", rec(e.left), rec(e.right))
      case e: Subtract if e.evalMode == EvalMode.TRY =>
        fn("try_subtract", rec(e.left), rec(e.right))
      case e: Multiply if e.evalMode == EvalMode.TRY =>
        fn("try_multiply", rec(e.left), rec(e.right))
      case e: Divide if e.evalMode == EvalMode.TRY =>
        fn("try_divide", rec(e.left), rec(e.right))
      case e: Remainder if e.evalMode == EvalMode.TRY =>
        fn("try_mod", rec(e.left), rec(e.right))
      case Add(l, r, _) => fn("add", rec(l), rec(r))
      case Subtract(l, r, _) => fn("subtract", rec(l), rec(r))
      // timestamp/date ± interval resolve to dedicated Catalyst nodes; on
      // the wire they are plain add (the consumer's Column + re-derives them)
      case t: TimestampAddInterval => fn("add", rec(t.start), rec(t.interval))
      case d: DateAddInterval => fn("add", rec(d.start), rec(d.interval))
      // Catalyst's internal exact timestamp ↔ i64-µs conversion — planted
      // by the analyzer when it rewrites window()/session_window bucket
      // arithmetic. On the wire it IS unix_micros / timestamp_micros.
      case p: PreciseTimestampConversion => p.dataType match {
        case LongType => fn("unix_micros", rec(p.child))
        case TimestampType => fn("timestamp_micros", rec(p.child))
        case other => notImplemented(s"precise timestamp conversion to $other")
      }
      // nullability hints are not value operations — produce through them
      // (the consumer's re-analysis re-derives nullability from the plan)
      case KnownNullable(c) => rec(c)
      case KnownNotNull(c) => rec(c)
      case Multiply(l, r, _) => fn("multiply", rec(l), rec(r))
      case Divide(l, r, _) => fn("divide", rec(l), rec(r))
      // integer division (SQL DIV) — its own name: folding it into "divide"
      // would silently turn exact integer arithmetic into float division on
      // a foreign consumer. TRY mode has no SQL-callable spelling → loud.
      case e: IntegralDivide if e.evalMode == EvalMode.TRY =>
        notImplemented("TRY-mode integral divide has no wire form")
      case e: IntegralDivide => fn("div", rec(e.left), rec(e.right))
      case Remainder(l, r, _) => fn("mod", rec(l), rec(r))
      case And(l, r) => fn("and", rec(l), rec(r))
      case Or(l, r) => fn("or", rec(l), rec(r))
      case Not(Like(l, r, _)) => fn("not_like", rec(l), rec(r))
      case Like(l, r, _) => fn("like", rec(l), rec(r))
      case Not(RLike(l, r)) => fn("regex_not_match", rec(l), rec(r))
      case RLike(l, r) => fn("regex_match", rec(l), rec(r))
      case Not(EqualNullSafe(l, r)) => fn("is_distinct_from", rec(l), rec(r))
      case EqualNullSafe(l, r) => fn("is_not_distinct_from", rec(l), rec(r))
      case BitwiseAnd(l, r) => fn("bitwise_and", rec(l), rec(r))
      case BitwiseOr(l, r) => fn("bitwise_or", rec(l), rec(r))
      case BitwiseXor(l, r) => fn("bitwise_xor", rec(l), rec(r))
      case ShiftRight(l, r) => fn("bitwise_shift_right", rec(l), rec(r))
      case ShiftLeft(l, r) => fn("bitwise_shift_left", rec(l), rec(r))
      case Concat(cs) => SExpr.ScalarFn(anchor("str_concat"), cs.map(rec))

      // unary / variadic beyond the reference's 26 (still named extensions)
      case IsNull(c) => fn("is_null", rec(c))
      case IsNotNull(c) => fn("is_not_null", rec(c))
      case Not(c) => fn("not", rec(c))
      case UnaryMinus(c, _) => fn("negate", rec(c))
      case Coalesce(cs) => SExpr.ScalarFn(anchor("coalesce"), cs.map(rec))
      // loud-error contract on the wire: SQL raise_error(msg) desugars to
      // RaiseError(USER_RAISED_EXCEPTION, map(errorMessage -> msg)); only
      // that user shape rides (as raise_error with the bare message arg) —
      // internal error classes have no portable meaning and stay loud here
      case r: RaiseError => (r.errorClass, r.errorParms) match {
        case (Literal(ec, _), CreateMap(Seq(Literal(k, _), msg), _))
            if ec != null && ec.toString == "USER_RAISED_EXCEPTION" &&
              k != null && k.toString == "errorMessage" =>
          fn("raise_error", rec(msg))
        case _ => notImplemented(s"RaiseError with error class ${r.errorClass}")
      }
      case In(v, list) if list.forall(_.foldable) =>
        // x IN (a, b, …) ≡ x=a OR x=b OR … (same three-valued logic)
        list.map(i => fn("equal", rec(v), rec(i)))
          .reduceLeft((a, b) => fn("or", a, b))

      case WindowExpression(wf, spec) =>
        val (name, args) = wf match {
          // first/last are aggregate functions in Catalyst, but as window
          // functions they carry the ignore-nulls flag — ride it as a
          // trailing boolean literal argument
          case ae: AggregateExpression
              if ae.aggregateFunction.isInstanceOf[aggregate.First] =>
            val f = ae.aggregateFunction.asInstanceOf[aggregate.First]
            ("first_value", Seq(f.child, Literal(f.ignoreNulls)))
          case ae: AggregateExpression
              if ae.aggregateFunction.isInstanceOf[aggregate.Last] =>
            val f = ae.aggregateFunction.asInstanceOf[aggregate.Last]
            ("last_value", Seq(f.child, Literal(f.ignoreNulls)))
          case ae: AggregateExpression =>
            if (ae.isDistinct) notImplemented("DISTINCT window aggregate")
            (Producer.wireAggName(ae.aggregateFunction.prettyName),
              ae.aggregateFunction.children)
          case _: RowNumber => ("row_number", Nil)
          case _: Rank => ("rank", Nil)
          case _: DenseRank => ("dense_rank", Nil)
          case _: PercentRank => ("percent_rank", Nil)
          case _: CumeDist => ("cume_dist", Nil)
          case l: Lag => ("lag", trimNullDefault(l.children.take(3)))
          case l: Lead => ("lead", trimNullDefault(l.children.take(3)))
          case n: NTile => ("ntile", n.children)
          case n: NthValue =>
            ("nth_value", Seq(n.input, n.offset, Literal(n.ignoreNulls)))
          case other => notImplemented(s"window function ${other.prettyName}")
        }
        // Time-INTERVAL range bounds have no substrait offset form (bounds
        // are i64), and the consumer rebuilds range bounds as i64 offsets.
        // Rewrite the SPEC instead: order by unix_micros(ts) — a strictly
        // monotone bijection, so partitions/order/range sets are identical —
        // and carry the bound as plain microseconds. NTZ order columns cast
        // to TimestampType first (session TZ is pinned UTC; no ambiguity).
        def intervalMicros(e: Expression): Option[Long] = e match {
          case Cast(inner, _, _, _) => intervalMicros(inner)
          case UnaryMinus(inner, _) => intervalMicros(inner).map(m => -m)
          case Literal(v: Long, _: DayTimeIntervalType) => Some(v)
          case Literal(ci: org.apache.spark.unsafe.types.CalendarInterval, _)
              if ci.months == 0 =>
            Some(ci.days * 86400000000L + ci.microseconds)
          case Literal(_, _: YearMonthIntervalType) => notImplemented(
            "year-month interval RANGE bound (variable length; no i64 offset)")
          case _ => None
        }
        def microBound(n: Long): WBound =
          if (n == 0) WBound.CurrentRow
          else if (n < 0) WBound.Preceding(-n) else WBound.Following(n)
        val (sorts, (lower, upper, rowFrame)) = spec.frameSpecification match {
          case SpecifiedWindowFrame(RangeFrame, lo, hi)
              if intervalMicros(lo).isDefined || intervalMicros(hi).isDefined =>
            val orderExpr = spec.orderSpec match {
              case Seq(so) => so
              case _ => notImplemented(
                "interval RANGE frame requires exactly one order column")
            }
            val micros = orderExpr.child.dataType match {
              case TimestampType => UnixMicros(orderExpr.child)
              case TimestampNTZType =>
                UnixMicros(Cast(orderExpr.child, TimestampType))
              case other => notImplemented(
                s"interval RANGE frame over ${other.simpleString(40)} order column")
            }
            def b(e: Expression): WBound = intervalMicros(e) match {
              case Some(n) => microBound(n)
              case None => windowBound(e)
            }
            (Seq(sortField(orderExpr.copy(child = micros), rec)),
              (b(lo), b(hi), false))
          case SpecifiedWindowFrame(ft, lo, hi) =>
            (spec.orderSpec.map(so => sortField(so, rec)),
              (windowBound(lo), windowBound(hi), ft == RowFrame))
          case UnspecifiedFrame =>
            (spec.orderSpec.map(so => sortField(so, rec)),
              (WBound.Unbounded, WBound.CurrentRow, false))
          case other => notImplemented(s"window frame $other")
        }
        SExpr.WindowFn(anchor(name.toLowerCase), args.map(rec),
          spec.partitionSpec.map(rec), sorts, lower, upper, rowFrame)

      case cw @ CaseWhen(branches, elseValue) =>
        // `THEN 1 ELSE NULL` keeps an untyped NullType literal in the analyzed
        // plan; type it from the CASE's resolved output type so the wire form
        // stays a typed null (§1.2 — substrait has no untyped null)
        def recV(v: Expression): SExpr = v match {
          case Literal(null, NullType) => SExpr.Lit(LitVal.LNull(sTypeOf(cw.dataType)))
          case other => rec(other)
        }
        SExpr.IfThen(
          branches.map { case (c, v) => IfClause(rec(c), Some(recV(v))) },
          elseValue.map(recV))

      // named scalar functions whose Catalyst children order matches their
      // SQL argument order — encoded by prettyName, consumed via
      // call_function (beyond the reference's 26 operators)
      // struct construction: children alternate name-literal/value, exactly
      // SQL named_struct's argument order (prettyName is "struct" when built
      // via the struct() column function, so match the node class)
      case cns: CreateNamedStruct =>
        SExpr.ScalarFn(anchor("named_struct"), cns.children.map(rec))

      // struct field access: when the chain bottoms out at an input column,
      // it is spec-expressible as a DirectReference child chain (ordinals at
      // each level) — any conformant consumer decodes it. Over a computed
      // struct (named_struct(...), map value, …) no spec form exists, so it
      // rides as the extension function get_field(struct, name-literal).
      case g: GetStructField =>
        def chain(e0: Expression, acc: List[Int]): Option[(Expression, List[Int])] =
          e0 match {
            case inner: GetStructField => chain(inner.child, inner.ordinal :: acc)
            case a: AttributeReference => Some((a, acc))
            case _ => None
          }
        chain(g.child, g.ordinal :: Nil) match {
          case Some((attr, path)) => rec(attr) match {
            case SExpr.FieldRef(i) => SExpr.NestedRef(i, path)
            // leaf resolved to something non-positional (e.g. a post-agg
            // measure ref): keep the extension form
            case _ => SExpr.ScalarFn(anchor("get_field"),
              Seq(rec(g.child), SExpr.Lit(LitVal.LStr(
                g.name.getOrElse(g.childSchema(g.ordinal).name)))))
          }
          case None => SExpr.ScalarFn(anchor("get_field"),
            Seq(rec(g.child), SExpr.Lit(LitVal.LStr(
              g.name.getOrElse(g.childSchema(g.ordinal).name)))))
        }

      // arr.field over ARRAY<STRUCT>: rides as get_array_field(arr, name);
      // the consumer rebuilds it as transform(arr, x -> x.field)
      case g: GetArrayStructFields =>
        SExpr.ScalarFn(anchor("get_array_field"),
          Seq(rec(g.child), SExpr.Lit(LitVal.LStr(g.field.name))))

      // arr[i] (0-based, NULL out of bounds) — element_at is 1-based and
      // ANSI-throws, so it rides as its own extension function
      case g: GetArrayItem =>
        SExpr.ScalarFn(anchor("get_array_item"),
          Seq(rec(g.child), rec(g.ordinal)))

      // ceil/floor: prettyName is upper-case, so the generic allowlist
      // case misses them; pmod has no operator form
      case c: Ceil => fn("ceil", rec(c.child))
      case f: Floor => fn("floor", rec(f.child))
      case p: Pmod => fn("pmod", rec(p.left), rec(p.right))
      // Spark 4 analyzes encode()/decode() into StaticInvoke wrappers —
      // re-surface the SQL-callable name (args beyond (input, charset) are
      // legacy-behavior flags the session already defaults)
      // base64() analyzes to StaticInvoke(Base64.encode(input, legacyChunk
      // FLAG)) — functionName is also "encode", so match the owner class
      // before the charset-encode cases below
      case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          if si.functionName == "encode" &&
            si.staticObject.getName.contains("expressions.Base64") =>
        fn("base64", rec(si.arguments(0)))
      case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          if si.functionName == "encode" && si.arguments.size >= 2 &&
            si.arguments(1).dataType == StringType =>
        fn("encode", rec(si.arguments(0)), rec(si.arguments(1)))
      // CAST(string AS binary) analyzes to StaticInvoke(encode) whose 2nd
      // argument is a legacy-behavior BOOLEAN (no charset — UTF-8 implied);
      // emitting that boolean as the charset would make the consumer throw,
      // so ride it as the plain binary cast it is
      case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          if si.functionName == "encode" && si.arguments.nonEmpty &&
            si.dataType == BinaryType =>
        SExpr.Cast(SType.SBin, si.arguments(0).nullable, rec(si.arguments(0)))
      case si: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
          if si.functionName == "decode" && si.arguments.size >= 2 =>
        fn("decode", rec(si.arguments(0)), rec(si.arguments(1)))

      // array constructor (CreateArray's prettyName is "array"; empty arrays
      // need the element type to survive, so they ride as typed literals)
      case ca: CreateArray if ca.children.isEmpty =>
        SExpr.Lit(LitVal.LList(sTypeOf(
          ca.dataType.asInstanceOf[ArrayType].elementType), Nil))
      case ca: CreateArray =>
        SExpr.ScalarFn(anchor("array"), ca.children.map(rec))

      // map constructor + map[key] access (alternating key/value children,
      // exactly SQL map()'s argument order)
      case cm: CreateMap =>
        SExpr.ScalarFn(anchor("map"), cm.children.map(rec))
      case g: GetMapValue =>
        SExpr.ScalarFn(anchor("get_map_value"), Seq(rec(g.child), rec(g.key)))

      // higher-order functions: substrait 0.3 has no lambda expression, so a
      // lambda rides as the reserved extension function __lambda(arity, body)
      // and its variables as __lambda_var(slot) — slots are assigned in
      // depth-first scope order, which both sides reproduce structurally
      case lf: LambdaFunction =>
        val k = lf.arguments.size
        val base = lambdaDepth
        lf.arguments.zipWithIndex.foreach { case (v, i) =>
          lambdaSlots(v.exprId) = base + i
        }
        lambdaDepth += k
        val body = try rec(lf.function) finally lambdaDepth -= k
        SExpr.ScalarFn(anchor("__lambda"),
          Seq(SExpr.Lit(LitVal.LI32(k)), body))
      case v: NamedLambdaVariable =>
        lambdaSlots.get(v.exprId) match {
          case Some(slot) =>
            SExpr.ScalarFn(anchor("__lambda_var"),
              Seq(SExpr.Lit(LitVal.LI32(slot))))
          case None => notImplemented(s"lambda variable ${v.name} out of scope")
        }
      case hof: HigherOrderFunction
          if Producer.hofFns.contains(hof.prettyName) =>
        SExpr.ScalarFn(anchor(hof.prettyName), hof.children.map(rec))

      // minhash_sig carries numHashes as a constructor param, not a child —
      // re-attach it as a literal argument on the wire
      case m: graft.functions.MinHashSig =>
        SExpr.ScalarFn(anchor("minhash_sig"),
          Seq(rec(m.child), SExpr.Lit(LitVal.LI32(m.numHashes))))

      // lsh_buckets likewise re-attaches its (tables, planes, dim) shape
      case l: graft.functions.LshBuckets =>
        SExpr.ScalarFn(anchor("lsh_buckets"),
          Seq(rec(l.child), SExpr.Lit(LitVal.LI32(l.tables)),
            SExpr.Lit(LitVal.LI32(l.planesPerTable)),
            SExpr.Lit(LitVal.LI32(l.dim))))

      // vec_top_cells re-attaches k
      case v: graft.functions.VecTopCells =>
        SExpr.ScalarFn(anchor("vec_top_cells"),
          Seq(rec(v.first), rec(v.second), rec(v.third),
            SExpr.Lit(LitVal.LI32(v.k))))

      // UnaryMathExpression prettyNames are upper-case ("ASIN"); the wire
      // name is always the lower-case SQL-registry name
      case e if e.deterministic && e.children.nonEmpty &&
          Producer.namedScalarFns.contains(e.prettyName.toLowerCase) =>
        SExpr.ScalarFn(anchor(e.prettyName.toLowerCase), e.children.map(rec))

      case other =>
        notImplemented(s"expression ${other.getClass.getSimpleName}: $other")
    }

    private def literal(l: Literal): LitVal = {
      if (l.value == null) return LitVal.LNull(sTypeOf(l.dataType))
      l.dataType match {
        case BooleanType => LitVal.LBool(l.value.asInstanceOf[Boolean])
        case ByteType => LitVal.LI8(l.value.asInstanceOf[Byte].toInt)
        case ShortType => LitVal.LI16(l.value.asInstanceOf[Short].toInt)
        case IntegerType => LitVal.LI32(l.value.asInstanceOf[Int])
        case LongType => LitVal.LI64(l.value.asInstanceOf[Long])
        case FloatType => LitVal.LFp32(l.value.asInstanceOf[Float])
        case DoubleType => LitVal.LFp64(l.value.asInstanceOf[Double])
        case StringType => LitVal.LStr(l.value.toString)
        case BinaryType => LitVal.LBin(l.value.asInstanceOf[Array[Byte]])
        case DateType => LitVal.LDate(l.value.asInstanceOf[Int])
        case _: org.apache.spark.sql.types.TimeType =>
          // Spark stores nanos of day; substrait time is micros — sub-micro
          // components cannot cross losslessly, so they reject loudly
          val nanos = l.value.asInstanceOf[Long]
          if (nanos % 1000L != 0L)
            notImplemented("TIME literal with sub-microsecond precision")
          LitVal.LTime(nanos / 1000L)
        case TimestampNTZType => LitVal.LTimestamp(l.value.asInstanceOf[Long])
        case TimestampType => LitVal.LTimestampTz(l.value.asInstanceOf[Long])
        case _: DayTimeIntervalType =>
          // Spark stores total microseconds; decompose with one sign across
          // components (truncating division) — recomposition is exact
          val t = l.value.asInstanceOf[Long]
          val d = t / 86400000000L; val rem = t - d * 86400000000L
          val s = rem / 1000000L; val us = rem - s * 1000000L
          LitVal.LIntervalDay(d.toInt, s.toInt, us.toInt)
        case _: YearMonthIntervalType =>
          val m = l.value.asInstanceOf[Int]
          LitVal.LIntervalYear(m / 12, m % 12)
        case dt: DecimalType =>
          // 16-byte little-endian two's-complement i128 (producer.rs:585-589)
          val unscaled = l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal.unscaledValue
          val be = unscaled.toByteArray // big-endian, minimal length
          val out = new Array[Byte](16)
          val sign: Byte = if (unscaled.signum < 0) -1 else 0
          java.util.Arrays.fill(out, sign)
          var i = 0
          while (i < be.length) { out(i) = be(be.length - 1 - i); i += 1 }
          LitVal.LDecimal(out, dt.precision, dt.scale)
        case ArrayType(et, _) =>
          val ad = l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val n = ad.numElements() // n == 0 rides as Literal.empty_list
          LitVal.LList(sTypeOf(et),
            (0 until n).map(i => literal(Literal(ad.get(i, et), et))))
        case MapType(kt, vt, _) =>
          val md = l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
          val ks = md.keyArray(); val vs = md.valueArray()
          LitVal.LMap(sTypeOf(kt), sTypeOf(vt),
            (0 until md.numElements()).map(i =>
              (literal(Literal(ks.get(i, kt), kt)),
                literal(Literal(vs.get(i, vt), vt)))))
        case other => notImplemented(s"literal of type $other")
      }
    }
  }

  /** SQL-callable scalar functions safe to encode by name: deterministic,
    * and the Catalyst expression's children order equals the SQL argument
    * order (verified per function — not every expression satisfies this).
    */
  val namedScalarFns: Set[String] = Set(
    "lower", "upper", "trim", "ltrim", "rtrim", "length", "substring",
    "replace", "split", "regexp_replace", "regexp_extract", "regexp_count",
    "regexp_extract_all", // regexp_count's analyzed replacement form
    "concat_ws", "lpad", "rpad", "reverse", "instr", "left", "right",
    "abs", "round", "floor", "ceil", "sqrt", "exp", "ln", "log10", "power",
    "sin", "cos", "tan", "atan", "atan2", "sign", "greatest", "least",
    "year", "month", "dayofmonth", "hour", "minute", "second", "quarter",
    "dayofweek", "dayofyear", "weekofyear", "date_trunc", "to_date",
    "date_add", "date_sub", "datediff", "unix_timestamp", "from_unixtime",
    "md5", "sha2", "crc32", "xxhash64", "hash",
    "bit_count", "octet_length", "encode", "decode", "pmod",
    "unix_micros", "timestamp_micros",
    "map_keys", "map_values", "map_concat", "map_from_arrays",
    "map_contains_key", "map_entries",
    "size", "array_contains", "array_distinct", "array_min", "array_max",
    "sort_array", "element_at", "slice", "array_join", "arrays_overlap",
    "array_intersect", "array_union", "array_except", "sequence", "flatten",
    "array_repeat", "array_position", "array_remove", "array_compact",
    "if", "ifnull", "nullif", "nvl", "nvl2",
    // everyday-SQL tail (each certified by ScalarFnProbeSpec roundtrips;
    // names are SQL-registry names == Catalyst prettyName, children ==
    // SQL argument order — the generic-case contract)
    "translate", "initcap", "repeat", "ascii", "chr", "base64", "unbase64",
    "overlay", "levenshtein", "soundex", "substring_index", "find_in_set",
    "format_string", "format_number", "elt", "locate", "bit_length", "space",
    "contains", "startswith", "endswith",
    "asin", "acos", "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
    "cot", "sec", "csc", "cbrt", "log2", "log", "degrees", "radians",
    "hypot", "expm1", "log1p", "rint", "bround", "factorial", "conv",
    "hex", "unhex", "bin", "width_bucket",
    "date_format", "add_months", "months_between", "last_day", "next_day",
    "weekday", "trunc", "make_date", "to_unix_timestamp",
    "dayname", "monthname", "char_length", "character_length",
    "arrays_zip", "array_append", "array_prepend", "array_insert",
    "map_from_entries", "str_to_map",
    "sha1", "isnan", "nanvl", "typeof", "getbit",
    "get_json_object", "json_array_length",
    // TRY-eval-mode arithmetic (produced by the explicit EvalMode.TRY
    // cases, consumed via the session registry like any named fn)
    "try_add", "try_subtract", "try_multiply", "try_divide", "try_mod",
    // datasketches scalar companions of the mergeable-sketch aggregates
    // (ops.Sketches): estimate/merge/read over binary sketch columns
    "hll_sketch_estimate", "hll_union",
    "kll_sketch_get_quantile_bigint", "kll_sketch_get_rank_bigint",
    "kll_sketch_get_n_bigint",
    // struct construction (SQL-callable; get_field is its access twin)
    "named_struct") ++
    // graft's own kernels, carried as substrait extension functions by name
    // (the three with constructor parameters are matched above)
    graft.functions.Kernels.scalars.keySet

  /** Aggregates whose wire name (DataFusion 15's, consumer.rs:383-415 /
    * SURVEY.md §2.4 A2) differs from Spark's: each wire name with the
    * Spark names it stands for, the first being the registry name the
    * consumer resolves. The producer reads it Spark → wire
    * ([[wireAggName]]), the consumer wire → Spark ([[sparkAggName]]).
    */
  val aggregateNames: Seq[(String, Seq[String])] = Seq(
    "avg" -> Seq("avg", "mean"),
    "approx_distinct" -> Seq("approx_count_distinct"),
    "approx_percentile_cont" -> Seq("percentile_approx", "approx_percentile"),
    "percentile_cont" -> Seq("percentile"),
    "array_agg" -> Seq("collect_list"),
    "stddev" -> Seq("stddev_samp", "stddev"),
    "variance" -> Seq("var_samp", "variance"),
    "covariance" -> Seq("covar_samp"),
    "covariance_pop" -> Seq("covar_pop"),
    "correlation" -> Seq("corr"))

  private val toWireAgg: Map[String, String] =
    aggregateNames.flatMap { case (w, ss) => ss.map(_ -> w) }.toMap
  private val toSparkAgg: Map[String, String] =
    aggregateNames.map { case (w, ss) => w -> ss.head }.toMap

  /** Spark prettyName → wire aggregate name */
  def wireAggName(spark: String): String = toWireAgg.getOrElse(spark, spark)
  /** wire aggregate name → Spark registry name */
  def sparkAggName(wire: String): String = toSparkAgg.getOrElse(wire, wire)

  /** Higher-order functions whose Catalyst children order is
    * (collection args…, lambda args…), matching the SQL argument order.
    * Lambdas ride as the reserved __lambda extension function. */
  val hofFns: Set[String] = Set(
    "transform", "filter", "exists", "forall", "aggregate", "zip_with",
    "array_sort", "transform_keys", "transform_values", "map_filter",
    "map_zip_with")

  // -------------------------------------------------------------------- types
  def sTypeOf(dt: DataType): SType = dt match {
    case BooleanType => SType.SBool
    case ByteType => SType.SI8
    case ShortType => SType.SI16
    case IntegerType => SType.SI32
    case LongType => SType.SI64
    case FloatType => SType.SFp32
    case DoubleType => SType.SFp64
    case StringType => SType.SStr
    case BinaryType => SType.SBin
    case DateType => SType.SDate
    case _: org.apache.spark.sql.types.TimeType => SType.STime
    case TimestampNTZType => SType.STimestamp
    case TimestampType => SType.STimestampTz
    case _: DayTimeIntervalType => SType.SIntervalDay
    case _: YearMonthIntervalType => SType.SIntervalYear
    case d: DecimalType => SType.SDecimal(d.precision, d.scale)
    case ArrayType(e, n) => SType.SList(sTypeOf(e), n)
    case MapType(k, v, vn) => SType.SMap(sTypeOf(k), sTypeOf(v), vn)
    case StructType(fs) =>
      SType.SStruct(fs.toSeq.map(_.name),
        fs.toSeq.map(f => (sTypeOf(f.dataType), f.nullable)))
    case other => notImplemented(s"data type $other")
  }
}
