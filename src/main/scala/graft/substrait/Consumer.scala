package graft.substrait

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{plans => cp}
import org.apache.spark.sql.catalyst.analysis.{MultiAlias, MultiInstanceRelation,
  UnresolvedExtractValue, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Ascending, Attribute,
  BitwiseAnd, BitwiseOr, BitwiseXor, CaseWhen, Cast, Coalesce, Concat, CreateArray, CreateMap,
  CurrentRow, Descending, Divide, EqualNullSafe, EqualTo, Explode, ExprId, Expression,
  ExtractValue, GeneratorOuter, GetStructField, GreaterThan, GreaterThanOrEqual, Grouping,
  GroupingID, GroupingSets, Inline, IsNotNull, IsNull, LambdaFunction, LessThan,
  LessThanOrEqual, Like, Literal, Multiply, NamedExpression, Not, NullsFirst, NullsLast, Or,
  PosExplode, RLike, RangeFrame, Remainder, RowFrame, ScalarSubquery, SortOrder,
  SpecifiedWindowFrame, Subtract, UnaryMinus, UnboundedFollowing, UnboundedPreceding,
  UnresolvedNamedLambdaVariable, UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Average, Count,
  First, Last, Max, Min, Mode, PercentileDisc, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Except, Expand,
  Generate, HintInfo, Intersect, Join, JoinHint, JoinStrategyHint, Limit, LocalRelation,
  LogicalPlan, Offset, Repartition, RepartitionByExpression, ResolvedHint, Sample,
  SerializeFromObject, Union, Window, Project => PProject, Filter => PFilter, Sort => PSort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.functions.Kernels
import model._

/** Substrait `Plan` → Spark `DataFrame`.
  *
  * Spark-native rebuild of the reference consumer (src/consumer.rs:74-380),
  * which turns each Rel into a DataFusion `LogicalPlan` node: here each Rel
  * becomes a Catalyst `LogicalPlan` node over its already-resolved
  * children, so the root reaches Spark already analyzed. It is wrapped ONCE
  * by [[ColumnBridge.analyzed]]: one `checkAnalysis` pass, no analyzer rule
  * batch; Catalyst then optimizes (pushdown, pruning, join strategy) and
  * executes it.
  *
  * Positional field references index the node's flattened output
  * (consumer.rs:449-468) and bind to the child's output ATTRIBUTES, so they
  * resolve by exprId, never by name: self-joins and duplicate column names
  * need no renaming. Every Read gets attributes no other Read of the same
  * consume has (a second read of one table is a fresh instance of it, as
  * the analyzer's DeduplicateRelations would make), which is what keeps the
  * two sides of a self-join apart. The user-visible names come from
  * `RelRoot.names` at the root (consumer.rs:92-111).
  *
  * Every wire expression is built as a Catalyst expression by one builder
  * (`Ctx.toExpr`), as the reference builds every one as a DataFusion
  * `Expr`. Operators, literals, casts, the graft kernels ([[Kernels]],
  * straight from their bound arguments), the structural nodes (LIKE,
  * bitwise ops, constructors, field access), join-strategy hints and
  * registry-named functions (looked up in the session's function registry
  * once their arguments are resolved) are built resolved; windows are
  * `WindowExpression`s and lambdas `LambdaFunction`s over fresh variables.
  * A node Catalyst reports unresolved (one holding a window, a generator,
  * grouping sets, a lambda, or a function that needs type coercion) is
  * analyzed on its own against LocalRelation stubs of its children's output
  * ([[ColumnBridge.analyzeNode]]); every other node is used as built.
  * Analyzing only those nodes, each once, keeps consume linear in plan
  * depth.
  */
object Consumer {

  /** Reserved NamedTable name inside an [[model.Rel.ExtIteration]] body
    * plan: the leaf that denotes "the current iteration state". The
    * consumer binds it to the iterating DataFrame; outside an iteration it
    * resolves like any table name (and fails loudly if absent). */
  val IterationStateTable = "graft_iteration_state"

  /** Test-only observer: when non-null, every consumed ExtIteration round
    * reports its pre-materialization frame here — its queryExecution is
    * the plan the round's localCheckpoint actually executed, adaptive
    * plan final (PlanQualitySpec gates the per-round exchange count on
    * the REAL consumed loop, not a reconstruction). A no-op in
    * production. */
  @volatile private[graft] var roundPlanHook: org.apache.spark.sql.DataFrame => Unit = null

  /** Test-only observer: when non-null, sees every consumed root as built,
    * before [[ColumnBridge.analyzed]] checks and marks it (AnalyzedConsumeSpec
    * runs Spark's analyzer over it and expects it back unchanged). A no-op
    * in production. */
  @volatile private[graft] var rootHook: LogicalPlan => Unit = null

  def consume(spark: SparkSession, plan: Plan): DataFrame =
    consumeInternal(spark, plan, binding = None, validate = true,
      reliableIteration = None)

  /** As [[consume]], but with the iteration-materialization reliability
    * knob scoped to THIS call instead of inferred from the context.
    * `SparkContext.setCheckpointDir` is sticky: after any caller configures
    * a dir, every later consumed [[model.Rel.ExtIteration]] in the same
    * context would silently switch to reliable disk checkpoints. Callers
    * that know which durability they want pass it explicitly:
    * `Some(false)` = fast localCheckpoint rounds even if a dir is set;
    * `Some(true)` = reliable rounds (loud error if no checkpoint dir is
    * configured); `None` = infer from the context (the plain-consume
    * default, which is the standard Spark contract). */
  def consume(spark: SparkSession, plan: Plan,
              reliableIteration: Option[Boolean]): DataFrame =
    consumeInternal(spark, plan, binding = None, validate = true,
      reliableIteration = reliableIteration)

  private def consumeInternal(spark: SparkSession, plan: Plan,
                              binding: Option[DataFrame],
                              validate: Boolean,
                              reliableIteration: Option[Boolean]): DataFrame =
    ColumnBridge.consuming(spark) {
      if (validate)
        Validator.validateOrThrow(plan) // structural pre-flight: full issue report
      val extMap: Map[Int, String] =
        plan.extensions.map(e => e.functionAnchor -> e.name).toMap
      if (plan.relations.size != 1)
        internalErr(s"expected exactly one relation tree, got ${plan.relations.size}")
      val ctx = new Ctx(spark, extMap, binding, reliableIteration)
      val root = plan.relations.head match {
        case PlanRel.Root(input, names) =>
          val b = ctx.build(input)
          if (names.nonEmpty && names.size != b.output.size)
            internalErr(s"root names arity ${names.size} != plan arity ${b.output.size}")
          if (names.isEmpty || names == b.output.map(_.name)) b
          else PProject(b.output.zip(names).map {
            case (a, n) => if (a.name == n) a else Alias(a, n)()
          }, b)
        case PlanRel.RelOnly(rel) => ctx.build(rel)
      }
      val hook = rootHook
      if (hook != null) hook(root)
      ColumnBridge.analyzed(spark, root)
    }

  /** Aggregates resolved through the session registry by their Spark name
    * with the wire arguments as they are: plain-children aggregates whose
    * builders take exactly the wire arguments (argmin/argmax, boolean/bit
    * folds, robust moments, the linear-regression family — the producer
    * guards the two with hidden flags: mode's within-group ordering and
    * percentile_disc DESC), and the mergeable datasketches aggregates
    * (ops.Sketches; value [, k/allowDiff]). */
  private val registryAggregates: Set[String] = Set(
    "median", "approx_count_distinct", "collect_list", "collect_set",
    // exact interpolated percentile (substrait quantile/percentile_cont;
    // Spark's percentile takes an optional frequency third arg)
    "percentile",
    "stddev_samp", "stddev_pop", "var_samp", "var_pop",
    "covar_samp", "covar_pop", "corr",
    "max_by", "min_by", "bool_and", "bool_or", "count_if",
    "bit_and", "bit_or", "bit_xor", "skewness", "kurtosis", "mode",
    "regr_slope", "regr_intercept", "regr_r2", "regr_avgx", "regr_avgy",
    "regr_count", "every", "any", "some",
    "hll_sketch_agg", "hll_union_agg",
    "kll_sketch_agg_bigint", "kll_sketch_agg_double", "kll_sketch_agg_float",
    "kll_merge_agg_bigint", "kll_merge_agg_double", "kll_merge_agg_float",
    "count_min_sketch")

  private final class Ctx(spark: SparkSession, extMap: Map[Int, String],
                          stateBinding: Option[DataFrame] = None,
                          reliableIteration: Option[Boolean] = None) {
    private def name(ref: Int): String =
      extMap.getOrElse(ref, internalErr(s"unregistered function anchor $ref"))

    /** analyzed catalog reads, by multipart table name: a table read twice
      * is looked up (and analyzed) once */
    private val tables = mutable.Map.empty[Seq[String], LogicalPlan]
    /** every attribute a leaf of this consume has handed out */
    private val leafIds = mutable.HashSet.empty[ExprId]

    /** `p` as a resolved node: as built when Catalyst reports it resolved,
      * else analyzed on its own over stubs of its children. */
    private def node(p: LogicalPlan): LogicalPlan =
      if (p.resolved) p else ColumnBridge.analyzeNode(spark, p)

    /** A leaf whose attributes another leaf of this consume already uses
      * (the same table read twice, the iteration state bound twice) is
      * [[fresh]], so positional refs on either side bind apart. */
    private def unique(leaf: LogicalPlan): LogicalPlan = {
      val l = if (leaf.output.exists(a => leafIds.contains(a.exprId))) fresh(leaf) else leaf
      leafIds ++= l.output.map(_.exprId)
      l
    }

    /** A new instance of `leaf`, as the analyzer's DeduplicateRelations
      * renews a repeated relation: each MultiInstanceRelation is a new
      * instance, and the aliases and generated columns a view holds get new
      * ids, carried up through the nodes above them. */
    private def fresh(leaf: LogicalPlan): LogicalPlan = {
      def renewed(old: LogicalPlan, n: LogicalPlan) = n -> old.output.zip(n.output)
      def aliases(es: Seq[NamedExpression]) = es.map {
        case a: Alias => a.newInstance()
        case e => e
      }
      leaf.transformUpWithNewOutput {
        case m: MultiInstanceRelation => renewed(m, m.newInstance())
        case p: PProject => renewed(p, p.copy(projectList = aliases(p.projectList)))
        case a: Aggregate =>
          renewed(a, a.copy(aggregateExpressions = aliases(a.aggregateExpressions)))
        case w: Window => renewed(w, w.copy(windowExpressions = aliases(w.windowExpressions)))
        case g: Generate =>
          renewed(g, g.copy(generatorOutput = g.generatorOutput.map(_.newInstance())))
        case e: Expand => renewed(e, e.copy(output = e.output.map(_.newInstance())))
        case s: SerializeFromObject => renewed(s, s.copy(serializer = aliases(s.serializer)))
      }
    }

    private def at(in: Seq[Attribute], i: Int, what: String = "field reference"): Attribute =
      if (i < 0 || i >= in.size) internalErr(s"$what $i out of range ${in.size}")
      else in(i)

    /** output column `i`: an attribute passes through once, anything else
      * (or a repeat) gets an alias. A repeat's alias never keeps the
      * attribute's name: RemoveRedundantAliases would drop it, leaving one
      * exprId twice in the output (an unresolved Union branch). */
    private def named(es: Seq[Expression]): Seq[NamedExpression] = {
      val seen = mutable.HashSet.empty[ExprId]
      es.zipWithIndex.map {
        case (a: Attribute, _) if seen.add(a.exprId) => a
        case (a: Attribute, _) => Alias(a, a.name + "_")()
        case (e, i) => Alias(e, s"_$i")()
      }
    }

    private def structOf(schema: NamedStruct): StructType =
      StructType(schema.names.zip(schema.types).map {
        case (n, (t, nul)) => StructField(n, sparkType(t), nul)
      })

    def build(rel: Rel): LogicalPlan = rel match {
      case Rel.Read(schema, tableNames, projection, filter, virtualRows, localFiles) =>
        val base = unique((virtualRows, localFiles) match {
          case (Some(rows), _) =>
            // VirtualTable: the struct-literal rows as a LocalRelation,
            // exactly what the producer serialized
            LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(structOf(schema)),
              rows.map(r => Row.fromSeq(r.map(litExternal))))
          case (None, Some(items)) =>
            // LocalFiles: a file-backed scan with the DECLARED schema (the
            // wire contract, not re-inference — positional refs depend on
            // it). All items must share one format; Spark's reader accepts
            // files, globs, and folders uniformly, so pathKind collapses.
            val formats = items.map(_.format).distinct
            if (formats.size != 1)
              notImplemented(s"LocalFiles with mixed formats $formats")
            val paths = items.map(_.path)
            val reader = spark.read.schema(structOf(schema))
            (formats.head match {
              case "parquet" => reader.parquet(paths: _*)
              case "orc" => reader.orc(paths: _*)
              case "csv" =>
                val head = items.head
                if (head.csvHeaderLines > 1L)
                  notImplemented("LocalFiles csv header_lines_to_skip > 1")
                reader
                  .option("header", (head.csvHeaderLines == 1L).toString)
                  .option("sep", head.csvDelimiter.getOrElse(","))
                  .csv(paths: _*)
              case other => notImplemented(s"LocalFiles format $other")
            }).queryExecution.analyzed
          case (None, None) =>
            // the reserved iteration-state leaf binds to the current loop
            // state when consumed inside an ExtIteration; anywhere else it
            // resolves like any named table (loud if absent)
            if (tableNames == Seq(IterationStateTable) && stateBinding.isDefined)
              stateBinding.get.queryExecution.analyzed
            // the wire name's parts ARE the identifier: joining them with
            // "." and parsing again would split `a.b` and reject `t-1`
            else tables.getOrElseUpdate(tableNames, ColumnBridge.ofRows(spark,
              UnresolvedRelation(tableNames)).queryExecution.analyzed)
        })
        if (schema.names.nonEmpty && schema.names.size != base.output.size)
          internalErr(s"table ${tableNames.mkString(".")}: plan schema arity " +
            s"${schema.names.size} != catalog arity ${base.output.size}")
        // scan filter references the BASE schema (pre-mask); Catalyst pushes
        // it into the parquet scan exactly as a FilterRel above would
        val filtered = filter.fold(base)(f => node(PFilter(toExpr(f, base.output), base)))
        projection match {
          case Some(idxs) => PProject(named(idxs.map(at(base.output, _, "read mask field"))), filtered)
          case None => filtered
        }

      // a window function's partition/order attributes are the very
      // attributes that flow downstream (pass-throughs keep their exprId),
      // so a second window/aggregate over the same key reuses the exchange
      case Rel.Project(input, exprs) =>
        val in = build(input)
        node(PProject(named(exprs.map(toExpr(_, in.output))), in))

      case Rel.Filter(input, cond) =>
        val in = build(input)
        node(PFilter(toExpr(cond, in.output), in))

      case Rel.Fetch(input, offset, count) =>
        val in = build(input)
        val off = if (offset > 0) Offset(Literal(offset.toInt), in) else in
        // count=0 is the reference's encoding of "no fetch" (producer.rs:147-150)
        node(if (count > 0) Limit(Literal(count.toInt), off) else off)

      case Rel.Sort(input, sorts) =>
        val in = build(input)
        node(PSort(sorts.map(s => sortOrder(toExpr(s.expr, in.output), s.direction,
          "sort direction")), global = true, in))

      case Rel.Join(left, right, expression, joinType) =>
        val l = build(left); val r = build(right)
        node(Join(l, r, catalystJoinType(joinType),
          Some(toExpr(expression, l.output ++ r.output)), JoinHint.NONE))

      case Rel.Cross(left, right) =>
        val l = build(left); val r = build(right)
        // A cross against a PROVABLY one-row side is the producer's lifted
        // scalar subquery (Producer.scala lifting: global Aggregate, maybe
        // under Projects). Rebuild it as scalar-subquery columns instead
        // of a physical join: the subquery value computes ONCE and lands in
        // the probe expression as a literal, where a 1-row broadcast
        // nested-loop join would re-evaluate the build row per PROBE row —
        // measured 100×+ on a bloom probe over a fact table. Exactly-one-row
        // makes the rewrite semantics-identical (constant columns).
        def oneRow(rel: Rel): Boolean = rel match {
          // a global aggregate encodes as zero grouping sets OR one empty set
          case Rel.Aggregate(_, groupings, _) => groupings.flatten.isEmpty
          case Rel.Project(in, _) => oneRow(in)
          case _ => false
        }
        node(if (oneRow(right))
          PProject(l.output ++ r.output.map(a =>
            Alias(ScalarSubquery(PProject(Seq(a), r)), a.name)()), l)
        else Join(l, r, cp.Cross, None, JoinHint.NONE))

      case Rel.Aggregate(input, groupings, measures) => buildAggregate(input, groupings, measures)

      case Rel.ExtGenerate(input, gen, arg, outer, genArity) =>
        val in = build(input)
        val c = toExpr(arg, in.output)
        val g = gen match {
          case "explode" => Explode(c)
          case "posexplode" => PosExplode(c)
          case "inline" => Inline(c)
          case _ => notImplemented(s"generator ${(gen, outer)}")
        }
        // output schema is input columns ++ generator columns (one
        // multi-alias), matching the producer's attrs; the analyzer turns
        // the Project into a Generate
        val names = Seq.tabulate(genArity)(j => s"_${in.output.size + j}")
        node(PProject(in.output :+ MultiAlias(if (outer) GeneratorOuter(g) else g, names), in))

      case Rel.ExtExchange(input, exprs, num, shuffle, rangeDirs) =>
        val in = build(input)
        val es = exprs.map(toExpr(_, in.output))
        val n = if (num > 0) Some(num) else None
        node(
          if (rangeDirs.nonEmpty)
            RepartitionByExpression(es.zip(rangeDirs).map { case (e, d) =>
              sortOrder(e, d, "range partition direction") }, in, n, None)
          else if (es.nonEmpty) RepartitionByExpression(es, in, n, None)
          else if (!shuffle) Repartition(math.max(num, 1), shuffle = false, in)
          else if (num > 0) Repartition(num, shuffle = true, in)
          else in)

      case Rel.ExtSample(input, lo, hi, wr, seed) =>
        val in = build(input)
        // Dataset.sample has no lower bound; Spark's own Sample node does —
        // reconstruct via the internal fraction on the standard API surface
        if (lo != 0.0) notImplemented("sample with non-zero lower bound")
        node(Sample(0.0, hi, wr, seed, in))

      case Rel.ExtHint(input, hint) =>
        val in = build(input)
        // the analyzer's join-strategy hint lookup: the canonical names the
        // producer writes (broadcast / merge / shuffle_hash /
        // shuffle_replicate_nl) and their aliases resolve; an unknown name
        // is dropped with Spark's own warning
        JoinStrategyHint.strategies.find(_.hintAliases.exists(_.equalsIgnoreCase(hint))) match {
          case Some(s) => ResolvedHint(in, HintInfo(strategy = Some(s)))
          case None => SQLConf.get.hintErrorHandler.hintNotRecognized(hint, Nil); in
        }

      case Rel.ExtSessionWindow(input, tsField, gapMicros, gapExpr) =>
        val in = build(input)
        if (tsField < 0 || tsField >= in.output.size)
          internalErr(s"session ts field $tsField out of range")
        if (gapExpr.isEmpty && gapMicros <= 0L)
          internalErr(s"non-positive session gap $gapMicros")
        if (gapExpr.isDefined && gapMicros != 0L)
          internalErr("session gap carries both literal and dynamic forms")
        // rebuilding the projection with session_window() re-fires Spark's
        // SessionWindowing analysis: the projected attribute carries the
        // session marker metadata, so an AggregateRel grouping on it above
        // plans the session-merging aggregate (MergingSessions) — verified
        // equal to the direct groupBy(session_window(..)) form. A dynamic
        // gap rebuilds as session_window(ts, CAST(strExpr AS INTERVAL)) —
        // the same CalendarIntervalType Spark's analyzer derives from the
        // user's string gap column, which also re-adds the end > start
        // guard for non-positive per-row gaps.
        val gap = gapExpr match {
          case Some(ge) => cast(toExpr(ge, in.output), CalendarIntervalType)
          case None => Literal(s"$gapMicros microseconds")
        }
        // built unresolved on purpose: a resolved session_window would make
        // the Project resolved and skip that analysis
        node(PProject(in.output :+ Alias(UnresolvedFunction(Seq("session_window"),
          Seq(in.output(tsField), gap), isDistinct = false), s"_${in.output.size}")(), in))

      case Rel.ExtIteration(input, bodyPlan, maxIters, checkFixpoint,
                            requireFixpoint) =>
        // The one EAGER rel: iteration must materialize each generation
        // (every round's plan references the previous round's OUTPUT, and
        // leaving rounds lazy would stack an exponentially re-evaluated
        // lineage). Materialization honors the session's reliability knob:
        // when a checkpoint dir is CONFIGURED on the context (the standard
        // Spark contract for fault-tolerant truncation — what
        // Dedup.connectedComponents(checkpointDir=…) sets), rounds use
        // reliable `checkpoint` and survive executor loss; otherwise
        // `localCheckpoint`, the fast path for converge-in-seconds loops.
        // Round 15 REFUTATION pinned here: materializing rounds with
        // `persist` instead (so the next round's join could reuse the
        // cached partitioning) was tried and is WRONG for foreign bodies —
        // persist does not truncate lineage, and a body that references
        // the state relation k times (CC's pointer-doubling hop binds it
        // 3x per step, 9x per double-hop round) grows the analyzed plan
        // ~k^rounds: ConnectedComponentsSpec OOM'd inside explainString
        // before round 25. Rounds MUST be lineage-truncating; the
        // static-side exchange is instead eliminated by the CALLER caching
        // its loop-invariant frame pre-partitioned on the join key (see
        // Dedup.graphRank), which survives as an InMemoryRelation leaf
        // inside every consumed round's plan.
        if (maxIters < 1 || maxIters > 1000)
          internalErr(s"iteration maxIters out of range: $maxIters")
        Validator.validateOrThrow(bodyPlan)
        // the knob is scoped per-consume when the caller passed one:
        // setCheckpointDir is sticky on the context, so inferring from it
        // alone would silently upgrade every later iteration in the same
        // session to reliable disk rounds after ONE caller configures a dir
        val reliable = reliableIteration.getOrElse(
          spark.sparkContext.getCheckpointDir.isDefined)
        if (reliable && spark.sparkContext.getCheckpointDir.isEmpty)
          internalErr("reliable iteration checkpoints requested but no " +
            "checkpoint dir is configured on the SparkContext")
        // a checkpoint keeps its frame's output exprIds, so a state passing
        // a read's attribute through would share it with that table's read
        // in the next round's body. Renaming gives fresh exprIds; a NEW name
        // keeps the optimizer from dropping the alias (and the checkpoint's
        // constraints from landing on the old exprIds).
        def materialize(df: org.apache.spark.sql.DataFrame) = {
          val fresh = df.toDF(df.columns.toIndexedSeq.map(_ + "_"): _*)
          if (reliable) fresh.checkpoint(true) else fresh.localCheckpoint(true)
        }
        // a localCheckpoint pins MEMORY_AND_DISK blocks until the RDD is
        // garbage-collected, and a reliable checkpoint leaves rdd-N
        // directories on disk until the context stops; over a long
        // multi-query session (or under a small heap) the superseded
        // generations of every consumed iteration accumulate — the measured
        // source of single-JVM interference and of d17's constrained-heap
        // surcharge. Each round's OLD state is provably dead once the next
        // is materialized and the fixpoint check has read it (the final
        // state is returned and never released here), so free its blocks —
        // or delete its checkpoint files — eagerly.
        def pinnedRdd(df: org.apache.spark.sql.DataFrame)
            : Option[org.apache.spark.rdd.RDD[_]] =
          df.queryExecution.analyzed match {
            case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
            case _ => None
          }
        def release(df: org.apache.spark.sql.DataFrame): Unit =
          if (!reliable) pinnedRdd(df).foreach(_.unpersist(blocking = false))
          else // superseded round: its rdd-N checkpoint dir is never re-read
            for (r <- pinnedRdd(df); p <- r.getCheckpointFile) {
              val path = new org.apache.hadoop.fs.Path(p)
              path.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(path, true)
            }
        val init = build(input)
        val width = init.output.size
        var state = materialize(ColumnBridge.analyzed(spark, init))
        var k = 0
        var done = false
        while (k < maxIters && !done) {
          val next0 = consumeInternal(spark, bodyPlan,
            binding = Some(state), validate = false,
            reliableIteration = reliableIteration)
          if (next0.columns.length != width)
            internalErr(s"iteration body arity ${next0.columns.length} != " +
              s"state arity $width (the body must be schema-preserving)")
          val next = materialize(next0)
          // observed AFTER materialization so the adaptive plan is final
          val hook = Consumer.roundPlanHook
          if (hook != null) hook(next0)
          if (checkFixpoint) {
            import org.apache.spark.sql.functions.{col, lit, sum}
            // exact multiset fixpoint in ONE job: union with +1/−1 weights,
            // group on the full row — any group with a nonzero weight sum is
            // a difference in either direction (two exceptAll passes would
            // pay two shuffles per round for the same answer)
            val cols = next.columns.toIndexedSeq
            val prev = state.toDF(cols: _*)
            done = next.withColumn("__w", lit(1L))
              .unionAll(prev.withColumn("__w", lit(-1L)))
              .groupBy(cols.map(col): _*)
              .agg(sum(col("__w")).as("__d"))
              .filter(col("__d") =!= 0L)
              .isEmpty
          }
          release(state) // superseded generation — last read by the check above
          state = next
          k += 1
        }
        // divergence guard: a foreign body plan's algebra may not converge —
        // with requireFixpoint the plan asked for the fixpoint, so handing
        // back a non-converged last state would be a silent wrong answer
        if (requireFixpoint && checkFixpoint && !done)
          internalErr(s"iteration exhausted maxIters=$maxIters without " +
            "reaching the requested fixpoint (require_fixpoint is set)")
        state.queryExecution.analyzed

      case Rel.ExtStage(input, stage) =>
        val in = build(input)
        val st = Stages.registry.getOrElse(stage,
          notImplemented(s"unknown typed stage '$stage'"))
        if (in.output.size != st.inputCols.size)
          internalErr(s"stage '$stage' expects ${st.inputCols.size} input " +
            s"columns, got ${in.output.size}")
        // the stage's input contract is positional: name the columns by
        // position before rebuilding
        st.rebuild(ColumnBridge.analyzed(spark, in).toDF(st.inputCols: _*))
          .queryExecution.analyzed

      case Rel.Set(inputs, op) =>
        val ins = inputs.map(build)
        if (ins.size < 2) internalErr("SetRel needs at least two inputs")
        op match {
          case SetOp.UnionAll => node(Union(ins))
          case SetOp.UnionDistinct =>
            val u = node(Union(ins))
            node(Deduplicate(u.output, u))
          case SetOp.IntersectionMultiset => ins.reduceLeft((a, b) => node(Intersect(a, b, isAll = true)))
          case SetOp.IntersectionPrimary => ins.reduceLeft((a, b) => node(Intersect(a, b, isAll = false)))
          case SetOp.MinusMultiset => ins.reduceLeft((a, b) => node(Except(a, b, isAll = true)))
          case SetOp.MinusPrimary => ins.reduceLeft((a, b) => node(Except(a, b, isAll = false)))
          case other => notImplemented(s"set op $other")
        }
    }

    private def catalystJoinType(t: Int): cp.JoinType = t match {
      case JoinType.Inner => cp.Inner
      case JoinType.Outer => cp.FullOuter
      case JoinType.Left => cp.LeftOuter
      case JoinType.Right => cp.RightOuter
      case JoinType.Semi => cp.LeftSemi
      case JoinType.Anti => cp.LeftAnti
      case other => notImplemented(s"join type $other") // Single etc. (consumer.rs:420-425)
    }

    private def sortOrder(e: Expression, d: Int, what: String): SortOrder = d match {
      case SortDirection.AscNullsFirst => SortOrder(e, Ascending, NullsFirst, Nil)
      case SortDirection.AscNullsLast => SortOrder(e, Ascending, NullsLast, Nil)
      case SortDirection.DescNullsFirst => SortOrder(e, Descending, NullsFirst, Nil)
      case SortDirection.DescNullsLast => SortOrder(e, Descending, NullsLast, Nil)
      case other => notImplemented(s"$what $other")
    }

    /** AggregateRel: exactly one grouping set (consumer.rs:230-235); measures
      * with optional DISTINCT invocation and FILTER expression
      * (consumer.rs:242-258). FILTER p is applied as agg(when(p, x)) — null
      * rows are ignored by every supported aggregate, matching FILTER
      * semantics; count(*) FILTER p becomes count(when(p, 1)).
      */
    private def buildAggregate(input: Rel, groupings: Seq[Seq[SExpr]],
                               measures: Seq[Measure]): LogicalPlan = {
      val in = build(input)

      if (groupings.size > 1) {
        // multiple grouping sets (beyond the reference, consumer.rs:230-235).
        // Wire convention shared with the producer: the rel's group output is
        // the distinct grouping expressions in first-appearance order across
        // the sets, then measures. Runs as ONE pass — Spark's Expand feeds a
        // single hash aggregate, not one job per set.
        if (measures.isEmpty) notImplemented("multiple grouping sets without measures")
        val union = groupings.flatten.distinct
        val base = node(PProject(in.output ++ union.zipWithIndex.map { case (e, j) =>
          Alias(toExpr(e, in.output), s"_$j")() }, in))
        val keys = base.output.drop(in.output.size)
        val sets = groupings.map(_.map(e => keys(union.indexOf(e))))
        // a `grouping` MEASURE (reference consumer.rs:383-415 accepts the
        // name) must reference the grouping-set KEY — Spark's grouping()
        // resolves only against the groupingSets expressions
        val aggs = measureExprs(measures, in.output, union.size,
          e => union.indexOf(e) match {
            case -1 => None
            case i => Some(keys(i))
          })
        // trailing i32 grouping-set index (wire convention): recovered from
        // Spark's grouping_id() bitmask over the union columns — bit j (MSB
        // first) set when union column j is aggregated-out of the set
        val masks: Seq[Long] = groupings.map { g =>
          union.zipWithIndex.collect {
            case (e, j) if !g.contains(e) => 1L << (union.size - 1 - j)
          }.sum
        }
        val gid = GroupingID(keys)
        val setIdx = cast(CaseWhen(masks.zipWithIndex.map { case (m, i) =>
          (EqualTo(gid, Literal(m)), Literal(i)) }), IntegerType)
        return node(Aggregate(Seq(GroupingSets(sets, keys)),
          keys ++ aggs :+ Alias(setIdx, s"_${keys.size + aggs.size}")(), base))
      }

      val groups = named(groupings.headOption.getOrElse(Nil).map(toExpr(_, in.output)))

      if (measures.isEmpty) {
        // DISTINCT-as-groupBy (consumer side of producer.rs:203-222)
        val keys = node(PProject(groups, in))
        return node(Deduplicate(keys.output, keys))
      }

      val groupExprs = groups.map {
        case a: Alias => a.child
        case a => a
      }
      node(Aggregate(groupExprs, groups ++ measureExprs(measures, in.output, groups.size), in))
    }

    /** measure → named aggregate expression; FILTER p becomes
      * agg(when(p, x)). `groupingResolve` rebinds a `grouping` measure's
      * argument to the grouping-set key (multi-groupings path only — with
      * a single grouping Spark rejects grouping() itself, loudly, as does
      * DataFusion).
      */
    private def measureExprs(measures: Seq[Measure], in: Seq[Attribute], from: Int,
                             groupingResolve: SExpr => Option[Expression] =
                               _ => None): Seq[NamedExpression] =
      measures.zipWithIndex.map { case (m, j) =>
        val fname = name(m.function.functionReference).toLowerCase
        // grouping() is structural, not data-dependent: a FILTER clause
        // would wrap the rebound grouping column in when(p, col) and break
        // resolution against the grouping sets — reject loudly
        if (fname == "grouping" && m.filter.isDefined)
          notImplemented("grouping measure with a FILTER clause")
        val rawArgs =
          if (fname == "grouping")
            m.function.args.map(e => groupingResolve(e).getOrElse(toExpr(e, in)))
          else m.function.args.map(toExpr(_, in))
        val args = m.filter match {
          case Some(f) =>
            val p = toExpr(f, in)
            if (rawArgs.isEmpty) Seq(CaseWhen(Seq(p -> Literal(1))))
            else rawArgs.map(a => CaseWhen(Seq(p -> a)))
          case None => if (rawArgs.isEmpty) Seq(Literal(1)) else rawArgs
        }
        val distinct = m.function.invocation == AggInvocation.Distinct
        Alias(aggExpr(fname, args, distinct), s"_${from + j}")()
      }

    /** A measure's aggregate: the core aggregates, the kernel table's and
      * the structural ones as Catalyst nodes, the rest as registry calls
      * under their Spark names ([[Producer.aggregateNames]] renames the
      * DataFusion 15 names, consumer.rs:383-415 / SURVEY.md §2.4 A2). All
      * run as native partial-agg (map-side combine) operators.
      */
    private def aggExpr(fname: String, args: Seq[Expression], distinct: Boolean): Expression = {
      def agg(f: AggregateFunction, d: Boolean = distinct) = f.toAggregateExpression(d)
      (fname, distinct) match {
        case ("count", true) => agg(Count(args))
        case ("count", false) => agg(Count(args.take(1)))
        case ("sum", _) => agg(Sum(args.head))
        case ("min", _) => agg(Min(args.head), d = false) // DISTINCT is a no-op for min/max
        case ("max", _) => agg(Max(args.head), d = false)
        case ("avg" | "mean", false) => agg(Average(args.head))
        // exact discrete percentile; the ASC-only contract is enforced by
        // the producer (the DESC flag has no wire form). The SQL registry's
        // builder takes only the percentage (WITHIN GROUP supplies the sort
        // child via the parser), so consume through a direct constructor.
        case (n @ ("percentile_disc" | "percentile_disc_desc"), false) =>
          agg(new PercentileDisc(args(0), args(1), reverse = n == "percentile_disc_desc"))
        // mode's within-group tie ordering, carried in the name (round 8)
        case (n @ ("mode_asc" | "mode_desc"), false) =>
          agg(Mode(args(0), 0, 0, Some(n == "mode_desc")))
        case (n, false) if Kernels.aggregates.contains(n) => kernel(Kernels.aggregates(n), args)
        case (n @ ("first" | "first_ignore_nulls"), false) => agg(First(args.head, n != "first"))
        case (n @ ("last" | "last_ignore_nulls"), false) => agg(Last(args.head, n != "last"))
        case ("grouping", false) => Grouping(args.head)
        // array_agg(DISTINCT x) = the distinct value set in unspecified
        // order — exactly collect_set's contract
        case ("array_agg", true) => fn("collect_set", args.take(1))
        case (n, true) => notImplemented(s"DISTINCT aggregate $n")
        case ("approx_median", false) =>
          fn("percentile_approx", Seq(args.head, Literal(0.5), Literal(10000)))
        case (n, false) => Producer.sparkAggName(n) match {
          case "percentile_approx" =>
            fn("percentile_approx", Seq(args(0), args(1),
              if (args.size > 2) args(2) else Literal(10000)))
          case s if registryAggregates.contains(s) => fn(s, args)
          case _ => notImplemented(s"aggregate function $n")
        }
      }
    }

    /** A [[Kernels]] table entry built straight from its bound arguments
      * (a bad constructor argument is the plan's fault). */
    private def kernel(build: Kernels.Builder, args: Seq[Expression]): Expression =
      try build(args)
      catch { case e: IllegalArgumentException => notImplemented(e.getMessage) }

    /** A session-registry function (what `call_function` builds, without
      * re-parsing the name), looked up as the analyzer would once its
      * arguments are resolved; a lookup that still needs coercion leaves
      * its node to be analyzed. An unresolved argument (a lambda, say)
      * leaves it an `UnresolvedFunction` for that analysis. */
    private def fn(name: String, args: Seq[Expression]): Expression =
      Option.when(args.forall(_.resolved))(ColumnBridge.function(spark, name, args)).flatten
        .getOrElse(UnresolvedFunction(Seq(name), args, isDistinct = false))

    /** `child[key]` as the analyzer resolves it: a struct field, array
      * item or map value by the child's type, left to the analyzer while
      * the child is unresolved. */
    private def extract(child: Expression, key: Expression): Expression =
      if (child.resolved) ExtractValue(child, key, SQLConf.get.resolver)
      else UnresolvedExtractValue(child, key)

    private def cast(e: Expression, t: DataType): Expression =
      Cast(e, t, Option(SQLConf.get.sessionLocalTimeZone))

    private def litString(e: SExpr): String = e match {
      case SExpr.Lit(LitVal.LStr(s)) => s
      case other => notImplemented(s"expected string literal, got $other")
    }
    /** raw literal value (for lag/lead default arguments) */
    private def lit2(e: SExpr): Any = e match {
      case SExpr.Lit(v) => v match {
        case LitVal.LNull(_) => null
        case LitVal.LBool(b) => b
        case LitVal.LI8(i) => i.toByte
        case LitVal.LI16(i) => i.toShort
        case LitVal.LI32(i) => i
        case LitVal.LI64(i) => i
        case LitVal.LFp32(f) => f
        case LitVal.LFp64(d) => d
        case LitVal.LStr(s) => s
        case other => notImplemented(s"lag/lead default literal $other")
      }
      case other => notImplemented(s"expected literal, got $other")
    }

    /** optional trailing boolean-literal argument (default false) */
    private def litBool(args: Seq[SExpr], i: Int): Boolean =
      if (i < args.size) args(i) match {
        case SExpr.Lit(LitVal.LBool(b)) => b
        case other => notImplemented(s"expected boolean literal, got $other")
      } else false

    private def litInt(e: SExpr): Int = e match {
      case SExpr.Lit(LitVal.LI8(v)) => v
      case SExpr.Lit(LitVal.LI16(v)) => v
      case SExpr.Lit(LitVal.LI32(v)) => v
      case SExpr.Lit(LitVal.LI64(v)) => v.toInt
      case other => notImplemented(s"expected integer literal, got $other")
    }

    // lambda-variable bindings for the __lambda/__lambda_var wire convention:
    // slots are assigned in depth-first scope order, mirroring the producer
    private val lambdaEnv = mutable.Map.empty[Int, Expression]
    private var lambdaDepth = 0

    /** (arity, body) of a wire lambda __lambda(arity, body), None if not one */
    private def wireLambda(e: SExpr): Option[(Int, SExpr)] = e match {
      case SExpr.ScalarFn(ref, Seq(arity, body)) if extMap.get(ref).contains("__lambda") =>
        Some((litInt(arity), body))
      case _ => None
    }

    private def freshVar(n: String): UnresolvedNamedLambdaVariable =
      UnresolvedNamedLambdaVariable(Seq(UnresolvedNamedLambdaVariable.freshVarName(n)))

    /** A wire lambda as a LambdaFunction over fresh variables (x, y, z),
      * bound to the next slots while its body converts. */
    private def lambda(arity: Int, body: SExpr, in: Seq[Attribute]): Expression = {
      if (arity < 1 || arity > 3) notImplemented(s"lambda arity $arity")
      val xs = Seq("x", "y", "z").take(arity).map(freshVar)
      val base = lambdaDepth
      xs.zipWithIndex.foreach { case (x, i) => lambdaEnv(base + i) = x }
      lambdaDepth += arity
      try LambdaFunction(toExpr(body, in), xs)
      finally {
        lambdaDepth -= arity
        xs.indices.foreach(i => lambdaEnv.remove(base + i))
      }
    }

    /** FieldRef ordinals index the flattened child output; for joins that
      * is left.output ++ right.output (consumer.rs:282-317). */
    private def toExpr(e: SExpr, in: Seq[Attribute]): Expression = e match {
      case SExpr.FieldRef(i) => at(in, i)

      case SExpr.NestedRef(i, path) =>
        // walk the struct ordinals (ordinal-addressed per spec)
        path.foldLeft(at(in, i, "nested reference base"): Expression) { (c, ord) =>
          c.dataType match {
            case st: StructType if ord >= 0 && ord < st.fields.length =>
              GetStructField(c, ord, Some(st.fields(ord).name))
            case other =>
              notImplemented(s"nested reference ordinal $ord into ${other}")
          }
        }

      case SExpr.Lit(v) => literal(v)

      case SExpr.Cast(t, _, x) => cast(toExpr(x, in), sparkType(t))

      case SExpr.IfThen(clauses, elseExpr) =>
        // base-expression CASE arrives as a first clause with then=None
        // (consumer.rs:474-489)
        val (base, rest) = clauses match {
          case IfClause(b, None) +: tail => (Some(toExpr(b, in)), tail)
          case _ => (None, clauses)
        }
        if (rest.isEmpty) notImplemented("CASE without WHEN clauses")
        val branches = rest.map {
          case IfClause(c, Some(v)) =>
            val cond = base match {
              case Some(b) => EqualTo(b, toExpr(c, in))
              case None => toExpr(c, in)
            }
            (cond, toExpr(v, in))
          case IfClause(_, None) => notImplemented("misplaced base clause in CASE")
        }
        CaseWhen(branches, elseExpr.map(toExpr(_, in)))

      case w: SExpr.WindowFn => window(w, in)

      case SExpr.ScalarFn(ref, args) =>
        def x(i: Int) = toExpr(args(i), in)
        def all = args.map(toExpr(_, in))
        def pattern(prefix: String) = Literal(prefix + litString(args(1)))
        name(ref) match {
          // comparisons, arithmetic, boolean ops and null tests of
          // name_to_op's 26 operators (consumer.rs:37-71)
          case "equal" => EqualTo(x(0), x(1))
          case "not_equal" => Not(EqualTo(x(0), x(1)))
          case "lt" => LessThan(x(0), x(1))
          case "lte" => LessThanOrEqual(x(0), x(1))
          case "gt" => GreaterThan(x(0), x(1))
          case "gte" => GreaterThanOrEqual(x(0), x(1))
          case "add" => Add(x(0), x(1))
          // accept the reference's "substract" typo (producer.rs:297)
          case "subtract" | "substract" => Subtract(x(0), x(1))
          case "multiply" => Multiply(x(0), x(1))
          case "divide" => Divide(x(0), x(1))
          case "mod" | "modulo" => Remainder(x(0), x(1))
          case "and" => And(x(0), x(1))
          case "or" => Or(x(0), x(1))
          case "not" => Not(x(0))
          case "is_null" => IsNull(x(0))
          case "is_not_null" => IsNotNull(x(0))
          case "is_distinct_from" => Not(EqualNullSafe(x(0), x(1)))
          case "is_not_distinct_from" => EqualNullSafe(x(0), x(1))
          case "negate" => UnaryMinus(x(0))
          case "like" => Like(x(0), pattern(""), '\\')
          case "not_like" => Not(Like(x(0), pattern(""), '\\'))
          case "regex_match" => RLike(x(0), pattern(""))
          case "regex_imatch" => RLike(x(0), pattern("(?i)"))
          case "regex_not_match" => Not(RLike(x(0), pattern("")))
          case "regex_not_imatch" => Not(RLike(x(0), pattern("(?i)")))
          case "bitwise_and" => BitwiseAnd(x(0), x(1))
          case "bitwise_or" => BitwiseOr(x(0), x(1))
          case "bitwise_xor" => BitwiseXor(x(0), x(1))
          case "str_concat" => Concat(all)
          case "coalesce" => Coalesce(all)
          case "array" => CreateArray(all)
          case "map" => CreateMap(all)
          case "get_array_item" | "get_map_value" => extract(x(0), x(1))
          // struct field access (producer's get_field extension): the field
          // name is a string literal
          case "get_field" => args(1) match {
            case SExpr.Lit(LitVal.LStr(f)) => extract(x(0), Literal(f))
            case other => notImplemented(s"get_field name $other")
          }
          case "get_array_field" => args(1) match {
            case SExpr.Lit(LitVal.LStr(f)) =>
              val v = freshVar("x")
              fn("transform", Seq(x(0), LambdaFunction(UnresolvedExtractValue(v, Literal(f)),
                Seq(v))))
            case other => notImplemented(s"get_array_field name $other")
          }
          // integer division — registry-resolved so operand types drive the
          // IntegralDivide node exactly as SQL `a DIV b` would
          case "div" => fn("div", Seq(x(0), x(1)))
          case "raise_error" => fn("raise_error", Seq(x(0)))
          case "bitwise_shift_right" => fn("shiftright", Seq(x(0), x(1)))
          case "bitwise_shift_left" => fn("shiftleft", Seq(x(0), x(1)))

          // higher-order functions: lambda args arrive as __lambda(arity,
          // body) and bind positionally
          case "__lambda" => notImplemented("lambda outside a higher-order function")
          case "__lambda_var" =>
            lambdaEnv.getOrElse(litInt(args.head),
              internalErr(s"lambda variable slot ${litInt(args.head)} unbound"))
          case n if Producer.hofFns.contains(n) &&
              (n != "array_sort" || args.size == 2 && wireLambda(args(1)).isDefined) =>
            fn(n, args.map(a => wireLambda(a).fold(toExpr(a, in)) {
              case (arity, body) => lambda(arity, body, in)
            }))

          case n => Kernels.scalars.get(n) match {
            case Some(build) => kernel(build, all)
            // named scalar functions (Producer.namedScalarFns) resolve
            // through the session function registry
            case None if Producer.namedScalarFns.contains(n) => fn(n, all)
            case None => notImplemented(s"scalar function $n")
          }
        }
    }

    /** A window function over its spec, in the form `Column.over` builds:
      * ranking/offset functions take no frame, the rest the frame
      * `rowsBetween`/`rangeBetween` build from the wire bounds. A Project
      * holding one is unresolved, so the analyzer extracts the Window. */
    private def window(w: SExpr.WindowFn, in: Seq[Attribute]): Expression = {
      val SExpr.WindowFn(ref, args, partitions, sorts, lower, upper, rowFrame) = w
      def x(i: Int) = toExpr(args(i), in)
      val orders = sorts.map(s =>
        sortOrder(toExpr(s.expr, in), s.direction, "window sort direction"))
      // Long.MinValue/MaxValue are unbounded, 0 the current row; a row
      // offset is an int literal, a range offset a long one
      def bound(b: WBound, isLower: Boolean): Expression = (b match {
        case WBound.Unbounded => if (isLower) Long.MinValue else Long.MaxValue
        case WBound.CurrentRow => 0L
        case WBound.Preceding(n) => -n
        case WBound.Following(n) => n
      }) match {
        case 0L => CurrentRow
        case Long.MinValue if isLower => UnboundedPreceding
        case Long.MaxValue if !isLower => UnboundedFollowing
        case v if !rowFrame => Literal(v)
        case v if v.isValidInt => Literal(v.toInt)
        case v => notImplemented(s"row frame offset $v")
      }
      val fname = name(ref).toLowerCase
      val ranking = Set("row_number", "rank", "dense_rank", "percent_rank",
        "cume_dist", "ntile", "lag", "lead")
      val frame =
        if (ranking.contains(fname)) UnspecifiedFrame
        else SpecifiedWindowFrame(if (rowFrame) RowFrame else RangeFrame,
          bound(lower, isLower = true), bound(upper, isLower = false))
      val f = fname match {
        case "row_number" | "rank" | "dense_rank" | "percent_rank" | "cume_dist" =>
          fn(fname, Nil)
        case "ntile" => fn(fname, Seq(Literal(litInt(args.head))))
        case "lag" | "lead" =>
          val off = if (args.size > 1) litInt(args(1)) else 1
          val default = if (args.size > 2) lit2(args(2)) else null
          fn(fname, Seq(x(0), Literal(off), Literal(default), Literal(false)))
        case "first_value" => fn("first", Seq(x(0), Literal(litBool(args, 1))))
        case "last_value" => fn("last", Seq(x(0), Literal(litBool(args, 1))))
        case "nth_value" =>
          fn(fname, Seq(x(0), Literal(litInt(args(1))), Literal(litBool(args, 2))))
        case aggName => aggExpr(aggName, args.map(toExpr(_, in)), distinct = false)
      }
      WindowExpression(f, WindowSpecDefinition(partitions.map(toExpr(_, in)), orders, frame))
    }

    /** LitVal → external row value for LocalRelation rows (VirtualTable) */
    private def litExternal(v: LitVal): Any = v match {
      case LitVal.LBool(b) => b
      case LitVal.LI8(i) => i.toByte
      case LitVal.LI16(i) => i.toShort
      case LitVal.LI32(i) => i
      case LitVal.LI64(i) => i
      case LitVal.LFp32(f) => f
      case LitVal.LFp64(d) => d
      case LitVal.LStr(s) => s
      case LitVal.LBin(b) => b
      case LitVal.LDate(days) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
      case LitVal.LTime(us) =>
        java.time.LocalTime.ofNanoOfDay(us * 1000L)
      case LitVal.LTimestamp(us) =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case LitVal.LTimestampTz(us) =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case LitVal.LDecimal(bytesLE, _, s) =>
        new java.math.BigDecimal(new java.math.BigInteger(bytesLE.reverse), s)
      case LitVal.LIntervalDay(d, s, us) =>
        java.time.Duration.ofSeconds(d.toLong * 86400L + s)
          .plusNanos(us.toLong * 1000L)
      case LitVal.LIntervalYear(y, m) =>
        java.time.Period.ofYears(y).plusMonths(m.toLong.toInt)
      case LitVal.LNull(_) => null
      case LitVal.LList(_, vs) => vs.map(litExternal)
      case LitVal.LMap(_, _, es) =>
        es.map { case (k, v) => litExternal(k) -> litExternal(v) }.toMap
    }

    /** LitVal → Catalyst literal, in the internal form `functions.lit` builds */
    private def literal(v: LitVal): Expression = v match {
      case LitVal.LDate(days) => Literal(days, DateType)
      case LitVal.LTimestamp(us) => Literal(us, TimestampNTZType)
      case LitVal.LTimestampTz(us) => Literal(us, TimestampType)
      case LitVal.LIntervalDay(d, s, us) =>
        Literal((d.toLong * 86400L + s) * 1000000L + us, DayTimeIntervalType())
      case LitVal.LIntervalYear(y, m) => Literal(y * 12 + m, YearMonthIntervalType())
      case LitVal.LDecimal(_, p, s) => cast(Literal(litExternal(v)), DecimalType(p, s))
      case LitVal.LNull(t) => Literal(null, sparkType(t))
      case LitVal.LList(et, vs) =>
        // ONE catalyst Literal, not a CreateArray of |vs| literal children
        // that every analyzer pass re-walks (a consumed s11 codebook cost
        // ~0.9 s that way: OPTIMIZATION_r15.md "Wire consume: array
        // literals"); CreateArray stays as the fallback for rejected values.
        try Literal.create(litExternal(v), ArrayType(sparkType(et)))
        catch { case scala.util.control.NonFatal(_) =>
          cast(CreateArray(vs.map(literal)), ArrayType(sparkType(et))) }
      case LitVal.LMap(kt, vt, es) =>
        cast(CreateMap(es.flatMap { case (k, x) => Seq(literal(k), literal(x)) }),
          MapType(sparkType(kt), sparkType(vt)))
      case other => Literal(litExternal(other))
    }
  }

  // ---------------------------------------------------------------------- types
  def sparkType(t: SType): DataType = t match {
    case SType.SBool => BooleanType
    case SType.SI8 => ByteType
    case SType.SI16 => ShortType
    case SType.SI32 => IntegerType
    case SType.SI64 => LongType
    case SType.SFp32 => FloatType
    case SType.SFp64 => DoubleType
    case SType.SStr => StringType
    case SType.SBin => BinaryType
    case SType.SDate => DateType
    // substrait time is microsecond-precision time of day (consuming TIME
    // needs Spark 4.1's spark.sql.timeType.enabled flag on)
    case SType.STime => org.apache.spark.sql.types.TimeType(6)
    case SType.STimestamp => TimestampNTZType
    case SType.STimestampTz => TimestampType
    case SType.SIntervalDay => DayTimeIntervalType()
    case SType.SIntervalYear => YearMonthIntervalType()
    case SType.SDecimal(p, s) => DecimalType(p, s)
    case SType.SList(e, n) => ArrayType(sparkType(e), n)
    case SType.SMap(k, v, vn) => MapType(sparkType(k), sparkType(v), vn)
    case SType.SStruct(names, fields) =>
      StructType(names.zip(fields).map { case (n, (t, nul)) =>
        StructField(n, sparkType(t), nul)
      })
  }
}
