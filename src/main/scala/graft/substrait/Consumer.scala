package graft.substrait

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import model._

/** Substrait `Plan` → Spark `DataFrame`.
  *
  * Spark-native rebuild of the reference consumer (src/consumer.rs:74-380):
  * each Rel becomes a public DataFrame-API call — `spark.table` at the leaves,
  * `.select/.filter/.join/.groupBy().agg/.orderBy/.offset/.limit` at inner
  * nodes, `.toDF(rootNames)` at the root — and Catalyst then analyzes,
  * optimizes (pushdown, pruning, join strategy) and executes the result.
  *
  * Positional field references index the node's flattened output schema
  * (consumer.rs:449-468). To make that robust across joins — including
  * self-joins, where name-based resolution is ambiguous — every operator that
  * introduces columns renames them to globally unique fresh names; the
  * user-visible names are restored from `RelRoot.names` at the root
  * (consumer.rs:92-111 / SURVEY.md §7.4).
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
                              reliableIteration: Option[Boolean]): DataFrame = {
    if (validate)
      Validator.validateOrThrow(plan) // structural pre-flight: full issue report
    val extMap: Map[Int, String] =
      plan.extensions.map(e => e.functionAnchor -> e.name).toMap
    if (plan.relations.size != 1)
      internalErr(s"expected exactly one relation tree, got ${plan.relations.size}")
    val ctx = new Ctx(spark, extMap, binding, reliableIteration)
    plan.relations.head match {
      case PlanRel.Root(input, names) =>
        val b = ctx.build(input)
        if (names.nonEmpty) {
          if (names.size != b.df.columns.length)
            internalErr(s"root names arity ${names.size} != plan arity ${b.df.columns.length}")
          b.df.toDF(names: _*)
        } else b.df
      case PlanRel.RelOnly(rel) => ctx.build(rel).df
    }
  }

  private val freshCounter = new AtomicInteger(0)

  /** df whose columns (all uniquely named) are the rel's flattened output. */
  private final case class Built(df: DataFrame)

  private final class Ctx(spark: SparkSession, extMap: Map[Int, String],
                          stateBinding: Option[DataFrame] = None,
                          reliableIteration: Option[Boolean] = None) {
    private def fresh(): String = s"_s${freshCounter.incrementAndGet()}"
    private def freshNames(n: Int): Seq[String] = Seq.fill(n)(fresh())
    private def name(ref: Int): String =
      extMap.getOrElse(ref, internalErr(s"unregistered function anchor $ref"))

    def build(rel: Rel): Built = rel match {
      case Rel.Read(schema, tableNames, projection, filter, virtualRows, localFiles) =>
        val df0 = (virtualRows, localFiles) match {
          case (Some(rows), _) =>
            // VirtualTable: materialize the struct-literal rows locally —
            // a LocalRelation, exactly what the producer serialized
            val st = StructType(schema.names.zip(schema.types).map {
              case (n, (t, nul)) => StructField(n, sparkType(t), nul)
            })
            val jrows = new java.util.ArrayList[Row](rows.size)
            rows.foreach(r => jrows.add(Row.fromSeq(r.map(litExternal))))
            spark.createDataFrame(jrows, st)
          case (None, Some(items)) =>
            // LocalFiles: a file-backed scan with the DECLARED schema (the
            // wire contract, not re-inference — positional refs depend on
            // it). All items must share one format; Spark's reader accepts
            // files, globs, and folders uniformly, so pathKind collapses.
            val formats = items.map(_.format).distinct
            if (formats.size != 1)
              notImplemented(s"LocalFiles with mixed formats $formats")
            val st = StructType(schema.names.zip(schema.types).map {
              case (n, (t, nul)) => StructField(n, sparkType(t), nul)
            })
            val paths = items.map(_.path)
            val reader = spark.read.schema(st)
            formats.head match {
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
            }
          case (None, None) =>
            // the reserved iteration-state leaf binds to the current loop
            // state when consumed inside an ExtIteration; anywhere else it
            // resolves like any named table (loud if absent)
            if (tableNames == Seq(IterationStateTable) && stateBinding.isDefined)
              stateBinding.get
            else spark.table(tableNames.mkString("."))
        }
        if (schema != null && schema.names.nonEmpty &&
            schema.names.size != df0.columns.length)
          internalErr(s"table ${tableNames.mkString(".")}: plan schema arity " +
            s"${schema.names.size} != catalog arity ${df0.columns.length}")
        // scan filter references the BASE schema (pre-mask); Catalyst pushes
        // it into the parquet scan exactly as a FilterRel above would
        val filtered = filter match {
          case Some(f) => df0.filter(toColumn(f, df0))
          case None => df0
        }
        val projected = projection match {
          case Some(idxs) => filtered.select(idxs.map(i => filtered.col(df0.columns(i))): _*)
          case None => filtered
        }
        Built(projected.toDF(freshNames(projected.columns.length): _*))

      // window project (the producer's Window encoding: pass-through refs +
      // WindowFn columns): rename the pass-throughs FIRST so the window spec
      // partitions/orders by the very attributes that flow downstream. The
      // generic path would resolve the spec against the INPUT attributes,
      // leaving the window's exchange keyed on an attribute the next project
      // drops — alias-aware partitioning propagation cannot see through a
      // sibling copy, so a second window/aggregate over the same key would
      // pay a fresh exchange + sort (measured 2× wall on sessionization).
      case Rel.Project(input, exprs)
          if exprs.exists(_.isInstanceOf[SExpr.WindowFn]) &&
            exprs.forall(e => e.isInstanceOf[SExpr.FieldRef] ||
              e.isInstanceOf[SExpr.WindowFn]) && {
            val refs = exprs.collect { case SExpr.FieldRef(i) => i }
            refs.distinct.size == refs.size // unaliased dups would be ambiguous
          } =>
        val in = build(input)
        val cols = exprs.map {
          case SExpr.FieldRef(i) => in.df.col(in.df.columns(i))
          case e => toColumn(e, in.df).as(fresh())
        }
        Built(in.df.select(cols: _*))

      case Rel.Project(input, exprs) =>
        val in = build(input)
        val cols = exprs.map(e => toColumn(e, in.df))
        Built(in.df.select(cols.zip(freshNames(cols.size)).map { case (c, n) => c.as(n) }: _*))

      case Rel.Filter(input, cond) =>
        val in = build(input)
        Built(in.df.filter(toColumn(cond, in.df)))

      case Rel.Fetch(input, offset, count) =>
        val in = build(input)
        val off = if (offset > 0) in.df.offset(offset.toInt) else in.df
        // count=0 is the reference's encoding of "no fetch" (producer.rs:147-150)
        Built(if (count > 0) off.limit(count.toInt) else off)

      case Rel.Sort(input, sorts) =>
        val in = build(input)
        val cols = sorts.map { s =>
          val c = toColumn(s.expr, in.df)
          s.direction match {
            case SortDirection.AscNullsFirst => c.asc_nulls_first
            case SortDirection.AscNullsLast => c.asc_nulls_last
            case SortDirection.DescNullsFirst => c.desc_nulls_first
            case SortDirection.DescNullsLast => c.desc_nulls_last
            case other => notImplemented(s"sort direction $other")
          }
        }
        Built(in.df.orderBy(cols: _*))

      case Rel.Join(left, right, expression, joinType) =>
        val l = build(left); val r = build(right)
        val joined = l.df.join(r.df, toColumn(expression, l.df, Some(r.df)),
          joinTypeName(joinType))
        Built(joined)

      case Rel.Cross(left, right) =>
        val l = build(left); val r = build(right)
        // A cross against a PROVABLY one-row side is the producer's lifted
        // scalar subquery (Producer.scala lifting: global Aggregate, maybe
        // under Projects). Rebuild it as Dataset.scalar() columns instead
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
        if (oneRow(right)) {
          val scalars = r.df.columns.toSeq.map(c => r.df.select(c).scalar().as(c))
          Built(l.df.select(col("*") +: scalars: _*))
        } else Built(l.df.crossJoin(r.df))

      case Rel.Aggregate(input, groupings, measures) => buildAggregate(input, groupings, measures)

      case Rel.ExtGenerate(input, gen, arg, outer, genArity) =>
        val in = build(input)
        val c = toColumn(arg, in.df)
        val gcol = (gen, outer) match {
          case ("explode", false) => explode(c)
          case ("explode", true) => explode_outer(c)
          case ("posexplode", false) => posexplode(c)
          case ("posexplode", true) => posexplode_outer(c)
          case ("inline", false) => inline(c)
          case ("inline", true) => inline_outer(c)
          case other => notImplemented(s"generator $other")
        }
        // generated columns get fresh names via multi-alias; output schema is
        // input columns ++ generator columns, matching the producer's attrs
        Built(in.df.select(col("*"), gcol.as(freshNames(genArity))))

      case Rel.ExtExchange(input, exprs, num, shuffle, rangeDirs) =>
        val in = build(input)
        val cols = exprs.map(toColumn(_, in.df))
        Built(
          if (rangeDirs.nonEmpty) {
            val ordered = cols.zip(rangeDirs).map { case (c, d) => d match {
              case SortDirection.AscNullsFirst => c.asc_nulls_first
              case SortDirection.AscNullsLast => c.asc_nulls_last
              case SortDirection.DescNullsFirst => c.desc_nulls_first
              case SortDirection.DescNullsLast => c.desc_nulls_last
              case other => notImplemented(s"range partition direction $other")
            }}
            if (num > 0) in.df.repartitionByRange(num, ordered: _*)
            else in.df.repartitionByRange(ordered: _*)
          } else if (cols.nonEmpty)
            if (num > 0) in.df.repartition(num, cols: _*)
            else in.df.repartition(cols: _*)
          else if (!shuffle) in.df.coalesce(math.max(num, 1))
          else if (num > 0) in.df.repartition(num)
          else in.df)

      case Rel.ExtSample(input, lo, hi, wr, seed) =>
        val in = build(input)
        // Dataset.sample has no lower bound; Spark's own Sample node does —
        // reconstruct via the internal fraction on the standard API surface
        if (lo != 0.0) notImplemented("sample with non-zero lower bound")
        Built(in.df.sample(wr, hi, seed))

      case Rel.ExtHint(input, hint) =>
        val in = build(input)
        // Dataset.hint resolves through Catalyst's hint-alias table, so the
        // canonical names the producer writes (broadcast / merge /
        // shuffle_hash / shuffle_replicate_nl) all re-resolve; an unknown
        // name would be dropped with Spark's own analyzer warning
        Built(in.df.hint(hint))

      case Rel.ExtSessionWindow(input, tsField, gapMicros, gapExpr) =>
        val in = build(input)
        if (tsField < 0 || tsField >= in.df.columns.length)
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
        val tsCol = col(in.df.columns(tsField))
        val sess = gapExpr match {
          case Some(ge) =>
            session_window(tsCol, toColumn(ge, in.df).cast("interval"))
          case None => session_window(tsCol, s"$gapMicros microseconds")
        }
        Built(in.df.select(col("*"), sess.as(freshNames(1).head)))

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
        def materialize(df: org.apache.spark.sql.DataFrame) =
          if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
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
        val width = init.df.columns.length
        var state = materialize(init.df)
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
        Built(state.toDF(freshNames(width): _*))

      case Rel.ExtStage(input, stage) =>
        val in = build(input)
        val st = Stages.registry.getOrElse(stage,
          notImplemented(s"unknown typed stage '$stage'"))
        if (in.df.columns.length != st.inputCols.size)
          internalErr(s"stage '$stage' expects ${st.inputCols.size} input " +
            s"columns, got ${in.df.columns.length}")
        // wire frames carry positional fresh names; the stage's input
        // contract is positional, so rename by position before rebuilding
        Built(st.rebuild(spark, in.df.toDF(st.inputCols: _*)))

      case Rel.Set(inputs, op) =>
        val dfs = inputs.map(build(_).df)
        if (dfs.size < 2) internalErr("SetRel needs at least two inputs")
        val out = op match {
          case SetOp.UnionAll => dfs.reduceLeft(_.unionAll(_))
          case SetOp.UnionDistinct => dfs.reduceLeft(_.unionAll(_)).distinct()
          case SetOp.IntersectionMultiset => dfs.reduceLeft(_.intersectAll(_))
          case SetOp.IntersectionPrimary => dfs.reduceLeft(_.intersect(_))
          case SetOp.MinusMultiset => dfs.reduceLeft(_.exceptAll(_))
          case SetOp.MinusPrimary => dfs.reduceLeft(_.except(_))
          case other => notImplemented(s"set op $other")
        }
        Built(out)
    }

    private def joinTypeName(t: Int): String = t match {
      case JoinType.Inner => "inner"
      case JoinType.Outer => "full"
      case JoinType.Left => "left"
      case JoinType.Right => "right"
      case JoinType.Semi => "left_semi"
      case JoinType.Anti => "left_anti"
      case other => notImplemented(s"join type $other") // Single etc. (consumer.rs:420-425)
    }

    /** AggregateRel: exactly one grouping set (consumer.rs:230-235); measures
      * with optional DISTINCT invocation and FILTER expression
      * (consumer.rs:242-258). FILTER p is applied as agg(when(p, x)) — null
      * rows are ignored by every supported aggregate, matching FILTER
      * semantics; count(*) FILTER p becomes count(when(p, 1)).
      */
    private def buildAggregate(input: Rel, groupings: Seq[Seq[SExpr]],
                               measures: Seq[Measure]): Built = {
      val in = build(input)

      if (groupings.size > 1) {
        // multiple grouping sets (beyond the reference, consumer.rs:230-235).
        // Wire convention shared with the producer: the rel's group output is
        // the distinct grouping expressions in first-appearance order across
        // the sets, then measures. Runs as ONE pass — Spark's Expand feeds a
        // single hash aggregate, not one job per set.
        if (measures.isEmpty) notImplemented("multiple grouping sets without measures")
        val union = groupings.flatten.distinct
        val names = freshNames(union.size)
        val aliased = union.zip(names).map { case (e, n) => toColumn(e, in.df).as(n) }
        val base = in.df.select(col("*") +: aliased: _*)
        val sets = groupings.map(_.map(e => col(names(union.indexOf(e)))))
        // a `grouping` MEASURE (reference consumer.rs:383-415 accepts the
        // name) must reference the ALIASED grouping column — Spark's
        // grouping() resolves only against the groupingSets expressions
        val aggCols = measureCols(measures, in.df,
          e => union.indexOf(e) match {
            case -1 => None
            case i => Some(col(names(i)))
          })
        // trailing i32 grouping-set index (wire convention): recovered from
        // Spark's grouping_id() bitmask over the union columns — bit j (MSB
        // first) set when union column j is aggregated-out of the set
        val masks: Seq[Long] = groupings.map { g =>
          union.zipWithIndex.collect {
            case (e, j) if !g.contains(e) => 1L << (union.size - 1 - j)
          }.sum
        }
        val gid = grouping_id(names.map(col): _*)
        val setIdx = masks.zipWithIndex.tail
          .foldLeft(when(gid === masks.head, 0)) {
            case (acc, (m, i)) => acc.when(gid === m, i)
          }.cast("int").as(fresh())
        val grouped = base.groupingSets(sets, names.map(col): _*)
        return Built(grouped.agg(aggCols.head, (aggCols.tail :+ setIdx): _*))
      }

      val groupExprs = groupings.headOption.getOrElse(Nil).map(e => toColumn(e, in.df))

      if (measures.isEmpty) {
        // DISTINCT-as-groupBy (consumer side of producer.rs:203-222)
        val names = freshNames(groupExprs.size)
        return Built(in.df.select(groupExprs.zip(names).map { case (c, n) => c.as(n) }: _*)
          .distinct())
      }

      val groupNames = freshNames(groupExprs.size)
      val groupCols = groupExprs.zip(groupNames).map { case (c, n) => c.as(n) }
      val aggCols = measureCols(measures, in.df)
      val grouped = in.df.groupBy(groupCols: _*)
      Built(grouped.agg(aggCols.head, aggCols.tail: _*))
    }

    /** measure → named aggregate Column; FILTER p becomes agg(when(p, x)).
      * `groupingResolve` rebinds a `grouping` measure's argument to the
      * grouping-set alias column (multi-groupings path only — with a single
      * grouping Spark rejects grouping() itself, loudly, as does DataFusion).
      */
    private def measureCols(measures: Seq[Measure], df: DataFrame,
                            groupingResolve: SExpr => Option[Column] =
                              _ => None): Seq[Column] =
      measures.map { m =>
        val fname = name(m.function.functionReference).toLowerCase
        // grouping() is structural, not data-dependent: a FILTER clause
        // would wrap the rebound grouping column in when(p, col) and break
        // resolution against the grouping sets — reject loudly
        if (fname == "grouping" && m.filter.isDefined)
          notImplemented("grouping measure with a FILTER clause")
        val rawArgs =
          if (fname == "grouping")
            m.function.args.map(e => groupingResolve(e).getOrElse(toColumn(e, df)))
          else m.function.args.map(e => toColumn(e, df))
        val args = m.filter match {
          case Some(f) =>
            val p = toColumn(f, df)
            if (rawArgs.isEmpty) Seq(when(p, lit(1)))
            else rawArgs.map(a => when(p, a))
          case None => if (rawArgs.isEmpty) Seq(lit(1)) else rawArgs
        }
        val distinct = m.function.invocation == AggInvocation.Distinct
        aggColumn(fname, args, distinct).as(fresh())
      }

    /** DataFusion 15 aggregate names → Spark built-ins (consumer.rs:383-415 /
      * SURVEY.md §2.4 A2). All run as native partial-agg (map-side combine)
      * operators — no custom Aggregator needed.
      */
    private def aggColumn(fname: String, args: Seq[Column], distinct: Boolean): Column = {
      def one: Column = args.head
      if (distinct) fname match {
        case "count" => count_distinct(args.head, args.tail: _*)
        case "sum" => sum_distinct(one)
        case "min" => min(one) // DISTINCT is a no-op for min/max
        case "max" => max(one)
        // array_agg(DISTINCT x) = the distinct value set in unspecified
        // order — exactly collect_set's contract
        case "array_agg" => collect_set(one)
        case other => notImplemented(s"DISTINCT aggregate $other")
      } else fname match {
        case "count" => count(one)
        case "sum" => sum(one)
        case "min" => min(one)
        case "max" => max(one)
        case "avg" | "mean" => avg(one)
        case "median" => median(one)
        case "approx_distinct" => approx_count_distinct(one)
        case "approx_median" => percentile_approx(one, lit(0.5), lit(10000))
        case "approx_percentile_cont" =>
          val acc = if (args.size > 2) args(2) else lit(10000)
          percentile_approx(args.head, args(1), acc)
        case "array_agg" => collect_list(one)
        // exact interpolated percentile (substrait quantile/percentile_cont;
        // Spark's percentile takes an optional frequency third arg)
        case "percentile_cont" | "percentile" =>
          if (args.size > 2) percentile(args.head, args(1), args(2))
          else percentile(args.head, args(1))
        case "stddev" | "stddev_samp" => stddev_samp(one)
        case "stddev_pop" => stddev_pop(one)
        case "variance" | "var_samp" => var_samp(one)
        case "var_pop" => var_pop(one)
        case "covariance" | "covar_samp" => covar_samp(args.head, args(1))
        case "covariance_pop" | "covar_pop" => covar_pop(args.head, args(1))
        case "correlation" | "corr" => corr(args.head, args(1))
        case "grouping" => grouping(one)
        case "collect_set" => collect_set(one)
        // plain-children aggregates whose SQL-registry builders take exactly
        // the wire arguments (argmin/argmax, boolean/bit folds, robust
        // moments, linear-regression family) — no hidden flags (the producer
        // guards the two that have them: mode's within-group ordering and
        // percentile_disc DESC)
        case n @ ("max_by" | "min_by" | "bool_and" | "bool_or" | "count_if" |
                  "bit_and" | "bit_or" | "bit_xor" | "skewness" | "kurtosis" |
                  "mode" | "regr_slope" | "regr_intercept" | "regr_r2" |
                  "regr_avgx" | "regr_avgy" | "regr_count" | "every" | "any" |
                  "some") =>
          call_function(n, args: _*)
        // exact discrete percentile; the ASC-only contract is enforced by
        // the producer (the DESC flag has no wire form). The SQL registry's
        // builder takes only the percentage (WITHIN GROUP supplies the sort
        // child via the parser), so consume through a direct constructor.
        case n @ ("percentile_disc" | "percentile_disc_desc") =>
          val rev = n == "percentile_disc_desc"
          val fname = s"graft_$n"
          org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
            .createOrReplaceTempFunction(fname,
              es => new org.apache.spark.sql.catalyst.expressions.aggregate
                .PercentileDisc(es(0), es(1), reverse = rev)
                .toAggregateExpression(),
              "scala_udf")
          call_function(fname, args: _*)
        // mode's within-group tie ordering, carried in the name (round 8)
        case n @ ("mode_asc" | "mode_desc") =>
          val rev = n == "mode_desc"
          val fname = s"graft_$n"
          org.apache.spark.sql.SparkSession.active.sessionState.functionRegistry
            .createOrReplaceTempFunction(fname,
              es => new org.apache.spark.sql.catalyst.expressions.aggregate
                .Mode(es(0), 0, 0, Some(rev)).toAggregateExpression(),
              "scala_udf")
          call_function(fname, args: _*)
        case "first" => first(one)
        case "last" => last(one)
        case "first_ignore_nulls" => first(one, ignoreNulls = true)
        case "last_ignore_nulls" => last(one, ignoreNulls = true)
        // mergeable datasketches aggregates (ops.Sketches) — beyond the
        // reference's name list; arity rides as-is (value [, k/allowDiff])
        // and the names resolve through the session function registry
        case n @ ("hll_sketch_agg" | "hll_union_agg" |
                  "kll_sketch_agg_bigint" | "kll_sketch_agg_double" |
                  "kll_sketch_agg_float" | "kll_merge_agg_bigint" |
                  "kll_merge_agg_double" | "kll_merge_agg_float" |
                  "count_min_sketch") =>
          call_function(n, args: _*)
        case "bloom_filter_agg" =>
          graft.functions.BloomFunctions.ensureSessionRegistered()
          call_function("bloom_filter_agg", args: _*)
        case "cms_merge_agg" =>
          graft.functions.CmsFunctions.ensureSessionRegistered()
          call_function("cms_merge_agg", args: _*)
        case n @ ("theta_sketch_agg_long" | "theta_union_agg") =>
          graft.functions.ThetaFunctions.ensureSessionRegistered()
          call_function(n, args: _*)
        case n @ ("freq_sketch_agg_long" | "freq_merge_agg") =>
          graft.functions.FreqFunctions.ensureSessionRegistered()
          call_function(n, args: _*)
        // one-pass char-LM bigram-count fit (GraftExtensions registers it
        // for wire parity; maxEntries rides as the second, literal arg)
        case "charlm_fit_agg" =>
          graft.functions.CharLmFunctions.ensureSessionRegistered()
          call_function("charlm_fit_agg", args: _*)
        // grouped top-k (sort-free kNN shortlist; k rides as literal arg);
        // _loop = the k > 4 imperative twin, same order contract
        case n @ ("topk_by_key" | "topk_by_key_loop") =>
          graft.functions.TopKFunctions.ensureSessionRegistered()
          call_function(n, args: _*)
        case other => notImplemented(s"aggregate function $other")
      }
    }

    // ------------------------------------------------------------ expressions
    /** FieldRef ordinals index the flattened child schema; for joins that is
      * left.columns ++ right.columns (consumer.rs:282-317).
      */
    private def toColumn(e: SExpr, df: DataFrame, right: Option[DataFrame] = None): Column = {
      val cols: Seq[Column] = right match {
        case Some(r) => df.columns.map(df.col).toSeq ++ r.columns.map(r.col).toSeq
        case None => df.columns.map(df.col).toSeq
      }
      // top-level column types, needed only to resolve NestedRef ordinals to
      // struct field NAMES (the public Column.getField API is name-based)
      refTypes = right match {
        case Some(r) => df.schema.map(_.dataType).toSeq ++ r.schema.map(_.dataType).toSeq
        case None => df.schema.map(_.dataType).toSeq
      }
      toColumnRec(e, cols)
    }

    private var refTypes: Seq[org.apache.spark.sql.types.DataType] = Nil

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
    private val lambdaEnv = scala.collection.mutable.Map.empty[Int, Column]
    private var lambdaDepth = 0

    /** arity of a wire lambda (__lambda(arity, body)), None if not one */
    private def lambdaArity(e: SExpr): Option[Int] = e match {
      case SExpr.ScalarFn(ref, args)
          if extMap.get(ref).contains("__lambda") && args.size == 2 =>
        Some(litInt(args.head))
      case _ => None
    }

    /** Convert a wire lambda's body with `xs` bound to its variables. */
    private def bindLambda(e: SExpr, cols: Seq[Column], xs: Seq[Column]): Column =
      e match {
        case SExpr.ScalarFn(ref, Seq(_, body))
            if extMap.get(ref).contains("__lambda") =>
          val base = lambdaDepth
          xs.zipWithIndex.foreach { case (x, i) => lambdaEnv(base + i) = x }
          lambdaDepth += xs.size
          try toColumnRec(body, cols)
          finally {
            lambdaDepth -= xs.size
            xs.indices.foreach(i => lambdaEnv.remove(base + i))
          }
        case other => notImplemented(s"expected lambda argument, got $other")
      }

    private def toColumnRec(e: SExpr, cols: Seq[Column]): Column = e match {
      case SExpr.FieldRef(i) =>
        if (i < 0 || i >= cols.size)
          internalErr(s"field reference $i out of range ${cols.size}")
        cols(i)

      case SExpr.NestedRef(i, path) =>
        if (i < 0 || i >= cols.size)
          internalErr(s"nested reference base $i out of range ${cols.size}")
        // walk the struct ordinals, resolving each to its field name from
        // the input schema (ordinal-addressed per spec, name-accessed here)
        var dt: org.apache.spark.sql.types.DataType =
          if (i < refTypes.size) refTypes(i) else null
        path.foldLeft(cols(i)) { (c, ord) => dt match {
          case st: StructType if ord >= 0 && ord < st.fields.length =>
            val f = st.fields(ord)
            dt = f.dataType
            c.getField(f.name)
          case other =>
            notImplemented(s"nested reference ordinal $ord into ${other}")
        }}

      case SExpr.Lit(v) => literalColumn(v)

      case SExpr.Cast(t, _, in) => toColumnRec(in, cols).cast(sparkType(t))

      case SExpr.IfThen(clauses, elseExpr) =>
        // base-expression CASE arrives as a first clause with then=None
        // (consumer.rs:474-489)
        val (base, rest) = clauses match {
          case IfClause(b, None) +: tail => (Some(toColumnRec(b, cols)), tail)
          case _ => (None, clauses)
        }
        if (rest.isEmpty) notImplemented("CASE without WHEN clauses")
        val branches = rest.map {
          case IfClause(c, Some(v)) =>
            val cond = base match {
              case Some(b) => b === toColumnRec(c, cols)
              case None => toColumnRec(c, cols)
            }
            (cond, toColumnRec(v, cols))
          case IfClause(_, None) => notImplemented("misplaced base clause in CASE")
        }
        val whenChain = branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
          case (acc, (c, v)) => acc.when(c, v)
        }
        elseExpr.map(e2 => whenChain.otherwise(toColumnRec(e2, cols))).getOrElse(whenChain)

      case SExpr.WindowFn(ref, args, partitions, sorts, lower, upper, rowFrame) =>
        import org.apache.spark.sql.expressions.{Window, WindowSpec}
        val parts = partitions.map(toColumnRec(_, cols))
        val sortCols = sorts.map { s =>
          val c = toColumnRec(s.expr, cols)
          s.direction match {
            case SortDirection.AscNullsFirst => c.asc_nulls_first
            case SortDirection.AscNullsLast => c.asc_nulls_last
            case SortDirection.DescNullsFirst => c.desc_nulls_first
            case SortDirection.DescNullsLast => c.desc_nulls_last
            case other => notImplemented(s"window sort direction $other")
          }
        }
        def bound(b: WBound, isLower: Boolean): Long = b match {
          case WBound.Unbounded =>
            if (isLower) Window.unboundedPreceding else Window.unboundedFollowing
          case WBound.CurrentRow => Window.currentRow
          case WBound.Preceding(n) => -n
          case WBound.Following(n) => n
        }
        val base0 = Window.partitionBy(parts: _*)
        val base = if (sortCols.nonEmpty) base0.orderBy(sortCols: _*) else base0
        val fname = name(ref).toLowerCase
        val ranking = Set("row_number", "rank", "dense_rank", "percent_rank",
          "cume_dist", "ntile", "lag", "lead")
        // ranking/offset functions reject explicit frames; aggregates need them
        val spec: WindowSpec =
          if (ranking.contains(fname)) base
          else if (rowFrame) base.rowsBetween(bound(lower, true), bound(upper, false))
          else base.rangeBetween(bound(lower, true), bound(upper, false))
        val fnCol = fname match {
          case "row_number" => row_number()
          case "rank" => rank()
          case "dense_rank" => dense_rank()
          case "percent_rank" => percent_rank()
          case "cume_dist" => cume_dist()
          case "ntile" => ntile(litInt(args.head))
          case "lag" =>
            val off = if (args.size > 1) litInt(args(1)) else 1
            if (args.size > 2) lag(toColumnRec(args.head, cols), off, lit2(args(2)))
            else lag(toColumnRec(args.head, cols), off)
          case "lead" =>
            val off = if (args.size > 1) litInt(args(1)) else 1
            if (args.size > 2) lead(toColumnRec(args.head, cols), off, lit2(args(2)))
            else lead(toColumnRec(args.head, cols), off)
          case "first_value" =>
            first(toColumnRec(args.head, cols), ignoreNulls = litBool(args, 1))
          case "last_value" =>
            last(toColumnRec(args.head, cols), ignoreNulls = litBool(args, 1))
          case "nth_value" =>
            nth_value(toColumnRec(args.head, cols), litInt(args(1)),
              ignoreNulls = litBool(args, 2))
          case aggName => aggColumn(aggName, args.map(toColumnRec(_, cols)),
            distinct = false)
        }
        fnCol.over(spec)

      case SExpr.ScalarFn(ref, args) =>
        val n = name(ref)
        def a0 = toColumnRec(args(0), cols)
        def a1 = toColumnRec(args(1), cols)
        def all = args.map(toColumnRec(_, cols))
        n match {
          // struct field access (producer's get_field extension): the field
          // name is a string literal, consumed raw — not a Column
          case "get_field" => args(1) match {
            case SExpr.Lit(LitVal.LStr(fieldName)) => a0.getField(fieldName)
            case other => notImplemented(s"get_field name $other")
          }
          case "get_array_field" => args(1) match {
            case SExpr.Lit(LitVal.LStr(fieldName)) =>
              transform(a0, x => x.getField(fieldName))
            case other => notImplemented(s"get_array_field name $other")
          }
          case "get_array_item" => a0.getItem(a1)
          // name_to_op's 26 operators (consumer.rs:37-71)
          case "equal" => a0 === a1
          case "not_equal" => a0 =!= a1
          case "lt" => a0 < a1
          case "lte" => a0 <= a1
          case "gt" => a0 > a1
          case "gte" => a0 >= a1
          case "add" => a0 + a1
          // accept the reference's "substract" typo (producer.rs:297)
          case "subtract" | "substract" => a0 - a1
          case "multiply" => a0 * a1
          case "divide" => a0 / a1
          // integer division — registry-resolved so operand types drive the
          // IntegralDivide node exactly as SQL `a DIV b` would
          case "div" => call_function("div", a0, a1)
          case "mod" | "modulo" => a0 % a1
          case "and" => a0 && a1
          case "or" => a0 || a1
          case "like" => a0.like(litString(args(1)))
          case "not_like" => !a0.like(litString(args(1)))
          case "regex_match" => a0.rlike(litString(args(1)))
          case "regex_imatch" => a0.rlike("(?i)" + litString(args(1)))
          case "regex_not_match" => !a0.rlike(litString(args(1)))
          case "regex_not_imatch" => !a0.rlike("(?i)" + litString(args(1)))
          case "is_distinct_from" => !(a0 <=> a1)
          case "is_not_distinct_from" => a0 <=> a1
          case "bitwise_and" => a0.bitwiseAND(a1)
          case "bitwise_or" => a0.bitwiseOR(a1)
          case "bitwise_xor" => a0.bitwiseXOR(a1)
          // shift amounts may be expressions (e.g. a lambda variable), which
          // the Int-typed functions API can't take — resolve via the registry
          case "bitwise_shift_right" => call_function("shiftright", a0, a1)
          case "bitwise_shift_left" => call_function("shiftleft", a0, a1)
          case "str_concat" => concat(all: _*)
          // unary / variadic extensions (Producer.scala)
          case "not" => !a0
          case "is_null" => a0.isNull
          case "is_not_null" => a0.isNotNull
          case "negate" => -a0
          case "coalesce" => coalesce(all: _*)
          case "raise_error" => raise_error(a0)
          case "array" => array(all: _*)
          case "map" => map(all: _*)
          case "get_map_value" => a0.getItem(a1)

          // higher-order functions: lambda args arrive as __lambda(arity,
          // body) and bind positionally via bindLambda
          case "__lambda" => notImplemented("lambda outside a higher-order function")
          case "__lambda_var" =>
            lambdaEnv.getOrElse(litInt(args.head),
              internalErr(s"lambda variable slot ${litInt(args.head)} unbound"))
          case "transform" => lambdaArity(args(1)) match {
            case Some(1) => transform(a0, x => bindLambda(args(1), cols, Seq(x)))
            case Some(2) => transform(a0, (x, i) => bindLambda(args(1), cols, Seq(x, i)))
            case _ => notImplemented("transform lambda arity")
          }
          case "filter" => lambdaArity(args(1)) match {
            case Some(1) => filter(a0, x => bindLambda(args(1), cols, Seq(x)))
            case Some(2) => filter(a0, (x, i) => bindLambda(args(1), cols, Seq(x, i)))
            case _ => notImplemented("filter lambda arity")
          }
          case "exists" => exists(a0, x => bindLambda(args(1), cols, Seq(x)))
          case "forall" => forall(a0, x => bindLambda(args(1), cols, Seq(x)))
          case "aggregate" =>
            if (args.size == 4)
              aggregate(a0, a1,
                (acc, x) => bindLambda(args(2), cols, Seq(acc, x)),
                fin => bindLambda(args(3), cols, Seq(fin)))
            else aggregate(a0, a1,
              (acc, x) => bindLambda(args(2), cols, Seq(acc, x)))
          case "zip_with" =>
            zip_with(a0, a1, (x, y) => bindLambda(args(2), cols, Seq(x, y)))
          case "transform_keys" =>
            transform_keys(a0, (k, v) => bindLambda(args(1), cols, Seq(k, v)))
          case "transform_values" =>
            transform_values(a0, (k, v) => bindLambda(args(1), cols, Seq(k, v)))
          case "map_filter" =>
            map_filter(a0, (k, v) => bindLambda(args(1), cols, Seq(k, v)))
          case "map_zip_with" =>
            map_zip_with(a0, a1,
              (k, v1, v2) => bindLambda(args(2), cols, Seq(k, v1, v2)))
          case "array_sort" if args.size == 2 && lambdaArity(args(1)).isDefined =>
            array_sort(a0, (x, y) => bindLambda(args(1), cols, Seq(x, y)))

          // graft's minhash kernel: numHashes rides as a literal argument
          case "minhash_sig" =>
            graft.functions.MinHashFunctions.ensureSessionRegistered()
            call_function("minhash_sig", a0, lit(litInt(args(1))))
          // graft's sign-LSH bucket kernel: (tables, planes, dim) literals
          case "lsh_buckets" =>
            graft.functions.VecFunctions.ensureSessionRegistered()
            call_function("lsh_buckets", a0, lit(litInt(args(1))),
              lit(litInt(args(2))), lit(litInt(args(3))))
          // graft's top-k-nearest-centroid kernel: k rides as a literal
          case "vec_top_cells" =>
            graft.functions.VecFunctions.ensureSessionRegistered()
            call_function("vec_top_cells", a0, a1,
              toColumnRec(args(2), cols), lit(litInt(args(3))))
          // named scalar functions (Producer.namedScalarFns) resolve through
          // the session function registry; graft's vector kernels register
          // themselves on first use so foreign plans naming them resolve too
          case other if Producer.namedScalarFns.contains(other) =>
            if (other.startsWith("vec_") || other == "cell_pairs")
              graft.functions.VecFunctions.ensureSessionRegistered()
            if (other == "simhash64" || other == "simhash64_text" ||
                other == "minhash_sig_text")
              graft.functions.MinHashFunctions.ensureSessionRegistered()
            if (other == "sorted_jaccard_ge" || other == "sorted_containment_ge" ||
                other == "bucket_jaccard_pairs")
              graft.functions.JaccardFunctions.ensureSessionRegistered()
            if (other == "shingle_hashes")
              graft.functions.ShingleFunctions.ensureSessionRegistered()
            if (other == "feature_buckets")
              graft.functions.FeatureBucketFunctions.ensureSessionRegistered()
            if (other.startsWith("bpe_count"))
              graft.functions.BpeFunctions.ensureSessionRegistered()
            if (other == "charlm_fold")
              graft.functions.CharLmFunctions.ensureSessionRegistered()
            if (other.startsWith("freq_"))
              graft.functions.FreqFunctions.ensureSessionRegistered()
            if (other.startsWith("pq_"))
              graft.functions.PqFunctions.ensureSessionRegistered()
            if (other == "might_contain")
              graft.functions.BloomFunctions.ensureSessionRegistered()
            if (other.startsWith("cms_"))
              graft.functions.CmsFunctions.ensureSessionRegistered()
            if (other.startsWith("theta_"))
              graft.functions.ThetaFunctions.ensureSessionRegistered()
            call_function(other, all: _*)
          case other => notImplemented(s"scalar function $other")
        }
    }

    /** LitVal → external row value for spark.createDataFrame (VirtualTable) */
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

    private def literalColumn(v: LitVal): Column = v match {
      case LitVal.LBool(b) => lit(b)
      case LitVal.LI8(i) => lit(i.toByte)
      case LitVal.LI16(i) => lit(i.toShort)
      case LitVal.LI32(i) => lit(i)
      case LitVal.LI64(i) => lit(i)
      case LitVal.LFp32(f) => lit(f)
      case LitVal.LFp64(d) => lit(d)
      case LitVal.LStr(s) => lit(s)
      case LitVal.LBin(b) => lit(b)
      case LitVal.LDate(days) => lit(java.time.LocalDate.ofEpochDay(days.toLong))
      case LitVal.LTime(us) => lit(java.time.LocalTime.ofNanoOfDay(us * 1000L))
      case LitVal.LTimestamp(us) =>
        lit(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case LitVal.LTimestampTz(us) =>
        lit(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case LitVal.LIntervalDay(d, s, us) =>
        lit(java.time.Duration.ofSeconds(d.toLong * 86400L + s)
          .plusNanos(us.toLong * 1000L))
      case LitVal.LIntervalYear(y, m) =>
        lit(java.time.Period.ofYears(y).plusMonths(m.toLong.toInt))
      case LitVal.LDecimal(bytesLE, p, s) =>
        // little-endian i128 → BigInteger (big-endian) → BigDecimal(unscaled, s)
        val be = bytesLE.reverse
        val bd = new java.math.BigDecimal(new java.math.BigInteger(be), s)
        lit(bd).cast(DecimalType(p, s))
      case LitVal.LNull(t) => lit(null).cast(sparkType(t))
      case LitVal.LList(et, vs) =>
        // ONE catalyst Literal (the shape typedLit builds) instead of a
        // CreateArray carrying |vs| child literal nodes: every analyzer
        // pass over the rebuilt plan re-walks literal subtrees, and a
        // consumed codebook literal (16×64×4 doubles in s11) made
        // Consumer.consume alone cost ~0.9 s (OPTIMIZATION_r15.md "Wire
        // consume: array literals";
        // encode/decode of the same plan is ~10 ms). Literal.create
        // converts the external value in one step; the elementwise
        // CreateArray stays as the fallback for any value the converter
        // rejects, preserving the old semantics exactly.
        try org.apache.spark.sql.graftbridge.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            litExternal(v), ArrayType(sparkType(et))))
        catch { case scala.util.control.NonFatal(_) =>
          array(vs.map(literalColumn): _*).cast(ArrayType(sparkType(et))) }
      case LitVal.LMap(kt, vt, es) =>
        map(es.flatMap { case (k, v) =>
          Seq(literalColumn(k), literalColumn(v)) }: _*)
          .cast(MapType(sparkType(kt), sparkType(vt)))
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
