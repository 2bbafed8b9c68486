package graft.substrait

import model._

/** Structural validation of a decoded Plan BEFORE catalog resolution: field
  * references in bounds, function anchors registered, arities sane. Returns
  * every problem found (not just the first), so a producer on the other side
  * of the wire gets one actionable report. The consumer still fails loudly on
  * anything the validator can't see statically (unknown tables, type errors —
  * those need the catalog and land in Spark's analyzer).
  */
object Validator {

  final case class Issue(path: String, msg: String) {
    override def toString: String = s"$path: $msg"
  }

  def validate(plan: Plan): Seq[Issue] = {
    val issues = Seq.newBuilder[Issue]
    val anchors = plan.extensions.map(_.functionAnchor).toSet
    val dupAnchors = plan.extensions.groupBy(_.functionAnchor).filter(_._2.size > 1)
    dupAnchors.keys.foreach(a =>
      issues += Issue("extensions", s"duplicate function anchor $a"))

    if (plan.relations.isEmpty)
      issues += Issue("plan", "no relation tree")
    if (plan.relations.size > 1)
      issues += Issue("plan", s"${plan.relations.size} relation trees; expected 1")

    /** returns the rel's output arity, or -1 when unknowable */
    def walkRel(rel: Rel, path: String): Int = Rel.arity(rel, walkInputs(rel, path))

    /** checks `rel`, walks its inputs and returns their arities */
    def walkInputs(rel: Rel, path: String): Seq[Int] = rel match {
      case Rel.Read(schema, names, projection, filter, vrows, localFiles) =>
        if (names.isEmpty && vrows.isEmpty && localFiles.isEmpty)
          issues += Issue(path,
            "ReadRel without table name, virtual rows, or local files")
        localFiles.foreach(_.zipWithIndex.foreach { case (item, i) =>
          if (item.path.isEmpty)
            issues += Issue(path, s"local file item $i has an empty path")
          if (!Set("parquet", "orc", "csv").contains(item.format))
            issues += Issue(path, s"local file item $i format ${item.format}")
        })
        val width = schema.names.size
        if (schema.names.size != schema.types.size)
          issues += Issue(path,
            s"schema has ${schema.names.size} names but ${schema.types.size} types")
        vrows.foreach(_.zipWithIndex.foreach { case (row, i) =>
          if (row.size != width)
            issues += Issue(path,
              s"virtual row $i has ${row.size} cells; schema width $width")
        })
        // scan filter indexes the BASE schema, before the projection mask
        filter.foreach(walkExpr(_, width, s"$path/read.filter"))
        projection.foreach(idxs => if (width >= 0)
          idxs.filter(i => i < 0 || i >= width).foreach(i =>
            issues += Issue(path, s"projection index $i out of range [0, $width)")))
        Nil
      case Rel.Project(input, exprs) =>
        val w = walkRel(input, s"$path/project")
        exprs.zipWithIndex.foreach { case (e, i) => walkExpr(e, w, s"$path/project[$i]") }
        Seq(w)
      case Rel.Filter(input, cond) =>
        val w = walkRel(input, s"$path/filter")
        walkExpr(cond, w, s"$path/filter.cond")
        Seq(w)
      case Rel.Fetch(input, offset, count) =>
        if (offset < 0) issues += Issue(path, s"negative offset $offset")
        if (count < 0) issues += Issue(path, s"negative count $count")
        Seq(walkRel(input, s"$path/fetch"))
      case Rel.Sort(input, sorts) =>
        val w = walkRel(input, s"$path/sort")
        sorts.zipWithIndex.foreach { case (s, i) =>
          if (s.direction < 1 || s.direction > 4)
            issues += Issue(s"$path/sort[$i]", s"bad direction ${s.direction}")
          walkExpr(s.expr, w, s"$path/sort[$i]")
        }
        Seq(w)
      case Rel.Aggregate(input, groupings, measures) =>
        val w = walkRel(input, s"$path/agg")
        if (groupings.size > 1 && measures.isEmpty)
          issues += Issue(path,
            s"${groupings.size} grouping sets with no measures")
        groupings.flatten.zipWithIndex.foreach { case (g, i) =>
          walkExpr(g, w, s"$path/agg.group[$i]") }
        measures.zipWithIndex.foreach { case (m, i) =>
          if (!anchors.contains(m.function.functionReference))
            issues += Issue(s"$path/agg.measure[$i]",
              s"unregistered function anchor ${m.function.functionReference}")
          m.function.args.foreach(walkExpr(_, w, s"$path/agg.measure[$i]"))
          m.filter.foreach(walkExpr(_, w, s"$path/agg.measure[$i].filter"))
        }
        Seq(w)
      case Rel.Join(left, right, cond, jt) =>
        val lw = walkRel(left, s"$path/join.left")
        val rw = walkRel(right, s"$path/join.right")
        val both = if (lw < 0 || rw < 0) -1 else lw + rw
        walkExpr(cond, both, s"$path/join.cond")
        if (jt < 1 || jt > 6) issues += Issue(path, s"unsupported join type $jt")
        Seq(lw, rw)
      case Rel.Cross(left, right) =>
        val lw = walkRel(left, s"$path/cross.left")
        val rw = walkRel(right, s"$path/cross.right")
        Seq(lw, rw)
      case Rel.Set(inputs, op) =>
        if (inputs.size < 2) issues += Issue(path, "SetRel with < 2 inputs")
        if (op < 1 || op > 6) issues += Issue(path, s"bad set op $op")
        val ws = inputs.zipWithIndex.map { case (in, i) => walkRel(in, s"$path/set[$i]") }
        if (ws.forall(_ >= 0) && ws.distinct.size > 1)
          issues += Issue(path, s"set inputs have differing arities $ws")
        ws
      case Rel.ExtGenerate(input, gen, arg, _, genArity) =>
        val w = walkRel(input, s"$path/generate")
        if (!Set("explode", "posexplode", "inline").contains(gen))
          issues += Issue(path, s"unknown generator '$gen'")
        if (genArity < 1) issues += Issue(path, s"generator arity $genArity < 1")
        walkExpr(arg, w, s"$path/generate.arg")
        Seq(w)
      case Rel.ExtExchange(input, exprs, num, _, rangeDirs) =>
        val w = walkRel(input, s"$path/exchange")
        if (num < 0) issues += Issue(path, s"negative partition count $num")
        if (rangeDirs.nonEmpty && rangeDirs.size != exprs.size)
          issues += Issue(path,
            s"${rangeDirs.size} range directions for ${exprs.size} exprs")
        exprs.zipWithIndex.foreach { case (e, i) =>
          walkExpr(e, w, s"$path/exchange[$i]") }
        Seq(w)
      case Rel.ExtSample(input, lo, hi, _, _) =>
        val w = walkRel(input, s"$path/sample")
        if (lo < 0.0 || hi > 1.0 || lo > hi)
          issues += Issue(path, s"bad sample bounds [$lo, $hi]")
        Seq(w)
      case Rel.ExtHint(input, hint) =>
        val w = walkRel(input, s"$path/hint")
        if (!Set("broadcast", "merge", "shuffle_hash",
            "shuffle_replicate_nl").contains(hint))
          issues += Issue(path, s"unknown join-strategy hint '$hint'")
        Seq(w)

      case Rel.ExtSessionWindow(input, tsField, gapMicros, gapExpr) =>
        val w = walkRel(input, s"$path/session_window")
        if (w >= 0 && (tsField < 0 || tsField >= w))
          issues += Issue(path,
            s"session ts field $tsField out of range for arity $w")
        // exactly one gap form: a literal micros gap XOR a per-row expression
        if (gapExpr.isEmpty && gapMicros <= 0L)
          issues += Issue(path, s"non-positive session gap $gapMicros")
        if (gapExpr.isDefined && gapMicros != 0L)
          issues += Issue(path,
            s"session gap has both literal ($gapMicros) and dynamic forms")
        Seq(w)

      case Rel.ExtStage(input, stage) =>
        val w = walkRel(input, s"$path/stage")
        Stages.registry.get(stage) match {
          case None =>
            issues += Issue(path, s"unknown typed stage '$stage'")
          case Some(st) =>
            if (w >= 0 && w != st.inputCols.size)
              issues += Issue(path, s"stage '$stage' expects " +
                s"${st.inputCols.size} inputs, plan provides $w")
        }
        Seq(w)

      case Rel.ExtIteration(input, bodyPlan, maxIters, checkFp, requireFp) =>
        val w = walkRel(input, s"$path/iteration")
        if (maxIters < 1 || maxIters > 1000)
          issues += Issue(path, s"iteration maxIters $maxIters out of [1, 1000]")
        if (requireFp && !checkFp)
          issues += Issue(path,
            "require_fixpoint without check_fixpoint: no fixpoint is ever " +
              "checked, so the requirement could never be satisfied")
        // an ExtIteration nested inside a BODY plan is inherently ambiguous:
        // the consumer binds ONE reserved state name (graft_iteration_state),
        // so an inner body's state read meant for the OUTER loop would
        // silently resolve to the inner state. Loud until scoped state names
        // exist. (Iteration in the INPUT is fine — inputs are consumed
        // before any binding is live.)
        if (containsIteration(bodyPlan))
          issues += Issue(path,
            "ExtIteration nested inside an iteration body: the single " +
              "reserved state table name makes the inner/outer state " +
              "binding ambiguous")
        // the body is a complete nested plan with its own anchors — validate
        // it in its own scope and surface its issues under this path
        validate(bodyPlan).foreach(i =>
          issues += Issue(s"$path/iteration-body/${i.path}", i.msg))
        Seq(w)
    }

    def walkExpr(e: SExpr, width: Int, path: String): Unit = e match {
      case SExpr.FieldRef(i) =>
        if (i < 0 || (width >= 0 && i >= width))
          issues += Issue(path, s"field reference $i out of range [0, $width)")
      case SExpr.NestedRef(i, nestedPath) =>
        if (i < 0 || (width >= 0 && i >= width))
          issues += Issue(path, s"nested reference base $i out of range [0, $width)")
        if (nestedPath.isEmpty)
          issues += Issue(path, "nested reference with an empty child chain")
        nestedPath.filter(_ < 0).foreach(o =>
          issues += Issue(path, s"nested reference ordinal $o negative"))
      case SExpr.ScalarFn(ref, args) =>
        if (!anchors.contains(ref))
          issues += Issue(path, s"unregistered function anchor $ref")
        args.foreach(walkExpr(_, width, path))
      case SExpr.IfThen(clauses, els) =>
        if (clauses.isEmpty) issues += Issue(path, "IfThen without clauses")
        clauses.foreach { c =>
          walkExpr(c.cond, width, path); c.thenExpr.foreach(walkExpr(_, width, path))
        }
        els.foreach(walkExpr(_, width, path))
      case SExpr.Cast(_, _, in) => walkExpr(in, width, path)
      case SExpr.WindowFn(ref, args, parts, sorts, _, _, _) =>
        if (!anchors.contains(ref))
          issues += Issue(path, s"unregistered function anchor $ref")
        (args ++ parts ++ sorts.map(_.expr)).foreach(walkExpr(_, width, path))
      case SExpr.Lit(_) => ()
    }

    plan.relations.foreach {
      case PlanRel.Root(input, names) =>
        val w = walkRel(input, "root")
        if (w >= 0 && names.nonEmpty && names.size != w)
          issues += Issue("root", s"${names.size} output names for arity-$w plan")
      case PlanRel.RelOnly(rel) => walkRel(rel, "rel")
    }
    issues.result()
  }

  /** Does any rel anywhere in the plan (including nested iteration bodies)
    * contain an ExtIteration? Used to reject iteration-in-body. */
  private def containsIteration(plan: Plan): Boolean =
    plan.relations.exists {
      case PlanRel.Root(r, _) => containsIteration(r)
      case PlanRel.RelOnly(r) => containsIteration(r)
    }

  private def containsIteration(rel: Rel): Boolean = rel match {
    case _: Rel.ExtIteration => true
    case r => Rel.inputs(r).exists(containsIteration)
  }

  /** throw on the first report (convenience for consume-time gating) */
  def validateOrThrow(plan: Plan): Unit = {
    val issues = validate(plan)
    if (issues.nonEmpty)
      internalErr(s"invalid plan: ${issues.mkString("; ")}")
  }
}
