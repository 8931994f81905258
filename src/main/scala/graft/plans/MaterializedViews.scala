package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Coalesce, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** Transparent materialized-view rewrite (SURVEY.md §4 "custom
  * pieces", the classic warehouse accelerator): a view is REGISTERED
  * as (fingerprint of its optimized logical plan → parquet
  * materialization), and [[RewriteToMaterializedView]] — injected via
  * [[GraftExtensions]] — swaps any later query subtree with the same
  * fingerprint for a scan of the materialization. The user keeps
  * writing the declarative aggregate; the optimizer decides to read
  * the precomputed answer.
  *
  * Matching is EXACT first (canonicalized-plan fingerprint, which
  * normalizes exprIds and cosmetic aliases) — the sound, predictable
  * core of MV rewriting — then falls back to the two CONTAINMENT
  * shapes with decidable correctness conditions:
  *
  *  - FILTER-ABOVE-VIEW: `Aggregate(G, A, Filter(p, base))` where
  *    `Aggregate(G, A, base)` is registered and `p` references only
  *    bare grouping COLUMNS the view outputs — filtering on group
  *    keys commutes with the group-by, so the answer is the view
  *    filtered by the same keys;
  *  - ROLLUP-ABOVE-VIEW: `Aggregate(G₂, A₂, base)` where a view
  *    `Aggregate(G₁, A₁, base)` is registered with G₂ ⊆ G₁ and every
  *    aggregate in A₂ re-aggregable from a view column — SUM(e) from
  *    SUM(e), MIN/MAX(e) from MIN/MAX(e), COUNT from
  *    COALESCE(SUM(count), 0) (the coalesce keeps the empty-view
  *    global COUNT at 0, not NULL). Distinct/filtered aggregates and
  *    anything outside {SUM, MIN, MAX, COUNT} refuse — AVG and
  *    friends would need a sum/count decomposition the view didn't
  *    necessarily store.
  *
  * Both shapes compose (a key-filtered rollup rewrites too). Anything
  * that fails a check falls through to the ordinary plan — the
  * rewrite is an accelerator, never a semantics change.
  *
  * Scale posture: the registry holds fingerprints + paths (O(views)
  * driver metadata); the rewrite itself turns an O(fact-table)
  * aggregate into an O(|view|) scan, and the materialization is an
  * ordinary distributed parquet write, refreshable by re-calling
  * [[register]].
  */
object MaterializedViews {

  private final case class Entry(path: String)

  private val registry = new ConcurrentHashMap[String, Entry]()

  /** Materialization dirs superseded by a refresh/deregister, with the
    * time they were superseded. A registered path's files are immutable
    * (see [[register]]), so a superseded dir's only live readers are
    * queries planned BEFORE the refresh published; deleting after a
    * grace period (or eagerly in [[clear]], which test teardowns call
    * when no query is in flight) bounds the tmp-dir leak that in-place
    * refresh used to avoid at the cost of the FILE_NOT_EXIST race. */
  private val superseded = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
  private val SupersededGraceMs = 60000L

  private def reapSuperseded(all: Boolean): Unit = {
    val cutoff = System.currentTimeMillis() - SupersededGraceMs
    var next = superseded.peek()
    while (next != null && (all || next._2 < cutoff)) {
      if (superseded.remove(next))
        graft.tables.SnapshotTable.deleteRecursively(java.nio.file.Paths.get(next._1))
      next = superseded.peek()
    }
  }

  /** Rule-side reentrancy/registration guard: while a plan is being
    * fingerprinted for registration, the rewrite must not fire (it
    * would fingerprint the already-rewritten plan). */
  private val enabled = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = true
  }

  private def withRewriteDisabled[T](f: => T): T = {
    enabled.set(false)
    try f finally enabled.set(true)
  }

  private[plans] def active: Boolean = !registry.isEmpty && enabled.get()

  private[plans] def lookup(fingerprint: String): Option[String] =
    Option(registry.get(fingerprint)).map(_.path)

  /** The registered materialization's path — for callers that gate
    * the VIEW's own content (IVM arithmetic) rather than a recompute. */
  def materializationPath(fingerprint: String): Option[String] =
    lookup(fingerprint)

  // ---- containment index -------------------------------------------------

  /** A registered Aggregate view's matchable anatomy, all in the
    * CANONICAL expression domain (exprIds normalized to child-output
    * ordinals, so query-side and view-side renders compare as plain
    * strings over the identical canonical child):
    *  - groupingByRender: canonical render of each grouping expr the
    *    view also OUTPUTS → its view-output ordinal;
    *  - aggByRender: "fn|canonical-operand" → view-output ordinal for
    *    each plain (non-distinct, unfiltered) SUM/MIN/MAX/COUNT;
    *  - childOrdinalToOutput: child-output ordinal → view-output
    *    ordinal for BARE-COLUMN groupings (what a filter predicate's
    *    references can be remapped through). */
  private[plans] final case class ViewShape(fp: String,
      groupingRenders: Set[String],
      groupingByRender: Map[String, Int],
      aggByRender: Map[String, Int],
      childOrdinalToOutput: Map[Long, Int])

  private val containment =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[ViewShape]]()

  private[plans] def shapesFor(childRender: String): Seq[ViewShape] = {
    import scala.jdk.CollectionConverters._
    Option(containment.get(childRender))
      .map(_.iterator().asScala.toSeq).getOrElse(Seq.empty)
  }

  /** Canonical render of one aggregate FUNCTION call, or None when it
    * is not containment-safe (distinct, filtered, unsupported fn). */
  private[plans] def aggRender(ae: AggregateExpression): Option[(String, String)] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    ae.aggregateFunction match {
      case Sum(e, _) => Some(("sum", s"sum|$e"))
      case Min(e) => Some(("min", s"min|$e"))
      case Max(e) => Some(("max", s"max|$e"))
      case c: Count if c.children.length == 1 =>
        Some(("count", s"count|${c.children.head}"))
      case _ => None
    }
  }

  private def stripAlias(ne: NamedExpression): Expression = ne match {
    case Alias(c, _) => c
    case e => e
  }

  /** Peel at most one Filter and one column-pruning (attribute-only)
    * Project off an Aggregate's child, in either order — the shapes
    * the optimizer leaves between an aggregate and its base relation.
    * Returns (base, projection list if present, condition if
    * present). Any other structure → None. */
  private[plans] def peel(child: LogicalPlan)
      : Option[(LogicalPlan, Option[Seq[AttributeReference]], Option[Expression])] = {
    var cur = child
    var cond: Option[Expression] = None
    var proj: Option[Seq[AttributeReference]] = None
    var progress = true
    while (progress) {
      progress = false
      cur match {
        case f: Filter if cond.isEmpty =>
          cond = Some(f.condition); cur = f.child; progress = true
        case p: Project if proj.isEmpty &&
            p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
          proj = Some(p.projectList.map(_.asInstanceOf[AttributeReference]))
          cur = p.child; progress = true
        case _ => ()
      }
    }
    Some((cur, proj, cond))
  }

  /** Rewrite a CANONICAL aggregate-level expression into RELATION
    * ordinal space by substituting project-output attributes (whose
    * canonical exprId IS the project ordinal) with the projected
    * relation attributes. Identity without a project. */
  private[plans] def toRelSpace(e: Expression,
      proj: Option[Seq[AttributeReference]]): Expression = proj match {
    case None => e
    case Some(pl) => e.transform {
      case a: AttributeReference if a.exprId.id >= 0 && a.exprId.id < pl.length =>
        pl(a.exprId.id.toInt)
    }
  }

  /** Index a freshly registered view for containment when its
    * optimized plan is an Aggregate over an (optionally pruned)
    * unfiltered base — everything stored in relation space, so
    * queries with DIFFERENT column pruning still match. */
  private def indexShape(fp: String, df: DataFrame): Unit = withRewriteDisabled {
    indexJoinShape(fp, df)
    df.queryExecution.optimizedPlan.canonicalized match {
      case Aggregate(g1, aggs1, child, _) =>
        val (base, proj, cond) = peel(child).getOrElse(return)
        if (cond.isDefined) return // filtered views: exact-match only
        val g1Rel = g1.map(toRelSpace(_, proj))
        var groupingByRender = Map.empty[String, Int]
        var aggByRender = Map.empty[String, Int]
        var childOrd = Map.empty[Long, Int]
        aggs1.zipWithIndex.foreach { case (ne, j) =>
          toRelSpace(stripAlias(ne), proj) match {
            case ae: AggregateExpression =>
              aggRender(ae).foreach { case (_, r) => aggByRender += r -> j }
            case e if g1Rel.exists(_.semanticEquals(e)) =>
              groupingByRender += e.toString -> j
              e match {
                case a: AttributeReference => childOrd += a.exprId.id -> j
                case _ => ()
              }
            case _ => ()
          }
        }
        val shape = ViewShape(fp, g1Rel.map(_.toString).toSet,
          groupingByRender, aggByRender, childOrd)
        containment.computeIfAbsent(render(base),
          _ => new java.util.concurrent.ConcurrentLinkedQueue[ViewShape]()).add(shape)
      case _ => ()
    }
  }

  private def dropShapes(fp: String): Unit = {
    import scala.jdk.CollectionConverters._
    containment.values().asScala.foreach(q => q.removeIf(_.fp == fp))
    joinContainment.values().asScala.foreach(q => q.removeIf(_.fp == fp))
  }

  // ---- JOIN containment (view = fact⋈dim aggregate) ----------------------
  //
  // The production MV shape: a view `Aggregate(G₁, A₁, A ⋈ B)` answers
  // a query `Aggregate(G₂, A₂, σ(A ⋈ B))` with the SAME inner
  // equi-join, G₂ ⊆ G₁, re-aggregable A₂, and any extra filter
  // conjuncts referencing only view group-key base columns. Matching
  // here works on the REAL optimized plans (stable exprIds), with
  // every expression re-rendered in CONCATENATED-BASE ordinal space —
  // each attribute replaced by a marker keyed to its ordinal in
  // (leftBase.output ++ rightBase.output) — so the two plans' differing
  // column-pruning Projects and exprIds never break the comparison,
  // and two DIFFERENT columns can never collide (ordinals are unique).
  // Join conditions and pushed-down child filters are compared as ONE
  // conjunct-render set on each side: optimizer placement (ON clause
  // vs pushed Filter, inferred IsNotNull) varies, set semantics don't.

  /** A registered join-aggregate view's matchable anatomy, all in
    * concatenated-base ordinal space. */
  private[plans] final case class JoinViewShape(fp: String,
      groupingByRender: Map[String, Int],
      aggByRender: Map[String, Int],
      baseOrdinalToOutput: Map[Int, Int],
      condRenders: Set[String])

  private val joinContainment =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[JoinViewShape]]()

  private[plans] def joinShapesFor(key: String): Seq[JoinViewShape] = {
    import scala.jdk.CollectionConverters._
    Option(joinContainment.get(key))
      .map(_.iterator().asScala.toSeq).getOrElse(Seq.empty)
  }

  /** Cheap pre-gate for the join-containment path: with NO join view
    * registered, [[decomposeJoinAgg]] must not run at all — its leaf
    * canonicalization renders strings per Aggregate-over-join in
    * EVERY query while any (even unrelated) view is registered, a
    * per-plan cost the registry's emptiness refutes in O(1). */
  private[plans] def anyJoinShapes: Boolean = !joinContainment.isEmpty

  private[plans] def splitAnd(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** The decomposed `[Filter/Project]* Join-tree-of-leaves` under an
    * aggregate: every leaf base of the flattened INNER-join tree (any
    * arity — the classic star: fact ⋈ dim₁ ⋈ dim₂ ⋈ …), every
    * filter/join conjunct found on the way (placement-independent),
    * and the attribute→concatenated-base-ordinal mapping. The base
    * sequence is CANONICALIZED by each leaf's identity render, so the
    * ordinal space is stable under optimizer join reordering between
    * view registration and query time; two bases with the SAME render
    * (a self-join) are ambiguous and refuse upstream. Pruning
    * Projects are attribute-only, so a real attribute's exprId is
    * identical above and below them. */
  private[plans] final case class JoinAnatomy(bases: Seq[LogicalPlan],
      conds: Seq[Expression]) {
    private val offsets: Array[Int] =
      bases.scanLeft(0)(_ + _.output.length).toArray
    def ordOf(a: org.apache.spark.sql.catalyst.expressions.Attribute): Option[Int] = {
      var i = 0
      while (i < bases.length) {
        val idx = bases(i).output.indexWhere(_.exprId == a.exprId)
        if (idx >= 0) return Some(offsets(i) + idx)
        i += 1
      }
      None
    }
  }

  private[plans] def decomposeJoinAgg(child: LogicalPlan): Option[JoinAnatomy] = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Inner
    val conds = scala.collection.mutable.Buffer.empty[Expression]
    def peelTo(p: LogicalPlan): LogicalPlan = {
      var cur = p
      var progress = true
      while (progress) {
        progress = false
        cur match {
          case f: Filter =>
            conds ++= splitAnd(f.condition); cur = f.child; progress = true
          case pr: Project
              if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
            cur = pr.child; progress = true
          case _ => ()
        }
      }
      cur
    }
    // flatten the INNER-join tree to its leaf bases (inner joins with
    // conjunct predicates are associative/commutative, so the flat
    // {bases} + {conds} form is placement-independent); anything else
    // on the way down (outer joins, nested aggregates) refuses — the
    // rewrite stays an accelerator
    def flatten(p: LogicalPlan): Option[Seq[LogicalPlan]] = peelTo(p) match {
      case Join(l, r, Inner, cond, _) =>
        conds ++= cond.toSeq.flatMap(splitAnd)
        for (lb <- flatten(l); rb <- flatten(r)) yield lb ++ rb
      case leaf if leaf.children.isEmpty => Some(Seq(leaf))
      case _ => None
    }
    peelTo(child) match {
      case j @ Join(_, _, Inner, _, _) =>
        flatten(j).flatMap { bases =>
          // canonical base order: sort by identity render. Identical
          // renders (self-join) make ordinals ambiguous — refuse.
          val keyed = bases.map(b => render(b.canonicalized) -> b)
          if (keyed.map(_._1).distinct.length != bases.length) None
          else Some(JoinAnatomy(keyed.sortBy(_._1).map(_._2), conds.toSeq))
        }
      case _ => None
    }
  }

  /** Render `e` with every attribute replaced by a marker carrying its
    * concatenated-base ordinal — exprId- and pruning-independent, and
    * injective per base pair (ordinals are unique). None when any
    * attribute resolves to neither base. */
  private[plans] def relRender(e: Expression,
      ordOf: org.apache.spark.sql.catalyst.expressions.Attribute => Option[Int])
      : Option[String] = {
    var ok = true
    val n = e.transformUp {
      case a: AttributeReference => ordOf(a) match {
        case Some(o) => AttributeReference("__rc", a.dataType, a.nullable)(
          exprId = org.apache.spark.sql.catalyst.expressions.ExprId(o.toLong))
        case None => ok = false; a
      }
    }
    if (ok) Some(n.toString) else None
  }

  private[plans] def joinKeyOf(anatomy: JoinAnatomy): String =
    anatomy.bases.map(b => render(b.canonicalized)).mkString("\n===JOIN===\n")

  /** Non-decimal numerics reaggregate AVG exactly as
    * SUM(sums)/SUM(counts) in double — the same arithmetic Spark's own
    * Average uses. Decimal AVG has its own scale rules; refuse. */
  private[plans] def avgOkType(e: Expression): Boolean = {
    import org.apache.spark.sql.types._
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
  }

  /** Index a registered view for JOIN containment when its optimized
    * plan is an aggregate over an inner join of two leaf relations. */
  private def indexJoinShape(fp: String, df: DataFrame): Unit = withRewriteDisabled {
    df.queryExecution.optimizedPlan match {
      case Aggregate(g1, aggs1, child, _) =>
        val anatomy = decomposeJoinAgg(child).getOrElse(return)
        if (!anatomy.conds.forall(_.deterministic)) return
        val condRenders: Set[String] = anatomy.conds.map(c =>
          relRender(c, anatomy.ordOf).getOrElse(return)).toSet
        var groupingByRender = Map.empty[String, Int]
        var aggByRender = Map.empty[String, Int]
        var baseOrd = Map.empty[Int, Int]
        aggs1.zipWithIndex.foreach { case (ne, j) =>
          stripAlias(ne) match {
            case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
              val fnOp: Option[(String, Expression)] = ae.aggregateFunction match {
                case Sum(e, _) => Some(("sum", e))
                case Min(e) => Some(("min", e))
                case Max(e) => Some(("max", e))
                case c: Count if c.children.length == 1 =>
                  Some(("count", c.children.head))
                case _ => None
              }
              fnOp.foreach { case (fn, e) =>
                relRender(e, anatomy.ordOf).foreach(r => aggByRender += s"$fn|$r" -> j)
              }
            case e if g1.exists(_.semanticEquals(e)) =>
              relRender(e, anatomy.ordOf).foreach { r =>
                groupingByRender += r -> j
                e match {
                  case a: AttributeReference =>
                    anatomy.ordOf(a).foreach(o => baseOrd += o -> j)
                  case _ => ()
                }
              }
            case _ => ()
          }
        }
        joinContainment.computeIfAbsent(joinKeyOf(anatomy),
          _ => new java.util.concurrent.ConcurrentLinkedQueue[JoinViewShape]())
          .add(JoinViewShape(fp, groupingByRender, aggByRender, baseOrd, condRenders))
      case _ => ()
    }
  }

  /** UNTRUNCATED render of a canonicalized plan. `toString` (the old
    * fingerprint) elides expression lists past
    * spark.sql.debug.maxToStringFields (default 25), so two distinct
    * wide aggregates could share a fingerprint and a query would be
    * silently answered from the WRONG materialization; rendering with
    * maxFields = Int.MaxValue keeps every expression in the key.
    *
    * The tree string alone is NOT a sound key: a canonicalized
    * [[org.apache.spark.sql.execution.datasources.LogicalRelation]]
    * prints `Relation [attrs] parquet` with NO location, so two
    * different parquet datasets with the same column types render
    * identically and a query over one would silently answer from a
    * view over the other. Every leaf's DATA IDENTITY (file-source
    * root paths, V2 table name, in-memory data hash) is appended to
    * the key to keep distinct sources distinct. */
  private[plans] def render(plan: LogicalPlan): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val tree = plan.treeString(false, false, Int.MaxValue, false, false)
    val leafIds = plan.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
        case other => other.toString
      }
      case v2: DataSourceV2Relation =>
        s"${v2.table.name()}|${v2.options.asCaseSensitiveMap().toString}"
      case l: LocalRelation => s"local:${l.data.hashCode()}"
      case leaf => leaf.toString
    }
    leafIds.mkString(tree + "\n@", "\n@", "")
  }

  /** Fingerprint of a DataFrame's OPTIMIZED plan — registration and
    * rewrite must canonicalize at the same optimizer phase, or
    * column-pruning/pushdown differences break the match. */
  private def fingerprint(df: DataFrame): String =
    withRewriteDisabled { render(df.queryExecution.optimizedPlan.canonicalized) }

  /** Materialize `df` under `basePath` and register its plan
    * fingerprint for rewriting. Returns the fingerprint (exposed for
    * tests/ops that want to assert or deregister).
    *
    * Each registration writes an IMMUTABLE fresh directory
    * (`basePath-<uuid>`) and publishes the registry entry only after
    * the write completes — never an in-place overwrite. In-place
    * refresh raced concurrent readers two ways (both observed when
    * test suites share one session): a plan built against the old
    * files executed after the overwrite deleted them
    * (FILE_NOT_EXIST), and the rule's schema read during the
    * overwrite window found an empty directory
    * (UNABLE_TO_INFER_SCHEMA). With immutable directories a
    * registered path's files never change; superseded
    * materializations are queued and reclaimed after a grace period
    * (next register/clear — see [[reapSuperseded]]). */
  def register(df: DataFrame, basePath: String): String = {
    val fp = fingerprint(df)
    val path = s"$basePath-${java.util.UUID.randomUUID()}"
    // the WRITE must also run with rewriting disabled: on a REFRESH
    // the fingerprint is already registered, and a rewriting-enabled
    // write job would answer the recompute from the OLD
    // materialization — copying stale bytes forward forever instead
    // of recomputing from base data
    withRewriteDisabled { df.write.parquet(path) }
    deadFps.remove(fp) // a re-register revives a tombstoned fingerprint
    rebornFps.add(fp) // ...and outranks any persisted DEAD line for it
    Option(registry.put(fp, Entry(path)))
      .foreach(old => superseded.add((old.path, System.currentTimeMillis())))
    indexShape(fp, df)
    persist()
    reapSuperseded(all = false)
    fp
  }

  def deregister(fingerprint: String): Unit = {
    deadFps.putIfAbsent(fingerprint, System.currentTimeMillis())
    rebornFps.remove(fingerprint)
    Option(registry.remove(fingerprint))
      .foreach(old => superseded.add((old.path, System.currentTimeMillis())))
    Option(incremental.remove(fingerprint))
      .foreach(e => superseded.add((e.statePath, System.currentTimeMillis())))
    dropShapes(fingerprint)
    persist()
  }

  // ---- incremental (SnapshotTable-backed) views ----

  /** How a [[refresh]] satisfied itself. `inputFiles` is the file set
    * the new state was computed FROM — exposed so callers (and the
    * delta-cost spec) can assert a refresh scaled with the change
    * feed, not the base table. */
  final case class RefreshResult(fingerprint: String, mode: String,
    inputFiles: Seq[String])

  private final case class IncEntry(
    table: graft.tables.SnapshotTable,
    version: Long,
    statePath: String,
    basePath: String,
    query: DataFrame => DataFrame,
    partial: DataFrame => DataFrame,
    combine: DataFrame => DataFrame,
    finalizeFn: DataFrame => DataFrame,
    partialDelta: Option[DataFrame => DataFrame],
    stateSchema: StructType) {
    /** The persisted state, read with the schema it was written with
      * (no schema-inference job). */
    def state: DataFrame = table.spark.read.schema(stateSchema).parquet(statePath)
  }

  private val incremental = new ConcurrentHashMap[String, IncEntry]()

  /** Register a [[graft.tables.SnapshotTable]]-backed view maintained
    * INCREMENTALLY: alongside the user-facing materialization, a
    * keyed PARTIAL-aggregate state (e.g. per-key count + DECIMAL sum)
    * is persisted, and [[refresh]] over an append-only commit range
    * folds only the table's change feed into that state —
    * state' = combine(state ∪ partial(Δ)) — then finalizes, so a
    * refresh costs O(state + Δ), never O(table). The caller's
    * contract is the standard IVM decomposition:
    * `finalize(combine(partial(rows))) ≡ query(rows)` with
    * `combine` associative over unions of partial outputs (true for
    * the distributive aggregates: count/sum/min/max and anything
    * derived from them at finalize time).
    *
    * The registered fingerprint is of `query(table.read())` at the
    * CURRENT version, so the optimizer answers exactly the queries
    * that read the version the materialization reflects; refresh
    * re-fingerprints at the new version and atomically swaps the
    * registry entry. */
  def registerIncremental(table: graft.tables.SnapshotTable, basePath: String)(
      query: DataFrame => DataFrame,
      partial: DataFrame => DataFrame,
      combine: DataFrame => DataFrame,
      finalize: DataFrame => DataFrame,
      partialDelta: Option[DataFrame => DataFrame] = None): String = {
    val version = table.currentVersion
    val statePath = s"$basePath-state-${java.util.UUID.randomUUID()}"
    val viewPath = s"$basePath-${java.util.UUID.randomUUID()}"
    val fp = fingerprint(query(table.read(version)))
    val stateDf = combine(partial(table.read(version)))
    val entry = IncEntry(table, version, statePath, basePath,
      query, partial, combine, finalize, partialDelta, stateDf.schema)
    withRewriteDisabled {
      stateDf.write.parquet(statePath)
      finalize(entry.state).write.parquet(viewPath)
    }
    deadFps.remove(fp)
    rebornFps.add(fp)
    Option(registry.put(fp, Entry(viewPath)))
      .foreach(old => superseded.add((old.path, System.currentTimeMillis())))
    Option(incremental.put(fp, entry))
      .foreach(o => superseded.add((o.statePath, System.currentTimeMillis())))
    withRewriteDisabled { indexShape(fp, query(table.read(version))) }
    persist()
    fp
  }

  /** Bring an incremental view up to its table's current version.
    * Append-only ranges fold the change feed into the partial state
    * (O(state + Δ)). When the view registered a `partialDelta` and
    * every commit in the range records row-level changes (merge,
    * applyChanges, DV delete/update, SQL DML, compaction), the
    * SIGNED feed folds instead — retraction-based IVM, still
    * O(state + Δ) through deletes and updates. Anything else falls
    * back to a full recompute — correct either way, and the mode is
    * reported ("incremental" / "incremental-cdc" / "full") so callers
    * can alert on silent de-incrementalization. Returns None if the
    * fingerprint is not an incremental view. */
  def refresh(fp: String): Option[RefreshResult] = {
    val e = Option(incremental.get(fp)).getOrElse(return None)
    val t = e.table
    val newVersion = t.currentVersion
    if (newVersion == e.version)
      return Some(RefreshResult(fp, "noop", Seq.empty))
    val appendOnly = t.isAppendOnly(e.version, newVersion)
    val newStatePath = s"${e.basePath}-state-${java.util.UUID.randomUUID()}"
    val newViewPath = s"${e.basePath}-${java.util.UUID.randomUUID()}"
    val (newStateDf, mode) =
      if (appendOnly) {
        val delta = t.changesBetween(e.version, newVersion)
        (e.combine(e.state.unionAll(e.partial(delta))),
          "incremental")
      } else if (e.partialDelta.isDefined && t.isRowTracked(e.version, newVersion)) {
        // RETRACTION-based IVM: every commit in the range records its
        // exact row changes, so the SIGNED change feed folds into the
        // state — deletes/update pre-images subtract, inserts/update
        // post-images add. O(state + changelog), never the table,
        // straight through DELETE/UPDATE/MERGE (instance or SQL DML).
        // Caller contract: partialDelta(cdcRows) emits partials whose
        // combine-fold retracts (count/sum-style), and finalize drops
        // zero-count groups.
        val delta = t.rowChangesBetween(e.version, newVersion)
        (e.combine(e.state.unionAll(e.partialDelta.get(delta))), "incremental-cdc")
      } else (e.combine(e.partial(t.read(newVersion))), "full")
    val inputs = withRewriteDisabled { newStateDf.inputFiles.toSeq }
    val next = e.copy(version = newVersion, statePath = newStatePath,
      stateSchema = newStateDf.schema)
    val newFp = withRewriteDisabled {
      newStateDf.write.parquet(newStatePath)
      e.finalizeFn(next.state).write.parquet(newViewPath)
      fingerprint(e.query(t.read(newVersion)))
    }
    // swap: new fingerprint answers current-version queries; the old
    // fingerprint (now stale) and its dirs are superseded
    deadFps.remove(newFp)
    rebornFps.add(newFp)
    Option(registry.put(newFp, Entry(newViewPath)))
      .foreach(old => superseded.add((old.path, System.currentTimeMillis())))
    incremental.put(newFp, next)
    withRewriteDisabled { indexShape(newFp, e.query(t.read(newVersion))) }
    if (newFp != fp) {
      deadFps.putIfAbsent(fp, System.currentTimeMillis())
      rebornFps.remove(fp)
      Option(registry.remove(fp))
        .foreach(old => superseded.add((old.path, System.currentTimeMillis())))
      Option(incremental.remove(fp))
        .foreach(o => superseded.add((o.statePath, System.currentTimeMillis())))
      dropShapes(fp)
    }
    persist()
    reapSuperseded(all = false)
    Some(RefreshResult(newFp, mode, inputs))
  }

  /** Drop every entry and eagerly reclaim all superseded dirs (the
    * caller asserts no registered-view query is in flight — true for
    * test teardowns and shutdown hooks, the only callers). Dirs still
    * REGISTERED at clear() time are left on disk: a concurrently
    * planned query may reference them, and they are tmp-dir scoped. */
  def clear(): Unit = {
    registry.keySet().forEach(fp =>
      deadFps.putIfAbsent(fp, System.currentTimeMillis()))
    rebornFps.clear()
    registry.clear()
    incremental.clear()
    containment.clear()
    joinContainment.clear()
    reapSuperseded(all = true)
    persist()
  }

  // ---- durable registry --------------------------------------------------
  //
  // A production MV outlives the session that registered it. When a
  // durable registry file is ATTACHED (e.g. under a GraftCatalog
  // root), every register/deregister WRITES THROUGH to it atomically
  // (tmp + atomic move — a torn write can never half-publish), and
  // attaching in a fresh session LOADS yesterday's fingerprints,
  // materialization paths and containment shapes back — the rewrite
  // rule fires against existing materializations with no
  // re-registration. This is sound because everything persisted is
  // built from CANONICALIZED plans: renders and canonical exprIds are
  // position-based, so the same view query in a new session produces
  // byte-identical keys. The in-memory maps remain the only thing
  // lookups touch — attach cost is one file read, lookup cost is
  // unchanged. Incremental-view REFRESH state (the query closure) is
  // not portable across sessions; a reloaded incremental view still
  // rewrites exactly (fp → path), and re-calling registerIncremental
  // restores refreshability.

  @volatile private var durableFile: Option[java.nio.file.Path] = None
  private val durableLock = new Object
  /** Fingerprints deregistered — by THIS session, or adopted from
    * another session's persisted DEAD tombstone — that the merge in
    * [[persist]] must never resurrect. Tombstones PERSIST as `DEAD`
    * lines in the registry file, so a deregistration survives into
    * sessions that still hold the fingerprint in memory: their next
    * persist() adopts the tombstone instead of writing the dead entry
    * back. */
  private val deadFps =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Tombstones older than this stop being rewritten into the file —
    * the GC bound on a churning registry. A session that stayed
    * attached with a stale in-memory entry for LONGER than the TTL
    * may resurrect it; documented non-goal (the same class of bound
    * as vacuum retention). */
  private val TombstoneTtlMs = 24L * 3600 * 1000
  /** Fingerprints THIS session registered but has NOT yet durably
    * persisted — [[loadFrom]] must not adopt an older persisted DEAD
    * line for them (re-register wins over a pre-existing tombstone;
    * the in-flight persist clears the DEAD line and writes the fresh
    * ENTRY). Cleared at the end of every successful persist: from then
    * on any DEAD line a merge sees postdates our write and wins. */
  private val rebornFps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** TEST SEAM: runs inside [[persist]]'s critical section, after the
    * cross-process lock is acquired and before the merge-read — a
    * race spec injects "another process finished a write just before
    * we locked" here and asserts the merge picks it up. */
  private[graft] var persistRaceHook: () => Unit = () => ()

  /** Attach `dir/_mv_registry` as the durable backing store: load
    * what's there (merging into the in-memory cache), then write
    * through on every mutation. Returns the number of entries loaded.
    * Attaching while ALREADY attached to a DIFFERENT directory is
    * refused loudly — it would silently drop write-through for the
    * first root (every later mutation persisting elsewhere); detach
    * explicitly to move roots. Re-attaching the same directory is an
    * idempotent refresh. */
  def attachDurableRegistry(dir: String): Int = durableLock.synchronized {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val f = d.resolve("_mv_registry")
    durableFile.filter(_ != f).foreach { prev =>
      throw new IllegalStateException(
        s"MV registry already attached at ${prev.getParent}; refusing to " +
          s"re-attach at $dir — call detachDurableRegistry() first " +
          "(a silent re-attach would drop write-through for the first root)")
    }
    durableFile = Some(f)
    deadFps.clear() // a fresh attach adopts the file as truth
    rebornFps.clear()
    val loaded = if (java.nio.file.Files.exists(f)) loadFrom(f) else 0
    persist()
    loaded
  }

  /** Stop writing through (the file keeps its last state). */
  def detachDurableRegistry(): Unit =
    durableLock.synchronized { durableFile = None }

  /** TEST SEAM: forget all in-memory state WITHOUT touching the
    * durable file or reclaiming any materialization directory — the
    * closest one JVM gets to "a brand-new session process". */
  private[graft] def resetMemoryForTest(): Unit = {
    registry.clear(); incremental.clear()
    containment.clear(); joinContainment.clear()
    durableFile = None
    deadFps.clear()
    rebornFps.clear()
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
  private def encSeq(xs: Iterable[String]): String =
    if (xs.isEmpty) "-" else xs.map(b64).mkString(",")
  private def decSeq(s: String): Seq[String] =
    if (s == "-") Seq.empty else s.split(',').toSeq.map(unb64)
  private def encSMap(m: Map[String, Int]): String =
    if (m.isEmpty) "-" else m.map { case (k, v) => s"${b64(k)}:$v" }.mkString(",")
  private def decSMap(s: String): Map[String, Int] =
    if (s == "-") Map.empty else s.split(',').map { kv =>
      val i = kv.lastIndexOf(':'); unb64(kv.substring(0, i)) -> kv.substring(i + 1).toInt
    }.toMap
  private def encNMap[K](m: Map[K, Int]): String =
    if (m.isEmpty) "-" else m.map { case (k, v) => s"$k:$v" }.mkString(",")
  private def decLMap(s: String): Map[Long, Int] =
    if (s == "-") Map.empty else s.split(',').map { kv =>
      val p = kv.split(':'); p(0).toLong -> p(1).toInt
    }.toMap
  private def decIMap(s: String): Map[Int, Int] =
    if (s == "-") Map.empty else s.split(',').map { kv =>
      val p = kv.split(':'); p(0).toInt -> p(1).toInt
    }.toMap

  /** Write the whole registry state to the attached file, atomically.
    * Called under every mutation; no-op when detached. O(views) —
    * the registry is fingerprints and paths, never data.
    *
    * Cross-PROCESS concurrency: the read-merge-write runs under an OS
    * ADVISORY LOCK on a `.lck` sibling (FileChannel.lock — chosen
    * over a create-exclusive lock FILE because the OS releases it on
    * process death; a crashed holder can never wedge the registry),
    * so two JVMs' persists serialize: each merges the file's current
    * entries into memory (putIfAbsent — this session's own view of a
    * fingerprint wins) before replacing it, and an interleaved write
    * can no longer be last-writer-wins dropped. Deregistrations
    * persist as DEAD tombstone lines, honored by every merge, so a
    * second still-attached session cannot write a dropped fingerprint
    * back. The atomic replace keeps lock-free READERS off torn files.
    * durableLock (in-JVM) still guards the channel: two threads of
    * one JVM would otherwise hit OverlappingFileLockException. */
  private def persist(): Unit = durableFile.foreach { f =>
    durableLock.synchronized {
      import scala.jdk.CollectionConverters._
      val lck = f.resolveSibling(f.getFileName.toString + ".lck")
      val ch = java.nio.channels.FileChannel.open(lck,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock() // blocks until any other process's persist completes
        try {
      persistRaceHook()
      if (java.nio.file.Files.exists(f))
        try loadFrom(f) catch { case _: Exception => () } // merge, best-effort
      val sb = new StringBuilder
      val cutoff = System.currentTimeMillis() - TombstoneTtlMs
      deadFps.asScala.toSeq.sortBy(_._1).foreach { case (fp, ts) =>
        if (ts >= cutoff) sb ++= s"DEAD ${b64(fp)} $ts\n"
        // expired tombstones are simply not rewritten — the file GC
      }
      registry.asScala.foreach { case (fp, e) =>
        sb ++= s"ENTRY ${b64(fp)} ${b64(e.path)}\n"
      }
      containment.asScala.foreach { case (key, q) =>
        q.iterator().asScala.foreach { s =>
          sb ++= s"SHAPE ${b64(key)} ${b64(s.fp)} ${encSeq(s.groupingRenders)} " +
            s"${encSMap(s.groupingByRender)} ${encSMap(s.aggByRender)} " +
            s"${encNMap(s.childOrdinalToOutput)}\n"
        }
      }
      joinContainment.asScala.foreach { case (key, q) =>
        q.iterator().asScala.foreach { s =>
          sb ++= s"JSHAPE ${b64(key)} ${b64(s.fp)} ${encSMap(s.groupingByRender)} " +
            s"${encSMap(s.aggByRender)} ${encNMap(s.baseOrdinalToOutput)} " +
            s"${encSeq(s.condRenders)}\n"
        }
      }
      val tmp = f.resolveSibling(s".tmp-mvreg-${java.util.UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, sb.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // every in-memory registration is now durable and any stale DEAD
      // line for it was just rewritten away — so a tombstone a LATER
      // merge encounters must postdate this write and genuinely wins.
      // (rebornFps = "re-registered but not yet persisted", nothing more:
      // leaving entries here would let a session that ever registered a
      // view ignore other sessions' deregistrations forever.)
      rebornFps.clear()
      // ...and symmetrically: the tombstones are now FILE-backed (the
      // DEAD lines above), so pinning them in memory would let a
      // session that ever DEREGISTERED a view destroy other sessions'
      // later legitimate re-registrations (its merge would skip their
      // fresh ENTRY and re-emit DEAD forever). The next merge re-adopts
      // whatever tombstones still stand in the file.
      deadFps.clear()
        } finally osLock.release()
      } finally ch.close()
    }
  }

  /** Merge the file's records into the in-memory cache. A
    * materialization path that no longer exists on disk is SKIPPED
    * (its files were reclaimed outside the registry's control) —
    * rewriting to a missing path would fail every query it fires
    * on. Shapes dedupe by (key, fp). */
  private def loadFrom(f: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    var n = 0
    val skipFps = scala.collection.mutable.Set.empty[String]
    java.nio.file.Files.readAllLines(f).asScala
      .filter(_.trim.nonEmpty) // a blank line must not abort the merge
      .foreach { line =>
      val parts = line.split(' ')
      parts(0) match {
        case "DEAD" =>
          // another session's (or our own persisted) deregistration
          // tombstone: adopt it and drop any in-memory state for the
          // fingerprint — UNLESS this session re-registered it after
          // the tombstone (re-register wins; our persist clears the
          // DEAD line), or the tombstone aged past the GC TTL (it
          // stops being honored AND rewritten). Not a loaded entry.
          val fp = unb64(parts(1))
          val ts = if (parts.length > 2) parts(2).toLong
                   else System.currentTimeMillis() // legacy line: fresh
          if (!rebornFps.contains(fp) &&
              ts >= System.currentTimeMillis() - TombstoneTtlMs) {
            deadFps.putIfAbsent(fp, ts)
            registry.remove(fp)
            incremental.remove(fp)
            dropShapes(fp)
          }
        case "ENTRY" =>
          val fp = unb64(parts(1)); val path = unb64(parts(2))
          if (deadFps.containsKey(fp)) ()
          else if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
            registry.putIfAbsent(fp, Entry(path)); n += 1
          } else skipFps += fp
        case "SHAPE" =>
          val key = unb64(parts(1)); val fp = unb64(parts(2))
          if (!skipFps.contains(fp) && !deadFps.containsKey(fp)) {
            val q = containment.computeIfAbsent(key,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[ViewShape]())
            if (!q.iterator().asScala.exists(_.fp == fp))
              q.add(ViewShape(fp, decSeq(parts(3)).toSet, decSMap(parts(4)),
                decSMap(parts(5)), decLMap(parts(6))))
          }
        case "JSHAPE" =>
          val key = unb64(parts(1)); val fp = unb64(parts(2))
          if (!skipFps.contains(fp) && !deadFps.containsKey(fp)) {
            val q = joinContainment.computeIfAbsent(key,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[JoinViewShape]())
            if (!q.iterator().asScala.exists(_.fp == fp))
              q.add(JoinViewShape(fp, decSMap(parts(3)), decSMap(parts(4)),
                decIMap(parts(5)), decSeq(parts(6)).toSet))
          }
        case other =>
          throw new IllegalStateException(s"corrupt _mv_registry line: $other")
      }
    }
    n
  }
}

/** The optimizer rule: any Aggregate subtree whose canonicalized form
  * matches a registered view is replaced by a scan of the
  * materialization, with the scan's output re-aliased under the
  * original output's exprIds (and cast to the original types) so every
  * parent reference keeps resolving. Only Aggregate roots are
  * fingerprinted — the registry is consulted O(aggregates-per-plan)
  * times, not per node. */
class RewriteToMaterializedView(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!MaterializedViews.active) plan
    else plan.transformDown {
      case agg: Aggregate if agg.resolved =>
        MaterializedViews.lookup(MaterializedViews.render(agg.canonicalized)) match {
          case Some(path) =>
            val mv = spark.read.parquet(path).queryExecution.analyzed
            // zip would silently TRUNCATE on arity mismatch, dropping
            // output columns from a rewritten plan — a mismatch means
            // the fingerprint matched a materialization of a different
            // shape, which must fail loudly, not corrupt results
            require(agg.output.length == mv.output.length,
              s"materialized view at $path has ${mv.output.length} columns; " +
                s"matched aggregate produces ${agg.output.length}")
            Project(
              agg.output.zip(mv.output).map { case (orig, fromMv) =>
                Alias(Cast(fromMv, orig.dataType), orig.name)(exprId = orig.exprId)
              }, mv)
          case None => rewriteByContainment(agg).getOrElse(agg)
        }
    }

  /** The containment fallback: try every registered view over the
    * same canonical base relation; first shape whose grouping,
    * aggregates and (optional) key filter all map wins. Any check
    * failing → None → the plan stands.
    *
    * The QUERY side must peel exactly what [[MaterializedViews.peel]]
    * peels on the INDEX side — Catalyst inserts a column-pruning
    * Project between the aggregate (or its filter) and the base
    * relation for any table wider than the referenced columns, so
    * matching the raw child against the indexed base render would
    * never fire on real plans. Everything — base lookup, grouping,
    * aggregate operands — is remapped through [[MaterializedViews
    * .toRelSpace]] and compared in relation ordinal space. */
  /** Reverse Catalyst's PullOutGroupingExpressions: grouping by a
    * complex expression leaves `Aggregate(_ge#N, ..., Project(attrs ++
    * [expr AS _ge#N], child))` in the optimized plan — the expression
    * lives BELOW the aggregate, where the attribute-only peel cannot
    * see it. Inlining the pulled aliases back into the grouping and
    * output lists (sound: pullout only extracts deterministic,
    * analyzer-built expressions) restores the `Aggregate(f(keys), …,
    * child)` shape the grouping-expression containment matches on.
    * Output exprIds are preserved, so the rebuilt plan's parents keep
    * resolving. Identity when no pulled alias is present. */
  private def inlinePulledGroupingExprs(agg: Aggregate): Aggregate = agg.child match {
    case p: Project if p.projectList.exists(_.isInstanceOf[Alias]) &&
        p.projectList.forall {
          case _: AttributeReference => true
          case a: Alias => a.child.deterministic
          case _ => false
        } =>
      val aliasMap: Map[Long, Expression] = p.projectList.collect {
        case a: Alias => a.exprId.id -> a.child
      }.toMap
      def inline(e: Expression): Expression = e.transformUp {
        case ar: AttributeReference if aliasMap.contains(ar.exprId.id) =>
          aliasMap(ar.exprId.id)
      }
      Aggregate(
        agg.groupingExpressions.map(inline),
        agg.aggregateExpressions.map {
          case ar: AttributeReference if aliasMap.contains(ar.exprId.id) =>
            Alias(aliasMap(ar.exprId.id), ar.name)(exprId = ar.exprId)
          case ne => inline(ne).asInstanceOf[NamedExpression]
        },
        p.child)
    case _ => agg
  }

  private def rewriteByContainment(agg0: Aggregate): Option[LogicalPlan] = {
    val agg = inlinePulledGroupingExprs(agg0)
    val aggC = agg.canonicalized match {
      case a: Aggregate => a
      case _ => return None
    }
    // canonical side: peel the optional Filter + pruning Project (in
    // either order) down to the base relation
    val (baseC, projC, _) =
      MaterializedViews.peel(aggC.child).getOrElse(return None)
    // real side in lockstep (canonicalization preserves structure):
    // keep the REAL filter condition for the rebuilt plan, and the
    // REAL base whose attribute exprIds the condition references —
    // pruning Projects are attribute-only, so a real attr's exprId is
    // the same at the base relation as above the Project
    var realCur = agg.child
    var realCond: Option[Expression] = None
    var sawProj = false
    var progress = true
    while (progress) {
      progress = false
      realCur match {
        case f: Filter if realCond.isEmpty =>
          realCond = Some(f.condition); realCur = f.child; progress = true
        case p: Project if !sawProj &&
            p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
          sawProj = true; realCur = p.child; progress = true
        case _ => ()
      }
    }
    val realBase = realCur
    // commuting the filter below the aggregate to above the view
    // changes its evaluation count (once per base row → once per
    // group); only sound for deterministic predicates (mirrors
    // PushDownPredicates)
    if (!realCond.forall(_.deterministic)) return None
    val shapes = MaterializedViews.shapesFor(MaterializedViews.render(baseC))
    if (shapes.isEmpty) return rewriteByJoinContainment(agg)

    shapes.iterator.flatMap { shape =>
      MaterializedViews.lookup(shape.fp).flatMap { path =>
        attempt(agg, aggC, projC, realCond, realBase, shape, path)
      }
    }.nextOption().orElse(rewriteByJoinContainment(agg))
  }

  /** JOIN containment: the query's `Aggregate(G₂, A₂, σ(A ⋈ B))`
    * answered from a registered `Aggregate(G₁, A₁, A ⋈ B)` over the
    * SAME inner equi-join of the same two leaf relations. All
    * comparisons run in concatenated-base ordinal space on the REAL
    * optimized plans ([[MaterializedViews.relRender]]); the view's
    * conjunct set must be a SUBSET of the query's (optimizer placement
    * of join keys / inferred not-nulls varies — set semantics don't),
    * and every EXTRA query conjunct must reference only bare base
    * columns the view groups by and outputs — those commute with the
    * group-by and become a Filter above the view scan. */
  private def rewriteByJoinContainment(agg: Aggregate): Option[LogicalPlan] = {
    import MaterializedViews._
    if (!anyJoinShapes) return None // O(1) gate before any decompose/render work
    val anatomy = decomposeJoinAgg(agg.child).getOrElse(return None)
    if (!anatomy.conds.forall(_.deterministic)) return None
    val condPairs: Seq[(String, Expression)] = anatomy.conds.map { c =>
      (relRender(c, anatomy.ordOf).getOrElse(return None), c)
    }
    val shapes = joinShapesFor(joinKeyOf(anatomy))
    if (shapes.isEmpty) return None
    shapes.iterator.flatMap { shape =>
      MaterializedViews.lookup(shape.fp).flatMap { path =>
        attemptJoin(agg, anatomy, condPairs, shape, path)
      }
    }.nextOption()
  }

  private def attemptJoin(agg: Aggregate,
      anatomy: MaterializedViews.JoinAnatomy,
      condPairs: Seq[(String, Expression)],
      shape: MaterializedViews.JoinViewShape, path: String): Option[LogicalPlan] = {
    import MaterializedViews.{avgOkType, relRender}
    // the view computed over σ_viewconds(A ⋈ B); the query needs
    // σ_queryconds ⊇ σ_viewconds, extras commuting through the group-by
    val queryRenders = condPairs.map(_._1).toSet
    if (!shape.condRenders.subsetOf(queryRenders)) return None
    val extras: Seq[Expression] =
      condPairs.filterNot(p => shape.condRenders.contains(p._1)).map(_._2)
    extras.foreach { e =>
      e.references.foreach { a =>
        val ord = anatomy.ordOf(a).getOrElse(return None)
        if (!shape.baseOrdinalToOutput.contains(ord)) return None
      }
    }
    // grouping: a render the view stored, or the GROUPING-EXPRESSION
    // ROLLUP fallback — a deterministic expression whose every base
    // column is a bare view group key (the calendar hierarchy on the
    // join shape: star view by day, query by month) remaps over the
    // view's key columns; re-aggregation makes the coarsening exact
    sealed trait Key
    case class KeyOrd(viewOrd: Int) extends Key
    case class KeyExpr(real: Expression) extends Key
    def exprOverViewKeys(e: Expression): Boolean =
      e.deterministic && e.references.nonEmpty && e.references.forall { a =>
        anatomy.ordOf(a).exists(shape.baseOrdinalToOutput.contains)
      }
    val keySpecs: Seq[Key] = agg.groupingExpressions.map { g =>
      relRender(g, anatomy.ordOf).flatMap(shape.groupingByRender.get) match {
        case Some(ord) => KeyOrd(ord)
        case None => if (exprOverViewKeys(g)) KeyExpr(g) else return None
      }
    }
    sealed trait Out
    case class Pass(viewOrd: Int) extends Out
    case class PassExpr(real: Expression) extends Out
    case class Roll(fn: String, viewOrd: Int) extends Out
    case class RollAvg(sumOrd: Int, cntOrd: Int) extends Out
    val outs: Seq[Out] = agg.aggregateExpressions.map { ne =>
      (ne match { case Alias(c, _) => c; case e => e }) match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Average(e, _) if avgOkType(e) =>
              val r = relRender(e, anatomy.ordOf).getOrElse(return None)
              RollAvg(shape.aggByRender.getOrElse(s"sum|$r", return None),
                shape.aggByRender.getOrElse(s"count|$r", return None))
            case Sum(e, _) =>
              Roll("sum", shape.aggByRender.getOrElse(
                s"sum|${relRender(e, anatomy.ordOf).getOrElse(return None)}", return None))
            case Min(e) =>
              Roll("min", shape.aggByRender.getOrElse(
                s"min|${relRender(e, anatomy.ordOf).getOrElse(return None)}", return None))
            case Max(e) =>
              Roll("max", shape.aggByRender.getOrElse(
                s"max|${relRender(e, anatomy.ordOf).getOrElse(return None)}", return None))
            case c: Count if c.children.length == 1 =>
              Roll("count", shape.aggByRender.getOrElse(
                s"count|${relRender(c.children.head, anatomy.ordOf).getOrElse(return None)}",
                return None))
            case _ => return None
          }
        case e =>
          relRender(e, anatomy.ordOf).flatMap(shape.groupingByRender.get) match {
            case Some(ord) => Pass(ord)
            case None =>
              // expression-rollup passthrough (see attempt's twin)
              val real = ne match { case Alias(c, _) => c; case other => other }
              if (exprOverViewKeys(real)) PassExpr(real) else return None
          }
      }
    }
    val mv = spark.read.parquet(path).queryExecution.analyzed
    val filtered =
      if (extras.isEmpty) mv
      else Filter(extras.map(_.transform {
        case a: AttributeReference if anatomy.ordOf(a).isDefined =>
          mv.output(shape.baseOrdinalToOutput(anatomy.ordOf(a).get))
      }).reduce(And), mv)
    // remap a REAL expression over base group-key columns into view
    // space — the grouping-expression rollup's rebuild
    def remapReal(e: Expression): Expression = e.transform {
      case a: AttributeReference if anatomy.ordOf(a).isDefined =>
        filtered.output(shape.baseOrdinalToOutput(anatomy.ordOf(a).get))
    }
    val rebuilt = agg.output.zip(outs).map { case (orig, out) =>
      def ae(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false)
      val expr: Expression = out match {
        case Pass(v) => filtered.output(v)
        case PassExpr(real) => remapReal(real)
        case Roll(fn, v) =>
          val colRef = filtered.output(v)
          fn match {
            case "sum" => ae(Sum(colRef))
            case "min" => ae(Min(colRef))
            case "max" => ae(Max(colRef))
            case "count" => Coalesce(Seq(ae(Sum(colRef)), Literal(0L)))
          }
        case RollAvg(s, c) =>
          // SUM(sums)/SUM(counts) in double — Average's own arithmetic
          Divide(
            Cast(ae(Sum(filtered.output(s))), org.apache.spark.sql.types.DoubleType),
            Cast(ae(Sum(filtered.output(c))), org.apache.spark.sql.types.DoubleType))
      }
      Alias(Cast(expr, orig.dataType), orig.name)(exprId = orig.exprId)
    }
    val groupKeys: Seq[Expression] = keySpecs.map {
      case KeyOrd(v) => filtered.output(v)
      case KeyExpr(real) => remapReal(real)
    }
    Some(Aggregate(groupKeys, rebuilt, filtered))
  }

  private def attempt(agg: Aggregate, aggC: Aggregate,
      projC: Option[Seq[AttributeReference]],
      realCond: Option[Expression], realBase: LogicalPlan,
      shape: MaterializedViews.ViewShape, path: String): Option[LogicalPlan] = {
    import MaterializedViews.toRelSpace
    // base-relation output ordinal of a REAL attribute, remappable
    // through the view's bare-column group keys — the namespace the
    // grouping-EXPRESSION fallback and the filter remap share
    def baseOrdOf(a: AttributeReference): Option[Long] = {
      val i = realBase.output.indexWhere(_.exprId == a.exprId)
      if (i < 0) None else Some(i.toLong)
    }
    // every query grouping expr must be one the view grouped AND
    // output (G₂ ⊆ G₁, with the key readable back from the view) —
    // compared in relation space, like the index stores them — OR a
    // GROUPING-EXPRESSION ROLLUP: a deterministic expression whose
    // every base column is a bare view group key (the calendar
    // hierarchy: view by day, query by date_trunc('month', day)).
    // Grouping by f(k) over a view grouped by k merely COARSENS the
    // partition of rows, and the rewrite re-aggregates the view's
    // partial states under the remapped expression, so SUM/MIN/MAX/
    // COUNT/AVG roll up exactly; non-deterministic f would change
    // its evaluation count (per base row → per view row) — refuse.
    sealed trait Key
    case class KeyOrd(viewOrd: Int) extends Key
    case class KeyExpr(real: Expression) extends Key
    val keySpecs: Seq[Key] =
      aggC.groupingExpressions.zip(agg.groupingExpressions).map {
        case (gc, gReal) =>
          shape.groupingByRender.get(toRelSpace(gc, projC).toString) match {
            case Some(ord) => KeyOrd(ord)
            case None =>
              if (!gReal.deterministic) return None
              if (gReal.references.isEmpty) return None
              gReal.references.foreach { a =>
                val ord = baseOrdOf(a.asInstanceOf[AttributeReference])
                  .getOrElse(return None)
                if (!shape.childOrdinalToOutput.contains(ord)) return None
              }
              KeyExpr(gReal)
          }
      }
    // the filter may only reference bare base columns that are view
    // group keys — remap each through base-relation ordinal → view
    // output ordinal
    val condOrdMap: Option[Map[Long, Int]] = realCond.map { cond =>
      cond.references.toSeq.map { a =>
        val baseOrd = realBase.output.indexWhere(_.exprId == a.exprId)
        if (baseOrd < 0) return None
        val viewOrd = shape.childOrdinalToOutput.getOrElse(baseOrd.toLong, return None)
        a.exprId.id -> viewOrd
      }.toMap
    }
    // every output: a view group key passthrough, a re-aggregable
    // SUM/MIN/MAX/COUNT the view stored, or an AVG decomposed into
    // view-stored SUM + COUNT partials of the same operand
    sealed trait Out
    case class Pass(viewOrd: Int) extends Out
    case class PassExpr(real: Expression) extends Out
    case class Roll(fn: String, viewOrd: Int) extends Out
    case class RollAvg(sumOrd: Int, cntOrd: Int) extends Out
    val outs: Seq[Out] =
      aggC.aggregateExpressions.zip(agg.aggregateExpressions).map { case (ne, neReal) =>
        toRelSpace(ne match { case Alias(c, _) => c; case e => e }, projC) match {
          case ae: AggregateExpression
              if !ae.isDistinct && ae.filter.isEmpty &&
                ae.aggregateFunction.isInstanceOf[Average] &&
                MaterializedViews.avgOkType(
                  ae.aggregateFunction.asInstanceOf[Average].child) =>
            val e = ae.aggregateFunction.asInstanceOf[Average].child
            RollAvg(shape.aggByRender.getOrElse(s"sum|$e", return None),
              shape.aggByRender.getOrElse(s"count|$e", return None))
          case ae: AggregateExpression =>
            val (fn, rendered) = MaterializedViews.aggRender(ae).getOrElse(return None)
            Roll(fn, shape.aggByRender.getOrElse(rendered, return None))
          case e =>
            shape.groupingByRender.get(e.toString) match {
              case Some(ord) => Pass(ord)
              case None =>
                // expression-rollup passthrough: the analyzer already
                // guaranteed this output is composed of the query's
                // grouping expressions, so the same remap that made
                // the grouping sound makes the passthrough sound
                val real = neReal match { case Alias(c, _) => c; case other => other }
                if (!real.deterministic) return None
                real.references.foreach { a =>
                  val ord = baseOrdOf(a.asInstanceOf[AttributeReference])
                    .getOrElse(return None)
                  if (!shape.childOrdinalToOutput.contains(ord)) return None
                }
                PassExpr(real)
            }
        }
      }

    val mv = spark.read.parquet(path).queryExecution.analyzed
    val filtered = (realCond, condOrdMap) match {
      case (Some(cond), Some(ords)) =>
        Filter(cond.transform {
          case a: AttributeReference if ords.contains(a.exprId.id) =>
            mv.output(ords(a.exprId.id))
        }, mv)
      case _ => mv
    }
    // remap a REAL expression over base group-key columns into view
    // space: each attribute → the view output holding that key
    def remapReal(e: Expression): Expression = e.transform {
      case a: AttributeReference if baseOrdOf(a).isDefined =>
        filtered.output(shape.childOrdinalToOutput(baseOrdOf(a).get))
    }
    val rebuilt = agg.output.zip(outs).map { case (orig, out) =>
      def ae(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
        AggregateExpression(f, Complete, isDistinct = false)
      val expr: Expression = out match {
        case Pass(v) => filtered.output(v)
        case PassExpr(real) => remapReal(real)
        case Roll(fn, v) =>
          val col = filtered.output(v)
          fn match {
            case "sum" => ae(Sum(col))
            case "min" => ae(Min(col))
            case "max" => ae(Max(col))
            // COALESCE keeps the empty-view GLOBAL count at 0, the
            // value the unrewritten COUNT would produce
            case "count" => Coalesce(Seq(ae(Sum(col)), Literal(0L)))
          }
        case RollAvg(s, c) =>
          // SUM(sums)/SUM(counts) in double — Average's own arithmetic
          // (Average sums non-decimal inputs as double too)
          Divide(
            Cast(ae(Sum(filtered.output(s))), org.apache.spark.sql.types.DoubleType),
            Cast(ae(Sum(filtered.output(c))), org.apache.spark.sql.types.DoubleType))
      }
      Alias(Cast(expr, orig.dataType), orig.name)(exprId = orig.exprId)
    }
    val groupKeys: Seq[Expression] = keySpecs.map {
      case KeyOrd(v) => filtered.output(v)
      case KeyExpr(real) => remapReal(real)
    }
    Some(Aggregate(groupKeys, rebuilt, filtered))
  }
}
