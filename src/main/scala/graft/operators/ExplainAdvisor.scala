package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BinaryComparison, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, Filter => LFilter, Join => LJoin}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The explain-advisor (VERDICT r9 item 8 — stretch): compose the
  * repo's own planner-input sketches — q140's CMS join-size estimate
  * and q254's equi-depth-histogram selectivity — into ONE call that,
  * given a registered query name, EXECUTES the query and reports
  * estimated vs actual rows per plan site, from the same sketches a
  * self-tuning layer would consult before choosing broadcast vs
  * shuffle vs skew mitigation:
  *
  *  - '''join sites''': every single-key equi-join in the optimized
  *    logical plan gets a CMS inner-product size estimate, with the
  *    key-count frames computed over each SIDE'S OWN logical subtree
  *    (filters and upstream joins applied — the distribution the join
  *    actually sees); the ACTUAL is the executed physical join's
  *    `numOutputRows` metric — real execution, not a recount. For
  *    INNER joins the estimate is one-sided (CMS cross-terms only
  *    add), so est ≥ actual always; outer joins are reported with
  *    `one_sided=false` (the outer side adds unmatched rows the
  *    matched-pair estimate does not model).
  *  - '''filter sites''': every `col ⋈ literal` range conjunct on a
  *    resolvable numeric base column gets a 20-bucket equi-depth
  *    histogram estimate (the q254 interpolation); the actual is the
  *    exact base-side recount.
  *  - '''shuffle context''': the executed plan's exchange count and
  *    total shuffle records — the denominaton a tuner would weigh
  *    join-order alternatives against.
  *
  * Scope (stated, not silent): attributes must trace to a base
  * parquet relation through Project/Filter/SubqueryAlias/Join chains;
  * joins of derived aggregates and computed keys are skipped — those
  * sites report nothing rather than a wrong number. A filter that
  * cannot be re-parsed against a fresh scan is DROPPED from the
  * estimate's key frame, which only raises a one-sided estimate.
  *
  * Scale shape: estimates run on vocabulary-sized key-count frames
  * (map-side combined) and fixed d×w sketch cells; the histogram's
  * one ordered pass is per advised column. The advised query runs
  * once, with its own plan — the advisor adds narrow side passes.
  */
object ExplainAdvisor {

  final case class Advice(kind: String, site: String, estimated: Long,
                          actual: Long, errPpm: Long, oneSided: Boolean)

  /** Attribution-exemption table (VERDICT r13 item 8: self-contained
    * artifact): the registry join sites whose physical `numOutputRows`
    * metric is unattributable BY DESIGN, each with the verified
    * mechanism (probed with [[graft.AdvisorSweep]] +
    * `graft.Probe plans` at sf0.001). One source of truth shared by
    * [[graft.Probe]] (the PLANS.md rendering) and
    * [[graft.AdvisorSweep]] (the machine-readable `exemptions` block
    * in ADVISOR_r*.json), so prose and artifact cannot drift. Each
    * refusal is deliberate — the alternatives would fabricate a
    * compare (sum a reused node twice, or assert an
    * empty-at-this-SF join is empty at every SF).
    */
  val attributionExemptions: Seq[(String, String, String)] = Seq(
    ("q12_anti_join_orphans", "c_custkey = o_custkey [LeftAnti]",
      "AQE empty-relation elision: every customer matches, the anti-join " +
        "output is empty, and the EXECUTED plan is literally `EmptyRelation` " +
        "(verified via `Probe plans`) — no physical join node exists to carry " +
        "a metric."),
    ("q45_minhash_lsh_neardup", "band_id = band_id [Inner]",
      "Hot-path band join of the skew-split pair generator: its input (hot " +
        "LSH buckets) is EMPTY at the gate SFs, AQE folds the join into " +
        "EmptyRelation (est = 0 recorded). Grading it 0 would silently " +
        "mis-grade larger SFs where hot buckets exist."),
    ("q51_ngram_jaccard", "band_id = band_id [Inner]",
      "Same hot-path empty-relation elision as q45 (est = 0)."),
    ("q66_simhash_neardup", "band_id = band_id [Inner]",
      "Same hot-path empty-relation elision as q45 (est = 0)."),
    ("q73_event_funnel", "user_id = user_id [Inner] (1 of 3)",
      "Three same-name incarnations; two attribute by exprId, the third's " +
        "physical node is deduplicated by reference identity under exchange " +
        "reuse (ADVICE r12) — summing the shared node again would " +
        "double-count, the name tier sees 3 candidates and refuses."),
    ("q88_incremental_dedup",
      "band_id/old_id/doc_id Inner, doc_id LeftAnti/LeftOuter, fp LeftSemi (6 sites)",
      "The batch-vs-corpus joins execute inside `BandIndex.classify`'s " +
        "own store actions (its prefix collect and its one " +
        "localCheckpoint: separate QueryExecutions over the persisted " +
        "bucketed tables); the advised frame holds the logical sites but " +
        "their metrics live in other executions' physical plans, and the " +
        "duplicated fp/doc_id name sets are ambiguous besides. Store-side " +
        "correctness is spec-gated (`BandIndexSpec`), not metric-gated."))

  private val D = 4
  /** Wide enough that FK-join collision inflation (ΣaΣb/w) stays a
    * fraction of real join sizes at the tested SFs; still 4·65536
    * cells — fixed cost at any corpus volume.
    */
  private val W = 65536

  // ---- logical-side resolution --------------------------------------

  /** Trace `a` down to (baseTable, column, pathFilters). */
  private def resolve(p: LogicalPlan, a: Attribute,
                      filters: List[Expression] = Nil)
      : Option[(String, String, List[Expression])] = p match {
    case lr: LogicalRelation =>
      if (!lr.output.exists(_.exprId == a.exprId)) None
      else tableOf(lr).map(t => (t, a.name, filters))
    case Project(list, child) =>
      list.find(_.exprId == a.exprId).flatMap {
        case ar: AttributeReference => resolve(child, ar, filters)
        case Alias(ar: AttributeReference, _) => resolve(child, ar, filters)
        case _ => None // computed column — out of model
      }
    case LFilter(cond, child) => resolve(child, a, cond :: filters)
    case SubqueryAlias(_, child) => resolve(child, a, filters)
    case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
      // a grouping key's exprId WOULD trace through, but the join
      // then runs against DISTINCT keys — a base key-count frame
      // mis-models it wildly. Refuse rather than guess.
      None
    case j: LJoin =>
      if (j.left.outputSet.contains(a)) resolve(j.left, a, filters)
      else if (j.right.outputSet.contains(a)) resolve(j.right, a, filters)
      else None
    case other if other.children.size == 1 =>
      resolve(other.children.head, a, filters)
    case _ => None
  }

  private def tableOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.getName)
          .map(_.stripSuffix(".parquet"))
      case _ => None
    }

  private def equiPairs(cond: Expression)
      : Seq[(AttributeReference, AttributeReference)] = cond match {
    case And(l, r) => equiPairs(l) ++ equiPairs(r)
    case EqualTo(a: AttributeReference, b: AttributeReference) => Seq((a, b))
    case _ => Seq.empty
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  // ---- physical-side actuals ----------------------------------------

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  private def keyNames(es: Seq[Expression]): Set[String] =
    es.flatMap(_.collect { case ar: AttributeReference => ar.name }).toSet

  private def keyExprIds(es: Seq[Expression]): Set[Long] =
    es.flatMap(_.collect { case ar: AttributeReference => ar.exprId.id }).toSet

  // ---- the q254 histogram, generalized to one (value) column --------

  /** Estimated row count for `vals.v <op> t` from a 20-bucket
    * equi-depth histogram over `vals` ((ok: long, v: double) columns).
    */
  private def histEstimate(vals: DataFrame, op: String, t: Double): Double = {
    val hist = vals
      .withColumn("bid", ntile(20).over(Window.orderBy(col("v"), col("ok"))))
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      .collect()
    val le = hist.map { r =>
      val (n, mn, mx) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      if (mx <= t) n.toDouble
      else if (mn > t) 0d
      else if (mx == mn) n.toDouble
      else n.toDouble * (t - mn) / (mx - mn)
    }.sum
    val total = hist.map(_.getLong(1)).sum.toDouble
    op match {
      case "<=" => le
      case "<"  => le // continuous model: P(v = t) ≈ bucket-interpolated 0
      case ">=" => total - le
      case ">"  => total - le
    }
  }

  // ---- cheap plan stats (no sketches) --------------------------------

  /** Execute `df`'s OWN plan and return its QueryExecution, whose
    * `executedPlan` is then AQE-final (`isFinalPlan=true`) and carries
    * this run's metrics. collect() runs this QueryExecution; count(),
    * foreach and rdd build a separate one, which would leave the plan
    * read afterwards tentative and its metrics empty.
    */
  def executed(df: DataFrame): QueryExecution = {
    df.collect()
    df.queryExecution
  }

  /** Execute `query` and return (shuffle-exchange count, shuffle
    * records written) from the AQE-finalized physical plan — the
    * advisor's "shuffle context" row without the sketch passes.
    * ReusedExchangeExec nodes are NOT counted (reuse is the
    * optimization the count exists to protect). Shared by
    * [[graft.AdvisorSweep]] (pin generation) and the exchange-pin
    * spec, so generator and gate count identically by construction.
    */
  def exchangeStats(spark: SparkSession, dir: String,
                    query: (SparkSession, String) => DataFrame)
      : (Int, Long) = {
    val physical = flatten(executed(query(spark, dir)).executedPlan)
    val shuffles = physical.collect { case s: ShuffleExchangeExec => s }
    val records = shuffles
      .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
    (shuffles.size, records)
  }

  // ---- the advisor ---------------------------------------------------

  def advise(spark: SparkSession, dir: String,
             query: (SparkSession, String) => DataFrame): Seq[Advice] = {
    val qe = executed(query(spark, dir))
    val optimized = qe.optimizedPlan
    val physical = flatten(qe.executedPlan)

    // identity-dedup (ADVICE r12): the flattened plan can surface the
    // same physical node object more than once (reuse wrappers, AQE
    // stage nesting); summing a node's metric twice would inflate
    // 'actual' invisibly. Reference identity, not equals — two
    // DISTINCT incarnations of one logical site must both count.
    val physJoinNodes: Seq[SparkPlan] = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
      physical.collect {
        case j: SortMergeJoinExec => j
        case j: BroadcastHashJoinExec => j
        case j: ShuffledHashJoinExec => j
        case j: BroadcastNestedLoopJoinExec => j
      }.filter(seen.add)
    }
    def physKeys(p: SparkPlan): Set[String] = p match {
      case j: SortMergeJoinExec => keyNames(j.leftKeys ++ j.rightKeys)
      case j: BroadcastHashJoinExec => keyNames(j.leftKeys ++ j.rightKeys)
      case j: ShuffledHashJoinExec => keyNames(j.leftKeys ++ j.rightKeys)
      case _ => Set.empty
    }
    val physJoins: Seq[(Set[String], Long)] =
      physJoinNodes.map(p => (physKeys(p), p.metrics("numOutputRows").value))
    // PRIMARY attribution: Spark's own logical link — the planner (and
    // AQE, which depends on it) tags every physical node with the
    // optimized-logical node it implements, so matching by reference
    // identity pairs each logical join site with exactly its physical
    // incarnations, no name guessing (VERDICT r11 item 5: name-set
    // matching left every alias-collision site ungraded). Several
    // physical nodes linking to one logical join are that join's
    // re-executions (reuse-miss duplicates) — their metrics SUM, the
    // same accumulation semantics the doc header states. The name-set
    // match below stays as fallback for nodes whose link was stripped.
    // sameResult, not reference eq: QueryExecution plans a CLONE of the
    // optimized plan, so links point at structurally-identical copies.
    // Two distinct logical joins that are sameResult-equal have
    // identical subtrees — both sites then read the same (correct)
    // metric sum AND compute the same estimate, so the compare stays
    // truthful even in that corner. NOTE sameResult fails for AQE
    // re-planned stages (their logical children are LogicalQueryStage
    // wrappers) — the exprId match below covers those.
    def linkedActual(j: LogicalPlan): Option[Long] = {
      val linked = physJoinNodes.filter(_.logicalLink.exists(l =>
        (l eq j) || l.sameResult(j)))
      if (linked.isEmpty) None
      else Some(linked.map(_.metrics("numOutputRows").value).sum)
    }
    // STRONGEST attribution: condition ExprIds. Spark never re-mints
    // exprIds across optimized-plan cloning, physical planning, or AQE
    // re-optimization, so the physical join whose key + residual
    // condition attributes carry EXACTLY the logical condition's
    // exprId set IS that logical site's incarnation — alias-proof
    // where name sets collide, clone-proof where reference identity
    // fails, and AQE-proof where sameResult fails on
    // LogicalQueryStage children. EXACT set equality (ADVICE r12 —
    // subsetOf let a downstream join re-joining on the same attribute
    // pair inflate 'actual'): the physical split of an equi-join is
    // keys + leftover condition, whose union of refs reproduces the
    // logical condition's refs verbatim, and a DIFFERENT site — even
    // one reusing this pair's attributes — carries at least one other
    // attribute instance, so its set differs. Covers
    // BroadcastNestedLoopJoinExec too (VERDICT r12 item 6): a BNLJ
    // keeps the whole condition un-split and its numOutputRows is as
    // real as SMJ's, so the 11 banded/theta sites that reported -1
    // now grade. Several matches = several incarnations of THIS site
    // (AQE re-plan copies, reuse misses) — their metrics sum.
    def physIdSet(p: SparkPlan): Set[Long] = p match {
      case j: SortMergeJoinExec =>
        keyExprIds(j.leftKeys ++ j.rightKeys ++ j.condition.toSeq)
      case j: BroadcastHashJoinExec =>
        keyExprIds(j.leftKeys ++ j.rightKeys ++ j.condition.toSeq)
      case j: ShuffledHashJoinExec =>
        keyExprIds(j.leftKeys ++ j.rightKeys ++ j.condition.toSeq)
      case j: BroadcastNestedLoopJoinExec =>
        keyExprIds(j.condition.toSeq)
      case _ => Set.empty
    }
    def idActual(cond: Expression): Option[Long] = {
      val want = keyExprIds(Seq(cond))
      if (want.isEmpty) None
      else {
        val m = physJoinNodes.filter(p => physIdSet(p) == want)
        if (m.isEmpty) None
        else Some(m.map(_.metrics("numOutputRows").value).sum)
      }
    }

    // Per join site: CMS key-count frames over each SIDE'S OWN logical
    // subtree (filters and upstream joins applied — the distribution
    // the join actually sees), via one narrow groupBy(key) pass per
    // side. That pass is the advisor's cost — the sketching scan a
    // planner's stats collection pays — and stays far cheaper than the
    // query (two columns, map-side combine, column pruning pushed into
    // the side's plan by Catalyst).
    // attribution is by join-KEY-NAME set: when several distinct
    // logical joins (or several genuinely different physical joins)
    // share a name set, pairing estimate to metric is guesswork — a
    // max-metric match fabricated "one-sided violations" where a
    // 20-row site was compared against its 40-row namesake. Ambiguous
    // sites report actual = -1 (estimate recorded, no false compare).
    val logicalNameCounts: Map[Set[String], Int] = optimized.collect {
      case LJoin(l, _, _, Some(cond), _) =>
        equiPairs(cond).take(1).map { case (a, b) => Set(a.name, b.name) }
    }.flatten.groupBy(identity).map { case (k, v) => (k, v.size) }
    val joinAdvice = optimized.collect {
      case j @ LJoin(_, _, jt, Some(cond), _) =>
        equiPairs(cond).take(1).map { case (la0, ra0) =>
          val (la, ra) =
            if (j.left.outputSet.contains(la0)) (la0, ra0) else (ra0, la0)
          // NULL keys never match an equi-join (null ≠ null), so they
          // contribute zero output rows — dropping them from the
          // key-count frame is exact, and keeps the CMS hash off rows
          // it must not see (a null group key crashed 4 sweeps)
          def sideFrame(side: LogicalPlan, key: Attribute): DataFrame =
            org.apache.spark.sql.graftshim.InternalRowBridge
              .ofRows(spark, side)
              .groupBy(org.apache.spark.sql.graftshim.InternalRowBridge
                .column(key).cast("string").as("t"))
              .agg(count(lit(1)).as("cnt"))
              .filter(col("t").isNotNull)
          // a side with no surviving key rows yields an EMPTY inner
          // product (min over zero cells = NULL) — that estimates 0
          // matched pairs, and must not abort the whole query's sweep
          val est = scala.util.Try {
            val r = JoinEstimate.estimate(
              sideFrame(j.left, la), sideFrame(j.right, ra), D, W).head()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          }.getOrElse(-1L)
          val names = Set(la.name, ra.name)
          // the same logical join can appear in several physical
          // incarnations (AQE re-plans leave zero-metric copies;
          // reused subtrees duplicate nodes) — the one that ran is
          // the one with rows. Attribution is by key-NAME set, which
          // is fuzzy: a different physical join whose name set merely
          // INTERSECTS this one may be the true owner of the metric
          // (aliased keys make exact-set matching miss it), so any
          // name overlap from a non-exact match, a metric tie, or a
          // second logical site with the same names makes the site
          // unattributable → actual = -1 (estimate recorded, no
          // false compare).
          val matches = physJoins.filter(_._1 == names).map(_._2)
            .filter(_ > 0).distinct
          val intersecting =
            physJoins.count(_._1.intersect(names).nonEmpty)
          val unambiguous = matches.size == 1 &&
            intersecting == physJoins.count(_._1 == names) &&
            logicalNameCounts.getOrElse(names, 0) == 1
          val actual = idActual(cond)
            .orElse(linkedActual(j))
            .getOrElse {
              if (matches.isEmpty) -1L
              else if (unambiguous) matches.head
              else -1L
            }
          val err =
            if (actual > 0) (est - actual) * 1000000L / actual else -1L
          // one-sided only for INNER joins: CMS estimates the matched
          // pair count; an outer join's output adds unmatched rows the
          // sketch does not model
          Advice("join", s"${la.name} = ${ra.name} [$jt]", est, actual,
            err, oneSided = jt == Inner)
        }
    }.flatten

    val filterAdvice = optimized.collect {
      case LFilter(cond, child) =>
        conjuncts(cond).flatMap {
          case cmp: BinaryComparison =>
            val numeric = Set[org.apache.spark.sql.types.DataType](
              org.apache.spark.sql.types.LongType,
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.DoubleType,
              org.apache.spark.sql.types.FloatType)
            (cmp.left, cmp.right) match {
              case (ar: AttributeReference, Literal(v, _))
                  if v != null && numeric.contains(ar.dataType) =>
                resolve(child, ar).flatMap { case (t, c, _) =>
                  val tl = v.toString.toDouble
                  val op = cmp match {
                    case _: LessThanOrEqual => "<="
                    case _: LessThan => "<"
                    case _: GreaterThanOrEqual => ">="
                    case _: GreaterThan => ">"
                    case _ => "="
                  }
                  if (op == "=") None else {
                    val vals = Tables.load(spark, dir, t)
                      .select(monotonically_increasing_id().as("ok"),
                        col(c).cast("double").as("v"))
                    val est = histEstimate(vals, op, tl)
                    val actual = Tables.load(spark, dir, t)
                      .where(expr(s"$c $op $tl")).count()
                    val err = if (actual > 0)
                      ((est - actual) * 1000000L / actual).toLong else -1L
                    Some(Advice("filter", s"$t.$c $op $tl",
                      math.round(est), actual, err, oneSided = false))
                  }
                }
              case _ => None
            }
          case _ => None
        }
    }.flatten

    val shuffles = physical.collect { case s: ShuffleExchangeExec => s }
    val shuffleRecords = shuffles
      .flatMap(_.metrics.get("shuffleRecordsWritten").map(_.value)).sum
    val shuffleAdvice = Seq(Advice("shuffle",
      s"${shuffles.size} exchanges observed", -1L, shuffleRecords, -1L,
      oneSided = false))

    joinAdvice ++ filterAdvice ++ shuffleAdvice
  }
}
