package graft.olap

import graft.core.{Bolt, Cube, Dimension}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Rule scopes (≙ `rules.py:24-41`). */
sealed trait RuleScope
object RuleScope {
  case object AllLevels extends RuleScope        // overrides every read
  case object AggregationLevel extends RuleScope // overrides aggregated reads
  case object BaseLevel extends RuleScope        // computed per base cell, then aggregated
  case object OnEntry extends RuleScope          // write-path transform
  case object Command extends RuleScope          // explicit action (`rules.py:24-41` scope 5)
}

/** Restricted rule expression DSL. The reference allows arbitrary Python
  * (`rules.py:122`); we define the expressible subset as an AST that compiles
  * BOTH to a driver-side scalar evaluator (point reads) and to a Catalyst
  * `Column` over a measure-pivoted row (grid/view reads, codegen-friendly) —
  * see SURVEY §2.7/§7. The escape hatch is a registered Scala function.
  *
  * Null semantics: an empty cell reads as `None`; `+`/`-` treat `None` as 0;
  * `*`//` propagate `None`; `/` yields `None` on zero/None denominator (the
  * `if sales: … else None` idiom of `samples/tiny.py:137-144`).
  */
sealed trait RuleExpr
object RuleExpr {
  final case class Lit(v: Double) extends RuleExpr
  /** Cell reference: `"Sales"` (member looked up across dimensions in order,
    * ≙ `cell.py:251-331`) or `"months:Jul"` (dimension-qualified,
    * ≙ `cell.py:185-211`).
    */
  final case class Ref(spec: String) extends RuleExpr
  final case class Add(a: RuleExpr, b: RuleExpr) extends RuleExpr
  final case class Sub(a: RuleExpr, b: RuleExpr) extends RuleExpr
  final case class Mul(a: RuleExpr, b: RuleExpr) extends RuleExpr
  final case class Div(a: RuleExpr, b: RuleExpr) extends RuleExpr
  final case class Neg(a: RuleExpr) extends RuleExpr
  final case class Fn(name: String, a: RuleExpr) extends RuleExpr // abs | round
  /** Relative member shift: the referenced cell is the current address with
    * dimension `dim`'s member moved by `offset` in committed member order
    * (≙ `cell.alter` + `member.next/previous`, `cell.py:110-154`,
    * `member.py:185-225` — prior-period references). Evaluates to None when
    * the shift runs off either end.
    */
  final case class Shift(dim: String, offset: Int) extends RuleExpr
  /** The value being written — valid only inside an ON_ENTRY rule's expr,
    * where the whole expression is the write-path transform. Unlike a Scala
    * `onEntryFn`, an Input-based transform is a declarative AST and survives
    * save/load (≙ the pickled on-entry code of `rules.py:45-88`, minus the
    * code pickling).
    */
  case object Input extends RuleExpr
  /** Cross-cube cell lookup (≙ `c.db["exrates", ...]` — the reference's
    * currency-conversion rule, `samples/rules.py:125-139`): reads a cell of
    * ANOTHER cube in the same database. `parts` supplies one member per
    * target-cube dimension, in the target's dimension order, each resolved
    * against the CURRENT cell:
    *  - `Carry(dim)`: the current cell's member NAME in this cube's `dim`
    *    (≙ `c.member("years")` carried into the lookup address)
    *  - `AttrOf(dim, attr)`: the attribute VALUE of the current cell's
    *    member in `dim` names the target member
    *    (≙ `c.member("regions").attribute("lc")` → currency code)
    *  - `Fixed(member)`: a literal target member name.
    * The read goes through the target cube's full read path — its own rules
    * fire and its result cache serves repeated lookups. Scalar-mode only
    * (like Shift): per-cell resolution through this cube's member catalog
    * is not a column expression. Mutual A→B→A recursion is the rule
    * author's responsibility, exactly as in the reference.
    */
  final case class CubeRef(cubeName: String, parts: Seq[CubeRefPart]) extends RuleExpr
  sealed trait CubeRefPart
  object CubeRefPart {
    final case class Carry(dim: String) extends CubeRefPart
    final case class AttrOf(dim: String, attr: String) extends CubeRefPart
    final case class Fixed(member: String) extends CubeRefPart
  }
}

/** A typed rule-evaluation error carrying the reference's `#…!` sentinel code
  * (≙ `rules.py:15-20`): `#REF!` for dangling member/dimension references,
  * `#VALUE!` for arithmetic over a non-numeric (text) cell, `#ERR!` for any
  * other evaluation failure. [[graft.core.Cube.getCell]] and view renders
  * surface the code in place of the cell (≙ dispatch `cube.py:362-367`);
  * the numeric `get` path lets it propagate as a typed exception.
  */
final case class RuleError(code: String, detail: String)
    extends RuntimeException(s"$code $detail")

/** A registered rule (≙ `@rule` decorator, `decorators.py:13-50`;
  * `cube.py:750-847`). `trigger` is a partial address pattern
  * (dimension name → member name); the first rule whose every pattern entry
  * equals the queried address wins (≙ `rules.py:207-227`).
  * `scalaFn` escape hatch: receives resolved sibling-measure values.
  */
final case class RuleDef(
    trigger: Map[String, String],
    scope: RuleScope,
    expr: RuleExpr,
    name: String = "",
    onEntryFn: Option[Double => Double] = None)

object Rules {

  /** Bolts whose rules are being evaluated right now on this thread. Ref/Shift
    * evaluation re-enters the full read path (`cube.getByBolt`), so the
    * per-expression depth counter alone cannot see cross-cell chains: a rule
    * referencing its own cell (directly or mutually) would recurse without
    * bound. Same-bolt re-entry ⇒ descriptive cycle error; acyclic chain
    * length is separately bounded by [[MaxChain]] (stack-depth budget).
    */
  private val inFlight = new ThreadLocal[mutable.LinkedHashSet[(String, Vector[Int])]] {
    override def initialValue(): mutable.LinkedHashSet[(String, Vector[Int])] =
      mutable.LinkedHashSet.empty
  }

  /** Returns Some(result) if a matching rule computed the cell; None if no
    * rule applies and normal read semantics proceed (≙ `cube.py:334-432`).
    */
  def evaluate(cube: Cube, b: Bolt): Option[Option[Double]] = {
    val m = matchRule(cube, b)
    if (m.isEmpty) return None
    val open = inFlight.get()
    val key = (cube.name, b.ids)
    if (open.contains(key)) throw new IllegalStateException(
      s"circular rule reference in cube '${cube.name}': " +
        (open.iterator.map(_._2.mkString("[", ",", "]")) ++ Iterator(b.ids.mkString("[", ",", "]")))
          .mkString(" -> "))
    // acyclic chains are legal and can legitimately telescope across a whole
    // dimension (cumulative Shift rules) — bound generously, the same-bolt
    // set above is the actual cycle detector
    require(open.size < MaxChain,
      s"rule chain longer than $MaxChain cells in cube '${cube.name}' — " +
        "runaway chained rules? (each link costs a read)")
    open += key
    try evaluateMatched(cube, b, m.get)
    finally open -= key
  }

  private def evaluateMatched(cube: Cube, b: Bolt, rule: RuleDef): Option[Option[Double]] = {
    Some(rule).flatMap { rule =>
      rule.scope match {
        case RuleScope.AllLevels => Some(evalScalar(cube, b, rule.expr, 0))
        case RuleScope.AggregationLevel if b.superLevel > 0 => Some(evalScalar(cube, b, rule.expr, 0))
        case RuleScope.BaseLevel if b.superLevel == 0 => Some(evalScalar(cube, b, rule.expr, 0))
        case RuleScope.BaseLevel =>
          // base rule queried at an aggregated address: compute the rule per
          // base cell, then aggregate (calculate-then-sum, ≙ `cube.py:416-497`)
          Some(aggregateBaseRule(cube, b, rule))
        case _ => None
      }
    }
  }

  /** Write-path transform: a Scala `onEntryFn` wins when present (escape
    * hatch, not persistable); otherwise the rule's expr is the transform,
    * evaluated with [[RuleExpr.Input]] bound to the incoming value — but ONLY
    * when the expr actually mentions `Input`. An expr without `Input` is a
    * placeholder (the documented idiom for fn-backed on-entry rules, and what
    * pre-Input databases persisted) and must stay a no-op: treating
    * `Lit(0)` as the transform would silently rewrite every written value.
    */
  def onEntry(cube: Cube, b: Bolt, value: Double): Option[Double] =
    cube.rules.find(r => r.scope == RuleScope.OnEntry && matches(cube, r, b))
      .flatMap { r =>
        r.onEntryFn.map(_(value)).orElse {
          if (usesInput(r.expr)) evalScalar(cube, b, r.expr, 0, input = Some(value))
          else None
        }
      }

  private def usesInput(e: RuleExpr): Boolean = {
    import RuleExpr._
    e match {
      case Input => true
      case Add(a, b) => usesInput(a) || usesInput(b)
      case Sub(a, b) => usesInput(a) || usesInput(b)
      case Mul(a, b) => usesInput(a) || usesInput(b)
      case Div(a, b) => usesInput(a) || usesInput(b)
      case Neg(a) => usesInput(a)
      case Fn(_, a) => usesInput(a)
      case Lit(_) | Ref(_) | Shift(_, _) | CubeRef(_, _) => false
    }
  }

  /** Cube names referenced via [[RuleExpr.CubeRef]] anywhere in the expr —
    * the source cube folds their stateVersions into its result-cache key so
    * cross-cube rule values can never serve stale after the TARGET mutates.
    */
  private[graft] def cubeRefTargets(e: RuleExpr): Seq[String] = {
    import RuleExpr._
    e match {
      case CubeRef(cn, _) => Seq(cn)
      case Add(a, b) => cubeRefTargets(a) ++ cubeRefTargets(b)
      case Sub(a, b) => cubeRefTargets(a) ++ cubeRefTargets(b)
      case Mul(a, b) => cubeRefTargets(a) ++ cubeRefTargets(b)
      case Div(a, b) => cubeRefTargets(a) ++ cubeRefTargets(b)
      case Neg(a) => cubeRefTargets(a)
      case Fn(_, a) => cubeRefTargets(a)
      case Lit(_) | Ref(_) | Shift(_, _) | Input => Nil
    }
  }

  private def usesCellReads(e: RuleExpr): Boolean = {
    import RuleExpr._
    e match {
      case Ref(_) | Shift(_, _) | CubeRef(_, _) => true
      case Add(a, b) => usesCellReads(a) || usesCellReads(b)
      case Sub(a, b) => usesCellReads(a) || usesCellReads(b)
      case Mul(a, b) => usesCellReads(a) || usesCellReads(b)
      case Div(a, b) => usesCellReads(a) || usesCellReads(b)
      case Neg(a) => usesCellReads(a)
      case Fn(_, a) => usesCellReads(a)
      case Lit(_) | Input => false
    }
  }

  /** Bulk write-path hook: the cube's ON_ENTRY rules compiled to ONE
    * declarative value-column transform, first matching rule wins per row —
    * the same dispatch as the scalar [[onEntry]], applied by every bulk
    * write path (name-addressed import, area transforms/copies, streaming
    * ingest) so reference parity holds: every write passes the hook
    * (≙ `cube.py:527-537`), not just per-cell `set`.
    *
    * None ⇔ the cube has no ON_ENTRY rules (fast path: callers keep their
    * single-pass plan shape untouched). The boundary is LOUD, not silent:
    * an ON_ENTRY rule carrying an opaque Scala `onEntryFn`, or whose expr
    * reads other cells (Ref/Shift — a per-row driver read, not a Column),
    * throws here rather than letting a bulk load silently skip the hook —
    * route such loads through per-cell `set`, or register an Input-AST rule.
    */
  def onEntryBulk(cube: Cube): Option[Column => Column] = {
    val rules = cube.rules.filter(_.scope == RuleScope.OnEntry).toVector
    if (rules.isEmpty) None
    else {
      rules.foreach { r =>
        require(r.onEntryFn.isEmpty,
          s"ON_ENTRY rule '${r.name}' carries an opaque Scala onEntryFn — " +
            "not applicable on bulk write paths; use per-cell set() or an Input-AST rule")
        require(!usesCellReads(r.expr),
          s"ON_ENTRY rule '${r.name}' reads other cells (Ref/Shift) — " +
            "not applicable on area transforms (the transform's own output " +
            "would be its input); use per-cell set(), or bulk import / " +
            "streaming ingest (both evaluate Ref rules against the " +
            "post-write state)")
      }
      val noRefs: String => Column = spec => throw new IllegalStateException(
        s"unreachable: ref '$spec' in a bulk ON_ENTRY expr (rejected above)")
      Some { valueCol =>
        // first-match-wins INCLUDING rules with no usable transform (a
        // matching rule without Input shadows later rules, like onEntry)
        rules.foldRight(valueCol) { (r, acc) =>
          val t = if (usesInput(r.expr)) toColumnWith(noRefs, Some(valueCol))(r.expr)
                  else valueCol
          when(triggerCond(cube, r), t).otherwise(acc)
        }
      }
    }
  }

  /** Row predicate of a rule's trigger over fact columns — the column-mode
    * mirror of [[matches]], with the same silent-never-match contract for
    * trigger members removed by a later dimension edit.
    */
  private def triggerCond(cube: Cube, r: RuleDef): Column =
    r.trigger.foldLeft(lit(true)) { case (acc, (dimName, member)) =>
      val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dimName))
      if (i < 0 || !cube.dimensions(i).contains(member)) lit(false)
      else acc && col(s"d$i") === cube.dimensions(i).idOf(member)
    }

  /** Relative ordinal shifts — per-cell member-catalog navigation that no
    * bulk column path can express (CubeRef, by contrast, IS bulk-computable
    * since round 9 via broadcast slice joins). */
  private def usesOrdinalShift(e: RuleExpr): Boolean = {
    import RuleExpr._
    e match {
      case Shift(_, _) => true
      case CubeRef(_, _) => false
      case Add(a, b) => usesOrdinalShift(a) || usesOrdinalShift(b)
      case Sub(a, b) => usesOrdinalShift(a) || usesOrdinalShift(b)
      case Mul(a, b) => usesOrdinalShift(a) || usesOrdinalShift(b)
      case Div(a, b) => usesOrdinalShift(a) || usesOrdinalShift(b)
      case Neg(a) => usesOrdinalShift(a)
      case Fn(_, a) => usesOrdinalShift(a)
      case Lit(_) | Ref(_) | Input => false
    }
  }

  /** Dimensions navigated by ordinal `Shift` refs in an expression — a
    * summary materialization must not re-register a rule shifting over a
    * COARSENED dimension (the derived catalog renumbers ordinals, so the
    * shift would land on a different member there). */
  private[graft] def shiftDims(e: RuleExpr): Set[String] = {
    import RuleExpr._
    e match {
      case Shift(d, _) => Set(d)
      case Add(a, b) => shiftDims(a) ++ shiftDims(b)
      case Sub(a, b) => shiftDims(a) ++ shiftDims(b)
      case Mul(a, b) => shiftDims(a) ++ shiftDims(b)
      case Div(a, b) => shiftDims(a) ++ shiftDims(b)
      case Neg(a) => shiftDims(a)
      case Fn(_, a) => shiftDims(a)
      case Lit(_) | Ref(_) | Input | CubeRef(_, _) => Set.empty
    }
  }

  /** Member names referenced by `Ref`s in an expression, lowercased and
    * stripped of a dim qualifier — the summary materialization's cascade
    * screen: a rule whose Refs land in a SKIPPED rule's trigger territory
    * would compute from stored rule-less operands on the summary. */
  private[graft] def refMemberNames(e: RuleExpr): Set[String] = {
    import RuleExpr._
    e match {
      case Ref(spec) => spec.split(":", 2) match {
        case Array(_, m) => Set(m.toLowerCase)
        case Array(m) => Set(m.toLowerCase)
      }
      case Add(a, b) => refMemberNames(a) ++ refMemberNames(b)
      case Sub(a, b) => refMemberNames(a) ++ refMemberNames(b)
      case Mul(a, b) => refMemberNames(a) ++ refMemberNames(b)
      case Div(a, b) => refMemberNames(a) ++ refMemberNames(b)
      case Neg(a) => refMemberNames(a)
      case Fn(_, a) => refMemberNames(a)
      case Lit(_) | Shift(_, _) | Input | CubeRef(_, _) => Set.empty
    }
  }

  /** Scalar-only on the WRITE path: relative shifts and cross-cube lookups
    * are rejected for bulk ON_ENTRY transforms (an import's rate lookup
    * belongs in the model as a BASE_LEVEL CubeRef rule, not a write hook). */
  private def usesShift(e: RuleExpr): Boolean = {
    import RuleExpr._
    e match {
      case Shift(_, _) | CubeRef(_, _) => true
      case Add(a, b) => usesShift(a) || usesShift(b)
      case Sub(a, b) => usesShift(a) || usesShift(b)
      case Mul(a, b) => usesShift(a) || usesShift(b)
      case Div(a, b) => usesShift(a) || usesShift(b)
      case Neg(a) => usesShift(a)
      case Fn(_, a) => usesShift(a)
      case Lit(_) | Ref(_) | Input => false
    }
  }

  /** Apply the cube's ON_ENTRY rules to a whole resolved fact frame
    * `(d0…dN-1, value)` being bulk-imported — the compute-then-write face of
    * the hook. Column-expressible rule sets take the [[onEntryBulk]] single
    * column transform untouched; rule sets with unqualified Refs are
    * evaluated per imported row against the POST-WRITE state (existing
    * facts overridden by the incoming batch at equal addresses), via the
    * same measure-pivot the grid compiler uses (≙ every write passing
    * `cube.py:527-537`, where a rule may read sibling cells): one pivot of
    * the ref measures at base-address grain, one left join onto the batch,
    * one declarative transform column. A rule computing None for a row
    * (e.g. a Ref over an absent cell under `*`) keeps the incoming value,
    * exactly like per-cell `set`'s `getOrElse`.
    *
    * LOUD boundaries, never silent skips (the bulk path must not invent
    * write-order semantics the per-cell path doesn't have):
    *  - opaque Scala `onEntryFn`s and relative `Shift` refs reject;
    *  - refs must all resolve in ONE dimension, unqualified;
    *  - every transforming rule must pin that dimension in its trigger, and
    *    no referenced member may itself be rule-transformed — otherwise what
    *    a ref reads would depend on the order rows are written, which a
    *    distributed batch does not have.
    *
    * `existing` overrides the pre-write fact frame the post-write state is
    * built from — streaming batches pass their `bulkMergeSnapshot` frame so
    * ref evaluation and the subsequent merge see the SAME snapshot.
    */
  def applyOnEntryBulk(cube: Cube, resolved: org.apache.spark.sql.DataFrame,
      existing: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val rules = cube.rules.filter(_.scope == RuleScope.OnEntry).toVector
    if (rules.isEmpty) return resolved
    val vType = resolved.schema("value").dataType
    if (rules.forall(r => r.onEntryFn.isEmpty && !usesCellReads(r.expr)))
      return onEntryBulk(cube)
        .map(h => resolved.withColumn("value", h(col("value")).cast(vType)))
        .getOrElse(resolved)

    // ---- Ref-bearing compute-then-write path -----------------------------
    rules.foreach { r =>
      require(r.onEntryFn.isEmpty,
        s"ON_ENTRY rule '${r.name}' carries an opaque Scala onEntryFn — " +
          "not applicable on bulk write paths; use per-cell set() or an Input-AST rule")
      require(!usesShift(r.expr),
        s"ON_ENTRY rule '${r.name}' uses a relative Shift ref — not " +
          "bulk-importable (ordinal shifts are per-cell); use per-cell set()")
      collectRefs(r.expr).foreach(spec => require(!spec.contains(":"),
        s"ON_ENTRY rule '${r.name}': dimension-qualified ref '$spec' is not " +
          "bulk-importable; use an unqualified ref or per-cell set()"))
    }
    val refSpecs = rules.flatMap(r => collectRefs(r.expr)).distinct
    val refDimPerSpec = refSpecs.map { m =>
      val i = cube.dimensions.indexWhere(_.contains(m))
      if (i < 0) throw RuleError("#REF!",
        s"ON_ENTRY ref member '$m' not found in any dimension of '${cube.name}'")
      i
    }
    require(refDimPerSpec.distinct.size == 1,
      s"ON_ENTRY refs resolve across multiple dimensions " +
        s"(${refSpecs.mkString(", ")}) — not bulk-importable; use per-cell set()")
    val refDim = refDimPerSpec.head
    val d = cube.dimensions(refDim)
    val refIds = refSpecs.map(d.idOf).toSet
    // a rule whose trigger names a removed member/dimension can never match
    // (same silent-never-match contract as the scalar path / triggerCond) —
    // it transforms nothing, so the order-dependence guards don't apply
    def canMatch(r: RuleDef): Boolean = r.trigger.forall { case (dn, mm) =>
      val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
      i >= 0 && cube.dimensions(i).contains(mm)
    }
    rules.filter(r => usesInput(r.expr) && canMatch(r)).foreach { r =>
      val pin = r.trigger.collectFirst {
        case (dn, mm) if cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn)) == refDim => mm
      }
      require(pin.isDefined,
        s"ON_ENTRY rule '${r.name}': bulk import with cell-reading rules " +
          s"requires every transforming rule to pin dimension '${d.name}' in " +
          "its trigger — otherwise which cells are transformed vs read is " +
          "write-order-dependent; use per-cell set()")
      require(!refIds.contains(d.idOf(pin.get)),
        s"ON_ENTRY rule '${r.name}': member '${pin.get}' is both " +
          "rule-transformed and referenced by an ON_ENTRY rule — what a ref " +
          "reads would depend on write order; use per-cell set()")
    }

    val dimCols = cube.dimCols
    val keyCols = dimCols.indices.filterNot(_ == refDim).map(i => s"d$i")
    // post-write state at base grain: the batch wins over existing facts
    val post = existing.getOrElse(cube.facts)
      .select((dimCols.map(col) :+ col("value").cast(vType).as("value")): _*)
      .join(resolved.select(dimCols.map(col): _*), dimCols, "left_anti")
      .unionByName(resolved.select((dimCols.map(col) :+ col("value")): _*))
    val needed = refIds.toSeq.sorted
    val pivoted = post.filter(col(s"d$refDim").isin(needed: _*))
      .groupBy(keyCols.map(col): _*)
      .pivot(col(s"d$refDim"), needed.map(_.asInstanceOf[AnyRef]))
      .agg(sum(col("value")))
    val refFrame = needed.foldLeft(pivoted)((df, m) =>
      df.withColumnRenamed(m.toString, s"m_$m"))
    val joined =
      if (keyCols.isEmpty) resolved.crossJoin(broadcast(refFrame)) // 1-dim cube
      else resolved.join(refFrame, keyCols, "left")
    val resolve: String => Column = spec => col(s"m_${d.idOf(spec)}")
    val transformed = rules.foldRight(col("value")) { (r, acc) =>
      // None-result parity with scalar set(): a transform evaluating to
      // null keeps the incoming value (NaN — the #DIV/0! sentinel — is NOT
      // null and passes through)
      val t = if (usesInput(r.expr))
        coalesce(toColumnWith(resolve, Some(col("value")))(r.expr), col("value"))
      else col("value")
      when(triggerCond(cube, r), t).otherwise(acc)
    }
    joined.withColumn("value", transformed.cast(vType))
      .select((dimCols.map(col) :+ col("value")): _*)
  }

  private def matchRule(cube: Cube, b: Bolt): Option[RuleDef] =
    cube.rules.find(r => r.scope != RuleScope.OnEntry &&
      r.scope != RuleScope.Command && matches(cube, r, b))

  /** COMMAND rule: evaluate the named rule's expression at an address and
    * write the result back to that (base) cell — an explicit action, never
    * fired by reads (≙ scope 5 dispatch `cube.py:527-537`).
    */
  def executeCommand(cube: Cube, ruleName: String, address: Seq[String]): Option[Double] = {
    val r = cube.rules.find(x => x.scope == RuleScope.Command && x.name == ruleName)
      .getOrElse(throw new NoSuchElementException(s"no command rule '$ruleName'"))
    val b = cube.bolt(address)
    val result = evalScalar(cube, b, r.expr, 0)
    result.foreach(v => cube.set(address, v))
    result
  }

  /** COMMAND rule over a whole AREA in ONE job — the bulk face of
    * [[executeCommand]] ("rebase plan = gross × 1.1 for Europe"): evaluate
    * the rule's expression per BASE cell of the area through the same grid
    * plan as BASE_LEVEL reads ([[baseRuleGrid]] at leaf grain), then merge
    * the computed cells into the fact frame under the rule's trigger
    * members — a whole-DataFrame anti-join + union, never a per-cell driver
    * loop (the reference's scope-5 dispatch is one cell per call,
    * `cube.py:527-537`; at 100 TB a command touching a million cells must
    * be one Spark job, so this is the production shape).
    *
    * The highest-index trigger dimension is the measure axis the
    * expression's Refs pivot over (gridRuleFor's carrier convention); the
    * other trigger entries pin their dimension to the trigger member's
    * leaves (a command writes only cells it triggers on).
    * Cells where the expression is null (missing operand) are not written.
    * Relative Shift refs are per-cell navigation — rejected, like every
    * bulk path. Concurrency follows the streaming-merge contract: snapshot,
    * job outside the lock, commit drops exactly the point-writes the merge
    * incorporated.
    *
    * @return number of cells written
    */
  def executeCommandArea(cube: Cube, ruleName: String, area: graft.core.Area): Long = {
    val r = cube.rules.find(x => x.scope == RuleScope.Command && x.name == ruleName)
      .getOrElse(throw new NoSuchElementException(s"no command rule '$ruleName'"))
    if (usesOrdinalShift(r.expr)) throw RuleError("#ERR!",
      s"command rule '$ruleName' uses relative Shift refs, which are " +
        "per-cell — execute it per address via executeCommand")
    val triggerIdx: Map[Int, Int] = r.trigger.map { case (dn, m) =>
      val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
      require(i >= 0, s"command rule '$ruleName': unknown trigger dimension '$dn'")
      i -> cube.dimensions(i).idOf(m)
    }
    require(triggerIdx.nonEmpty, s"command rule '$ruleName' has no trigger — " +
      "an area command needs a trigger member to write under")
    // the measure axis is the HIGHEST-index trigger dimension — the same
    // carrier convention as gridRuleFor; `trigger` is an unordered Map, so
    // "first entry" would be nondeterministic beyond 4 entries
    val measureDim = triggerIdx.keys.max
    val targetId = triggerIdx(measureDim)
    require(cube.dimensions(measureDim).levelOf(targetId) == 0,
      s"command rule '$ruleName': trigger member on '${cube.dimensions(measureDim).name}' " +
        "must be a base member — commands write base cells")
    val sels: Seq[Seq[Int]] = (0 until cube.nDims).map { i =>
      if (i == measureDim) Nil
      else {
        val fromArea = area.leafPattern.getOrElse(i, cube.dimensions(i).leafMembers.map(_.id))
        triggerIdx.get(i) match {
          case Some(tid) =>
            val tl = cube.leafIdsOf(i, Seq(tid)).toSet
            fromArea.filter(tl)
          case None => fromArea
        }
      }
    }
    val (facts0, overlaySnap) = cube.bulkMergeSnapshot()
    val grid = baseRuleGrid(cube, r, sels, measureDim)
    val otherDims = (0 until cube.nDims).filterNot(_ == measureDim)
    val valueType = facts0.schema("value").dataType
    val written = otherDims.foldLeft(grid)((df, i) =>
        df.withColumnRenamed(s"a$i", s"d$i"))
      .withColumn(s"d$measureDim", lit(targetId))
      .filter(col("value").isNotNull)
      .withColumn("value", col("value").cast(valueType))
      .select(cube.dimCols.map(col) :+ col("value"): _*)
      .localCheckpoint(true) // one evaluation: the merge reads it twice
    val merged = facts0
      .join(written.select(cube.dimCols.map(col): _*), cube.dimCols, "left_anti")
      .union(written)
    cube.commitBulkMerge(merged, overlaySnap)
    // one value per cell: a text payload at an address the command actually
    // WROTE is replaced by the computed number, exactly like a point `set`
    // there (a cell whose expression was null keeps its annotation).
    // Payloads are driver-side and sparse, so the candidate set is a bounded
    // driver sweep; confirming which candidates were written is one cheap
    // filter over the (checkpointed) written frame — and a no-op job in the
    // overwhelmingly common zero-payload case.
    val selSets = sels.map(_.toSet)
    val candidates = cube.allPayloads.collect {
      case (ids, _) if ids(measureDim) == targetId &&
        otherDims.forall(i => selSets(i)(ids(i))) => ids
    }
    if (candidates.nonEmpty) {
      val hit = written
        .filter(candidates.map(ids => cube.dimCols.zipWithIndex
          .map { case (c, i) => col(c) === ids(i) }.reduce(_ && _)).reduce(_ || _))
        .select(cube.dimCols.map(col): _*).collect()
        .map(r => Vector.tabulate(cube.nDims)(i => r.getInt(i))).toSet
      cube.removePayloads(hit)
    }
    written.count()
  }

  private def matches(cube: Cube, r: RuleDef, b: Bolt): Boolean =
    r.trigger.forall { case (dimName, member) =>
      val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dimName))
      // a trigger member removed by a later dimension edit silently never
      // matches (instead of exploding every read of the cube)
      i >= 0 && cube.dimensions(i).contains(member) &&
        b.ids(i) == cube.dimensions(i).idOf(member)
    }

  /** Resolve a Ref spec against a bolt: the referenced dimension's member is
    * replaced, everything else kept (≙ `cell.py:110-154` alter).
    */
  /** Dimension qualifier of a qualified ref: a dimension NAME
    * (case-insensitive) or a 0-based ORDINAL index — `"months:Jul"` and
    * `"1:Jul"` address the same cell (≙ ordinal-indexed refs,
    * `cell.py:251-331`). A name match wins over the ordinal reading (a
    * dimension literally named "1" stays addressable); out-of-range ordinals
    * and over-long digit strings return -1 rather than throwing.
    */
  private[graft] def dimIndexOf(cube: Cube, d: String): Int = {
    val byName = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(d))
    if (byName >= 0) byName
    else if (d.nonEmpty && d.length <= 9 && d.forall(_.isDigit)) {
      val ord = d.toInt
      if (ord < cube.nDims) ord else -1
    } else -1
  }

  /** Dangling references — a dimension or member no longer present (e.g.
    * removed by a dimension edit after the rule was registered) — raise
    * typed [[RuleError]] `#REF!` so reads render the sentinel rather than
    * exploding (≙ `rules.py:15-20`).
    */
  private[olap] def resolveRef(cube: Cube, b: Bolt, spec: String): Bolt = {
    val (dimIdx, member) = spec.split(":", 2) match {
      case Array(d, m) =>
        val i = dimIndexOf(cube, d)
        if (i < 0) throw RuleError("#REF!", s"unknown dimension '$d' in rule ref '$spec'")
        (i, m)
      case Array(m) =>
        val i = cube.dimensions.indexWhere(_.contains(m))
        if (i < 0) throw RuleError("#REF!",
          s"member '$m' not found in any dimension of '${cube.name}'")
        (i, m)
    }
    if (!cube.dimensions(dimIdx).contains(member))
      throw RuleError("#REF!",
        s"unknown member '$member' in dimension '${cube.dimensions(dimIdx).name}' (ref '$spec')")
    val newIds = b.ids.updated(dimIdx, cube.dimensions(dimIdx).idOf(member))
    val sl = newIds.zipWithIndex.map { case (id, i) => cube.dimensions(i).levelOf(id) }.sum
    Bolt(sl, newIds)
  }

  private val MaxDepth = 16
  /** Cross-cell chain bound. Telescoping Shift rules legitimately walk one
    * link per dimension position (cumulative-over-months), but every link
    * also nests ~15 JVM frames (getByBolt → evaluate → evalScalar), so the
    * bound must trip well before the driver stack (default 1 MB) does.
    * 256 links ≈ 4k frames — deep cumulative chains beyond that should be
    * expressed as grid/window computations, not per-cell recursion.
    */
  private val MaxChain = 256

  private def evalScalar(cube: Cube, b: Bolt, e: RuleExpr, depth: Int,
      input: Option[Double] = None): Option[Double] = {
    import RuleExpr._
    require(depth < MaxDepth, s"rule recursion depth > $MaxDepth (cycle?) in cube '${cube.name}'")
    def ev(x: RuleExpr): Option[Double] = evalScalar(cube, b, x, depth + 1, input)
    e match {
      case Lit(v) => Some(v)
      case Input => input match {
        case s @ Some(_) => s
        case None => throw RuleError("#ERR!",
          "Input is only valid inside an ON_ENTRY rule's expression")
      }
      case Ref(spec) =>
        val rb = resolveRef(cube, b, spec)
        // a referenced cell holding a text payload is not a number: its own
        // error code propagates; plain text raises #VALUE! (≙ the reference's
        // float-only arithmetic over arbitrary-object cells)
        if (rb.superLevel == 0) cube.payloadAt(rb.ids).foreach { p =>
          graft.core.CellValue.fromPayload(p) match {
            case graft.core.CellValue.Err(code) => throw RuleError(code,
              s"ref '$spec' reads an error cell")
            case _ => throw RuleError("#VALUE!",
              s"ref '$spec' reads a text cell ('${p.take(40)}')")
          }
        }
        // referenced cells go through the full read path so chained rules fire
        cube.getByBolt(rb)
      case CubeRef(cn, parts) =>
        val db = cube.databaseRef.getOrElse(throw RuleError("#REF!",
          s"cube '${cube.name}' is not attached to a database — cross-cube ref needs one"))
        val target = try db.cube(cn) catch { case _: NoSuchElementException =>
          throw RuleError("#REF!", s"unknown cube '$cn' in cross-cube ref") }
        if (parts.size != target.nDims) throw RuleError("#REF!",
          s"cross-cube ref to '$cn' needs ${target.nDims} members, got ${parts.size}")
        def dimIdx(d: String): Int = {
          val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(d))
          if (i < 0) throw RuleError("#REF!", s"unknown dimension '$d' in cross-cube ref")
          i
        }
        val names = parts.map {
          case CubeRefPart.Carry(d) =>
            val i = dimIdx(d); cube.dimensions(i).nameOf(b.ids(i))
          case CubeRefPart.AttrOf(d, a) =>
            val i = dimIdx(d)
            if (!cube.dimensions(i).hasAttribute(a)) throw RuleError("#REF!",
              s"dimension '$d' has no attribute '$a' for cross-cube ref")
            val m = cube.dimensions(i).nameOf(b.ids(i))
            cube.dimensions(i).getAttribute(a, m).getOrElse(throw RuleError("#REF!",
              s"member '$m' carries no '$a' attribute value for cross-cube ref"))
          case CubeRefPart.Fixed(m) => m
        }
        // full read path on the target: its rules fire, its cache serves
        try target.get(names) catch {
          case e: RuleError => throw e
          case _: NoSuchElementException => throw RuleError("#REF!",
            s"cross-cube ref to '$cn': no such member address ${names.mkString("(", ", ", ")")}")
        }
      case Shift(dimName, offset) =>
        val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dimName))
        if (i < 0) throw RuleError("#REF!", s"unknown dimension '$dimName' in rule shift")
        val d = cube.dimensions(i)
        val ord = d.members.indexWhere(_.id == b.ids(i))
        val target = ord + offset
        if (target < 0 || target >= d.members.length) None
        else {
          val newIds = b.ids.updated(i, d.members(target).id)
          val sl = newIds.zipWithIndex.map { case (id, j) => cube.dimensions(j).levelOf(id) }.sum
          cube.getByBolt(Bolt(sl, newIds))
        }
      case Add(a, bb) => (ev(a), ev(bb)) match {
        case (None, None) => None
        case (x, y) => Some(x.getOrElse(0.0) + y.getOrElse(0.0))
      }
      case Sub(a, bb) => (ev(a), ev(bb)) match {
        case (None, None) => None
        case (x, y) => Some(x.getOrElse(0.0) - y.getOrElse(0.0))
      }
      case Mul(a, bb) => for (x <- ev(a); y <- ev(bb)) yield x * y
      case Div(a, bb) => (ev(a), ev(bb)) match {
        case (Some(x), Some(y)) if y != 0.0 => Some(x / y)
        // explicit division by a STORED zero is an error, not an empty cell
        // (≙ `#DIV/0!`, `rules.py:15-20`); NaN is the in-band sentinel that
        // `Cube.getCell` / view renders surface as the error code
        case (Some(_), Some(_)) => Some(Double.NaN)
        case _ => None
      }
      case Neg(a) => ev(a).map(-_)
      case Fn("abs", a) => ev(a).map(math.abs)
      // HALF_UP away from zero, matching column mode's Spark `round` —
      // math.round (floor(x+0.5)) would disagree on negative halves
      // (round(-2.5): -2 vs -3) and break scalar/bulk/grid parity
      case Fn("round", a) => ev(a).map(v =>
        if (v.isNaN || v.isInfinite) v
        else BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
      case Fn(n, _) => throw RuleError("#ERR!", s"unknown rule function '$n'")
    }
  }

  /** THE column-mode rule compiler: one shared translation of RuleExpr
    * arithmetic to Catalyst Columns (null semantics, decimal preservation,
    * `#DIV/0!` NaN sentinel), parameterized only by how an unqualified Ref
    * resolves to a Column and (for bulk ON_ENTRY) what Column the incoming
    * `Input` value binds to. Every grid/view/dialect path goes through
    * here — a single site for arithmetic-semantics changes.
    */
  def toColumnWith(resolve: String => Column,
      input: Option[Column] = None,
      cubeRef: RuleExpr.CubeRef => Column = cr =>
        throw new IllegalArgumentException(
          s"cross-cube ref to '${cr.cubeName}' not expressible in column mode"))(
      e: RuleExpr): Column = {
    import RuleExpr._
    def c(x: RuleExpr): Column = x match {
      case Lit(v) => lit(v)
      // refs keep their native type: decimal facts stay decimal through
      // +/-/* so sums remain exact/order-independent; division drops to
      // double (decimal division rounding is engine-specific)
      case Ref(spec) if !spec.contains(":") => resolve(spec)
      case Ref(spec) => throw new IllegalArgumentException(
        s"cross-dimension ref '$spec' not expressible in column mode")
      // integer-literal zero: promotes to the ref's own type (decimal stays
      // decimal/exact; a 0.0 double literal would demote the whole expression).
      // Both-null guard keeps column mode agreeing with evalScalar: an empty
      // cell stays empty instead of reading 0.0 in grids/views.
      case Add(a, b) =>
        when(c(a).isNull && c(b).isNull, lit(null))
          .otherwise(coalesce(c(a), lit(0)) + coalesce(c(b), lit(0)))
      case Sub(a, b) =>
        when(c(a).isNull && c(b).isNull, lit(null))
          .otherwise(coalesce(c(a), lit(0)) - coalesce(c(b), lit(0)))
      case Mul(a, b) => c(a) * c(b)
      case Div(a, b) =>
        when(c(b).cast("double") =!= 0.0, c(a).cast("double") / c(b).cast("double"))
          // zero denominator with data present → #DIV/0! sentinel (NaN)
          .otherwise(when(c(a).isNotNull && c(b).isNotNull, lit(Double.NaN)))
      case Neg(a) => -c(a)
      case Fn("abs", a) => abs(c(a))
      case Fn("round", a) => round(c(a))
      case Fn(n, _) => throw RuleError("#ERR!", s"unknown rule function '$n'")
      case Shift(d, _) => throw new IllegalArgumentException(
        s"relative shift on '$d' not expressible in column mode")
      case cr @ CubeRef(_, _) => cubeRef(cr)
      case Input => input.getOrElse(throw new IllegalArgumentException(
        "on-entry Input is not expressible in column mode"))
    }
    c(e)
  }

  /** Column compiler over a measure-pivoted row where sibling measures appear
    * as columns named `m_<member id>`.
    */
  def toColumn(cube: Cube, measureDim: Int, e: RuleExpr): Column =
    toColumnWith(spec => col(s"m_${cube.dimensions(measureDim).idOf(spec)}"))(e)

  /** Grid-computable rule backing member `memberId` of dimension `dimI`, if
    * any — matching by RESOLVED id (aliases and case differences behave like
    * the scalar path). A multi-entry trigger is CARRIED by its highest-index
    * trigger dimension (the measure dim by convention), and qualifies only
    * when every other trigger entry is either pinned by the grid (its
    * dimension's selection is exactly that single member → rule applies) or
    * excluded (member not selected → rule can never fire → stored). A
    * selection that MIXES the trigger member with others would need per-row
    * conditional evaluation — rejected explicitly rather than computed
    * wrongly for every row.
    */
  def gridRuleFor(cube: Cube, dimI: Int, memberId: Int,
      selAt: Int => Seq[Int]): Option[RuleDef] = {
    val d = cube.dimensions(dimI)
    def dimOf(dn: String): Int = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
    cube.rules
      .find { r =>
        (r.scope == RuleScope.AllLevels || r.scope == RuleScope.AggregationLevel) &&
          r.trigger.exists { case (dn, mm) =>
            dn.equalsIgnoreCase(d.name) && d.contains(mm) && d.idOf(mm) == memberId }
      }
      .flatMap { r =>
        if (r.trigger.keys.map(dimOf).max != dimI) None // not the carrier dim
        else {
          val others = r.trigger.toSeq.filter(e => dimOf(e._1) != dimI)
            .map { case (dn, mm) =>
              val j = dimOf(dn)
              (dn, cube.dimensions(j).idOf(mm), selAt(j))
            }
          if (others.exists { case (_, mid, sel) => !sel.contains(mid) }) None // never fires
          else {
            others.foreach { case (dn, mid, sel) =>
              if (sel != Seq(mid)) throw new UnsupportedOperationException(
                s"rule '${r.name}': trigger on '$dn' must be pinned to a single " +
                  "member in grid queries (per-row conditional rules are not grid-computable)")
            }
            Some(r)
          }
        }
      }
  }

  /** Transitive rule expansion + dependency order for one dimension's member
    * selection, id-keyed: refs of rule-backed members are pulled in (a ref
    * that is itself rule-backed joins the computed set instead of being read
    * as an empty stored column). Returns (ruled, stored ids to fetch,
    * deps-first order over the ruled ids, errored ids → sentinel code).
    *
    * A ruled member whose ref names a member that exists in NO dimension
    * (removed by a later dimension edit) is returned in the error map as
    * `#REF!` instead of throwing — grids render the code (≙ `rules.py:15-20`);
    * the error cascades to rules referencing the broken member.
    */
  def expandRuled(cube: Cube, dimI: Int, selected: Seq[Int],
      ruleAt: Int => Option[RuleDef]): (Map[Int, RuleDef], Seq[Int], Seq[Int], Map[Int, String]) = {
    val d = cube.dimensions(dimI)
    val ruled = mutable.LinkedHashMap[Int, RuleDef]()
    val fetch = mutable.LinkedHashSet[Int]()
    val errors = mutable.LinkedHashMap[Int, String]()
    val seen = mutable.Set[Int]()
    val queue = mutable.Queue[Int](selected: _*)
    while (queue.nonEmpty) {
      val id = queue.dequeue()
      if (seen.add(id)) ruleAt(id) match {
        case Some(r) =>
          val refs = collectRefs(r.expr).filterNot(_.contains(":"))
          if (refs.exists(m => !cube.dimensions.exists(_.contains(m)))) errors(id) = "#REF!"
          else if (refs.exists(!d.contains(_)))
            // a ref resolving only to ANOTHER dimension is grid-incomputable
            // (the scalar path handles it; a member REMOVED from this dim but
            // name-colliding elsewhere also lands here) — render a sentinel
            // column rather than aborting the whole grid/view
            errors(id) = "#ERR!"
          else {
            ruled(id) = r
            refs.map(d.idOf).foreach(queue += _)
          }
        case None => fetch += id
      }
    }
    // #REF! cascades: a rule referencing a broken member is itself broken
    var cascading = true
    while (cascading) {
      cascading = false
      ruled.keys.toSeq.foreach { id =>
        val refIds = collectRefs(ruled(id).expr).filterNot(_.contains(":")).map(d.idOf)
        refIds.find(errors.contains).foreach { bad =>
          errors(id) = errors(bad); ruled -= id; cascading = true
        }
      }
    }
    val deps: Map[Int, Seq[Int]] = ruled.map { case (id, r) =>
      id -> collectRefs(r.expr).filterNot(_.contains(":")).map(d.idOf).filter(ruled.contains)
    }.toMap
    val order = mutable.ArrayBuffer[Int]()
    val remaining = mutable.LinkedHashSet(ruled.keys.toSeq: _*)
    var progress = true
    while (remaining.nonEmpty && progress) {
      progress = false
      remaining.toSeq.foreach { id =>
        if (deps(id).forall(order.contains)) { order += id; remaining -= id; progress = true }
      }
    }
    require(remaining.isEmpty, s"circular rule references among members of " +
      s"'${d.name}': ${remaining.map(d.nameOf).mkString(", ")}")
    (ruled.toMap, fetch.toSeq, order.toSeq, errors.toMap)
  }

  /** Registration-time smoke validation (≙ R8 `cube.py:849-872`, a stub
    * there): trigger dimensions/members must exist and every ref/shift must
    * resolve against the cube's dimensions.
    */
  def validate(cube: Cube, r: RuleDef): Unit = {
    r.trigger.foreach { case (dimName, member) =>
      val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dimName))
      require(i >= 0, s"rule '${r.name}': unknown trigger dimension '$dimName'")
      require(cube.dimensions(i).contains(member),
        s"rule '${r.name}': unknown trigger member '$member' in '$dimName'")
    }
    def check(e: RuleExpr): Unit = {
      import RuleExpr._
      e match {
        case Ref(spec) => spec.split(":", 2) match {
          case Array(d, m) =>
            val i = dimIndexOf(cube, d)
            require(i >= 0, s"rule '${r.name}': unknown dimension '$d' in ref '$spec'")
            require(cube.dimensions(i).contains(m),
              s"rule '${r.name}': unknown member '$m' in ref '$spec'")
          case Array(m) =>
            require(cube.dimensions.exists(_.contains(m)),
              s"rule '${r.name}': member '$m' not found in any dimension")
        }
        case Shift(d, _) =>
          require(cube.dimensions.exists(_.name.equalsIgnoreCase(d)),
            s"rule '${r.name}': unknown dimension '$d' in shift")
        case CubeRef(cn, parts) =>
          cube.databaseRef.foreach { db =>
            val target = try Some(db.cube(cn)) catch { case _: Throwable => None }
            require(target.isDefined,
              s"rule '${r.name}': unknown cube '$cn' in cross-cube ref")
            require(parts.size == target.get.nDims,
              s"rule '${r.name}': cross-cube ref to '$cn' needs " +
                s"${target.get.nDims} members, got ${parts.size}")
          }
          parts.foreach {
            case CubeRefPart.Carry(d) =>
              require(cube.dimensions.exists(_.name.equalsIgnoreCase(d)),
                s"rule '${r.name}': unknown dimension '$d' in cross-cube carry")
            case CubeRefPart.AttrOf(d, a) =>
              val i = dimIndexOf(cube, d)
              require(i >= 0,
                s"rule '${r.name}': unknown dimension '$d' in cross-cube attr ref")
              require(cube.dimensions(i).hasAttribute(a),
                s"rule '${r.name}': dimension '$d' has no attribute '$a'")
            case CubeRefPart.Fixed(_) => ()
          }
        case Add(a, b) => check(a); check(b)
        case Sub(a, b) => check(a); check(b)
        case Mul(a, b) => check(a); check(b)
        case Div(a, b) => check(a); check(b)
        case Neg(a) => check(a)
        case Fn(_, a) => check(a)
        case _ =>
      }
    }
    check(r.expr)
  }

  /** BASE_LEVEL rule over a GRID of aggregated addresses in ONE job: pivot
    * the measure dimension at base grain, compute the rule column per base
    * address, then aggregate over the remaining dimensions via closure lookups
    * (≙ feeder remap + per-row rule calls, `cube.py:416-497` — expressed as
    * one declarative plan; calc-then-aggregate order is preserved, so
    * nonlinear exprs stay correct). `selections(measureDim)` is ignored.
    *
    * Output: one row per non-empty grid address, columns `a<i>` for each
    * non-measure dimension plus `value`.
    */
  def baseRuleGrid(cube: Cube, rule: RuleDef, selections: Seq[Seq[Int]],
      measureDim: Int): org.apache.spark.sql.DataFrame = {
    val otherDims = (0 until cube.nDims).filterNot(_ == measureDim)
    // the same selection step as gridAggregate: closure subsets as lookup
    // expressions, grid keys a<i>, weight factors per aggregated dimension
    val (selected, weightCols) = cube.selectedFacts(otherDims.map(i => i -> selections(i)))
    val neededMeasures = collectRefs(rule.expr).filterNot(_.contains(":"))
      .map(cube.dimensions(measureDim).idOf).distinct
    val df = selected.filter(col(s"d$measureDim").isin(neededMeasures: _*))
    // pivot at BASE grain (base address + grid keys + weight factors)
    val baseKeys = otherDims.map(i => col(s"d$i")) ++ otherDims.map(i => col(s"a$i")) ++
      weightCols.zipWithIndex.map { case (c, j) => c.as(s"wj_$j") }
    val pivoted = df.groupBy(baseKeys: _*)
      .pivot(col(s"d$measureDim"), neededMeasures.map(_.asInstanceOf[AnyRef]).toSeq)
      .agg(sum(col("value")))
    val renamed = neededMeasures.foldLeft(pivoted)((d, m) =>
      d.withColumnRenamed(m.toString, s"m_$m"))

    // cross-cube refs at BASE grain (round 9) — the feeder/currency shape
    // "convert each transaction, then aggregate": each distinct ref shape
    // joins the target cube's (rule-aware) slice onto the base-grain frame
    // via ONE broadcast LEFT join keyed on the leaf id columns (leaf →
    // target-id map literals over the driver-resident member catalogs).
    // Resolution is STRICT like the scalar path: a leaf without the
    // attribute, or mapping to a missing target member, raises #REF! —
    // loud, never a silently-empty converted cell. Carry/AttrOf over the
    // pivoted measure dimension resolve via the rule's own trigger member;
    // degenerate dimensions carry no member catalog to map and are
    // rejected.
    var frame = renamed
    val crCols = mutable.LinkedHashMap[String, String]()
    def cubeRefColumn(cr: RuleExpr.CubeRef): Column = {
      import RuleExpr.CubeRefPart
      val db = cube.databaseRef.getOrElse(throw RuleError("#REF!",
        s"cube '${cube.name}' is not attached to a database — cross-cube ref needs one"))
      val target = try db.cube(cr.cubeName) catch {
        case _: NoSuchElementException =>
          throw RuleError("#REF!", s"unknown cube '${cr.cubeName}' in cross-cube ref")
      }
      if (cr.parts.size != target.nDims) throw RuleError("#REF!",
        s"cross-cube ref to '${cr.cubeName}' needs ${target.nDims} members, got ${cr.parts.size}")
      def srcDim(dn: String): Int = {
        val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
        if (i < 0) throw RuleError("#REF!", s"unknown dimension '$dn' in cross-cube ref")
        i
      }
      // the cell's member name(s) on source dim i at base grain
      def nameAt(i: Int): Either[String, Seq[(Int, String)]] =
        if (i == measureDim) Left(rule.trigger.collectFirst {
          case (dn, m) if cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn)) == measureDim => m
        }.getOrElse(throw RuleError("#REF!",
          s"cross-cube ref carries the measure dimension but rule '${rule.name}' " +
            "has no trigger member on it")))
        else {
          val dim = cube.dimensions(i)
          if (dim.isDegenerate) throw RuleError("#REF!",
            s"cross-cube ref over degenerate dimension '${dim.name}' — no member catalog to map")
          // only leaves REACHABLE from this query's selection (r9 advice):
          // an unbounded leafMembers map over a 100k-leaf dimension emits a
          // 2N-entry map literal into the plan, and strict attrOf/idOfOr
          // would raise #REF! for leaves the selection never touches
          Right(cube.leafIdsOf(i, selections(i)).map(id => id -> dim.nameOf(id)))
        }
      val resolved: Seq[Either[String, (Int, Seq[(Int, String)])]] = cr.parts.map {
        case CubeRefPart.Fixed(mm) => Left(mm)
        case CubeRefPart.Carry(dn) =>
          val i = srcDim(dn)
          nameAt(i) match {
            case Left(n) => Left(n)
            case Right(pairs) => Right((i, pairs))
          }
        case CubeRefPart.AttrOf(dn, a) =>
          val i = srcDim(dn); val dim = cube.dimensions(i)
          if (!dim.hasAttribute(a)) throw RuleError("#REF!",
            s"dimension '$dn' has no attribute '$a' for cross-cube ref")
          def attrOf(n: String): String = dim.getAttribute(a, n).getOrElse(
            throw RuleError("#REF!",
              s"member '$n' carries no '$a' attribute value for cross-cube ref"))
          nameAt(i) match {
            case Left(n) => Left(attrOf(n))
            case Right(pairs) => Right((i, pairs.map { case (id, n) => id -> attrOf(n) }))
          }
      }
      val sig = target.name + " " + resolved.map {
        case Left(n) => s"=$n"
        case Right((i, pairs)) =>
          s"@$i:${pairs.map(p => p._1.toString + ">" + p._2).mkString(",")}"
      }.mkString(" ")
      crCols.get(sig).map(col).getOrElse {
        def idOfOr(td: Dimension, n: String): Int =
          if (td.contains(n)) td.idOf(n)
          else throw RuleError("#REF!",
            s"cross-cube ref to '${target.name}': no member '$n' in dimension '${td.name}'")
        val valName = s"__cr${crCols.size}"
        if (resolved.forall(_.isLeft)) {
          val names = resolved.map {
            case Left(n) => n
            case Right(_) => throw new IllegalStateException("unreachable")
          }
          val v = try target.get(names) catch {
            case e: RuleError => throw e
            case _: NoSuchElementException => throw RuleError("#REF!",
              s"cross-cube ref to '${target.name}': no such member address " +
                names.mkString("(", ", ", ")"))
          }
          frame = frame.withColumn(valName,
            v.map(lit(_)).getOrElse(lit(null).cast("double")))
        } else {
          val selIds: Seq[Seq[Int]] = resolved.zip(target.dimensions).map {
            case (Left(n), td) => Seq(idOfOr(td, n))
            case (Right((_, pairs)), td) => pairs.map(_._2).distinct.map(idOfOr(td, _))
          }
          var slice = ruledGrid(target, selIds, 1)
          val keys = resolved.zipWithIndex.collect {
            case (Right((srcI, pairs)), p) =>
              val td = target.dimensions(p)
              val kc = s"${valName}_k$p"
              val srcToTgt = pairs.map { case (sid, n) => sid -> td.idOf(n) }
              (kc, col(s"a$p").as(kc),
                map(srcToTgt.flatMap { case (s0, t0) =>
                  Seq(lit(s0), lit(t0)) }: _*)(col(s"d$srcI")))
          }
          slice = slice.select(keys.map(_._2) :+ col("value").as(valName): _*)
          frame = frame.join(broadcast(slice),
            keys.map { case (kc, _, src) => col(kc) === src }.reduce(_ && _), "left")
            .drop(keys.map(_._1): _*)
        }
        crCols(sig) = valName
        col(valName)
      }
    }

    val ruleCol = toColumnWith(
      spec => col(s"m_${cube.dimensions(measureDim).idOf(spec)}"),
      None, cubeRefColumn)(rule.expr)
    val w = weightCols.indices.foldLeft(ruleCol)((c, j) => c * col(s"wj_$j"))
    frame.groupBy(otherDims.map(i => col(s"a$i")): _*).agg(sum(w).as("value"))
  }

  /** BASE_LEVEL rule at one aggregated address — the single-cell case of
    * [[baseRuleGrid]] (scalar read path).
    */
  private def aggregateBaseRule(cube: Cube, b: Bolt, rule: RuleDef): Option[Double] = {
    if (usesOrdinalShift(rule.expr)) throw RuleError("#ERR!",
      s"base-level rule '${rule.name}' uses relative Shift refs, which are " +
        "per-cell — query base cells directly, or use ALL_LEVELS scope")
    val measureDim = rule.trigger.keys.map(d =>
      cube.dimensions.indexWhere(_.name.equalsIgnoreCase(d))).headOption.getOrElse(cube.nDims - 1)
    val sels = (0 until cube.nDims).map(i => if (i == measureDim) Nil else Seq(b.ids(i)))
    baseRuleGrid(cube, rule, sels, measureDim)
      .agg(sum(col("value"))).collect().headOption.flatMap(r => Option(r.get(0)).map {
        case d: java.lang.Double => d.doubleValue()
        case bd: java.math.BigDecimal => bd.doubleValue()
      })
  }

  // ---- persistence (≙ R7 `rules.py:45-88` / codemanager.py — but as a
  // declarative JSON AST, not arbitrary code: recompiled safely at load) ----

  import org.json4s._
  import org.json4s.JsonDSL._

  def exprToJson(e: RuleExpr): JValue = {
    import RuleExpr._
    e match {
      case Lit(v) => ("op" -> "lit") ~ ("v" -> v)
      case Ref(s) => ("op" -> "ref") ~ ("ref" -> s)
      case Add(a, b) => ("op" -> "add") ~ ("a" -> exprToJson(a)) ~ ("b" -> exprToJson(b))
      case Sub(a, b) => ("op" -> "sub") ~ ("a" -> exprToJson(a)) ~ ("b" -> exprToJson(b))
      case Mul(a, b) => ("op" -> "mul") ~ ("a" -> exprToJson(a)) ~ ("b" -> exprToJson(b))
      case Div(a, b) => ("op" -> "div") ~ ("a" -> exprToJson(a)) ~ ("b" -> exprToJson(b))
      case Neg(a) => ("op" -> "neg") ~ ("a" -> exprToJson(a))
      case Fn(n, a) => ("op" -> "fn") ~ ("fn" -> n) ~ ("a" -> exprToJson(a))
      case Shift(d, o) => ("op" -> "shift") ~ ("dim" -> d) ~ ("offset" -> o)
      case Input => JObject(List("op" -> JString("input")))
      case CubeRef(cn, parts) => ("op" -> "cuberef") ~ ("cube" -> cn) ~
        ("parts" -> parts.map {
          case CubeRefPart.Carry(d) => ("kind" -> "carry") ~ ("dim" -> d)
          case CubeRefPart.AttrOf(d, a) =>
            ("kind" -> "attr") ~ ("dim" -> d) ~ ("attr" -> a)
          case CubeRefPart.Fixed(m) => ("kind" -> "fixed") ~ ("member" -> m)
        })
    }
  }

  def exprFromJson(j: JValue): RuleExpr = {
    import RuleExpr._
    implicit val fmts: Formats = DefaultFormats
    (j \ "op").extract[String] match {
      case "lit" => Lit((j \ "v").extract[Double])
      case "ref" => Ref((j \ "ref").extract[String])
      case "add" => Add(exprFromJson(j \ "a"), exprFromJson(j \ "b"))
      case "sub" => Sub(exprFromJson(j \ "a"), exprFromJson(j \ "b"))
      case "mul" => Mul(exprFromJson(j \ "a"), exprFromJson(j \ "b"))
      case "div" => Div(exprFromJson(j \ "a"), exprFromJson(j \ "b"))
      case "neg" => Neg(exprFromJson(j \ "a"))
      case "fn" => Fn((j \ "fn").extract[String], exprFromJson(j \ "a"))
      case "shift" => Shift((j \ "dim").extract[String], (j \ "offset").extract[Int])
      case "input" => Input
      case "cuberef" =>
        val parts = (j \ "parts") match {
          case JArray(ps) => ps.map { p =>
            (p \ "kind").extract[String] match {
              case "carry" => CubeRefPart.Carry((p \ "dim").extract[String])
              case "attr" => CubeRefPart.AttrOf(
                (p \ "dim").extract[String], (p \ "attr").extract[String])
              case "fixed" => CubeRefPart.Fixed((p \ "member").extract[String])
              case k => throw new IllegalArgumentException(s"unknown cuberef part '$k'")
            }
          }
          case _ => throw new IllegalArgumentException("cuberef parts must be an array")
        }
        CubeRef((j \ "cube").extract[String], parts)
      case op => throw new IllegalArgumentException(s"unknown rule op '$op'")
    }
  }

  private def scopeName(s: RuleScope): String = s match {
    case RuleScope.AllLevels => "all"
    case RuleScope.AggregationLevel => "agg"
    case RuleScope.BaseLevel => "base"
    case RuleScope.OnEntry => "on_entry"
    case RuleScope.Command => "command"
  }
  private def scopeFromName(n: String): RuleScope = n match {
    case "all" => RuleScope.AllLevels
    case "agg" => RuleScope.AggregationLevel
    case "base" => RuleScope.BaseLevel
    case "on_entry" => RuleScope.OnEntry
    case "command" => RuleScope.Command
  }

  /** OnEntry SCALA FUNCTIONS are not persistable (the reference pickles
    * arbitrary code, `rules.py:45-88` — we deliberately do not; save warns
    * and skips them). An ON_ENTRY rule whose transform is a declarative
    * expr over [[RuleExpr.Input]] round-trips losslessly.
    */
  def ruleToJson(r: RuleDef): JValue =
    ("name" -> r.name) ~ ("scope" -> scopeName(r.scope)) ~
      ("trigger" -> r.trigger) ~ ("expr" -> exprToJson(r.expr))

  def ruleFromJson(j: JValue): RuleDef = {
    implicit val fmts: Formats = DefaultFormats
    RuleDef(
      trigger = (j \ "trigger").extract[Map[String, String]],
      scope = scopeFromName((j \ "scope").extract[String]),
      expr = exprFromJson(j \ "expr"),
      name = (j \ "name").extract[String])
  }

  /** Grid over `selections` with rule-backed members of (at most) one
    * dimension computed post-pivot inside the same job (≙ rule cells in the
    * dialect's dense grid, `query.py:101-136` — still no per-cell loop).
    * Rule matching, transitive ref expansion, and deps-first ordering are
    * the shared [[gridRuleFor]]/[[expandRuled]] helpers — ONE semantics for
    * dialect grids, views, cross-cube slice fetches, and the scalar path.
    *
    * Cross-cube refs ([[RuleExpr.CubeRef]]) compute here too: each distinct
    * ref shape becomes ONE broadcast LEFT join of the target cube's
    * (rule-aware, recursively via this method) slice onto the pivoted grid,
    * keyed in id space — `Carry`/`AttrOf` parts over OTHER grid dimensions
    * vary per row (srcId → targetId map literal over the bounded selection),
    * parts over the ruled dimension or pinned dims are constants, and a
    * fully-pinned address is a bounded scalar read. Resolution failures
    * (missing attribute on a selected member, unknown target member) raise
    * the scalar path's RuleError — the dialect has no cell-level sentinel
    * channel. `depth` guards cyclic cube references (A→B→A).
    *
    * Output: `a0..aN-1, value` (double), non-empty addresses only.
    */
  def ruledGrid(cube: Cube, selections: Seq[Seq[Int]],
      depth: Int = 0): org.apache.spark.sql.DataFrame = {
    require(depth < 8, s"cross-cube reference chain deeper than 8 at cube " +
      s"'${cube.name}' (cycle?)")
    def ruleAt(di: Int)(id: Int): Option[RuleDef] =
      gridRuleFor(cube, di, id, selections(_))
    val ruledDims = cube.dimensions.indices
      .filter(i => selections(i).exists(id => ruleAt(i)(id).isDefined))
    if (ruledDims.isEmpty) return cube.gridAggregate(selections)
    require(ruledDims.size == 1,
      "rule-backed members supported in one dimension per query")
    val di = ruledDims.head
    val d = cube.dimensions(di)
    val (ruled, fetchIds, order, errs) = expandRuled(cube, di, selections(di), ruleAt(di))
    // the grid's result is a numeric value column — no cell-level error
    // channel, so a broken rule is a typed failure here (views render codes)
    errs.headOption.foreach { case (id, code) =>
      throw RuleError(code, s"rule-backed member '${d.nameOf(id)}' has a dangling reference") }
    require(fetchIds.nonEmpty,
      s"dimension '${d.name}': every selected member is rule-backed with no stored refs")
    val allIds = fetchIds
    val g = cube.gridAggregate(selections.updated(di, allIds))
    val otherCols = cube.dimensions.indices.filterNot(_ == di).map(i => s"a$i")
    var pivoted = g.groupBy(otherCols.map(col): _*)
      .pivot(s"a$di", allIds.map(_.asInstanceOf[AnyRef]).toSeq)
      .agg(first(col("value")))

    // cross-cube slice joins, deduped per distinct resolved ref shape
    val crCols = mutable.LinkedHashMap[String, String]()
    def cubeRefColumn(cr: RuleExpr.CubeRef, carriedId: Int): Column = {
      import RuleExpr.CubeRefPart
      val db = cube.databaseRef.getOrElse(throw RuleError("#REF!",
        s"cube '${cube.name}' is not attached to a database — cross-cube ref needs one"))
      val target = try db.cube(cr.cubeName) catch {
        case _: NoSuchElementException =>
          throw RuleError("#REF!", s"unknown cube '${cr.cubeName}' in cross-cube ref")
      }
      if (cr.parts.size != target.nDims) throw RuleError("#REF!",
        s"cross-cube ref to '${cr.cubeName}' needs ${target.nDims} members, got ${cr.parts.size}")
      def srcDim(dn: String): Int = {
        val i = cube.dimensions.indexWhere(_.name.equalsIgnoreCase(dn))
        if (i < 0) throw RuleError("#REF!", s"unknown dimension '$dn' in cross-cube ref")
        i
      }
      // per part: Left(constant target member NAME) or Right(source dim
      // index, ordered (source id → target member name) pairs)
      val resolved: Seq[Either[String, (Int, Seq[(Int, String)])]] = cr.parts.map {
        case CubeRefPart.Fixed(mm) => Left(mm)
        case CubeRefPart.Carry(dn) =>
          val i = srcDim(dn)
          if (i == di) Left(d.nameOf(carriedId))
          else Right((i, selections(i).distinct.map(sid =>
            sid -> cube.dimensions(i).nameOf(sid))))
        case CubeRefPart.AttrOf(dn, a) =>
          val i = srcDim(dn); val dim = cube.dimensions(i)
          if (!dim.hasAttribute(a)) throw RuleError("#REF!",
            s"dimension '$dn' has no attribute '$a' for cross-cube ref")
          def attrOf(n: String): String = dim.getAttribute(a, n).getOrElse(
            throw RuleError("#REF!",
              s"member '$n' carries no '$a' attribute value for cross-cube ref"))
          if (i == di) Left(attrOf(d.nameOf(carriedId)))
          else Right((i, selections(i).distinct.map(sid =>
            sid -> attrOf(dim.nameOf(sid)))))
      }
      val sig = target.name + " " + resolved.map {
        case Left(n) => s"=$n"
        case Right((i, pairs)) =>
          s"@$i:${pairs.map(p => p._1.toString + ">" + p._2).mkString(",")}"
      }.mkString(" ")
      crCols.get(sig).map(col).getOrElse {
        def idOfOr(td: graft.core.Dimension, n: String): Int =
          if (td.contains(n)) td.idOf(n)
          else throw RuleError("#REF!",
            s"cross-cube ref to '${target.name}': no member '$n' in dimension '${td.name}'")
        val valName = s"__cr${crCols.size}"
        if (resolved.forall(_.isLeft)) {
          val names = resolved.map {
            case Left(n) => n
            case Right(_) => throw new IllegalStateException("unreachable")
          }
          val v = try target.get(names) catch {
            case e: RuleError => throw e
            case _: NoSuchElementException => throw RuleError("#REF!",
              s"cross-cube ref to '${target.name}': no such member address " +
                names.mkString("(", ", ", ")"))
          }
          pivoted = pivoted.withColumn(valName,
            v.map(lit(_)).getOrElse(lit(null).cast("double")))
        } else {
          val selIds: Seq[Seq[Int]] = resolved.zip(target.dimensions).map {
            case (Left(n), td) => Seq(idOfOr(td, n))
            case (Right((_, pairs)), td) => pairs.map(_._2).distinct.map(idOfOr(td, _))
          }
          var slice = ruledGrid(target, selIds, depth + 1)
          val keys = resolved.zipWithIndex.collect {
            case (Right((srcI, pairs)), p) =>
              val td = target.dimensions(p)
              val kc = s"${valName}_k$p"
              // grid side: source id → target id, over the bounded selection
              val srcToTgt = pairs.map { case (sid, n) => sid -> td.idOf(n) }
              (kc, col(s"a$p").as(kc),
                map(srcToTgt.flatMap { case (s0, t0) =>
                  Seq(lit(s0), lit(t0)) }: _*)(col(s"a$srcI")))
          }
          slice = slice.select(keys.map(_._2) :+ col("value").as(valName): _*)
          pivoted = pivoted.join(broadcast(slice),
            keys.map { case (kc, _, src) => col(kc) === src }.reduce(_ && _), "left")
            .drop(keys.map(_._1): _*)
        }
        crCols(sig) = valName
        col(valName)
      }
    }

    order.foreach { id =>
      // build the Column FIRST: cross-cube resolution joins slices onto
      // `pivoted`, and the receiver must be the post-join frame
      val c0 = toColumnWith(spec => col(s"`${d.idOf(spec)}`"), None,
        cr => cubeRefColumn(cr, id))(ruled(id).expr)
      pivoted = pivoted.withColumn(id.toString, c0)
    }
    val requested = selections(di)
    val stackExpr = s"stack(${requested.size}, " +
      requested.map(id => s"$id, CAST(`$id` AS DOUBLE)").mkString(", ") + s") AS (a$di, value)"
    pivoted.select(otherCols.map(col) :+ expr(stackExpr): _*)
      .filter(col("value").isNotNull)
      .select(cube.dimensions.indices.map(i => col(s"a$i")) :+ col("value"): _*)
  }

  /** All Ref specs in an expression (the one shared RuleExpr walker —
    * callers filter for unqualified refs as needed).
    */
  def collectRefs(e: RuleExpr): Seq[String] = {
    import RuleExpr._
    e match {
      case Ref(s) => Seq(s)
      case Add(a, b) => collectRefs(a) ++ collectRefs(b)
      case Sub(a, b) => collectRefs(a) ++ collectRefs(b)
      case Mul(a, b) => collectRefs(a) ++ collectRefs(b)
      case Div(a, b) => collectRefs(a) ++ collectRefs(b)
      case Neg(a) => collectRefs(a)
      case Fn(_, a) => collectRefs(a)
      case _ => Nil
    }
  }
}
