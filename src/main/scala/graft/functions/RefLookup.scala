package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, StructType}

/** Immutable open-addressing hash table from a fixed-arity tuple of ints to
  * one pre-built Catalyst value (never null). The lookup table behind
  * [[RefLookup]]: keys live flat in one `int[]`, so a probe hashes and
  * compares primitives only. `toString` prints the shape, never the
  * entries — plan strings stay bounded whatever the table size.
  */
final class IntKeyTable private (val arity: Int, val dataType: DataType,
    keys: Array[Int], vals: Array[AnyRef], val size: Int) extends Serializable {

  private val mask = vals.length - 1

  private def slotOf(k: Array[Int]): Int = {
    var h = arity
    var j = 0
    while (j < arity) { h = h * 0x9E3779B1 + k(j); j += 1 }
    h ^= h >>> 16; h *= 0x85EBCA6B; h ^= h >>> 13
    var s = h & mask
    while (vals(s) != null && !sameKey(s, k)) s = (s + 1) & mask
    s
  }

  private def sameKey(s: Int, k: Array[Int]): Boolean = {
    val o = s * arity
    var j = 0
    while (j < arity && keys(o + j) == k(j)) j += 1
    j == arity
  }

  /** The value stored under `k` (`k.length == arity`), or null. */
  def find(k: Array[Int]): AnyRef = vals(slotOf(k))

  override def toString: String = s"IntKeyTable(arity=$arity, entries=$size)"
}

object IntKeyTable {
  /** Build from distinct keys; a repeated key keeps its last value. */
  def apply(arity: Int, dataType: DataType, entries: Iterable[(Array[Int], Any)]): IntKeyTable = {
    val n = entries.size
    var cap = 2
    while (cap < n * 2) cap <<= 1
    val keys = new Array[Int](cap * arity)
    val vals = new Array[AnyRef](cap)
    val t0 = new IntKeyTable(arity, dataType, keys, vals, 0)
    entries.foreach { case (k, v) =>
      require(k.length == arity && v != null, "IntKeyTable: key arity / null value")
      val s = t0.slotOf(k)
      System.arraycopy(k, 0, keys, s * arity, arity)
      vals(s) = v.asInstanceOf[AnyRef]
    }
    new IntKeyTable(arity, dataType, keys, vals, vals.count(_ != null))
  }
}

/** `graft_ref_lookup(k0, …)`: the value an [[IntKeyTable]] holds under the
  * int key tuple, null when absent or when any key is null. The table
  * reaches generated code through `ctx.addReferenceObj`, never as inlined
  * literals, so two plans that differ only in their tables generate the
  * same source and share one compiled class — the property that lets a
  * cell read at a new address skip the Janino compile. Arity 0 is a
  * constant that is deliberately not foldable (a folded literal would be
  * inlined again).
  */
case class RefLookup(children: Seq[Expression], table: IntKeyTable) extends Expression {

  override def dataType: DataType = table.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ref_lookup"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size != table.arity)
      TypeCheckResult.TypeCheckFailure(
        s"graft_ref_lookup: ${children.size} keys for an arity-${table.arity} table")
    else children.find(_.dataType != IntegerType) match {
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"graft_ref_lookup expects INT keys, got ${c.dataType}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val k = new Array[Int](children.size)
    var j = 0
    while (j < k.length) {
      val v = children(j).eval(input)
      if (v == null) return null
      k(j) = v.asInstanceOf[Int]
      j += 1
    }
    table.find(k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("lookup", table, classOf[IntKeyTable].getName)
    val key = ctx.addMutableState("int[]", "lookupKey",
      v => s"$v = new int[${children.size}];")
    val keyEvals = children.map(_.genCode(ctx))
    val anyNull = if (keyEvals.isEmpty) "false" else keyEvals.map(_.isNull).mkString(" || ")
    val o = ctx.freshName("found")
    val javaType = CodeGenerator.javaType(dataType)
    val unbox =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $o).${javaType}Value()"
      else s"(($javaType) $o)"
    ev.copy(code = code"""
         |${keyEvals.map(_.code).mkString("\n")}
         |boolean ${ev.isNull} = true;
         |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
         |if (!($anyNull)) {
         |  ${keyEvals.zipWithIndex.map { case (e, j) => s"$key[$j] = ${e.value};" }.mkString("\n")}
         |  Object $o = $tbl.find($key);
         |  if ($o != null) {
         |    ${ev.isNull} = false;
         |    ${ev.value} = $unbox;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): RefLookup =
    copy(children = newChildren)
}

object RefLookup {
  def apply(keys: Seq[Column], table: IntKeyTable): Column =
    Bridge.column(RefLookup(keys.map(Bridge.expression), table))

  /** Membership in a set of int key tuples (true, or null when absent). */
  def contains(keys: Seq[Column], members: Iterable[Array[Int]]): Column =
    apply(keys, IntKeyTable(keys.size, BooleanType,
      members.map(k => k -> java.lang.Boolean.TRUE)))

  /** A constant int that is not a literal: it reaches generated code as a
    * reference object, so plans differing only in the constant share code. */
  def constant(v: Int): Column =
    apply(Nil, IntKeyTable(0, IntegerType, Seq(Array.empty[Int] -> Int.box(v))))

  /** The inner join of `df` with a driver-resident relation keyed by the
    * int columns `keys`, as an expression instead of a join: every row
    * whose key has `n` entries becomes `n` rows carrying one entry each in
    * struct column `out` (rows with no entry drop out). A key with at most
    * one entry — the usual case — costs a probe and a null filter; only
    * when some key fans out does the plan add an `explode`.
    */
  def attach(df: DataFrame, keys: Seq[Column], schema: StructType,
      entries: Iterable[(Array[Int], Seq[InternalRow])], out: String): DataFrame = {
    val fans = entries.exists(_._2.size > 1)
    if (fans) {
      val table = IntKeyTable(keys.size, ArrayType(schema, containsNull = false),
        entries.map { case (k, rows) => k -> new GenericArrayData(rows.toArray[Any]) })
      df.withColumn(out, explode(apply(keys, table)))
    } else {
      val table = IntKeyTable(keys.size, schema,
        entries.collect { case (k, Seq(row)) => k -> row })
      df.withColumn(out, apply(keys, table)).filter(col(out).isNotNull)
    }
  }
}
