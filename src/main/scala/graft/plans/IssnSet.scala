package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Normalizers

/** The journal_issn set (distiller/journal_issn.py): every candidate
  * ISSN from `string` and `array<string>` children, kept when it
  * passes [[Normalizers.IssnPattern]], deduped, sorted and joined with
  * "|"; NULL when no candidate is valid. NULL children and NULL
  * elements contribute nothing.
  *
  * Same result as the Column chain
  * `array_sort(array_distinct(filter(concat(…), isValidIssn)))` piped,
  * but codegen'd where that chain is interpreted: `filter` and
  * `array_sort` are lambda higher-order functions (CodegenFallback), so
  * the chain — and every candidate expression inlined beneath it —
  * runs row by row in the interpreter. Here the children stay compiled
  * and only the set assembly is a helper call.
  *
  * Exactness: validity is the `rlike` test itself (the same compiled
  * Pattern, `find()` on the decoded string — so `$` accepts one final
  * line terminator, `[0-9]` is ASCII only, `.` is one code point);
  * order is [[UTF8String.compareTo]] (unsigned byte order, as
  * array_sort on UTF8_BINARY strings); duplicates are byte-equal.
  */
case class IssnSet(children: Seq[Expression]) extends Expression {

  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "issn_set"

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => c.dataType match {
      case _: StringType | ArrayType(_: StringType, _) => false
      case _ => true
    }) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"issn_set requires string or array<string> inputs, got ${c.dataType}")
    }

  override def eval(input: InternalRow): Any = {
    val acc = new IssnSetBuffer
    children.foreach { c =>
      c.eval(input) match {
        case null =>
        case s: UTF8String => acc.addString(s)
        case a: ArrayData => acc.addArray(a)
      }
    }
    acc.result()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[IssnSetBuffer].getName
    val acc = ctx.addMutableState(cls, "issnSet", v => s"$v = new $cls();", forceInline = true)
    val adds = children.map { c =>
      val e = c.genCode(ctx)
      val add = if (c.dataType.isInstanceOf[ArrayType]) "addArray" else "addString"
      s"""
         |${e.code}
         |if (!${e.isNull}) { $acc.$add(${e.value}); }
       """.stripMargin
    }
    val body = ctx.splitExpressionsWithCurrentInputs(adds, funcName = "issnSetAdd")
    ev.copy(code =
      code"""
         |$acc.reset();
         |$body
         |${CodeGenerator.javaType(dataType)} ${ev.value} = $acc.result();
         |boolean ${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): IssnSet =
    copy(children = newChildren)
}

object IssnSet {
  def apply(candidates: Column*): Column =
    GraftExpr.column(IssnSet(candidates.map(GraftExpr.expression)))
}

/** Per-row accumulator behind [[IssnSet]]; one per generated class
  * (a task), reset before each row. Its values point into the current
  * row, so they are read only before [[result]] returns.
  */
final class IssnSetBuffer {
  private val Sep = UTF8String.fromString("|")
  private var buf = new Array[UTF8String](8)
  private var n = 0

  def reset(): Unit = n = 0

  def addString(s: UTF8String): Unit =
    if (Normalizers.IssnPattern.matcher(s.toString).find()) {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = s
      n += 1
    }

  def addArray(a: ArrayData): Unit = {
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) addString(a.getUTF8String(i))
      i += 1
    }
  }

  /** The sorted distinct valid values joined with "|", NULL if none;
    * leaves the buffer empty.
    */
  def result(): UTF8String = {
    if (n == 0) return null
    java.util.Arrays.sort(buf.asInstanceOf[Array[AnyRef]], 0, n)
    var m = 1
    var i = 1
    while (i < n) {
      if (buf(i) != buf(m - 1)) { buf(m) = buf(i); m += 1 }
      i += 1
    }
    val out = UTF8String.concatWs(Sep, java.util.Arrays.copyOf(buf, m): _*)
    reset()
    out
  }
}
