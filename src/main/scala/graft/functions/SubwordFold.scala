package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy non-overlapping application of a learned merge table to a
  * symbol array — the [[graft.pipeline.Bpe.applyMerge]] /
  * [[graft.pipeline.WordPiece.applyMergeAs]] fold chain collapsed into
  * ONE native expression (guide §4: the chain was `merges.foldLeft` of
  * nested `aggregate()` higher-order functions, and `ArrayAggregate` is
  * CodegenFallback — every distinct word paid |merges| interpreted
  * folds, each allocating a fresh array per element via
  * `concat(slice(...))`, O(|word|²·|merges|) allocations per row and an
  * interpreted island in an otherwise codegen stage).
  *
  * Semantics, per merge (a, b → m) in table order over the CURRENT
  * symbol state: scan left to right; at each position, if `sym(i) = a`
  * and `sym(i+1) = b`, emit `m` and consume both; else emit `sym(i)`.
  * This is exactly the accumulator fold's behavior: the fold merges
  * when the LAST EMITTED symbol is `a` and the incoming one is `b`, and
  * a just-merged `m` can never re-match as the left side within the
  * same scan because `m` is strictly longer than `a` (`b` is never
  * empty: BPE symbols are nonempty characters, WordPiece continuations
  * carry at least one character after `##`), so the two formulations
  * emit identical sequences. SubwordFoldSpec pins this expression
  * against the original fold chain on the fixture vocabulary for both
  * tokenizers.
  *
  * All comparisons run on [[UTF8String]] byte equality — the same
  * equality Spark's `===` uses on strings — with the merge table held
  * as pre-converted UTF8String triples on the expression instance.
  * Null elements match nothing and pass through unchanged (split- and
  * zip_with-produced arrays are never null-elemented); a null input
  * array yields null (UnaryExpression nullSafeEval).
  */
case class SubwordFold(child: Expression,
    merges: Seq[(String, String, String)]) extends UnaryExpression {
  // the scan ≡ fold equivalence above needs every right symbol non-empty
  require(merges.forall(_._2.nonEmpty),
    "subword_fold merges need a non-empty right symbol")

  override def dataType: DataType = child.dataType match {
    case ArrayType(StringType, n) => ArrayType(StringType, n)
    case _ => ArrayType(StringType, containsNull = true)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"subword_fold expects ARRAY<STRING>, got ${t.sql}")
    }

  @transient private lazy val as: Array[UTF8String] =
    merges.iterator.map(t => UTF8String.fromString(t._1)).toArray
  @transient private lazy val bs: Array[UTF8String] =
    merges.iterator.map(t => UTF8String.fromString(t._2)).toArray
  @transient private lazy val ms: Array[UTF8String] =
    merges.iterator.map(t => UTF8String.fromString(t._3)).toArray

  /** Shared by interpreted eval and generated code. */
  def fold(in: ArrayData): ArrayData = {
    var n = in.numElements()
    val syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      syms(i) = if (in.isNullAt(i)) null else in.getUTF8String(i)
      i += 1
    }
    var k = 0
    while (k < as.length) {
      val a = as(k); val b = bs(k); val m = ms(k)
      var o = 0
      i = 0
      while (i < n) {
        if (i + 1 < n && syms(i) != null && a.equals(syms(i)) &&
            syms(i + 1) != null && b.equals(syms(i + 1))) {
          syms(o) = m; i += 2
        } else { syms(o) = syms(i); i += 1 }
        o += 1
      }
      n = o
      k += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = syms(i); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(in: Any): Any =
    fold(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subwordFold", this,
      classOf[SubwordFold].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.fold($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SubwordFold = copy(child = newChild)
}

object SubwordFold {
  /** Column API ([[LcsLength.lcs_length]] bridge pattern): apply
    * `merges` — (left, right, merged-name) in rank order — to the
    * symbol array `in`.
    */
  def subword_fold(in: Column,
      merges: Seq[(String, String, String)]): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(SubwordFold(Bridge.expression(in), merges))
  }
}
