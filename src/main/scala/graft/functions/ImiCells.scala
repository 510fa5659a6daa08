package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Two-level (IMI) coarse-quantizer cell assignment as ONE native
  * expression: for an integer query vector `q` (array<bigint>), rank each
  * HALF of `q` against the matching sub-codebook by the exact integer-
  * cosine idiom (`floor(dot / (sqrt(|h|²)·sqrt(|c|²)) · 1e6 + 0.5)`, ties
  * by sub-cell id), keep the top `perHalf` sub-cells per half, and return
  * the product cells (`sub₀·2²⁰ + sub₁`) ordered by (rank sum, half-0
  * rank) — the probe fan order. `posexplode` of the result yields the
  * (cent_id, rn) rows every IVF path consumes.
  *
  * WHY an Expression (SURVEY §7.4 preference (b)) and not built-ins: this
  * is the third generation of the assigner. The broadcast-join form paid
  * a join + two ranking windows + a self-pair join of fixed stage
  * overhead per assignment (~1 s per bench query); the literal-array
  * higher-order-function form removed the shuffles but nested one
  * `transform` inside another, and a lambda-nested alias is re-evaluated
  * once per OUTER element after projection collapse — the measured result
  * was 2.5–5× slower than either join form at bench grain (s05 1.7 s →
  * 5.8 s). Here the sub-codebooks ride along as plain JVM arrays (the
  * broadcast-ADC size class: 2·∜n rows — ~0.25 MB at 10¹² vectors), the
  * whole ranking runs in one interpreted pass per row with zero
  * per-entry allocation, and the CHILD stays inside whole-stage codegen
  * (doGenCode emits a single callback on the evaluated array, the
  * addReferenceObj pattern).
  *
  * The arithmetic is bit-identical to the SQL form the DuckDB oracle
  * states (same IEEE op order: `dot / (sqrt·sqrt) * 1e6 + 0.5`, floored,
  * long-cast), so the 15 IVF-family oracles verify this expression
  * directly.
  *
  * `b0`/`b1` rows are (sub-cell id, half-vector, |half-vector|²), sorted
  * by id; equality/canonicalization is by array identity — codebooks are
  * memoized per corpus snapshot (Extensions.coarseBooks), so identical plans
  * share instances.
  */
case class ImiCells(child: Expression,
                    b0: Array[(Long, Array[Long], Long)],
                    b1: Array[(Long, Array[Long], Long)],
                    perHalf: Int)
    extends UnaryExpression {

  private val CellBase = 1048576L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "imi_cells"

  override protected def nullSafeEval(input: Any): Any =
    evalCells(input.asInstanceOf[ArrayData])

  /** Top `perHalf` sub-cells of one half: returns the chosen entry
    * indexes into `book`, ordered by (hcos desc, cent_id asc). Selection
    * sort over the k-entry score array — k is 2·∜n (≤ ~10³ at 10¹²
    * vectors), perHalf ≤ 5. */
  private def topHalf(q: ArrayData, off: Int, len: Int,
                      book: Array[(Long, Array[Long], Long)]): Array[Int] = {
    var sh = 0L
    var t = 0
    while (t < len) { val x = q.getLong(off + t); sh += x * x; t += 1 }
    val sqh = math.sqrt(sh.toDouble)
    val k = book.length
    val scores = new Array[Long](k)
    var i = 0
    while (i < k) {
      val e = book(i)
      val v = e._2
      val n = math.min(len, v.length)
      var d = 0L
      var j = 0
      while (j < n) { d += q.getLong(off + j) * v(j); j += 1 }
      scores(i) = math.floor(
        d.toDouble / (sqh * math.sqrt(e._3.toDouble)) * 1000000.0 + 0.5).toLong
      i += 1
    }
    val m = math.min(perHalf, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < m) {
      var best = -1
      i = 0
      while (i < k) {
        if (!taken(i) && (best < 0 || scores(i) > scores(best) ||
            (scores(i) == scores(best) && book(i)._1 < book(best)._1))) best = i
        i += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    out
  }

  /** Public so the generated code can call it on the codegen'd child
    * value (the addReferenceObj callback). */
  def evalCells(q: ArrayData): ArrayData = {
    val n = q.numElements()
    val h = n / 2
    val t0 = topHalf(q, 0, h, b0)
    val t1 = topHalf(q, h, n - h, b1)
    // Product in (rank sum, half-0 rank) order: for m0·m1 ≤ 25 entries a
    // direct emit along anti-diagonals needs no sort and no tuple allocs.
    val m0 = t0.length
    val m1 = t1.length
    val out = new Array[Long](m0 * m1)
    var w = 0
    var s = 0
    while (s <= m0 + m1 - 2) {
      var i = math.max(0, s - m1 + 1)
      val iMax = math.min(s, m0 - 1)
      while (i <= iMax) {
        out(w) = b0(t0(i))._1 * CellBase + b1(t1(s - i))._1
        w += 1
        i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("imiCells", this, classOf[ImiCells].getName)
    nullSafeCodeGen(ctx, ev, q => s"${ev.value} = $ref.evalCells($q);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ImiCells {
  /** Column entry point; `b0`/`b1` as (id, half-vector, norm) rows. */
  def apply(q: Column, b0: Array[(Long, Array[Long], Long)],
            b1: Array[(Long, Array[Long], Long)], perHalf: Int): Column =
    ColumnBridge.column(
      ImiCells(ColumnBridge.expression(q), b0, b1, perHalf))
}
