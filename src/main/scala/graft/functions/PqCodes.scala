package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One trained PQ codeword: subspace id, cell id, centroid slice, and the
  * precomputed `(0.5d * cn) * cn` term of the argmin score (the exact
  * left-associated product the SQL form `0.5d * c.cn * c.cn` evaluates,
  * so precomputing it changes no bit).
  */
case class PqCodeword(cell: Int, cv: Array[Double], halfCn2: Double)

/** Native product-quantization encoder: per input vector, the argmin-L2
  * codeword of each subspace — `codes[s] = argmax_c round(dot(v[s·sub ..
  * s·sub+sub), cv_c) − 0.5·|c|², 6)`, ties to the LOWEST cell id (the
  * exact semantics of the former lambda form documented below).
  *
  * The codebooks ride INSIDE the expression (plan-serialized driver
  * state, m·k·sub rounded doubles — node-sized by construction, the
  * lloydCentroids shape), so the encode scan needs NO broadcast join:
  * the plan is a bare projection over the vector column. The former
  * formulation — broadcast the codebook rows, then per row
  * `transform(sequence(0, m−1), s -> array_max(transform(filter(cs, …),
  * c -> struct(round(graft_dot(slice(v, …), c.cv) − …), −c.cell))))` —
  * paid interpreted higher-order-function machinery per codeword: a
  * `slice` allocation per (row × codeword), a struct allocation per
  * scored cell and a generic-ordering array_max, ~0.75 s per encode
  * pass at sf0.1 (round 11, SURVEY.md §6.1) against ~0.05 s for this loop.
  * Each training round and each encode saves a pass, and the argmin
  * stays inside whole-stage codegen (generated code calls
  * [[compute]] on the plan-serialized instance).
  *
  * Bit-compatibility notes (the oracle hash match pins all of these):
  * dot accumulates in ascending element order exactly like
  * [[DotProduct]]; the 6-dp round is Spark's `Round` arithmetic
  * (`BigDecimal.valueOf(x).setScale(6, HALF_UP)`); scores compare via
  * `java.lang.Double.compare`, matching Spark's double ordering
  * (−0.0 < 0.0) that the struct `array_max` used; a short input vector
  * dots only the available prefix of a subspace slice, like
  * `slice` + [[DotProduct]]'s min-length contract.
  */
case class PqCodes(child: Expression, books: Array[Array[PqCodeword]], sub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val floatElems: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes requires array<float|double> input, got ${t.sql}")
  }

  def compute(vAny: Object): ArrayData = {
    val v = vAny.asInstanceOf[ArrayData]
    val n = v.numElements()
    val m = books.length
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val bucket = books(s)
      val off = s * sub
      val upTo = math.min(math.max(n - off, 0), sub)
      var bestCell = bucket(0).cell
      var bestScore = score(v, off, upTo, bucket(0))
      var c = 1
      while (c < bucket.length) {
        val sc = score(v, off, upTo, bucket(c))
        val cmp = java.lang.Double.compare(sc, bestScore)
        if (cmp > 0 || (cmp == 0 && bucket(c).cell < bestCell)) {
          bestScore = sc; bestCell = bucket(c).cell
        }
        c += 1
      }
      codes(s) = bestCell
      s += 1
    }
    new GenericArrayData(codes)
  }

  private def score(v: ArrayData, off: Int, upTo: Int, cw: PqCodeword): Double = {
    val cv = cw.cv
    val k = math.min(upTo, cv.length)
    var acc = 0.0
    var j = 0
    while (j < k) {
      val x = if (floatElems) v.getFloat(off + j).toDouble else v.getDouble(off + j)
      acc += x * cv(j)
      j += 1
    }
    val d = acc - cw.halfCn2
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Object])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_codes"
}
