package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native dot product over two `array<double>` columns.
  *
  * The composable form (`zip_with` + `aggregate`) materializes an
  * intermediate array and walks lambda closures per element; this
  * expression is a tight primitive loop with full codegen, so the
  * similarity operators (cosine dedup, ANN) stay inside
  * WholeStageCodegen at ~10× less per-pair cost — the difference
  * between feasible and not at 10⁶–10⁹ candidate pairs.
  *
  * Accumulation order is left-to-right element order, matching the
  * composable form and the DuckDB oracle exactly.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with NullBothWays {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Driver-held PQ codebook, the constructor literal of [[PqEncode]]:
  * per subspace, the codes in ascending order and their integer
  * centroid sub-vectors (`dsub` coordinates each). Built from the
  * exploded (code, dim, sub, cm) codebook rows by
  * graft.similarity.Pq.codebook. */
final class PqBook(val dsub: Int, val codes: Array[Array[Int]],
    val cents: Array[Array[Array[Long]]]) extends Serializable {

  override def toString: String =
    s"PqBook(m=${codes.length}, dsub=$dsub, entries=${codes.map(_.length).sum})"

  /** One quantized vector's codes: per full `dsub`-wide subspace the
    * entry at the least exact squared distance, ties to the smaller
    * code (ascending scan, strict `<`); null where the codebook holds
    * no entry for that subspace. Distances overflow-check like ANSI
    * BIGINT arithmetic. */
  def encode(w: ArrayData): ArrayData = {
    val nSub = w.numElements() / dsub
    val out = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      val off = s * dsub
      val sc = if (s < codes.length) codes(s) else Array.emptyIntArray
      var best = 0
      var bestD = 0L
      var j = 0
      while (j < sc.length) {
        val cv = cents(s)(j)
        var d = 0L
        var i = 0
        while (i < dsub) {
          val x = Math.subtractExact(w.getLong(off + i), cv(i))
          d = Math.addExact(d, Math.multiplyExact(x, x))
          i += 1
        }
        if (j == 0 || d < bestD) { best = sc(j); bestD = d }
        j += 1
      }
      if (sc.nonEmpty) out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Native PQ encode: a quantized `array<bigint>` vector → its codes,
  * one per subspace, against the driver-held codebook carried as a
  * constructor literal. Replaces the relational encode, which fanned
  * every vector out to |codebook| rows per subspace and reduced them
  * by (id, sub) through a shuffle: here each vector is one row in and
  * one row out, so encoding is a per-row projection. */
case class PqEncode(child: Expression, book: PqBook) extends UnaryExpression
    with NullBothWays {

  override def nullIntolerant: Boolean = true

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def nullSafeEval(input: Any): Any = book.encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBook", book, classOf[PqBook].getName)
    nullSafeCodeGen(ctx, ev, w => s"${ev.value} = $b.encode($w);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Driver-held IVF centroid table, the constructor literal of
  * [[NearestLists]]: list ids (Catalyst values of `idType`) in
  * ascending order — nulls first — with their centroids and the
  * centroid norms precomputed exactly as `sqrt(dot(c, c))`.
  * `failOnZero` is the ANSI mode the relational cosine's division
  * would have run under (captured at construction, as Divide does). */
final class CentroidBook(val ids: Array[Any], val idType: DataType,
    val cents: Array[Array[Double]], val failOnZero: Boolean) extends Serializable {

  private val norms: Array[Double] = cents.map(c => math.sqrt(CentroidBook.dot(c, c)))

  override def toString: String =
    s"CentroidBook(lists=${ids.length}, dim=${cents.headOption.map(_.length).getOrElse(0)})"

  /** The first `n` list ids by `cosine4(v, centroid)` descending — NaN
    * first, a null cosine (null vector, or a zero norm with ANSI off)
    * last — ties to the smaller list id: the order of the relational
    * `row_number() OVER (ORDER BY c_cos DESC, list_id ASC)`. */
  def nearest(v: ArrayData, n: Int): ArrayData = {
    val l = ids.length
    val cos = new Array[Double](l)
    val isNull = new Array[Boolean](l)
    if (v == null) java.util.Arrays.fill(isNull, true)
    else {
      val nv = v.numElements()
      var vv = 0.0
      var i = 0
      while (i < nv) { vv += v.getDouble(i) * v.getDouble(i); i += 1 }
      val normV = math.sqrt(vv)
      var j = 0
      while (j < l) {
        val c = cents(j)
        val m = math.min(nv, c.length)
        var dot = 0.0
        i = 0
        while (i < m) { dot += v.getDouble(i) * c(i); i += 1 }
        val den = normV * norms(j)
        if (den == 0.0) {
          if (failOnZero) throw GraftShims.divideByZeroError()
          isNull(j) = true
        } else cos(j) = CentroidBook.round4(dot / den)
        j += 1
      }
    }
    // before(a, b): a sorts ahead of b under DESC NULLS LAST with
    // Spark's double order (NaN largest, 0.0 == -0.0); equal keys keep
    // the id order, so ties go to the smaller list id
    def before(a: Int, b: Int): Boolean =
      !isNull(a) && (isNull(b) || {
        val x = cos(a); val y = cos(b)
        x != y && java.lang.Double.compare(x, y) > 0
      })
    val k = math.max(0, math.min(n, l))
    val top = new Array[Int](k)
    var filled = 0
    var j = 0
    while (j < l) {
      if (k > 0 && (filled < k || before(j, top(k - 1)))) {
        var p = math.min(filled, k - 1)
        while (p > 0 && before(j, top(p - 1))) { top(p) = top(p - 1); p -= 1 }
        top(p) = j
        if (filled < k) filled += 1
      }
      j += 1
    }
    new GenericArrayData(top.map(ids(_)))
  }
}

object CentroidBook {
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on the decimal
    * string form, NaN and infinities unchanged. */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Native IVF probe: a vector → the ids of its `n` nearest lists
  * against the driver-held centroid table carried as a constructor
  * literal, in [[CentroidBook.nearest]] order. Replaces the
  * relational probe (broadcast cross join against the centroids, a
  * `row_number` window per vector), so assignment and probing stay
  * in the map stage. Never null: a null vector scores null against
  * every list and takes the first `n` ids, as the window did. */
case class NearestLists(child: Expression, book: CentroidBook, n: Int)
    extends UnaryExpression {

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(book.idType, containsNull = false)

  override def eval(input: InternalRow): Any =
    book.nearest(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("centroidBook", book, classOf[CentroidBook].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $b.nearest(${c.isNull} ? null : ${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestLists =
    copy(child = newChild)
}

object VectorExpr {
  /** Column API: dot(a, b) as a native expression. */
  def dotNative(a: Column, b: Column): Column =
    GraftShims.column(DotProduct(
      GraftShims.expression(a), GraftShims.expression(b)))

  /** Column API: a quantized vector's PQ codes (see [[PqEncode]]). */
  def pqEncode(w: Column, book: PqBook): Column =
    GraftShims.column(PqEncode(GraftShims.expression(w), book))

  /** Column API: a vector's `n` nearest list ids (see [[NearestLists]]). */
  def nearestLists(v: Column, book: CentroidBook, n: Int): Column =
    GraftShims.column(NearestLists(GraftShims.expression(v), book, n))
}
