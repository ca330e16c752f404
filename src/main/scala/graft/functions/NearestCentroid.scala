package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.{col, typedlit}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The coarse quantizer of every IVF path as ONE codegen expression: a
  * vector column against a centroid matrix carried as a single
  * `array<array<double>>` literal, so the plan holds one node at any
  * nlist (an unrolled per-centroid expression grows O(nlist) and hits
  * janino/analyzer limits; a broadcast cross join fans every row out
  * nlist× and needs an id-keyed exchange to collapse it again).
  *
  * Two modes:
  *   - ASSIGN (`nprobe == 0`) → `int` cell: the argmin of
  *     d² = v·v − 2·v·c + c·c under the lexicographic (d², cell) order;
  *   - PROBE (`nprobe > 0`) → `array<struct<cell int, qc double>>`: the
  *     top-`nprobe` cells by cosine dot(q, c) / (‖q‖·‖c‖), best first,
  *     each carrying its raw dot(q, c) (the IVF-PQ ADC base term).
  *
  * Numeric contract — the values the DuckDB oracles hash: every dot is
  * the index-ascending fold from 0.0 of [[VecDotExpr]] (float elements
  * widen to double per term), d² is `(vv − 2.0·dot) + cc` in that
  * association, and cosines divide the raw dot by the product of the
  * two square-rooted self-dots. Orders follow Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN above +∞, −0.0 = 0.0) with
  * ties to the lower cell id — exactly what `array_min(struct(d², cell))`
  * and a `row_number` over (cosine desc, cell) produce.
  *
  * Contract violations fail fast and name the column: a null vector
  * (an argmin over all-null distances would silently pick cell 0), a
  * vector of the wrong length, and — in PROBE mode — a zero-norm vector
  * or centroid (no cosine direction; the ANSI divide raises the same).
  */
case class NearestCentroidExpr(left: Expression, right: Expression,
    nprobe: Int, column: String) extends BinaryExpression {

  override def nullable: Boolean = false

  override def dataType: DataType =
    if (nprobe == 0) IntegerType else NearestCentroid.probeType

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val gridOk = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (!vecOk) TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires an array<float|double> vector, got " +
        left.dataType)
    else if (!gridOk) TypeCheckResult.TypeCheckFailure(
      "nearest_centroid requires a constant array<array<double>> " +
        s"centroid matrix, got ${right.dataType}")
    else if (nprobe < 0) TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid nprobe must be >= 0, got $nprobe")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val kernel: NearestCentroidKernel = {
    val m = right.eval().asInstanceOf[ArrayData]
    new NearestCentroidKernel(
      Array.tabulate(m.numElements())(i => m.getArray(i).toDoubleArray()),
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType,
      nprobe, column)
  }

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input).asInstanceOf[ArrayData]
    if (nprobe == 0) kernel.assign(v) else kernel.probe(v)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("nearestCentroid", kernel,
      classOf[NearestCentroidKernel].getName)
    val v = left.genCode(ctx)
    val call = if (nprobe == 0) "assign" else "probe"
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $k.$call(${v.isNull} ? null : ${v.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_centroid"
  // the matrix prints as its shape, not its nlist·dim doubles
  override def toString: String =
    s"$prettyName($left, <${NearestCentroid.shape(right)}>, $nprobe)"
  override def sql: String =
    s"$prettyName(${left.sql}, <${NearestCentroid.shape(right)}>, $nprobe)"
}

object NearestCentroid {

  private[functions] val probeType: DataType = ArrayType(StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("qc", DoubleType, nullable = false))), containsNull = false)

  /** ASSIGN mode: the nearest cell (`int`) of each row of `vecCol`. */
  def assign(vecCol: String, centroids: Array[Array[Double]]): Column =
    expr(vecCol, centroids, 0)

  /** PROBE mode: the top-`nprobe` cells of each row of `vecCol` by
    * centroid cosine, best first, as (cell, qc = raw dot(q, c)). */
  def probe(vecCol: String, centroids: Array[Array[Double]],
      nprobe: Int): Column = {
    require(nprobe >= 1, s"nprobe must be positive: $nprobe")
    expr(vecCol, centroids, nprobe)
  }

  private def expr(vecCol: String, centroids: Array[Array[Double]],
      nprobe: Int): Column = {
    require(centroids.nonEmpty, "nearest_centroid: empty centroid matrix")
    ColumnBridge.column(NearestCentroidExpr(
      ColumnBridge.expression(col(vecCol)),
      ColumnBridge.expression(typedlit(centroids)), nprobe, vecCol))
  }

  private[functions] def shape(m: Expression): String = m.eval() match {
    case a: ArrayData if a.numElements() > 0 =>
      s"${a.numElements()}x${a.getArray(0).numElements()}"
    case _ => "0x0"
  }
}

/** The per-row loops behind [[NearestCentroidExpr]], shared by the
  * interpreted and the generated path (the generated code holds one
  * instance as a reference object). Centroid self-dots are folded once
  * at construction, with the same ascending fold as the per-row dots. */
final class NearestCentroidKernel(cents: Array[Array[Double]],
    floatVec: Boolean, nprobe: Int, column: String) extends Serializable {

  private val nlist = cents.length
  private val dim = cents(0).length
  private val cc = cents.map(c => dot(c, c))
  private val cn = cc.map(math.sqrt)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < dim) { s += a(i) * b(i); i += 1 }
    s
  }

  private def read(v: ArrayData): Array[Double] = {
    if (v == null) throw new IllegalArgumentException(
      s"nearest_centroid: null vector in column $column; every row " +
        "needs a vector to be assigned a cell")
    if (v.numElements() != dim) throw new IllegalArgumentException(
      s"nearest_centroid: column $column holds a dim-${v.numElements()} " +
        s"vector, but the centroids are dim-$dim")
    if (floatVec) Array.tabulate(dim)(i => v.getFloat(i).toDouble)
    else v.toDoubleArray()
  }

  def assign(v: ArrayData): Int = {
    val x = read(v)
    val vv = dot(x, x)
    var best = 0
    var bestD = vv - 2.0 * dot(x, cents(0)) + cc(0)
    var c = 1
    while (c < nlist) {
      val d = vv - 2.0 * dot(x, cents(c)) + cc(c)
      if (SQLOrderingUtil.compareDoubles(d, bestD) < 0) { best = c; bestD = d }
      c += 1
    }
    best
  }

  def probe(v: ArrayData): ArrayData = {
    val x = read(v)
    val qn = math.sqrt(dot(x, x))
    val n = math.min(nprobe, nlist)
    val cells = new Array[Int](n)
    val sims = new Array[Double](n)
    val qcs = new Array[Double](n)
    var filled = 0
    var c = 0
    while (c < nlist) {
      val qc = dot(x, cents(c))
      val den = qn * cn(c)
      if (den == 0.0) throw new IllegalArgumentException(
        s"nearest_centroid: zero-norm ${if (qn == 0.0) s"vector in column " +
          column else s"centroid $c"} has no cosine direction")
      val sim = qc / den
      // cells arrive ascending, so a tie never moves ahead of an
      // earlier (lower) cell: insertion stops at the first row it
      // does not strictly beat
      var p = filled
      while (p > 0 && SQLOrderingUtil.compareDoubles(sim, sims(p - 1)) > 0)
        p -= 1
      if (p < n) {
        val last = math.min(filled, n - 1)
        System.arraycopy(cells, p, cells, p + 1, last - p)
        System.arraycopy(sims, p, sims, p + 1, last - p)
        System.arraycopy(qcs, p, qcs, p + 1, last - p)
        cells(p) = c; sims(p) = sim; qcs(p) = qc
        if (filled < n) filled += 1
      }
      c += 1
    }
    new GenericArrayData(Array.tabulate[Any](n)(i =>
      new GenericInternalRow(Array[Any](cells(i), qcs(i)))))
  }
}
