package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Codegen'd dot product over two array<double> columns — the hot inner loop
  * of every similarity operator. A higher-order `aggregate(zip_with(...))`
  * computes the same value but evaluates interpreted (lambda per element,
  * ~1-2 µs/element); this native Expression compiles to a primitive double
  * loop inside whole-stage codegen (~1 ns/element), keeping brute-force
  * cosine top-k scan-bound instead of lambda-bound.
  *
  * Summation is strictly ascending-index sequential — bit-identical to the
  * interpreted fold it replaces and to DuckDB's list_cosine_similarity
  * inner loop, so oracle exactness is preserved.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Banded sign-LSH codes in one codegen'd pass: for a vector `vec` and a
  * literal hyperplane matrix (bands·rowsPerBand planes × dims), returns
  * array<long> of length bands where bit j of band b is the sign of
  * vec · plane[b·rowsPerBand + j].
  *
  * One Expression instead of bands·rowsPerBand inlined dot products: a
  * per-plane expr tree (288 DotProduct nodes with 64-element literal
  * arrays each) blows generated code past Janino's method limits and falls
  * back interpreted (~10x slower, measured); a transform() lambda is
  * interpreted by construction. Here the matrix rides along as ONE codegen
  * reference object and the generated code is two tight primitive loops.
  */
case class SignBandCodes(vec: Expression, planesExpr: Expression,
                         rpbExpr: Expression) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = planesExpr
  override def third: Expression = rpbExpr

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val planesOk = planesExpr.foldable && (planesExpr.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    val rpbOk = rpbExpr.foldable && rpbExpr.dataType == IntegerType
    if (!(vecOk && planesOk && rpbOk))
      TypeCheckResult.TypeCheckFailure(
        "graft_band_codes expects (array<double>, foldable array<array<double>>, foldable int)")
    else {
      // analysis-time geometry checks: a bad band shape must fail the query
      // plan, not throw AIOOBE in every task (or silently wrap shifts)
      val r = rpbExpr.eval(null)
      val nPlanes = planesExpr.eval(null).asInstanceOf[ArrayData].numElements()
      r match {
        case i: Int if i >= 1 && i <= 64 && nPlanes > 0 && nPlanes % i == 0 =>
          TypeCheckResult.TypeCheckSuccess
        case i: Int =>
          TypeCheckResult.TypeCheckFailure(
            s"graft_band_codes: rowsPerBand=$i must be in [1, 64] and divide " +
              s"the plane count ($nPlanes)")
        case _ => TypeCheckResult.TypeCheckFailure(
          "graft_band_codes: rowsPerBand must be a non-null INT literal")
      }
    }
  }

  @transient lazy val planes: Array[Array[Double]] = {
    val ad = planesExpr.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }
  @transient lazy val rowsPerBand: Int =
    rpbExpr.eval(null).asInstanceOf[Int]

  private def compute(x: ArrayData): GenericArrayData = {
    val codes = new Array[Long](planes.length / rowsPerBand)
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(x.numElements(), pl.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * pl(i); i += 1 }
      if (acc > 0) codes(p / rowsPerBand) |= 1L << (p % rowsPerBand)
      p += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(v: Any, p: Any, r: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val codes = ctx.freshName("codes")
      val p = ctx.freshName("p")
      val pl = ctx.freshName("pl")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |long[] $codes = new long[$planesRef.length / $rowsPerBand];
         |for (int $p = 0; $p < $planesRef.length; $p++) {
         |  double[] $pl = $planesRef[$p];
         |  int $n = java.lang.Math.min($v.numElements(), $pl.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $v.getDouble($i) * $pl[$i];
         |  }
         |  if ($acc > 0) $codes[$p / $rowsPerBand] |= 1L << ($p % $rowsPerBand);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override def withNewChildrenInternal(f: Expression, s: Expression,
                                       t: Expression): Expression =
    copy(vec = f, planesExpr = s, rpbExpr = t)
}

/** Codegen'd squared distance between an INTEGERIZED vector (array<bigint>,
  * the kmeans family's exact-update representation) and a double centroid:
  * acc = Σ_j t_j² with t_j = (double)vi[j] / 1e6 - ce[j], ascending j,
  * 0.0-seeded — the BIT-IDENTICAL operation sequence of the interpreted
  * `aggregate(zip_with(vi, ce, (a,b) -> (a/1e6-b)*(a/1e6-b)), 0D, +)` it
  * replaces (zip_with's lambda computes the same subtraction for both
  * product operands; the fold is ascending from 0D), and of the DuckDB
  * oracle's list_reduce/list_transform chain. Replacing the two-lambda HOF
  * with a primitive loop keeps the n·k·rounds assignment hot path inside
  * whole-stage codegen (guide §4: no interpreted Expressions on the hot
  * path) without perturbing a single ulp of the Lloyd trajectory.
  */
case class KmeansDistSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_d2 expects (array<bigint>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    KmeansDistSq.requireSameLength(n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val t = x.getLong(i).toDouble / 1000000.0 - y.getDouble(i)
      acc += t * t
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      s"""
         |int $n = $a.numElements();
         |graft.functions.KmeansDistSq.requireSameLength($n, $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $t = (double) $a.getLong($i) / 1000000.0 - $b.getDouble($i);
         |  $acc += $t * $t;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object KmeansDistSq {
  /** A vector and a centroid of different lengths have no distance: fail
    * loudly on both eval paths, as `graft_vec_sum` does on ragged input,
    * instead of folding over the shorter prefix.
    */
  def requireSameLength(vi: Int, ce: Int): Unit =
    if (vi != ce) throw new IllegalArgumentException(
      s"graft_d2: vector and centroid differ in length ($vi vs $ce)")
}

/** Element-wise sum of array<bigint> vectors — the kmeans update step's
  * per-cluster aggregate. Replaces the posexplode → groupBy(cid, j) →
  * groupBy(cid) two-exchange reshape with ONE map-side-combined aggregate
  * (guide §2.3 "aggregate before you shuffle" / §2.4 "remove shuffles
  * outright"): each input partition reduces to ≤k buffers of `dims` longs,
  * so the exchange carries partitions·k·dims·8 bytes of partial sums
  * instead of (cid, j)-keyed partial rows plus a second exchange. Integer
  * addition is order-independent, so the sums — and the Lloyd trajectory
  * built from them — are bit-identical to the exploded form's.
  *
  * Empty-buffer sentinel: dims is unknown until the first row, so the
  * zero buffer is the empty array and eval of an empty buffer is null
  * (matches sum-over-no-rows semantics; callers always have rows). A null
  * vector is skipped like sum() skips a null; a zero-length vector is
  * indistinguishable from no row and adds nothing.
  *
  * Ragged input fails loudly: vectors of different lengths in one group,
  * met in `update` or across partial buffers in `merge`, throw instead of
  * summing a prefix whose length would depend on which row came first. A
  * null ELEMENT throws too, since there is no order-independent meaning
  * for skipping one coordinate of a vector.
  */
case class VecSumLong(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def requireSameLength(have: Int, got: Int): Unit =
    if (have != got) throw new IllegalArgumentException(
      s"graft_vec_sum: vectors of different lengths in one group ($have vs $got)")

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = if (buffer.isEmpty) new Array[Long](n) else buffer
      requireSameLength(out.length, n)
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) throw new IllegalArgumentException(
          s"graft_vec_sum: null element at index $i")
        out(i) += arr.getLong(i)
        i += 1
      }
      out
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      requireSameLength(b1.length, b2.length)
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vec_sum expects array<bigint>, got ${other.sql}")
  }

  override def withNewMutableAggBufferOffset(n: Int): VecSumLong =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): VecSumLong =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): VecSumLong =
    copy(child = c)
}

object VectorFunctions {
  /** Register `graft_dot(a, b)` once per session; a no-op when already
    * present (createOrReplaceTempFunction would log a replacement WARN per
    * call, which at one call per declared query floods the bench output).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    if (!registry.functionExists(id)) {
      registry.createOrReplaceTempFunction(
        "graft_dot", exprs => {
          Arity.check(exprs, 2, "graft_dot(a, b)")
          DotProduct(exprs(0), exprs(1))
        }, "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_band_codes",
        exprs => {
          Arity.check(exprs, 3, "graft_band_codes(vec, planes, bits)")
          SignBandCodes(exprs(0), exprs(1), exprs(2))
        }, "scala_udf")
      registry.createOrReplaceTempFunction(
        "graft_d2", exprs => {
          Arity.check(exprs, 2, "graft_d2(vi, ce)")
          KmeansDistSq(exprs(0), exprs(1))
        }, "scala_udf")
      // AggregateFunction builders are legal registry entries: the
      // analyzer's ResolveFunctions wraps a bare AggregateFunction in
      // AggregateExpression(Complete), same as the builtin sum/avg.
      registry.createOrReplaceTempFunction(
        "graft_vec_sum", exprs => {
          Arity.check(exprs, 1, "graft_vec_sum(vi)")
          VecSumLong(exprs(0))
        }, "scala_udf")
    }
  }
}
