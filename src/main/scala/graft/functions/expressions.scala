package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.SparkException

/** Native Catalyst expressions for the hash-heavy training-data operators.
  *
  * These are full `Expression`s with `doGenCode` (not UDFs): they live
  * inside WholeStageCodegen spans, carry precise nullability, and cost one
  * static call per row. The interpreted higher-order-function formulations
  * they replace (graft.ops.Dedup) re-traverse each document's shingle array
  * once per hash function; at 100 TB that difference is the job.
  */

private[functions] trait StringArrayInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = self.child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.sql}")
  }
}

/** minhash signature: array<string> tokens → array<long> of `numHashes`
  * minima over the `shingleSize`-token shingles. */
case class ShingleMinHash(child: Expression, shingleSize: Int, numHashes: Int,
    portable: Boolean = false)
    extends UnaryExpression with StringArrayInput {
  require(shingleSize >= 1 && numHashes >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhash"
  private def kernel: String =
    if (portable) "portableShingleMinHash" else "shingleMinHash"
  override protected def nullSafeEval(input: Any): Any =
    if (portable)
      GraftHashImpl.portableShingleMinHash(input.asInstanceOf[ArrayData],
        shingleSize, numHashes)
    else
      GraftHashImpl.shingleMinHash(input.asInstanceOf[ArrayData],
        shingleSize, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHashImpl.$kernel($c, $shingleSize, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}

/** Distinct rolling-hash values of the `shingleSize`-token shingles —
  * the long-typed shingle *set* used for exact-Jaccard verification. */
case class ShingleHashes(child: Expression, shingleSize: Int,
    portable: Boolean = false)
    extends UnaryExpression with StringArrayInput {
  require(shingleSize >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  private def kernel: String =
    if (portable) "portableShingleHashes" else "shingleHashes"
  override protected def nullSafeEval(input: Any): Any =
    if (portable)
      GraftHashImpl.portableShingleHashes(input.asInstanceOf[ArrayData],
        shingleSize)
    else
      GraftHashImpl.shingleHashes(input.asInstanceOf[ArrayData], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHashImpl.$kernel($c, $shingleSize)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** 64-bit SimHash of the `shingleSize`-token shingles. */
case class SimHash(child: Expression, shingleSize: Int,
    portable: Boolean = false)
    extends UnaryExpression with StringArrayInput {
  require(shingleSize >= 1)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  private def kernel: String =
    if (portable) "portableSimHash64" else "simHash64"
  override protected def nullSafeEval(input: Any): Any =
    if (portable)
      GraftHashImpl.portableSimHash64(input.asInstanceOf[ArrayData], shingleSize)
    else
      GraftHashImpl.simHash64(input.asInstanceOf[ArrayData], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHashImpl.$kernel($c, $shingleSize)")
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

/** LSH band bucket hashes: minhash signature of `numHashes` functions
  * folded into `bands` per-band 64-bit bucket keys, in one kernel pass. */
case class MinHashBands(child: Expression, shingleSize: Int, numHashes: Int,
    bands: Int, portable: Boolean = false)
    extends UnaryExpression with StringArrayInput {
  require(shingleSize >= 1 && numHashes >= 1 && bands >= 1 &&
    numHashes % bands == 0, "numHashes must be divisible by bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  private def kernel: String =
    if (portable) "portableMinHashBands" else "shingleMinHashBands"
  override protected def nullSafeEval(input: Any): Any =
    if (portable)
      GraftHashImpl.portableMinHashBands(input.asInstanceOf[ArrayData],
        shingleSize, numHashes, bands)
    else
      GraftHashImpl.shingleMinHashBands(input.asInstanceOf[ArrayData],
        shingleSize, numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHashImpl.$kernel($c, $shingleSize, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Random-hyperplane LSH bucket signature of a float/double vector.
  * Null when the vector itself or any element is null (null must not
  * silently bucket as if it were 0). */
case class HyperplaneLsh(child: Expression, numPlanes: Int,
    portable: Boolean = false)
    extends UnaryExpression {
  require(numPlanes >= 1 && numPlanes <= 63)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_lsh"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_lsh expects array<float> or array<double>, got ${t.sql}")
  }

  private def kernel: String = (portable, isFloat) match {
    case (true, true) => "portableHyperplaneF"
    case (true, false) => "portableHyperplaneD"
    case (false, true) => "hyperplaneF"
    case (false, false) => "hyperplaneD"
  }

  override protected def nullSafeEval(input: Any): Any = kernel match {
    case "portableHyperplaneF" =>
      GraftHashImpl.portableHyperplaneF(input.asInstanceOf[ArrayData], numPlanes)
    case "portableHyperplaneD" =>
      GraftHashImpl.portableHyperplaneD(input.asInstanceOf[ArrayData], numPlanes)
    case "hyperplaneF" =>
      GraftHashImpl.hyperplaneF(input.asInstanceOf[ArrayData], numPlanes)
    case _ =>
      GraftHashImpl.hyperplaneD(input.asInstanceOf[ArrayData], numPlanes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("lshRes")
      s"""
      java.lang.Long $tmp = graft.functions.GraftHashImpl.$kernel($c, $numPlanes);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp.longValue();
      }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneLsh =
    copy(child = newChild)
}

/** Multi-table hyperplane LSH bucket hashes: `numTables` independent
  * `bitsPerTable`-bit sign signatures (OR-construction), each folded with
  * its table index into one 64-bit bucket value — one kernel pass. The
  * scale path for low-threshold cosine near-dup candidate generation. */
case class HyperplaneBands(child: Expression, bitsPerTable: Int,
    numTables: Int) extends UnaryExpression {
  require(bitsPerTable >= 1 && bitsPerTable <= 63 && numTables >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_bands"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bands expects array<float> or array<double>, got ${t.sql}")
  }

  private def kernel: String =
    if (isFloat) "hyperplaneBandsF" else "hyperplaneBandsD"

  override protected def nullSafeEval(input: Any): Any =
    if (isFloat)
      GraftHashImpl.hyperplaneBandsF(input.asInstanceOf[ArrayData],
        bitsPerTable, numTables)
    else
      GraftHashImpl.hyperplaneBandsD(input.asInstanceOf[ArrayData],
        bitsPerTable, numTables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("hbRes")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $tmp =
        graft.functions.GraftHashImpl.$kernel($c, $bitsPerTable, $numTables);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp;
      }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

/** All index-ordered pairs (i < j) of an id array as
  * array<struct<id_a,id_b>> — the per-bucket candidate-pair expansion of
  * the LSH dedup family. Replaces the interpreted nested-`transform`
  * formulation: higher-order functions evaluate a closure per element
  * (and per PAIR here), which the 10× scale-stress run measured as the
  * whole job on hot ~600-id buckets; this kernel is one compiled loop.
  * Output order and multiset are IDENTICAL to the HOF form it replaced,
  * so every oracle result is unchanged. */
case class IndexPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "index_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"index_pairs expects array<bigint>, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    GraftHashImpl.indexPairsL(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.GraftHashImpl.indexPairsL($a);
      """)

  override protected def withNewChildInternal(
      newChild: Expression): IndexPairs = copy(child = newChild)
}

/** Deletion-neighborhood blocking keys: string → array<string> of the
  * string plus its single-code-point deletions (distinct,
  * insertion-ordered). `ed(a,b) <= 1` implies the neighborhoods share a
  * value — the candidate-generation kernel of the edit-distance join
  * family and the [[graft.plans.EditDistanceJoinRewrite]] optimizer
  * rule. */
case class DeletionVariants(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "deletion_variants"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"deletion_variants expects string, got ${t.sql}")
  }

  override protected def nullSafeEval(s: Any): Any =
    GraftHashImpl.deletionVariants(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHashImpl.deletionVariants($c)")

  override protected def withNewChildInternal(
      newChild: Expression): DeletionVariants = copy(child = newChild)
}

/** Dot product of two float/double vectors as a double. Null when either
  * input is null, the lengths differ, or any element is null — a
  * corrupt/short embedding surfaces as a null score, never a plausible
  * partial sum. */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vector_dot expects two array<float> or two array<double> inputs, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  private def kernel: String = elemType(left) match {
    case Some(FloatType) => "dotF"
    case _ => "dotD"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (kernel == "dotF")
      GraftHashImpl.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      GraftHashImpl.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
      java.lang.Double $tmp = graft.functions.GraftHashImpl.$kernel($a, $b);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp.doubleValue();
      }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** IVF coarse-assignment kernel, two-level or flat: argmax of the exact
  * integer score 2·qv·c − ‖c‖² over super-centroids routes the row to a
  * group, then the same argmax over that group's member centroids
  * returns the cell id — one static call per row over primitive double
  * arrays carried as an opaque task-closure REFERENCE OBJECT. The two
  * rejected formulations, both measured slower at 448 cells / 200k
  * rows: per-element plan literals (the flat-IVF ceiling — √N-sized
  * expression trees, codegen budget), and a broadcast join delivering
  * each group's member array (copies ~√cells × dims doubles into every
  * corpus row's join output — 2.6× slower than the flat literal form).
  * Flat mode (memberCells == null): single argmax over `superCents`,
  * returning the index — bit-identical to the
  * transform+array_position formulation (ties to the LOWEST index via
  * strict > over ascending candidates). Null for null/element-null
  * input or when no centroid matches the input length. */
case class IvfArgmaxCell(child: Expression,
    superCents: Array[Array[Double]], superCn: Array[Double],
    memberCells: Array[Array[Int]],
    cents: Array[Array[Double]], cn: Array[Double])
    extends UnaryExpression {
  require(superCents.nonEmpty && superCents.length == superCn.length,
    "need at least one (super-)centroid with matching norms")
  require((memberCells == null && cents == null && cn == null) ||
    (memberCells != null && memberCells.length == superCents.length &&
      cents != null && cents.length == cn.length),
    "two-level mode needs per-group member lists and the full centroid " +
      "table; flat mode passes null for all three")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_argmax_cell"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_argmax_cell expects array<double>, got ${t.sql}")
  }

  /** Row kernel — public so generated code can call it through the
    * codegen reference object. */
  def assign(a: ArrayData): java.lang.Integer = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    val q = a.toDoubleArray()
    var bestG = -1
    var bestS = Double.NegativeInfinity
    var g = 0
    while (g < superCents.length) {
      val c = superCents(g)
      if (c.length == n) {
        var d = 0.0
        var j = 0
        while (j < n) { d += q(j) * c(j); j += 1 }
        val s = 2.0 * d - superCn(g)
        if (s > bestS) { bestS = s; bestG = g }
      }
      g += 1
    }
    if (bestG < 0) return null
    if (memberCells == null) return java.lang.Integer.valueOf(bestG)
    val members = memberCells(bestG)
    var bestCell = -1
    var bestC = Double.NegativeInfinity
    var m = 0
    while (m < members.length) {
      val ci = members(m)
      val c = cents(ci)
      if (c.length == n) {
        var d = 0.0
        var j = 0
        while (j < n) { d += q(j) * c(j); j += 1 }
        val s = 2.0 * d - cn(ci)
        if (s > bestC) { bestC = s; bestCell = ci }
      }
      m += 1
    }
    if (bestCell < 0) null else java.lang.Integer.valueOf(bestCell)
  }

  override protected def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfAssigner", this,
      classOf[IvfArgmaxCell].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("cellRes")
      s"""
      java.lang.Integer $tmp = $ref.assign($c);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp.intValue();
      }
      """
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfArgmaxCell = copy(child = newChild)
}

/** IVF probe routing kernel: a row's top-`nprobe` cells, best first,
  * under the exact integer score 2·qv·c − ‖c‖² (highest first, the
  * LOWEST cell wins ties). Null and NaN scores are skipped, as
  * [[TopKByScore]] skips them, and so are centroids whose length differs
  * from the row's — so a row with a null or NaN element routes nowhere
  * (empty array). Null for null input. Cell ids are indices into
  * `cents`; the tables ride the task closure as one reference object
  * (the [[IvfArgmaxCell]] shape), so a probe ranks its cells in the
  * projection that quantizes it — no explode/aggregate/self-join. */
case class IvfTopCells(child: Expression, cents: Array[Array[Double]],
    cn: Array[Double], nprobe: Int)
    extends UnaryExpression {
  require(cents.length == cn.length, "one norm per centroid")
  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  override def dataType: DataType = ArrayType(IntegerType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_top_cells"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ivf_top_cells expects array<double>, got ${t.sql}")
  }

  /** Row kernel — public so generated code can call it through the
    * codegen reference object. */
  def topCells(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    val k = math.min(nprobe, cents.length)
    val bestC = new Array[Int](k)
    val bestS = new Array[Double](k)
    var size = 0
    var hasNull = false
    var i = 0
    while (i < n) { if (a.isNullAt(i)) hasNull = true; i += 1 }
    if (!hasNull) {
      val q = a.toDoubleArray()
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        if (c.length == n) {
          var d = 0.0
          var j = 0
          while (j < n) { d += c(j) * q(j); j += 1 }
          val s = d * 2 - cn(ci)
          // cells arrive in ascending id order, so an equal score never
          // displaces a kept cell: ties stay with the lowest id
          if (!java.lang.Double.isNaN(s) && (size < k || s > bestS(size - 1))) {
            var p = if (size < k) size else size - 1
            while (p > 0 && s > bestS(p - 1)) {
              bestS(p) = bestS(p - 1); bestC(p) = bestC(p - 1); p -= 1
            }
            bestS(p) = s; bestC(p) = ci
            if (size < k) size += 1
          }
        }
        ci += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bestC, size))
  }

  override protected def nullSafeEval(input: Any): Any =
    topCells(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfRouter", this,
      classOf[IvfTopCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.topCells($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfTopCells = copy(child = newChild)
}

/** Shared row math of the native PQ kernels: per-subspace squared
  * distances of a quantized vector against every codebook block.
  * `cbBlock(s)(ci)` is code ci's slice for subspace s, `csq(s)(ci)` its
  * Σx² — both driver-built once and riding the task closure as one
  * reference object (the IvfArgmaxCell shape). All inputs are
  * quantized integers-as-doubles, so every sum/product below is exact
  * in double arithmetic — bit-identical to any evaluation order,
  * including the staged-column formulation these kernels replace
  * (which generated nSub×nCodes dot columns per row and spent its time
  * compiling 64KB-limit-skirting codegen stages). */
private[functions] object PqRowMath {
  /** d2(s)(ci) for one row, or null if any element is null. */
  def blockD2(a: ArrayData, cbBlock: Array[Array[Array[Double]]],
      csq: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    val q = a.toDoubleArray()
    val nSub = cbBlock.length
    val out = new Array[Array[Double]](nSub)
    var s = 0
    while (s < nSub) {
      val codes = cbBlock(s)
      val subLen = if (codes.isEmpty) 0 else codes(0).length
      val off = s * subLen
      if (off + subLen > n) return null
      var ssq = 0.0
      var j = 0
      while (j < subLen) { val x = q(off + j); ssq += x * x; j += 1 }
      val row = new Array[Double](codes.length)
      var ci = 0
      while (ci < codes.length) {
        val c = codes(ci)
        var d = 0.0
        var j2 = 0
        while (j2 < subLen) { d += c(j2) * q(off + j2); j2 += 1 }
        row(ci) = ssq - 2.0 * d + csq(s)(ci)
        ci += 1
      }
      out(s) = row
      s += 1
    }
    out
  }
}

/** Native PQ encode WITH reconstruction error: quantized vector →
  * struct(codes array<int>, err2 double) where codes(s) is subspace
  * s's argmin-d² codebook entry (ties to the LOWEST code index) and
  * err2 = Σ_s min d² =
  * ‖x − x̂‖² in the quantized-integer domain (every term an
  * integer-valued double, so it is exact and engine-replayable). The
  * per-posting distortion is the ADC-prefilter margin of the lossless
  * compressed dedup path — |⟨q,x⟩ − ⟨q,x̂⟩| ≤ ‖q‖·√err2 by
  * Cauchy–Schwarz — and computing it inside the argmin pass costs
  * nothing beyond the encode itself (a separate sweep would double the
  * per-row codebook work). */
case class PqEncodeWithErr(child: Expression,
    cbBlock: Array[Array[Array[Double]]], csq: Array[Array[Double]])
    extends UnaryExpression {
  require(cbBlock.nonEmpty && cbBlock.length == csq.length,
    "need at least one subspace with matching Σx² tables")
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, false), nullable = false),
    StructField("err2", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_with_err"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode_with_err expects array<double>, got ${t.sql}")
  }

  def encode(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val d2 = PqRowMath.blockD2(a, cbBlock, csq)
    if (d2 == null) return null
    val out = new Array[Int](d2.length)
    var err2 = 0.0
    var s = 0
    while (s < d2.length) {
      val row = d2(s)
      var best = 0
      var ci = 1
      while (ci < row.length) {
        if (row(ci) < row(best)) best = ci
        ci += 1
      }
      out(s) = best
      err2 += row(best)
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out),
        err2))
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqErrEncoder", this,
      classOf[PqEncodeWithErr].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("encErrRes")
      s"""
      org.apache.spark.sql.catalyst.InternalRow $tmp = $ref.encode($c);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp;
      }
      """
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeWithErr = copy(child = newChild)
}

/** Native PQ query dot-LUT: quantized query vector → the FLAT
  * nSub·nCodes table of ⟨q_s, c_s[ci]⟩ subspace dot products (entry
  * s·nCodes + ci), so a candidate's approximate dot ⟨q, x̂⟩ is nSub
  * primitive reads summed by [[PqAdcDotFlat]] — the ADC-prefilter
  * quantity of the compressed dedup path (the d²-LUT of [[PqQueryLut]]
  * serves distance ranking; dedup thresholds on the DOT, and deriving
  * it from d² would need the reconstruction norm as a third lookup
  * chain). FLAT layout on purpose: a nested array<array<double>>
  * costs one wrapper allocation per (candidate, subspace) at read
  * time — 8 allocations per candidate dominated the scoring wall at
  * 10⁷ candidates. All values integer-valued doubles — exact. */
case class PqQueryDotLut(child: Expression,
    cbBlock: Array[Array[Array[Double]]]) extends UnaryExpression {
  require(cbBlock.nonEmpty, "need at least one subspace")
  override def dataType: DataType = ArrayType(DoubleType, false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_query_dot_lut"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_query_dot_lut expects array<double>, got ${t.sql}")
  }

  def lut(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    val q = a.toDoubleArray()
    val nSub = cbBlock.length
    val nCodes = cbBlock(0).length
    val out = new Array[Double](nSub * nCodes)
    var s = 0
    while (s < nSub) {
      val codes = cbBlock(s)
      val subLen = if (codes.isEmpty) 0 else codes(0).length
      val off = s * subLen
      if (off + subLen > n) return null
      var ci = 0
      while (ci < codes.length) {
        val c = codes(ci)
        var d = 0.0
        var j = 0
        while (j < subLen) { d += c(j) * q(off + j); j += 1 }
        out(s * nCodes + ci) = d
        ci += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    lut(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDotLutBuilder", this,
      classOf[PqQueryDotLut].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("dotLutRes")
      s"""
      org.apache.spark.sql.catalyst.util.GenericArrayData $tmp =
        $ref.lut($c);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp;
      }
      """
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqQueryDotLut = copy(child = newChild)
}

/** The ADC inner loop as ONE native call per candidate: sum the flat
  * dot-LUT ([[PqQueryDotLut]]) entries selected by the candidate's PQ
  * codes — lut[s·nCodes + codes[s]] over s. A column-expression chain
  * of nested element_at calls evaluates 3·nSub expression nodes and
  * allocates nSub array wrappers per candidate; at 10⁷ candidates per
  * batch that overhead exceeded the exact dot products the prefilter
  * exists to avoid. Exact: every LUT entry is an integer-valued
  * double. */
case class PqAdcDotFlat(left: Expression, right: Expression,
    nCodes: Int) extends BinaryExpression {
  require(nCodes >= 1, "nCodes must be >= 1")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_dot_flat"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_dot_flat expects (array<double>, array<int>), got " +
          s"(${l.sql}, ${r.sql})")
    }

  def adc(lut: ArrayData, codes: ArrayData): Double = {
    val nSub = codes.numElements()
    var d = 0.0
    var s = 0
    while (s < nSub) {
      d += lut.getDouble(s * nCodes + codes.getInt(s))
      s += 1
    }
    d
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    adc(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcDot", this,
      classOf[PqAdcDotFlat].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.adc($l, $r);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcDotFlat =
    copy(left = newLeft, right = newRight)
}

/** Native PQ query LUT: quantized query vector → the full
  * nSub×nCodes squared-distance table the ADC scorer indexes with each
  * candidate's codes. One call per QUERY row (queries are few by
  * contract; the win is replacing nSub×nCodes generated dot columns
  * with one kernel — plan size and codegen time drop by that factor). */
case class PqQueryLut(child: Expression,
    cbBlock: Array[Array[Array[Double]]], csq: Array[Array[Double]])
    extends UnaryExpression {
  require(cbBlock.nonEmpty && cbBlock.length == csq.length,
    "need at least one subspace with matching Σx² tables")
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, false), false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_query_lut"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_query_lut expects array<double>, got ${t.sql}")
  }

  def lut(a: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val d2 = PqRowMath.blockD2(a, cbBlock, csq)
    if (d2 == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      d2.map(row =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
          .asInstanceOf[AnyRef]))
  }

  override protected def nullSafeEval(input: Any): Any =
    lut(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLutBuilder", this,
      classOf[PqQueryLut].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("lutRes")
      s"""
      org.apache.spark.sql.catalyst.util.GenericArrayData $tmp =
        $ref.lut($c);
      if ($tmp == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $tmp;
      }
      """
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqQueryLut = copy(child = newChild)
}

/** Column-API and SQL surface for the native expressions.
  *
  * Column API: `GraftFunctions.shingleMinhash(tokens, 3, 16)`.
  * SQL: `GraftFunctions.register(spark)` (or the `GraftExtensions`
  * SparkSessionExtensions class via `spark.sql.extensions`) registers
  * `shingle_minhash(arr, n, k)`, `shingle_hashes(arr, n)`,
  * `simhash64(arr, n)`, `vector_dot(a, b)`.
  */
object GraftFunctions {

  private def col(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  // `portable = true` switches the kernels from xxhash64 to the md5-derived
  // 60-bit hash any engine reproduces (GraftHashImpl portable mode) — the
  // oracle-verifiable variants; production defaults stay on xxhash64.
  /** k-function minhash signature column over token shingles. */
  def shingleMinhash(tokens: Column, shingleSize: Int, numHashes: Int,
      portable: Boolean = false): Column =
    col(ShingleMinHash(expr(tokens), shingleSize, numHashes, portable))
  /** Per-band LSH bucket hash column (minhash signature folded per band). */
  def minhashBands(tokens: Column, shingleSize: Int, numHashes: Int,
      bands: Int, portable: Boolean = false): Column =
    col(MinHashBands(expr(tokens), shingleSize, numHashes, bands, portable))
  /** Random-hyperplane LSH bucket column for a vector. */
  def hyperplaneLsh(vec: Column, numPlanes: Int,
      portable: Boolean = false): Column =
    col(HyperplaneLsh(expr(vec), numPlanes, portable))
  /** Multi-table hyperplane LSH bucket array column. */
  def hyperplaneBands(vec: Column, bitsPerTable: Int, numTables: Int): Column =
    col(HyperplaneBands(expr(vec), bitsPerTable, numTables))
  /** Distinct sorted 64-bit shingle hash array column. */
  def shingleHashes(tokens: Column, shingleSize: Int,
      portable: Boolean = false): Column =
    col(ShingleHashes(expr(tokens), shingleSize, portable))
  /** 64-bit SimHash signature column over token shingles. */
  def simhash64(tokens: Column, shingleSize: Int,
      portable: Boolean = false): Column =
    col(SimHash(expr(tokens), shingleSize, portable))
  /** Native dot product of two numeric array columns. */
  def vectorDot(a: Column, b: Column): Column =
    col(VectorDot(expr(a), expr(b)))
  /** Native two-level IVF coarse assignment (see [[IvfArgmaxCell]]):
    * centroid tables ride the task closure as reference objects. */
  def ivfArgmaxCell(qv: Column, superCents: Array[Array[Double]],
      superCn: Array[Double], memberCells: Array[Array[Int]],
      cents: Array[Array[Double]], cn: Array[Double]): Column =
    col(IvfArgmaxCell(expr(qv), superCents, superCn, memberCells,
      cents, cn))
  /** Native IVF probe routing: a quantized vector's top-`nprobe` cells,
    * best first (see [[IvfTopCells]]). */
  def ivfTopCells(qv: Column, cents: Array[Array[Double]],
      cn: Array[Double], nprobe: Int): Column =
    col(IvfTopCells(expr(qv), cents, cn, nprobe))
  /** Native PQ query LUT: quantized vector → nSub×nCodes d² table (see
    * [[PqQueryLut]]). */
  def pqQueryLut(qv: Column, cbBlock: Array[Array[Array[Double]]],
      csq: Array[Array[Double]]): Column =
    col(PqQueryLut(expr(qv), cbBlock, csq))
  /** Native PQ encode + reconstruction error: quantized vector →
    * struct(codes, err2) (see [[PqEncodeWithErr]]). */
  def pqEncodeWithErr(qv: Column, cbBlock: Array[Array[Array[Double]]],
      csq: Array[Array[Double]]): Column =
    col(PqEncodeWithErr(expr(qv), cbBlock, csq))
  /** Native PQ query dot-LUT: quantized vector → flat nSub·nCodes
    * subspace-dot table (see [[PqQueryDotLut]]). */
  def pqQueryDotLut(qv: Column,
      cbBlock: Array[Array[Array[Double]]]): Column =
    col(PqQueryDotLut(expr(qv), cbBlock))
  /** Native ADC dot over a flat LUT and a codes array (see
    * [[PqAdcDotFlat]]). */
  def pqAdcDotFlat(lut: Column, codes: Column, nCodes: Int): Column =
    col(PqAdcDotFlat(expr(lut), expr(codes), nCodes))
  /** Bounded top-k aggregate (score desc, id asc):
    * array<struct<score,id>> best-first; O(k) partial buffers. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    col(TopKByScore(expr(score), expr(id), k).toAggregateExpression())
  /** Capped distinct-collect aggregate: sorted array<bigint>, null when
    * the group exceeds `cap` distinct values; O(cap) partial buffers. */
  def boundedCollectSet(e: Column, cap: Int): Column =
    col(BoundedCollectSet(expr(e), cap).toAggregateExpression())
  /** K-minimum-values cardinality sketch: ascending array of the k
    * smallest distinct bigint hashes; O(k) mergeable partial buffers. */
  def kminValues(hash: Column, k: Int): Column =
    col(KMinValues(expr(hash), k).toAggregateExpression())

  /** All index-ordered pairs (i < j) of an array<bigint> as
    * array<struct<id_a,id_b>> — compiled candidate-pair expansion. */
  def indexPairs(e: Column): Column = col(IndexPairs(expr(e)))

  /** Deletion-neighborhood blocking keys (string + single-deletion
    * variants, distinct). */
  def deletionVariants(s: Column): Column = col(DeletionVariants(expr(s)))

  private def intArg(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new SparkException(
      s"$name expects a literal integer argument, got $other")
  }

  private[functions] val sqlFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, "shingle_minhash"),
      (args: Seq[Expression]) => ShingleMinHash(args(0),
        intArg("shingle_minhash", args(1)), intArg("shingle_minhash", args(2)))),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0),
        intArg("shingle_hashes", args(1)))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash(args(0), intArg("simhash64", args(1)))),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        intArg("minhash_bands", args(1)), intArg("minhash_bands", args(2)),
        intArg("minhash_bands", args(3)))),
    (FunctionIdentifier("hyperplane_lsh"),
      new ExpressionInfo(classOf[HyperplaneLsh].getName, "hyperplane_lsh"),
      (args: Seq[Expression]) => HyperplaneLsh(args(0),
        intArg("hyperplane_lsh", args(1)))),
    (FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    (FunctionIdentifier("deletion_variants"),
      new ExpressionInfo(classOf[DeletionVariants].getName,
        "deletion_variants"),
      (args: Seq[Expression]) => DeletionVariants(args(0))),
    // aggregate: the analyzer wraps a bare AggregateFunction in an
    // AggregateExpression on resolution
    (FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (args: Seq[Expression]) => TopKByScore(args(0), args(1),
        intArg("topk_by_score", args(2)))))

  /** Register the SQL functions on a live session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the graft
  * SQL functions and optimizer rules at session build time — the
  * deployment path for clusters where user code doesn't own session
  * construction, and how `graft.localSession` builds its session. The
  * join rewrites run once, after filter inference: inside the operator
  * optimization batch, `InferFiltersFromGenerate` would add a filter on
  * the bin/variant generator's array and evaluate it twice per row. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
    ext.injectPreCBORule(_ => graft.plans.RangeJoinRewrite)
    ext.injectPreCBORule(_ => graft.plans.EditDistanceJoinRewrite)
  }
}
