package graft.linkage.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2.8/§2.11). All hot-path
  * expressions implement `doGenCode` so the pair-scoring projection stays
  * inside whole-stage codegen; the heavy lifting is a static call into
  * [[Sim]] shared with the interpreted path.
  */

/** `clean_string` analog — reference utils/data_reader.py:108–114. */
case class NormalizeAscii(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_ascii"
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Sim.normalizeAscii(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.linkage.expr.Sim.normalizeAscii($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): NormalizeAscii =
    copy(child = newChild)
}

/** textdistance-parity Jaro-Winkler — reference matching.py:480–491 &
  * 110–247 (see [[Sim.jaroWinkler]] for the pinned semantics). */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Sim.jaroWinklerUtf8(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.Sim.jaroWinklerUtf8($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** The address prefilter (matching.py:540) over two addr structs:
  * `[d]` when d = [[Sim.addressDistance]] exceeds `threshold`, else `[]`.
  * Scoring explodes it, so the prefilter is the relation's cardinality:
  * no Filter exists for the optimizer to push below the projection with
  * the comparator substituted, and the kernel runs once per pair. */
case class AddressDistanceAbove(left: Expression, right: Expression,
                                threshold: Double)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "address_distance_above"
  // the kernel reads the struct fields by ordinal
  override def checkInputDataTypes(): TypeCheckResult = {
    val addr = graft.linkage.Schemas.addrStruct
    def isAddr(t: DataType): Boolean = t match {
      case s: StructType => s.fields.toSeq.map(f => (f.name, f.dataType)) ==
        addr.fields.toSeq.map(f => (f.name, f.dataType))
      case _ => false
    }
    if (isAddr(left.dataType) && isAddr(right.dataType)) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName needs two ${addr.simpleString} inputs")
  }
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Sim.addressDistanceAbove(l.asInstanceOf[InternalRow],
      r.asInstanceOf[InternalRow], threshold)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.Sim.addressDistanceAbove($a, $b, ${threshold}D)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AddressDistanceAbove =
    copy(left = newLeft, right = newRight)
}

/** textdistance-parity normalized Hamming similarity — matching.py:100–103. */
case class HammingSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hamming_sim"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    Sim.hammingSimUtf8(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.Sim.hammingSimUtf8($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingSim =
    copy(left = newLeft, right = newRight)
}

/** Metaphone signature for p-sig-style blocking —
  * example-schema/blocking-schema/p-sig.json signatureSpecs[1]. */
case class MetaphoneExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "metaphone_sig"
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Sim.metaphone(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.linkage.expr.Sim.metaphone($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): MetaphoneExpr =
    copy(child = newChild)
}

/** Tight-loop vector kernels shared by the interpreted and generated
  * code paths of [[DotProduct]]. Null elements are treated as 0.0 and
  * the shorter length wins on mismatch (embedding corpora carry neither;
  * documented so the semantics are explicit). */
object VecOps {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData,
          aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
      }
      i += 1
    }
    s
  }

  def nearestCentroid(a: org.apache.spark.sql.catalyst.util.ArrayData,
                      centroids: Array[Array[Double]],
                      aFloat: Boolean): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val n = math.min(a.numElements(), cen.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = (if (a.isNullAt(i)) 0.0
                 else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)) -
          cen(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Top-nProbe nearest centroid INDICES by L2, ascending (distance,
    * index) — the tie-break `array_sort(struct(d, i))` used, so results
    * are bit-identical to the sorted-struct form it replaces. Selection
    * is O(k·nProbe) after the O(k·dims) distance pass, which dominates. */
  def nearestCentroids(a: org.apache.spark.sql.catalyst.util.ArrayData,
                       centroids: Array[Array[Double]], nProbe: Int,
                       aFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val k = centroids.length
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cen = centroids(c)
      val n = math.min(a.numElements(), cen.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = (if (a.isNullAt(i)) 0.0
                 else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)) -
          cen(i)
        s += x * x
        i += 1
      }
      d(c) = s
      c += 1
    }
    val m = math.min(nProbe, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var j = 0
    while (j < m) {
      var best = -1
      var bestD = Double.MaxValue
      var c2 = 0
      while (c2 < k) {
        // strict < with ascending scan = lowest index wins ties
        if (!used(c2) && d(c2) < bestD) { bestD = d(c2); best = c2 }
        c2 += 1
      }
      if (best < 0) {
        // all remaining distances are NaN (NaN < x is false): take the
        // lowest unused index — matching the array_sort(struct(d, i))
        // form this kernel replaced, which ordered NaN last with an
        // ascending index tie-break, instead of crashing on used(-1)
        var c3 = 0
        while (best < 0 && c3 < k) {
          if (!used(c3)) best = c3
          c3 += 1
        }
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Product-quantization encode: code[m] = argmin_k L2²(v_sub_m,
    * codebook[m][k]) over the m-th contiguous subspace slice, lowest-k
    * tie-break (strict < with ascending scan — same discipline as
    * [[nearestCentroid]]). Subspace widths follow the codebook (they may
    * be unequal when dims % M != 0); missing/null vector elements read
    * as 0.0. */
  def pqEncode(a: org.apache.spark.sql.catalyst.util.ArrayData,
               codebooks: Array[Array[Array[Double]]], aFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var off = 0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val cen = cb(k)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val i = off + j
          val x = (if (i >= a.numElements() || a.isNullAt(i)) 0.0
                   else if (aFloat) a.getFloat(i).toDouble
                   else a.getDouble(i)) - cen(j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      out(s) = best
      off += dsub
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-query ADC lookup table, flattened [m·K + k] → L2²(q_sub_m,
    * codebook[m][k]). Each entry is a left-to-right sum over the
    * subspace dims; [[pqAdc]] then adds entries in ascending-m order, so
    * the total matches a per-subspace-subtotal-then-add accumulation — a
    * DuckDB oracle reproduces it with nested list_sum. Computed ONCE per
    * query row (before the candidate join), making the per-pair distance
    * O(M) table lookups instead of O(dims). */
  def pqLut(a: org.apache.spark.sql.catalyst.util.ArrayData,
            codebooks: Array[Array[Array[Double]]], aFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = codebooks.length
    val kk = if (m == 0) 0 else codebooks(0).length
    val out = new Array[Double](m * kk)
    var off = 0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      var k = 0
      while (k < cb.length) {
        val cen = cb(k)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val i = off + j
          val x = (if (i >= a.numElements() || a.isNullAt(i)) 0.0
                   else if (aFloat) a.getFloat(i).toDouble
                   else a.getDouble(i)) - cen(j)
          d += x * x
          j += 1
        }
        out(s * kk + k) = d
        k += 1
      }
      off += dsub
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Asymmetric-distance computation from a flattened LUT and a PQ code:
    * sum over subspaces (ascending m) of lut[m·K + code[m]]. */
  def pqAdc(lut: org.apache.spark.sql.catalyst.util.ArrayData,
            code: org.apache.spark.sql.catalyst.util.ArrayData,
            k: Int): Double = {
    val m = code.numElements()
    var d = 0.0
    var s = 0
    while (s < m) {
      if (!code.isNullAt(s)) {
        val idx = s * k + code.getInt(s)
        if (idx < lut.numElements() && !lut.isNullAt(idx))
          d += lut.getDouble(idx)
      }
      s += 1
    }
    d
  }
}

/** Codegen'd dot product over array<float|double> columns — the shared
  * kernel of every embedding operator (cosine top-k, LSH bucket planes,
  * IVF distances, cosine near-dups). Replaces the
  * aggregate(zip_with(...)) form: higher-order-function lambdas are
  * excluded from whole-stage codegen and run interpreted per element
  * (the engine's measured doctrine), while this stays a JIT'd tight
  * loop inside the generated code. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecOps.dot(l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.VecOps.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Argmin-L2 centroid assignment for IVF: the centroid matrix rides
  * along as a REFERENCE OBJECT (one ~nCentroids×dims double[][] per
  * task, ~36 KB at √n-sized quantizers), not as a literal expression
  * tree — an unrolled per-centroid sum embedded √n×dims literals in the
  * plan and broadcast 10.9 MiB task binaries (measured; same class of
  * failure as round 1's 64-column minhash codegen girth). The loop body
  * is a static JIT'd kernel shared by interpreted and generated paths. */
case class NearestCentroid(child: Expression,
                           centroids: Array[Array[Double]])
    extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "nearest_centroid"
  override protected def nullSafeEval(input: Any): Any =
    VecOps.nearestCentroid(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centroids, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.VecOps.nearestCentroid($c, $ref, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Top-nProbe centroid indices (array<int>, ascending L2 distance) —
  * the IVF QUERY-probe side of [[NearestCentroid]]. Same reference-object
  * discipline: at a √n-sized quantizer (~32k cells × 64 dims at 10⁹
  * vectors) an unrolled per-centroid literal tree put ~10 MiB of doubles
  * in every probe plan and evaluated them with interpreted higher-order
  * lambdas; here the matrix rides as one object per task and the
  * distance + selection loop is a static JIT'd kernel. */
case class NearestCentroids(child: Expression,
                            centroids: Array[Array[Double]], nProbe: Int)
    extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def nullSafeEval(input: Any): Any =
    VecOps.nearestCentroids(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centroids, nProbe, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.VecOps.nearestCentroids($c, $ref, $nProbe, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Product-quantization encode: array<float|double> embedding → M-byte
  * code (array<int>, one sub-centroid index per subspace). The codebook
  * tensor rides as a REFERENCE OBJECT (M×K×dsub doubles once per task),
  * the same discipline as [[NearestCentroid]] — at the standard M=8,
  * K=256, 64-dim shape that's 128 KB of codebook per task versus 256
  * bytes/row of raw vector replaced by 8 bytes/row of code on disk. */
case class PqEncodeExpr(child: Expression,
                        codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(input: Any): Any =
    VecOps.pqEncode(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codebooks, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.VecOps.pqEncode($c, $ref, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Per-query flattened ADC lookup table (array<double> of M·K
  * sub-distances) — computed once per QUERY row, before the candidate
  * join, so the per-candidate distance ([[PqAdcExpr]]) is M table
  * lookups instead of an O(dims) scan. */
case class PqLutExpr(child: Expression,
                     codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(input: Any): Any =
    VecOps.pqLut(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codebooks, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.VecOps.pqLut($c, $ref, $isFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** ADC distance: sum over subspaces of lut[m·K + code[m]] (K = codebook
  * size, fixed at plan time). */
case class PqAdcExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecOps.pqAdc(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.VecOps.pqAdc($a, $b, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** A document's MinHash shingle set: array<bigint> of the sorted
  * distinct xxhash64 word-`n`-grams of `child` ([[MinHash.shingles]]).
  * Never null: a null text is the one-element set of the null gram. */
case class MinHashShingles(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_shingles"
  override def eval(input: InternalRow): Any =
    MinHash.shingles(child.eval(input).asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.linkage.expr.MinHash.shingles(${c.isNull} ? null : ${c.value}, $n);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashShingles =
    copy(child = newChild)
}

/** MinHash signature (array<bigint> of `numHashes` slots) of a shingle
  * array — standard k-hash or one-permutation ([[MinHash.signature]]). */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long,
                            oph: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    MinHash.signature(input.asInstanceOf[ArrayData], numHashes, seed, oph)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.MinHash.signature($c, $numHashes, ${seed}L, $oph)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** LSH band buckets (array<bigint> of `bands` hashes of `rows` slots
  * each) of a MinHash signature ([[MinHash.bands]]). */
case class LshBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_bands"
  override protected def nullSafeEval(input: Any): Any =
    MinHash.bands(input.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.linkage.expr.MinHash.bands($c, $bands, $rows)")
  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

/** The near-dup verify: `[j]` when the exact Jaccard j of two sorted
  * distinct shingle arrays (one merge, [[MinHash.sortedJaccard]]) is at
  * least `threshold`, else `[]`. Called directly inside explode(), the
  * threshold is the Generate's cardinality: the optimizer can neither
  * push it below the projection nor re-inline it, so each candidate pair
  * is merged once (the shape of [[AddressDistanceAbove]]). */
case class SortedJaccardAbove(left: Expression, right: Expression,
                              threshold: Double)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sorted_jaccard_above"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    MinHash.sortedJaccardAbove(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], threshold)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.linkage.expr.MinHash.sortedJaccardAbove($a, $b, ${threshold}D)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccardAbove =
    copy(left = newLeft, right = newRight)
}

/** One document's [[TextKernel]] features: a struct of the quality
  * features, the four stopword-profile hits, `lang_guess` and (when
  * `ngram` ≥ 1) the repetition signals over word `ngram`-grams, all from
  * one pass over the text. Never null. `icuLower` is the session's
  * `spark.sql.icu.caseMappings.enabled`, the `lower` the hits use.
  * Callers read it through `inline(array(...))` so the kernel runs once
  * per row: a Filter on a projected field would copy the whole call into
  * the filter (see [[AddressDistanceAbove]]). */
case class TextFeatures(child: Expression, ngram: Int, icuLower: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = TextKernel.schema(ngram)
  override def nullable: Boolean = false
  override def prettyName: String = "text_features"
  override def eval(input: InternalRow): Any =
    TextKernel.features(child.eval(input).asInstanceOf[UTF8String], ngram,
      icuLower)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.linkage.expr.TextKernel.features(${c.isNull} ? null : ${c.value},
          $ngram, $icuLower);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): TextFeatures =
    copy(child = newChild)
}

/** The per-conversation fold ([[FoldKernel]]) over a sorted array of turn
  * structs carrying string `role`, `text` and `tool` fields: one
  * [[FoldKernel.Schema]] struct of the record's derived fields. `icuUpper`
  * is the case mapping of the tool names' `upper`. */
case class FoldFields(child: Expression, icuUpper: Boolean)
    extends UnaryExpression {
  private def turn: Option[StructType] = child.dataType match {
    case ArrayType(s: StructType, _) => Some(s)
    case _ => None
  }
  private lazy val width = turn.get.length
  private lazy val Seq(role, text, tool) =
    Seq("role", "text", "tool").map(turn.get.fieldIndex)
  override def checkInputDataTypes(): TypeCheckResult =
    if (turn.exists(s => Seq("role", "text", "tool").forall(n =>
        s.fields.exists(f => f.name == n && f.dataType == StringType))))
      TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName needs an array of structs with string role, text and tool")
  override def dataType: DataType = FoldKernel.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "fold_fields"
  override def eval(input: InternalRow): Any =
    FoldKernel.fields(child.eval(input).asInstanceOf[ArrayData], width, role,
      text, tool, icuUpper)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.linkage.expr.FoldKernel.fields(${c.isNull} ? null : ${c.value},
          $width, $role, $text, $tool, $icuUpper);
      """, isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): FoldFields =
    copy(child = newChild)
}

/** λ-fold blocking over CLKs (the CLK encoder itself is
  * [[ClkEncodeBlake]]). */
object Clk {
  /** λ-fold blocking keys from a CLK
    * (example-schema/blocking-schema/lambda.json: Λ=3, bf-len 64, K=5,
    * random_state 0): Λ independent Hamming-LSH keys, each formed by
    * bit-sampling K × num-hash-funcs (= 15) seeded positions directly from
    * the CLK. Two CLKs at Hamming distance d agree on a sampled bit w.p.
    * 1 − d/L, so a garbled duplicate (d ≈ 100) shares a given key w.p.
    * ≈ 0.69 and ≥1 of Λ=3 keys w.p. ≈ 0.97, while unrelated records split.
    * (An OR- or XOR-fold to 64 bits first — anonlink's literal mechanics —
    * saturates/scrambles at k=30 CLK density; bit-sampling keeps the
    * locality the schema intends. Capability-parity deviation, §7.5.)
    */
  val LambdaNumHashFuncs = 3 // lambda.json "num-hash-funcs"
  def lambdaFold(clk: Array[Byte], lambda: Int, bfLen: Int, k: Int,
                 seed: Int): Array[Long] = {
    val nBits = clk.length * 8
    val sampled = k * LambdaNumHashFuncs
    val keys = new Array[Long](lambda)
    var lam = 0
    while (lam < lambda) {
      var key = lam.toLong << 56 // tag so keys from different λ never collide
      var j = 0
      while (j < sampled) {
        val pos = java.lang.Math.floorMod(
          scala.util.hashing.MurmurHash3.productHash((lam, j), seed), nBits)
        if ((clk(pos >> 3) & (1 << (pos & 7))) != 0) key |= (1L << j)
        j += 1
      }
      keys(lam) = key
      lam += 1
    }
    keys
  }
}

/** CLK encode over N string fields → 512-byte Bloom bitvector (F7), the
  * anonlink "blakeHash" strategy: keyed blake2b-512 per bigram with
  * HKDF-SHA256 per-field keys — see
  * [[graft.linkage.crypto.ClkCrypto]]. Keys are derived once per
  * executor from the secret (transient lazy), not shipped in the plan. */
case class ClkEncodeBlake(children: Seq[Expression], secretHex: String)
    extends Expression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "clk_encode_blake"
  @transient private lazy val keys =
    graft.linkage.crypto.ClkCrypto.fieldKeys(secretHex, children.size)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val fields = new Array[String](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      fields(i) = if (v == null) "" else v.asInstanceOf[UTF8String].toString
      i += 1
    }
    graft.linkage.crypto.ClkCrypto.encode(fields, keys)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ClkEncodeBlake =
    copy(children = newChildren)
}

/** λ-fold blocking keys from a CLK → array<long> of Λ keys (F9). */
case class LambdaFoldKeys(child: Expression, lambda: Int, bfLen: Int,
                          k: Int, seed: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lambda_fold_keys"
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Clk.lambdaFold(input.asInstanceOf[Array[Byte]], lambda, bfLen, k, seed))
  override protected def withNewChildInternal(newChild: Expression): LambdaFoldKeys =
    copy(child = newChild)
}
