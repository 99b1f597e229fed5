package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Driver-decoded two-level IVF centroid index — the OPERATOR-level
  * decoded centroid relation the r11 scale analysis named as the sound
  * next assign lever (SCALE.md r11: at 2M vectors the assign's cost sits
  * in per-row getStruct/getArray virtual calls over broadcast bytes, not
  * in the multiply loop; an expression-level cache keyed on buffer
  * identity is UNSOUND because Spark reuses row buffers).
  *
  * This is the sound construction: the centroid frame (C rows — the
  * broadcast regime by definition; past broadcast size the dynamic
  * shuffle-join plan applies) is collected ONCE at plan time, decoded to
  * primitive `long[]` / `double[][]` arrays on the driver, and shipped as
  * an `sc.broadcast` object — executors deserialize primitives once,
  * and every row's assign runs pure primitive-array loops with ZERO
  * per-row ArrayData struct access. Immutable plan-time data, so none of
  * the buffer-reuse hazards of runtime caching.
  *
  * SEMANTICS ARE BIT-FOR-BIT SimSearch.assignTwoLevelAgainst (the
  * dynamic broadcast-join plan): same dot order (ascending), same
  * round6 (BigDecimal HALF_UP), same nanSafe (cos, cid) max with ties
  * toward the higher cid, same top-2 coarse probe (second pass excludes
  * the first winner), fine members grouped under each centroid's OWN
  * top-1 coarse cell, left-join nulls (missing/empty cell → null side;
  * both null → null bucket), and greatest/least null-skipping for
  * (bucket, bucket2). StaticAssignSpec pins row-identity on prefix,
  * trained, and duplicated-corpus frames.
  */
final class TwoLevelIndex(
    coarseCids: Array[Long],
    coarseCvs: Array[Array[Double]],
    coarseNrms: Array[Double],
    cellKeys: Array[Long],
    cellCids: Array[Array[Long]],
    cellCvs: Array[Array[Array[Double]]],
    cellNrms: Array[Array[Double]]) extends Serializable {

  /** Winner index of the (cos, cid)-max over one centroid slice, −1 when
    * empty/all-excluded. Same FP order and tie-break as ArgmaxCos.
    */
  private def argmax(cids: Array[Long], cvs: Array[Array[Double]],
      nrms: Array[Double], vd: Array[Double], nrm: Double, excl: Long): Int = {
    var best = -1
    var bestCos = 0.0
    var bestCid = 0L
    var j = 0
    while (j < cids.length) {
      val cid = cids(j)
      if (cid != excl) {
        val cv = cvs(j)
        val m = math.min(vd.length, cv.length)
        var s = 0.0
        var i = 0
        while (i < m) { s += vd(i) * cv(i); i += 1 }
        val cos = ArgmaxCos.round6(s / (nrm * nrms(j)))
        val cmp = ArgmaxCos.cmpDouble(cos, bestCos)
        if (best < 0 || cmp > 0 || (cmp == 0 && cid > bestCid)) {
          best = j; bestCos = cos; bestCid = cid
        }
      }
      j += 1
    }
    best
  }

  /** Winner's rounded cosine, recomputed (cheaper than threading scratch
    * state through argmax — thread-safe, and 1 extra dot vs ~2·√C total).
    */
  private def cosAt(cvs: Array[Array[Double]], nrms: Array[Double], j: Int,
      vd: Array[Double], nrm: Double): Double = {
    val cv = cvs(j)
    val m = math.min(vd.length, cv.length)
    var s = 0.0
    var i = 0
    while (i < m) { s += vd(i) * cv(i); i += 1 }
    ArgmaxCos.round6(s / (nrm * nrms(j)))
  }

  /** (bucket, bucket2) for one query vector — never null itself; fields
    * null exactly where the dynamic plan's left joins yield null.
    */
  def assign(v: ArrayData): InternalRow = {
    val vd = v.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < vd.length) { s += vd(i) * vd(i); i += 1 }
    val nrm = math.sqrt(s)
    val out = new Array[Any](2)
    val c1i = argmax(coarseCids, coarseCvs, coarseNrms, vd, nrm, -1L)
    if (c1i < 0) return new GenericInternalRow(out) // no coarse centroids
    val c1 = coarseCids(c1i)
    val c2i = argmax(coarseCids, coarseCvs, coarseNrms, vd, nrm, c1)
    var has1 = false; var cos1 = 0.0; var cid1 = 0L
    var has2 = false; var cos2 = 0.0; var cid2 = 0L
    val p1 = java.util.Arrays.binarySearch(cellKeys, c1)
    if (p1 >= 0) {
      val k = argmax(cellCids(p1), cellCvs(p1), cellNrms(p1), vd, nrm, -1L)
      if (k >= 0) {
        has1 = true; cid1 = cellCids(p1)(k)
        cos1 = cosAt(cellCvs(p1), cellNrms(p1), k, vd, nrm)
      }
    }
    if (c2i >= 0) {
      val p2 = java.util.Arrays.binarySearch(cellKeys, coarseCids(c2i))
      if (p2 >= 0) {
        val k = argmax(cellCids(p2), cellCvs(p2), cellNrms(p2), vd, nrm, -1L)
        if (k >= 0) {
          has2 = true; cid2 = cellCids(p2)(k)
          cos2 = cosAt(cellCvs(p2), cellNrms(p2), k, vd, nrm)
        }
      }
    }
    if (has1 && has2) {
      val cmp = ArgmaxCos.cmpDouble(cos1, cos2)
      val m1Greater = cmp > 0 || (cmp == 0 && cid1 > cid2)
      if (m1Greater) { out(0) = cid1; out(1) = cid2 }
      else { out(0) = cid2; out(1) = cid1 }
    } else if (has1) out(0) = cid1
    else if (has2) out(0) = cid2
    new GenericInternalRow(out)
  }
}

object TwoLevelIndex {

  /** Build from a collected (cid, cv, is_coarse) centroid frame. The
    * fine-member cell of EVERY centroid (coarse ones included — exactly
    * the dynamic plan's fineByCell, which runs withTop2 over the whole
    * frame) is its own top-1 coarse argmax under identical FP semantics.
    */
  def build(cents: Array[(Long, Array[Double], Boolean)]): TwoLevelIndex = {
    def nrmOf(a: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      math.sqrt(s)
    }
    val coarse = cents.filter(_._3)
    val cc = coarse.map(_._1)
    val cv = coarse.map(_._2)
    val cn = cv.map(nrmOf)
    // top-1 coarse cell per centroid — same argmax math as assign()
    def top1(vd: Array[Double]): Long = {
      val nrm = nrmOf(vd)
      var best = -1
      var bestCos = 0.0
      var bestCid = 0L
      var j = 0
      while (j < cc.length) {
        val w = cv(j)
        val m = math.min(vd.length, w.length)
        var s = 0.0
        var i = 0
        while (i < m) { s += vd(i) * w(i); i += 1 }
        val cos = ArgmaxCos.round6(s / (nrm * cn(j)))
        val cmp = ArgmaxCos.cmpDouble(cos, bestCos)
        if (best < 0 || cmp > 0 || (cmp == 0 && cc(j) > bestCid)) {
          best = j; bestCos = cos; bestCid = cc(j)
        }
        j += 1
      }
      if (best < 0) Long.MinValue else bestCid
    }
    val byCell = cents.groupBy(c => top1(c._2)) - Long.MinValue
    val keys = byCell.keys.toArray.sorted
    new TwoLevelIndex(cc, cv, cn, keys,
      keys.map(k => byCell(k).map(_._1)),
      keys.map(k => byCell(k).map(_._2)),
      keys.map(k => byCell(k).map(c => nrmOf(c._2))))
  }
}

/** Per-row (bucket, bucket2) against a broadcast [[TwoLevelIndex]]. The
  * expression carries only the broadcast HANDLE; executors decode the
  * primitive index once and each row pays one toDoubleArray (64 doubles,
  * same as ArgmaxCos) plus pure primitive loops.
  */
case class TwoLevelAssign(child: Expression,
    bcIndex: Broadcast[TwoLevelIndex])
  extends UnaryExpression with ImplicitCastInputTypes {
  // bcIndex is a PLAIN constructor param on purpose: executors rebuild
  // expression trees via makeCopy/productIterator (e.g. when an
  // UnsafeProjection is generated executor-side), so a @transient param
  // would reconstruct as null there and null out the codegen reference
  // (measured: NPE in references[0]). The handle itself serializes small;
  // only the broadcast VALUE is the fat decoded index.

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = StructType(Seq(
    StructField("bucket", LongType, nullable = true),
    StructField("bucket2", LongType, nullable = true)))

  override def prettyName: String = "graft_two_level_assign"

  override def nullSafeEval(v: Any): Any =
    bcIndex.value.assign(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxCls = classOf[TwoLevelIndex].getName
    val bcCls = classOf[Broadcast[_]].getName
    val ref = ctx.addReferenceObj("tlAssignBc", bcIndex, bcCls)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = (($idxCls) $ref.value()).assign($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
