package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.CountMinSketch

/** Point-estimate decode for Spark's `count_min_sketch` aggregate.
  *
  * Spark ships the CMS aggregate (`count_min_sketch(col, eps, conf,
  * seed)` → binary) but no SQL-side way to READ the sketch back — the
  * deserialize/estimate step otherwise happens on the driver. This
  * expression closes the loop in-plan: `cms_estimate(sketch, key)`
  * deserializes the public `org.apache.spark.util.sketch.CountMinSketch`
  * wire format and returns `estimateCount(key)`, so the probe side stays
  * distributed (broadcast the one-row sketch, probe per key on the
  * executors).
  *
  * The sketch bytes are typically a plan-time-constant-per-partition
  * column (one agg row, broadcast-joined to the probes), so the decode
  * caches on reference identity — one deserialize per task, not per row.
  * CodegenFallback: the body is a library call; there is nothing for
  * Janino to fuse, and the cache needs instance state.
  *
  * CMS contract (deterministic for a fixed seed): `est ≥ true`, and
  * `est ≤ true + ε·N` with confidence 1−δ — the gate query emits exactly
  * those booleans.
  */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate requires (binary sketch, bigint key), got ($l, $r)")
    }

  // single-slot cache keyed on reference THEN content: the sketch side
  // is a broadcast-joined row, and UnsafeRow.getBinary hands back a
  // fresh copy on every access — so a reference-only check NEVER hits
  // and the (wide) sketch would deserialize once per row per call site
  // (measured: the dominant cost of events_cms_heavy before this). The
  // content memcmp is O(sketch bytes) but allocation-free and ~10² ×
  // cheaper than readFrom's parse+array build; identical sketches keep
  // the cached decode, genuinely new bytes replace it.
  @transient private var lastBytes: Array[Byte] = _
  @transient private var lastSketch: CountMinSketch = _

  override protected def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    if (lastSketch == null || !java.util.Arrays.equals(lastBytes, bytes)) {
      lastSketch = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      // defensive copy: a source that reuses/mutates its buffer would
      // otherwise mutate the cache key under us and a later
      // Arrays.equals could serve a stale sketch for different bytes;
      // the clone is paid only on cache REPLACEMENT, never per row
      lastBytes = bytes.clone()
    }
    lastSketch.estimateCount(java.lang.Long.valueOf(key.asInstanceOf[Long]))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cms_estimate"
}

object CmsEstimate {
  def cms_estimate(sketch: Column, key: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CmsEstimate(
        org.apache.spark.sql.graft.ColumnBridge.expression(sketch),
        org.apache.spark.sql.graft.ColumnBridge.expression(key)))
}
