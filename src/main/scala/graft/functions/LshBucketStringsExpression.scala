package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All T sign-random-projection bucket strings of one vector, fused
  * into a SINGLE expression: the vector is copied into a local
  * double[] once, then one tight T×H×dim loop emits every bucket
  * string.
  *
  * Why fused: the composed formulation this replaces — T×H separate
  * `ArrayDotProduct(v, planeLiteral) >= 0` expressions under
  * `concat_ws`/`array` — re-reads the vector column T×H times through
  * ArrayData accessors and carries T×H×dim boxed literal trees through
  * codegen; at the 200k-vector tier the one-time bucket index build
  * measured 236 s (PLANS.md §16) with virtually all of it in
  * expression overhead, not arithmetic (T·H·dim ≈ 13k multiplies per
  * vector is ~3 GFLOP total at that tier — sub-second work).
  *
  * Parity contract (pinned by LshGeometrySpec + the static SQL
  * oracles): per plane, bit = '1' iff the left-to-right double dot
  * product is >= 0 UNDER SPARK'S COMPARISON SEMANTICS — the
  * accumulation order and float→double widening of ArrayDotProduct,
  * over the SAME plane doubles in the same order. Spark orders NaN
  * above every double (`NaN >= 0` is true), so an accumulated NaN dot
  * (a NaN component, or ±Inf components cancelling) emits '1' — a raw
  * Java `acc >= 0` would emit '0' and split such a vector across the
  * fused/composed boundary: pre-fusion persisted buckets and
  * post-fusion appends/probes would never collide for it
  * (embBase's `nrm > 0` filter does NOT exclude non-finite vectors;
  * NaN > 0 is true in Spark too). A NULL vector, a length≠dim vector,
  * or any NULL element yields the all-zero bucket in every table —
  * exactly what the old `when(dot >= 0, "1").otherwise("0")` chain
  * produced when the dot came back NULL. The output array is
  * therefore never NULL.
  *
  * `planes` is flattened [table][plane][component] — length must be
  * numTables × h × dim. Seq (not Array) so structural equality keeps
  * expression canonicalization sound.
  */
case class LshBucketStrings(child: Expression, planes: Seq[Double],
                            numTables: Int, h: Int, dim: Int)
    extends UnaryExpression {

  require(planes.length == numTables * h * dim,
    s"LshBucketStrings: ${planes.length} plane components != $numTables*$h*$dim")

  @transient private lazy val flat: Array[Double] = planes.toArray

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires array<float|double> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_buckets"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val local = new Array[Double](dim)
    // degenerate input (null / wrong length / null element) → the
    // all-zero vector, whose every sign bit is '0' via acc = 0 >= 0?
    // No: the legacy chain emitted '0' for NULL dots, so degenerate
    // inputs must force bit '0' regardless of the accumulator.
    var bad = v == null
    if (!bad) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() != dim) bad = true
      else {
        val isFloat = elemIsFloat
        var i = 0
        while (i < dim && !bad) {
          if (a.isNullAt(i)) bad = true
          else local(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
          i += 1
        }
      }
    }
    val out = new Array[AnyRef](numTables)
    val bits = new Array[Char](h)
    var t = 0
    while (t < numTables) {
      var p = 0
      while (p < h) {
        var bit = '0'
        if (!bad) {
          val off = (t * h + p) * dim
          var acc = 0.0
          var i = 0
          while (i < dim) { acc += local(i) * flat(off + i); i += 1 }
          // Spark double comparison: NaN sorts above everything, so
          // NaN >= 0 is TRUE — match it (see the parity contract above)
          if (acc >= 0 || java.lang.Double.isNaN(acc)) bit = '1'
        }
        bits(p) = bit
        p += 1
      }
      out(t) = UTF8String.fromString(new String(bits))
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
    val c = child.genCode(ctx)
    val arr = ctx.freshName("arr")
    val local = ctx.freshName("local")
    val bad = ctx.freshName("bad")
    val out = ctx.freshName("out")
    val bits = ctx.freshName("bits")
    val acc = ctx.freshName("acc")
    val off = ctx.freshName("off")
    val i = ctx.freshName("i")
    val t = ctx.freshName("t")
    val p = ctx.freshName("p")
    val getElem = if (elemIsFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    val code =
      code"""
        ${c.code}
        boolean $bad = ${c.isNull};
        double[] $local = new double[$dim];
        if (!$bad) {
          org.apache.spark.sql.catalyst.util.ArrayData $arr = ${c.value};
          if ($arr.numElements() != $dim) {
            $bad = true;
          } else {
            for (int $i = 0; $i < $dim && !$bad; $i++) {
              if ($arr.isNullAt($i)) { $bad = true; }
              else { $local[$i] = $getElem; }
            }
          }
        }
        org.apache.spark.unsafe.types.UTF8String[] $out =
          new org.apache.spark.unsafe.types.UTF8String[$numTables];
        char[] $bits = new char[$h];
        for (int $t = 0; $t < $numTables; $t++) {
          for (int $p = 0; $p < $h; $p++) {
            char ${bits}_b = '0';
            if (!$bad) {
              int $off = ($t * $h + $p) * $dim;
              double $acc = 0.0;
              for (int $i = 0; $i < $dim; $i++) {
                $acc += $local[$i] * $planesRef[$off + $i];
              }
              if ($acc >= 0 || java.lang.Double.isNaN($acc)) ${bits}_b = '1';
            }
            $bits[$p] = ${bits}_b;
          }
          $out[$t] = org.apache.spark.unsafe.types.UTF8String.fromString(new String($bits));
        }
        final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData((Object[]) $out);
      """
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketStrings =
    copy(child = newChild)
}

object LshBucketStrings {
  /** Column-API entry point: `planes` indexed [table][plane][component]. */
  def apply(v: Column, planes: Seq[Seq[Seq[Double]]], h: Int): Column = {
    val numTables = planes.length
    val dim = planes.head.head.length
    val flat = planes.flatMap(_.take(h).flatten)
    ColumnBridge.column(LshBucketStrings(
      ColumnBridge.expression(v), flat, numTables, h, dim))
  }
}
