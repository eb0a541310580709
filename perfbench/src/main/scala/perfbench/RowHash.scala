package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._

/** Row count and an order-insensitive content hash of a query's output,
  * computed in the same job that materializes the plan (`toRdd`), so the
  * check adds no second execution. Floating-point values are compared
  * to 9 significant digits, so a change in summation order does not
  * read as a wrong answer.
  */
object RowHash {

  def of(qe: QueryExecution): (Long, Long) = {
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += fmix(struct(r, schema)) }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def fmix(x: Long): Long = {
    var k = x
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 1L
    else if (d == 0.0) 0L
    else if (d.isInfinite) (if (d > 0) 2L else 3L)
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      math.round(d / math.pow(10, e - 8)) * 31 + e
    }

  private def struct(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.fields.length) {
      val dt = st.fields(i).dataType
      h = h * 31 + (if (r.isNullAt(i)) 7L else value(r.get(i, dt), dt))
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = dt match {
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case st: StructType => struct(v.asInstanceOf[InternalRow], st)
    case at: ArrayType =>
      val a = v.asInstanceOf[ArrayData]
      var h = 19L
      var i = 0
      while (i < a.numElements()) {
        h = h * 31 + (if (a.isNullAt(i)) 7L else value(a.get(i, at.elementType), at.elementType))
        i += 1
      }
      h
    case mt: MapType =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray()
      val vs = m.valueArray()
      (0 until m.numElements()).map { i =>
        fmix(value(ks.get(i, mt.keyType), mt.keyType) * 31 +
          (if (vs.isNullAt(i)) 7L else value(vs.get(i, mt.valueType), mt.valueType)))
      }.sum
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _ => v.hashCode.toLong
  }
}
