package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-insensitive fingerprint of a query result: the row count plus the
  * wrapping sum of one 64-bit hash per row. Every column of every row is
  * read, so nothing the user pays for can be pruned away; doubles are
  * rounded to 6 decimals (12 significant digits above 1e9) before hashing,
  * so a last-ulp difference does not change the fingerprint. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object Sink {
  private val Seed = 42L
  private val NullHash = 0x5bd1e995L

  type FieldHash = (SpecializedGetters, Int) => Long

  private def roundedBits(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else {
      val r =
        if (math.abs(d) < 1e9) math.rint(d * 1e6) / 1e6
        else if (d.isInfinite) d
        else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).doubleValue
      if (r == 0.0) 0L else java.lang.Double.doubleToLongBits(r)
    }

  private def fieldHash(dt: DataType): FieldHash = dt match {
    case BooleanType => (r, i) => if (r.getBoolean(i)) 1L else 2L
    case ByteType => (r, i) => r.getByte(i).toLong
    case ShortType => (r, i) => r.getShort(i).toLong
    case IntegerType | DateType | _: YearMonthIntervalType => (r, i) => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      (r, i) => r.getLong(i)
    case FloatType => (r, i) => roundedBits(r.getFloat(i).toDouble)
    case DoubleType => (r, i) => roundedBits(r.getDouble(i))
    case _: StringType => (r, i) => XXH64.hashUTF8String(r.getUTF8String(i), Seed)
    case BinaryType => (r, i) => {
      val b = r.getBinary(i)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, Seed)
    }
    case d: DecimalType => (r, i) => {
      val v = r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      XXH64.hashLong(v.unscaledValue.hashCode.toLong, v.scale.toLong)
    }
    case ArrayType(et, _) =>
      val h = fieldHash(et)
      (r, i) => {
        val a = r.getArray(i)
        var acc = XXH64.hashLong(a.numElements().toLong, Seed)
        var j = 0
        while (j < a.numElements()) {
          acc = XXH64.hashLong(if (a.isNullAt(j)) NullHash else h(a, j), acc)
          j += 1
        }
        acc
      }
    case MapType(kt, vt, _) =>
      val hk = fieldHash(kt)
      val hv = fieldHash(vt)
      (r, i) => {
        val m = r.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var acc = 0L
        var j = 0
        while (j < m.numElements()) {
          acc += XXH64.hashLong(if (vs.isNullAt(j)) NullHash else hv(vs, j), hk(ks, j))
          j += 1
        }
        XXH64.hashLong(acc, Seed)
      }
    case s: StructType =>
      val h = rowHash(s)
      (r, i) => h(r.getStruct(i, s.size))
    case other => (r, i) => String.valueOf(r.get(i, other)).hashCode.toLong
  }

  def rowHash(schema: StructType): InternalRow => Long = {
    val hs = schema.fields.map(f => fieldHash(f.dataType))
    row => {
      var acc = Seed
      var i = 0
      while (i < hs.length) {
        acc = XXH64.hashLong(if (row.isNullAt(i)) NullHash else hs(i)(row, i), acc)
        i += 1
      }
      acc
    }
  }

  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  /** Execute the already-planned physical plan of `qe` as one SQL
    * execution and fold every output row into a [[Fingerprint]]. The plan
    * built by `qe.executedPlan` is reused, never re-planned. */
  def run(qe: QueryExecution): Fingerprint = {
    val schema = qe.executedPlan.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench sink")) {
      qe.toRdd.mapPartitions { it =>
        val h = rowHash(schema)
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += h(r) }
        Iterator((n, s))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
