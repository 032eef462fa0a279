package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.Decimal

/** `Decimal.toPrecision` is `private[sql]`; an exact sum's result is
  * brought to its declared precision with it, NULL or Spark's overflow
  * error past it, as Spark's own sum checks its result.
  */
object DecimalBridge {
  def toPrecision(d: Decimal, precision: Int, scale: Int, nullOnOverflow: Boolean): Decimal =
    d.toPrecision(precision, scale, Decimal.ROUND_HALF_UP, nullOnOverflow, null)
}
