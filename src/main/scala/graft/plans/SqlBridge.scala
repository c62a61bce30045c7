// Declared inside org.apache.spark.sql.* solely to reach private[sql]
// helpers (Expression <-> Column conversion) and
// Spark's private[spark] XORShiftRandom. This is the
// standard seam Spark extension libraries use; everything else in this
// repo lives under the graft package.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's `XORShiftRandom` (private[spark]): the generator MLlib's
    * Word2Vec seeds its initial vectors and window draws from, so
    * [[graft.operators.SkipGram]] reproduces its draws exactly. */
  def xorShiftRandom(seed: Long): java.util.Random =
    new org.apache.spark.util.random.XORShiftRandom(seed)
}
