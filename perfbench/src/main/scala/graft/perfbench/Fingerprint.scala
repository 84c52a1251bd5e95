package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a bag of rows: row count plus the sums
  * of the two 32-bit halves of each row's xxhash64 over every column.
  * Computing it reads every output column, unlike `count()`, which lets
  * the optimizer prune columns and so times a smaller plan than the one
  * that was checked. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:$lo:$hi"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
