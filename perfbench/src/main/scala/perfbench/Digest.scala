package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content digest of a DataFrame: row count, plus the
  * sum and the xor of a 64-bit hash of every row (columns in name order).
  * Row order and partitioning do not change it; any changed, missing or
  * extra row does, up to hash collisions. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    val n = r.getLong(0)
    if (n == 0) "0" else s"$n:${r.getDecimal(1)}:${java.lang.Long.toHexString(r.getLong(2))}"
  }

  /** The row count a digest carries. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
