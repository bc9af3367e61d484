package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

/** Order-independent fingerprint of a query result: the row count plus the
  * wrapping 64-bit sum of a hash of each row's canonical JSON (columns in
  * name order). Summing keeps duplicate rows significant, and reordering
  * rows or partitions leaves the value unchanged.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Fingerprint {
  /** Combine per-row hashes; the reference form of what [[of]] computes. */
  def combine(rowHashes: Iterator[Long]): Fingerprint = {
    var n = 0L
    var h = 0L
    rowHashes.foreach { r => n += 1; h += r }
    Fingerprint(n, h)
  }

  /** The same combination computed on the cluster: per-row xxhash64 of
    * the canonical JSON, summed exactly as a decimal and reduced mod 2^64.
    */
  def of(df: DataFrame): Fingerprint = {
    val row = to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*))
    val r = df.select(xxhash64(row).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val total = Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L)
    Fingerprint(r.getLong(0), total)
  }
}
