package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** An order-insensitive fingerprint of a result: its row count and the
  * exact sum of a 64-bit hash of each row's JSON rendering. Columns are
  * taken in name order (as the DuckDB comparison in
  * `tools/compare_oracle.py` sorts them), so neither row nor column
  * order changes it; any changed cell, added or dropped row does. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val byName = df.columns.zipWithIndex.sortBy(_._1)
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = struct(byName.map { case (n, i) => col(s"c$i").as(n) }
      .toIndexedSeq: _*)
    val agg = positional
      .select(xxhash64(to_json(row)).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect().head
    Fingerprint(agg.getLong(0),
      Option(agg.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
