package e2ebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Output checks. Each returns None when the output is right, else the
  * reason it is wrong; they run between ops, outside the timed region. */
object Checks {

  private val Mask = (1L << 40) - 1

  /** Spark's `xxhash64(id, ver)` of one row, cut to 40 bits. */
  def rowHash(id: Long, ver: Long): Long =
    XXH64.hashLong(ver, XXH64.hashLong(id, 42L)) & Mask

  /** The upserted table against the generator's model: `model(id)` is
    * the version the live row of `id` must carry, for ids `0 until n`
    * (every id ever written, since the workload never deletes). One
    * scan compares the row count and the sum of a 40-bit hash of
    * (id, version) with the model's, and counts rows whose payload does
    * not match their version: a missing, duplicated, foreign or stale
    * row changes the count or the sum (a collision has odds near
    * 2^-40). */
  def liveTable(table: DataFrame, model: Array[Int], n: Int): Option[String] = {
    var expected = 0L
    var id = 0
    while (id < n) { expected += rowHash(id, model(id)); id += 1 }
    val r = table.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col("id"), col("ver")).bitwiseAND(Mask)), lit(0L)),
      coalesce(sum(when(col("name") =!= concat(lit("n"), col("id"), lit("-v"), col("ver")), 1)
        .otherwise(0)), lit(0L))).head()
    val (rows, hashSum, badNames) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (rows == n && hashSum == expected && badNames == 0) None
    else Some(s"live table has $rows rows (model $n), row-hash sum $hashSum " +
      s"(model $expected) and $badNames rows whose payload is not their version's")
  }

  /** Store growth of one stream batch against the planted fates. */
  def growth(before: (Long, Long, Long), after: (Long, Long, Long),
      expected: (Long, Long, Long)): Option[String] = {
    val grew = (after._1 - before._1, after._2 - before._2, after._3 - before._3)
    if (grew == expected) None
    else Some(s"store growth (corpus, keys, sigs) = $grew, planted $expected")
  }
}
