package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Seeded inputs drawn from the read-only sf0.1 lineitem table.
  *
  * `(l_orderkey, l_linenumber)` is not unique in that table, so every row
  * gets a dense key `k` (0 until 600,000): its position in the parquet
  * file, which does not depend on how the read is split. Derived rows
  * take fresh keys in disjoint ranges. */
object Inputs {
  val Key = "k"
  val PoolRows = 600000L

  /** lineitem plus `k`, written once as plain parquet and read back. The
    * key leads the schema: graft-versioned's keyed upsert and MERGE write
    * the key column first, and a catalog table defined over any other
    * column order stops resolving after the first of them. */
  def pool(ctx: Ctx, dir: String): DataFrame = {
    val spark = ctx.spark
    val li = spark.read.parquet(s"${ctx.sfDir}/lineitem.parquet")
    val rows = li.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
    spark.createDataFrame(rows, StructType(StructField(Key, LongType, nullable = false) +: li.schema.fields))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** A seeded slot in `0 until n` per row; `salt` gives independent draws. */
  def slot(seed: Long, salt: Long, n: Long): Column = pmod(xxhash64(col(Key), lit(seed), lit(salt)), lit(n))

  def keyIn(lo: Long, hi: Long): Column = col(Key) >= lo && col(Key) < hi

  /** A seeded permutation of `0 until n`. */
  def perm(seed: Long, salt: Long, n: Int): IndexedSeq[Int] =
    new scala.util.Random(seed * 1000003L + salt).shuffle((0 until n).toIndexedSeq)
}
