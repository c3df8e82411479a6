package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive row digest: the row count plus the sum of one
  * xxhash64 per row, taken over the columns in name order. Floating
  * values are rendered to 9 significant digits first, so a sum whose
  * last bits depend on task order still digests the same; maps go
  * through JSON because Spark refuses to hash them. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.9g", x))
    case _: MapType => to_json(map_entries(c))
    case ArrayType(_: MapType, _) | _: StructType => to_json(c)
    case _ => c
  }

  /** The normalized columns of `df` in name order, as a frame with
    * positional names (a join's output may repeat a column name). */
  def normalized(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val d = df.toDF(fields.indices.map(i => s"c$i"): _*)
    d.select(fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => norm(col(s"c$i"), f.dataType).as(s"c$i") }: _*)
  }

  /** (rows, digest) of `df`; one aggregate job. */
  def of(df: DataFrame): (Long, String) = {
    val d = normalized(df)
    val h = xxhash64(d.columns.map(col): _*).cast(DecimalType(20, 0))
    val r = d.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
