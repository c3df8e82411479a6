package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Checks of the harness's own JVM-side helpers: the row digest and the
  * byte accounting. Prints one line per check and exits non-zero on the
  * first failure. Run by `test_harness.py`. */
object SelfTest {
  private var failed = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failed += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory("perfbench-selftest").toString
    val spark = Main.session(2, work)
    import spark.implicits._
    try {
      val df = Seq((1L, "a", 0.1 + 0.2, Map("x" -> 1)), (2L, "b", 1.5, Map("y" -> 2)), (3L, "c", -0.0, Map.empty[String, Int]))
        .toDF("k", "s", "d", "m")
      val d0 = Digest.of(df)
      expect("digest counts rows", d0._1 == 3L)
      expect("digest ignores row order", Digest.of(df.orderBy(desc("k")).repartition(3)) == d0)
      expect("digest ignores column order", Digest.of(df.select("m", "d", "k", "s")) == d0)
      expect("digest rounds float noise", Digest.of(df.withColumn("d",
        when(col("k") === 1L, lit(0.3)).otherwise(col("d")))) == d0)
      expect("digest sees a changed value", Digest.of(df.withColumn("s",
        when(col("k") === 2L, lit("B")).otherwise(col("s")))) != d0)
      expect("digest sees a duplicated row", Digest.of(df.unionByName(df.where(col("k") === 1L)))._2 !=
        Digest.of(df.unionByName(df.where(col("k") === 2L)))._2)
      expect("digest sees a swapped value", Digest.of(Seq((1L, "b"), (2L, "a")).toDF("k", "s")) !=
        Digest.of(Seq((1L, "a"), (2L, "b")).toDF("k", "s")))
      expect("digest takes repeated column names",
        Digest.of(df.as("l").join(df.as("r"), "k").select("l.s", "r.s"))._1 == 3L)
      expect("digest of an empty frame", Digest.of(df.where(lit(false))) == ((0L, "0")))

      val dir = s"$work/plain"
      val bytes = Storage.plainParquetBytes(spark.range(1000).toDF("id").repartition(4), dir)
      val parts = Storage.files(dir).filter { case (p, _) =>
        val n = java.nio.file.Paths.get(p).getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      expect("plain parquet is one file", parts.size == 1)
      expect("plain parquet bytes are that file's size, without checksums or markers",
        bytes == parts.values.sum && bytes > 0 && Storage.treeBytes(dir) > bytes)

      expect("table data file", Storage.isData("/t/v3/part-0.parquet"))
      expect("data file checksum", Storage.isData("/t/v3/.part-0.parquet.crc"))
      expect("deletion vector", Storage.isData("/t/deletion_vector_1.bin"))
      expect("delta checkpoint is metadata", !Storage.isData("/t/_delta_log/00010.checkpoint.parquet"))
      expect("delta commit is metadata", !Storage.isData("/t/_delta_log/00001.json"))
      expect("iceberg manifest is metadata", !Storage.isData("/t/metadata/snap-1.avro"))
      expect("version marker is metadata", !Storage.isData("/t/v3/_committed"))
    } finally {
      spark.stop()
      graft.ingest.Writers.deleteTree(java.nio.file.Paths.get(work))
    }
    if (failed > 0) sys.exit(1)
  }
}
