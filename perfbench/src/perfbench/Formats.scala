package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.Versioned
import graft.interop.{DeltaLake, Iceberg}

/** The three table formats behind one set of calls, each mapped onto
  * that format's own public API. A table "version" is the format's own
  * commit counter: the graft-versioned version, the Delta log version,
  * the Iceberg sequence number. */
sealed trait Fmt {
  def name: String
  /** The `USING` provider of a catalog table over this format. */
  def provider: String
  def create(spark: SparkSession, df: DataFrame, path: String): Unit
  /** Append `df`; returns the new version's [[handle]]. */
  def append(spark: SparkSession, df: DataFrame, path: String): Long
  def upsert(spark: SparkSession, df: DataFrame, path: String, key: String): Unit
  def deleteWhere(spark: SparkSession, cond: Column, path: String): Unit
  /** Delete the rows matching `cond` as delete files or vectors;
    * returns the new version's [[handle]]. */
  def deleteMergeOnRead(spark: SparkSession, cond: Column, path: String, key: String): Long
  def read(spark: SparkSession, path: String): DataFrame
  /** Time travel; `v` is a handle from [[handle]]. */
  def readAt(spark: SparkSession, path: String, v: Long): DataFrame
  /** What [[readAt]] takes for the current version. */
  def handle(spark: SparkSession, path: String): Long
  def version(spark: SparkSession, path: String): Long
  /** Metadata-only snapshot load; returns the number of live data files. */
  def snapshot(spark: SparkSession, path: String): Long
  /** Rows the change feed carries between two versions, by change type. */
  def changes(spark: SparkSession, path: String, from: Long, to: Long, key: String): Map[String, Long]
  /** Compaction plus the format's retention step; returns the commits it
    * made (compaction is a no-op on a table that is already compact). */
  def maintain(spark: SparkSession, path: String): Long
}

object Fmt {
  val all: Seq[Fmt] = Seq(VersionedFmt, DeltaFmt, IcebergFmt)

  def byType(df: DataFrame, typeCol: String): Map[String, Long] =
    df.groupBy(col(typeCol)).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}

object VersionedFmt extends Fmt {
  val name = "versioned"
  val provider = "`graft-versioned`"
  def create(spark: SparkSession, df: DataFrame, path: String): Unit = Versioned.commit(df, path)
  def append(spark: SparkSession, df: DataFrame, path: String): Long = Versioned.appendCommit(df, path)
  def upsert(spark: SparkSession, df: DataFrame, path: String, key: String): Unit =
    Versioned.upsert(spark, path, df, key)
  def deleteWhere(spark: SparkSession, cond: Column, path: String): Unit =
    Versioned.deleteWhere(spark, path, cond)
  def deleteMergeOnRead(spark: SparkSession, cond: Column, path: String, key: String): Long =
    Versioned.deleteMergeOnRead(spark, path, Versioned.read(spark, path).where(cond).select(key), key)
  def read(spark: SparkSession, path: String): DataFrame = Versioned.read(spark, path)
  def readAt(spark: SparkSession, path: String, v: Long): DataFrame = Versioned.readAt(spark, path, v)
  def handle(spark: SparkSession, path: String): Long = version(spark, path)
  def version(spark: SparkSession, path: String): Long = Versioned.currentVersion(path).getOrElse(0L)
  def snapshot(spark: SparkSession, path: String): Long =
    Versioned.manifest(path, version(spark, path)).size.toLong
  def changes(spark: SparkSession, path: String, from: Long, to: Long, key: String): Map[String, Long] =
    Fmt.byType(Versioned.changeFeed(spark, path, from, to, key), "change_type")
  def maintain(spark: SparkSession, path: String): Long = {
    val before = version(spark, path)
    Versioned.compactFiles(spark, path)
    Versioned.vacuum(path, keepLast = 2)
    version(spark, path) - before
  }
}

object DeltaFmt extends Fmt {
  val name = "delta"
  val provider = "delta"
  def create(spark: SparkSession, df: DataFrame, path: String): Unit = {
    DeltaLake.write(df, path)
    DeltaLake.enableChangeDataFeed(spark, path)
  }
  def append(spark: SparkSession, df: DataFrame, path: String): Long =
    DeltaLake.write(df, path, mode = SaveMode.Append)
  def upsert(spark: SparkSession, df: DataFrame, path: String, key: String): Unit =
    DeltaLake.upsertByKey(spark, path, df, key)
  def deleteWhere(spark: SparkSession, cond: Column, path: String): Unit =
    DeltaLake.deleteWhere(spark, path, cond)
  def deleteMergeOnRead(spark: SparkSession, cond: Column, path: String, key: String): Long =
    DeltaLake.deleteMergeOnRead(spark, path, cond)
  def read(spark: SparkSession, path: String): DataFrame = DeltaLake.read(spark, path)
  def readAt(spark: SparkSession, path: String, v: Long): DataFrame =
    DeltaLake.read(spark, path, versionAsOf = Some(v))
  def handle(spark: SparkSession, path: String): Long = version(spark, path)
  def version(spark: SparkSession, path: String): Long = DeltaLake.snapshot(spark, path).version
  def snapshot(spark: SparkSession, path: String): Long = DeltaLake.snapshot(spark, path).files.size.toLong
  def changes(spark: SparkSession, path: String, from: Long, to: Long, key: String): Map[String, Long] =
    Fmt.byType(DeltaLake.changeFeed(spark, path, from, Some(to)), "_change_type")
  def maintain(spark: SparkSession, path: String): Long = {
    val before = DeltaLake.versions(path).max
    val v = DeltaLake.compact(spark, path)
    DeltaLake.vacuum(spark, path)
    DeltaLake.checkpoint(spark, path)
    v - before
  }
}

object IcebergFmt extends Fmt {
  val name = "iceberg"
  val provider = "iceberg"
  def create(spark: SparkSession, df: DataFrame, path: String): Unit = Iceberg.write(df, path)
  def append(spark: SparkSession, df: DataFrame, path: String): Long =
    Iceberg.write(df, path, mode = SaveMode.Append)
  def upsert(spark: SparkSession, df: DataFrame, path: String, key: String): Unit =
    Iceberg.upsertByKey(spark, path, df, key)
  def deleteWhere(spark: SparkSession, cond: Column, path: String): Unit =
    Iceberg.deleteWhere(spark, path, cond)
  def deleteMergeOnRead(spark: SparkSession, cond: Column, path: String, key: String): Long =
    Iceberg.deleteMergeOnRead(spark, path, cond)
  def read(spark: SparkSession, path: String): DataFrame = Iceberg.read(spark, path)
  def readAt(spark: SparkSession, path: String, v: Long): DataFrame =
    Iceberg.read(spark, path, snapshotId = Some(v))
  def handle(spark: SparkSession, path: String): Long = Iceberg.snapshot(spark, path).snapshotId
  def version(spark: SparkSession, path: String): Long = Iceberg.snapshot(spark, path).sequenceNumber
  def snapshot(spark: SparkSession, path: String): Long = Iceberg.snapshot(spark, path).files.size.toLong
  /** Iceberg's incremental read is file-level: the rows of the data
    * files appended between the two sequence numbers. */
  def changes(spark: SparkSession, path: String, from: Long, to: Long, key: String): Map[String, Long] = {
    val (files, nonAppend) = Iceberg.changesBetween(spark, path, from, to)
    Map("insert" -> files.map(_.recordCount).sum) ++ (if (nonAppend) Map("non_append" -> 1L) else Map.empty)
  }
  def maintain(spark: SparkSession, path: String): Long = {
    val before = version(spark, path)
    Iceberg.compact(spark, path)
    Iceberg.expireSnapshots(spark, path, keepLast = 2)
    version(spark, path) - before
  }
}
