package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Inputs.{Key, keyIn}

/** Small commits into one table per format. Every table gets the same
  * seeded op sequence. A round is, per format: an append, a keyed upsert
  * (half existing keys), a key-range `deleteWhere`, and one SQL
  * MERGE/UPDATE/DELETE through a `USING <format>` catalog table. A cycle
  * is `RoundsPerCycle` rounds followed by maintenance: compaction plus
  * the format's retention step. At the end the three tables must equal
  * each other and a reference model that applies the same ops to plain
  * DataFrames, and each version counter must have advanced once per
  * commit issued. */
object CommitChurn extends Workload {
  // a fifth of the sizes first planned (300k rows, 8k/4k batches), so a
  // run fits the benchmark's time budget; README.md has both per-op costs
  val BaseRows = 60000L
  val AppendRows = 2000
  val UpsertRows = 1000     // half existing keys, half new
  val MergeRows = 500       // half existing keys, half new
  val RangeWidth = 250L     // rows per key-range DELETE / UPDATE
  val RoundsPerCycle = 2
  val Cycles = 3            // the warm-up, the timed loop and the traced loop
  private val MaxRounds = 1 + RoundsPerCycle * (Cycles - 1)
  // deletes hit [0, BaseRows/2); updates hit the stable half above it,
  // so every delete range still holds all its rows when it runs
  private val Slots = (BaseRows / 2 / RangeWidth).toInt

  private var pool: DataFrame = _
  private var batchDir = ""
  private var root = ""
  private val userBytes = mutable.Map.empty[String, Long]
  private val initialVersion = mutable.Map.empty[String, Long]
  private val commits = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val done = ArrayBuffer.empty[Int]

  private def table(f: Fmt) = s"cc_${f.name}"
  private def path(f: Fmt) = s"$root/${f.name}"
  private def deleteSlot(ctx: Ctx, c: Int, i: Int) = Inputs.perm(ctx.seed, 1, Slots)((2 * c + i) % Slots)
  private def updateLo(ctx: Ctx, c: Int) =
    BaseRows / 2 + Inputs.perm(ctx.seed, 2, Slots)(c % Slots) * RangeWidth

  /** Every round's input batches in one pass over the pool. Each row
    * draws a seeded slot among all pool rows, whose block picks a round
    * and whose offset picks a batch it joins under a fresh key; rows of
    * the stable half draw a second slot that makes them update images
    * of existing rows. Batches vary in size by a few percent. */
  private def batches(ctx: Ctx): DataFrame = {
    val fresh = AppendRows + UpsertRows / 2 + MergeRows / 2
    val r = Inputs.slot(ctx.seed, 1, Inputs.PoolRows)
    val c1 = (r / fresh).cast("long")
    val off1 = pmod(r, lit(fresh.toLong))
    val kind1 = when(off1 < AppendRows, "a").when(off1 < AppendRows + UpsertRows / 2, "u").otherwise("m")
    val newKey = col(Key) + (c1 + 1) * 1000000L +
      when(off1 < AppendRows, 0L).when(off1 < AppendRows + UpsertRows / 2, 100000000L).otherwise(200000000L)
    val existing = (UpsertRows + MergeRows) / 2
    val s = Inputs.slot(ctx.seed, 2, BaseRows / 2)
    val c2 = (s / existing).cast("long")
    val isUpsert2 = pmod(s, lit(existing.toLong)) < UpsertRows / 2
    val stable = col(Key) >= BaseRows / 2 && col(Key) < BaseRows
    val tag = array(
      when(c1 < MaxRounds, struct(concat(kind1, c1.cast("string")).as("b"), newKey.as("nk"),
        lit(false).as("upd"), lit(0.0).as("salt"))),
      when(stable && c2 < MaxRounds, struct(concat(when(isUpsert2, "u").otherwise("m"), c2.cast("string")).as("b"),
        col(Key).as("nk"), lit(true).as("upd"), (c2 + when(isUpsert2, 0L).otherwise(7L)).cast("double").as("salt"))))
    val upd = col("t.upd")
    pool.withColumn("t", explode(tag)).where(col("t").isNotNull).select(
      col("t.nk").as(Key) +: pool.columns.filter(_ != Key).map {
        case "l_quantity" =>
          when(upd, col("l_quantity") + lit(1.0) + col("t.salt")).otherwise(col("l_quantity")).as("l_quantity")
        case "l_discount" =>
          when(upd, round(col("l_discount") / 2.0, 4)).otherwise(col("l_discount")).as("l_discount")
        case c => col(c)
      } :+ col("t.b").as("b"): _*)
  }
  private def batch(ctx: Ctx, name: String): DataFrame = ctx.spark.read.parquet(s"$batchDir/b=$name")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = ctx.dir("commit_churn")
    pool = ctx.setup("pool")(Inputs.pool(ctx, s"$root/pool"))
    batchDir = s"$root/batches"
    ctx.setup("batches") {
      batches(ctx).repartition(col("b")).write.partitionBy("b").parquet(batchDir)
      userBytes.clear()
      Storage.files(batchDir).foreach { case (p, size) =>
        val name = java.nio.file.Paths.get(p).getFileName.toString
        if (name.endsWith(".parquet") && !name.startsWith(".")) {
          val b = java.nio.file.Paths.get(p).getParent.getFileName.toString.stripPrefix("b=")
          userBytes(b) = userBytes.getOrElse(b, 0L) + size
        }
      }
    }
    ctx.setup("tables") {
      val base = pool.where(col(Key) < BaseRows).repartitionByRange(4, col(Key))
      Fmt.all.foreach { f =>
        f.create(spark, base, path(f))
        initialVersion(f.name) = f.version(spark, path(f))
        spark.sql(s"DROP TABLE IF EXISTS ${table(f)}")
        spark.sql(s"CREATE TABLE ${table(f)} USING ${f.provider} OPTIONS (path '${path(f)}')")
      }
    }
    commits.clear()
    done.clear()
    ctx.sizes ++= Seq("base_rows" -> BaseRows, "tables" -> 3, "append_rows" -> AppendRows,
      "upsert_rows" -> UpsertRows, "merge_rows" -> MergeRows, "range_rows" -> RangeWidth,
      "rounds_per_cycle" -> RoundsPerCycle)
  }

  /** The warm-up is round 0 and one maintenance; cycle `n` >= 1 is
    * the next `RoundsPerCycle` rounds and one maintenance. */
  override def warmup(ctx: Ctx): Unit = { churn(ctx, 0); maintain(ctx) }

  def cycle(ctx: Ctx, n: Int): Unit = {
    (1 to RoundsPerCycle).foreach(i => churn(ctx, RoundsPerCycle * (n - 1) + i))
    maintain(ctx)
  }

  /** Run `body` as one op per format; it returns the commits it made. */
  private def each(ctx: Ctx, op: String, user: String = "")(body: (Fmt, String) => Long): Unit =
    Fmt.all.foreach { f =>
      val p = path(f)
      ctx.rec.op(op, f.name, walk = p, userBytes = userBytes.getOrElse(user, 0L))(body(f, p))
        .foreach(n => commits(f.name) += n)
    }

  private def maintain(ctx: Ctx): Unit = each(ctx, "maintain")((f, p) => f.maintain(ctx.spark, p))

  private def churn(ctx: Ctx, c: Int): Unit = {
    val spark = ctx.spark
    each(ctx, "append", s"a$c") { (f, p) => f.append(spark, batch(ctx, s"a$c"), p); 1 }
    each(ctx, "upsert", s"u$c") { (f, p) => f.upsert(spark, batch(ctx, s"u$c"), p, Key); 1 }
    val lo = deleteSlot(ctx, c, 0) * RangeWidth
    each(ctx, "delete") { (f, p) => f.deleteWhere(spark, keyIn(lo, lo + RangeWidth), p); 1 }
    val stmt = c % 3 match {
      case 0 => (f: Fmt) =>
        s"MERGE INTO ${table(f)} t USING cc_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      case 1 =>
        val a = updateLo(ctx, c)
        (f: Fmt) => s"UPDATE ${table(f)} SET l_quantity = l_quantity + 1 WHERE k >= $a AND k < ${a + RangeWidth}"
      case _ =>
        val d = deleteSlot(ctx, c, 1) * RangeWidth
        (f: Fmt) => s"DELETE FROM ${table(f)} WHERE k >= $d AND k < ${d + RangeWidth}"
    }
    each(ctx, "sql_dml", if (c % 3 == 0) s"m$c" else "") { (f, _) =>
      if (c % 3 == 0) batch(ctx, s"m$c").createOrReplaceTempView("cc_src")
      spark.sql(stmt(f))
      1
    }
    done += c
  }

  /** The same op sequence applied to plain DataFrames. */
  private def reference(ctx: Ctx): DataFrame = {
    def upsert(t: DataFrame, u: DataFrame) = t.join(u.select(Key), Seq(Key), "left_anti").unionByName(u)
    done.foldLeft(pool.where(col(Key) < BaseRows)) { (t0, c) =>
      val lo = deleteSlot(ctx, c, 0) * RangeWidth
      val t1 = upsert(t0.unionByName(batch(ctx, s"a$c")), batch(ctx, s"u$c"))
        .where(!keyIn(lo, lo + RangeWidth))
      val t2 = c % 3 match {
        case 0 => upsert(t1, batch(ctx, s"m$c"))
        case 1 =>
          val a = updateLo(ctx, c)
          t1.withColumn("l_quantity",
            when(keyIn(a, a + RangeWidth), col("l_quantity") + 1).otherwise(col("l_quantity")))
        case _ =>
          val d = deleteSlot(ctx, c, 1) * RangeWidth
          t1.where(!keyIn(d, d + RangeWidth))
      }
      t2.localCheckpoint()
    }
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ref = reference(ctx)
    val want = Digest.of(ref)
    Fmt.all.foreach { f =>
      val p = path(f)
      val got = Digest.of(f.read(spark, p))
      ctx.check(s"commit_churn.${f.name}.equals_reference", got == want, s"got $got, reference $want")
      val v = f.version(spark, p) - initialVersion(f.name)
      ctx.check(s"commit_churn.${f.name}.versions", v == commits(f.name),
        s"${commits(f.name)} commits issued, version advanced by $v")
    }
    val stored = Fmt.all.map(f => Storage.treeBytes(path(f))).sum
    val live = Storage.plainParquetBytes(ref, ctx.dir("commit_churn/live"))
    ctx.extra ++= Seq("stored_bytes" -> stored, "live_bytes" -> 3 * live,
      "final_rows" -> want._1, "rounds_done" -> done.size)
    val files = Fmt.all.map(f => f.name -> Storage.files(path(f))).toMap
    ctx.sizes ++= Seq(
      "data_files_per_table_at_end" -> files.map { case (f, fs) =>
        f -> fs.keys.count(p => Storage.isData(p) && !p.endsWith(".crc")) },
      "meta_bytes_per_table_at_end" -> files.map { case (f, fs) =>
        f -> fs.filter { case (p, _) => !Storage.isData(p) }.values.sum })
  }
}
