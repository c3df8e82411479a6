package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import Inputs.{Key, keyIn}

/** Reads over one table per format with a long history: a base write,
  * then `History` small commits (appends, and merge-on-read deletes on
  * every third), no maintenance, so Delta crosses its checkpoint
  * interval several times and every format carries delete debt. A draw
  * runs, per format: a full scan, a key-range filter, a point lookup,
  * time travel to an earlier build step, a change feed over three build
  * steps, a metadata-only snapshot load, and an `AvailableNow` streaming
  * read through the format's stream source into a `noop` sink. Every
  * result is checked against the state recorded for that build step. */
object TableScan extends Workload {
  val BaseRows = 50000L
  val History = 30
  val AppendRows = 1000
  val FeedRows = 10000L
  val FeedAppends = 3
  val DeleteWidth = 500L
  val FilterWidth = 2000L
  val ChangeSteps = 3

  private var pool: DataFrame = _
  // per format: the time-travel handle and version after each build step
  private val handles = mutable.Map.empty[String, IndexedSeq[Long]]
  private val versions = mutable.Map.empty[String, IndexedSeq[Long]]
  private var root = ""
  private val observed = mutable.ArrayBuffer.empty[(String, String, Any, Any)]

  private var appendDir = ""

  private def isDelete(step: Int) = step % 3 == 2
  private def appendRows(ctx: Ctx, step: Int): DataFrame = ctx.spark.read.parquet(s"$appendDir/b=$step")
  private def deleteLo(ctx: Ctx, step: Int): Long =
    Inputs.perm(ctx.seed, 3, (BaseRows / DeleteWidth).toInt)(step) * DeleteWidth

  /** Every append step's rows in one pass over the pool: each row draws
    * a seeded slot among all pool rows, whose block picks the step it
    * joins under a fresh key. One plain parquet file per step. */
  private def writeAppends(ctx: Ctx): Unit = {
    val steps = (0 until History).filterNot(isDelete)
    val r = Inputs.slot(ctx.seed, 3, Inputs.PoolRows)
    val j = (r / AppendRows).cast("int")
    pool.where(j < steps.size)
      .withColumn("b", element_at(typedLit(steps), j + 1))
      .withColumn(Key, col(Key) + (col("b") + 1) * 1000000L)
      .repartition(col("b")).write.partitionBy("b").parquet(appendDir)
  }

  /** Live rows after build step `step` (-1 = the base write), as the
    * reference model sees them: plain DataFrames over the pool. */
  private def state(ctx: Ctx, step: Int): DataFrame =
    (0 to step).foldLeft(pool.where(col(Key) < BaseRows)) { (t, i) =>
      if (isDelete(i)) t.where(!keyIn(deleteLo(ctx, i), deleteLo(ctx, i) + DeleteWidth))
      else t.unionByName(appendRows(ctx, i))
    }

  /** One format's table: the base, then the history. Returns the handle
    * and version after each step (index 0 = the base). Iceberg's version
    * is its sequence number, one per commit; `verify` checks that. A
    * second, append-only table (`feed_`) serves the streaming read: the
    * Delta and Iceberg stream sources refuse to start over merge-on-read
    * delete debt. */
  private def build(ctx: Ctx, f: Fmt, base: DataFrame): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val spark = ctx.spark
    val p = path(f)
    f.create(spark, base, p)
    val h0 = f.handle(spark, p)
    val v0 = f.version(spark, p)
    val hs = h0 +: (0 until History).map { i =>
      if (isDelete(i)) {
        val lo = deleteLo(ctx, i)
        f.deleteMergeOnRead(spark, keyIn(lo, lo + DeleteWidth), p, Key)
      } else f.append(spark, appendRows(ctx, i), p)
    }
    val vs = if (f == IcebergFmt) (0 to History).map(v0 + _) else hs
    f.create(spark, base.where(col(Key) < FeedRows), feed(f))
    feedSteps.take(FeedAppends).foreach(i => f.append(spark, appendRows(ctx, i), feed(f)))
    (hs, vs)
  }

  private def feedSteps = (0 until History).filterNot(isDelete)
  private def path(f: Fmt) = s"$root/${f.name}"
  private def feed(f: Fmt) = s"$root/feed_${f.name}"

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = ctx.dir("table_scan")
    pool = ctx.setup("pool")(Inputs.pool(ctx, s"$root/pool"))
    appendDir = s"$root/appends"
    val base = ctx.setup("inputs") {
      writeAppends(ctx)
      val p = s"$root/base"
      pool.where(col(Key) < BaseRows).repartitionByRange(8, col(Key)).write.parquet(p)
      spark.read.parquet(p)
    }
    // the three histories are independent tables: build them side by side
    val builds = ctx.setup("history") {
      val exec = java.util.concurrent.Executors.newFixedThreadPool(Fmt.all.size)
      try Fmt.all.map(f => exec.submit(() => build(ctx, f, base))).map(_.get())
      finally exec.shutdown()
    }
    Fmt.all.zip(builds).foreach { case (f, (hs, vs)) =>
      handles(f.name) = hs; versions(f.name) = vs
    }
    observed.clear()
    ctx.sizes ++= Seq("base_rows" -> BaseRows, "history_commits" -> History,
      "append_rows" -> AppendRows, "delete_rows" -> DeleteWidth,
      "files_per_table" -> Fmt.all.map(f => f.name -> Storage.files(path(f)).count {
        case (q, _) => Storage.isData(q) && !q.endsWith(".crc") }).toMap,
      "meta_bytes_per_table" -> Fmt.all.map(f => f.name -> Storage.files(path(f)).filter {
        case (q, _) => !Storage.isData(q) }.values.sum).toMap)
  }

  /** Seeded parameter draws per cycle; each runs every op once per
    * format, so a cycle is 63 ops. */
  val DrawsPerCycle = 3

  def cycle(ctx: Ctx, n: Int): Unit = (0 until DrawsPerCycle).foreach(d => draw(ctx, n * DrawsPerCycle + d))

  /** One draw is enough to warm every op's code path. */
  override def warmup(ctx: Ctx): Unit = draw(ctx, 0)

  private def draw(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed * 31L + n)
    val lo = rnd.nextLong(BaseRows - FilterWidth)
    val point = rnd.nextLong(BaseRows)
    val back = rnd.nextInt(History - 1)             // step to travel back to
    val ch = rnd.nextInt(History - ChangeSteps)     // change feed over steps ch+1 .. ch+ChangeSteps
    Fmt.all.foreach { f =>
      val p = path(f)
      def op(name: String, param: Any)(body: => Any): Unit =
        ctx.rec.op(name, f.name)(body).foreach(r => observed += ((f.name, name, param, r)))
      op("scan", -1)(Digest.of(f.read(spark, p)))
      op("filter", lo)(Digest.of(f.read(spark, p).where(keyIn(lo, lo + FilterWidth))))
      op("lookup", point)(Digest.of(f.read(spark, p).where(col(Key) === point)))
      op("timetravel", back)(Digest.of(f.readAt(spark, p, handles(f.name)(back + 1))))
      op("changes", ch) {
        val vs = versions(f.name)
        f match {
          case IcebergFmt => f.changes(spark, p, vs(ch + 1), vs(ch + 1 + ChangeSteps), Key)
          case _ => f.changes(spark, p, vs(ch + 1) + 1, vs(ch + 1 + ChangeSteps), Key)
        }
      }
      op("snapshot", -1)(f.snapshot(spark, p))
      op("tail", n) {
        val fmt = if (f == VersionedFmt) "graft-versioned" else f.name
        val q = spark.readStream.format(fmt).load(feed(f))
          .writeStream.format("noop")
          .option("checkpointLocation", ctx.dir(s"table_scan/ckpt/${f.name}_$n"))
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).sum
      }
    }
  }

  def verify(ctx: Ctx): Unit = {
    val last = History - 1
    val digests = mutable.Map.empty[(Int, String), (Long, String)]
    def want(step: Int, filter: String, df: => DataFrame) = digests.getOrElseUpdate((step, filter), Digest.of(df))
    val files = Fmt.all.map(f => f.name -> f.snapshot(ctx.spark, path(f))).toMap
    Fmt.all.foreach { f =>
      val v = f.version(ctx.spark, path(f))
      ctx.check(s"table_scan.${f.name}.versions", v == versions(f.name).last,
        s"version $v after the build, recorded ${versions(f.name).last}")
    }
    observed.foreach { case (fmt, op, param, got) =>
      val expected: Any = op match {
        case "scan" => want(last, "", state(ctx, last))
        case "filter" =>
          val lo = param.asInstanceOf[Long]
          want(last, s"f$lo", state(ctx, last).where(keyIn(lo, lo + FilterWidth)))
        case "lookup" =>
          val k = param.asInstanceOf[Long]
          want(last, s"k$k", state(ctx, last).where(col(Key) === k))
        case "timetravel" =>
          val b = param.asInstanceOf[Int]
          want(b, "", state(ctx, b))
        case "changes" =>
          val steps = (param.asInstanceOf[Int] + 1) to (param.asInstanceOf[Int] + ChangeSteps)
          val ins = steps.filterNot(isDelete).map(i => want(i, "append", appendRows(ctx, i))._1).sum
          val del = steps.filter(isDelete).map { i =>
            val lo = deleteLo(ctx, i)
            want(i - 1, s"d$lo", state(ctx, i - 1).where(keyIn(lo, lo + DeleteWidth)))._1
          }.sum
          if (fmt == "iceberg") Map("insert" -> ins) ++ (if (steps.exists(isDelete)) Map("non_append" -> 1L) else Map.empty)
          else Map("insert" -> ins) ++ (if (del > 0) Map("delete" -> del) else Map.empty)
        case "snapshot" => files(fmt)
        case "tail" => FeedRows + feedSteps.take(FeedAppends).map(i => want(i, "append", appendRows(ctx, i))._1).sum
      }
      ctx.check(s"table_scan.$fmt.$op", got == expected, s"param $param: got $got, want $expected")
    }
  }
}
