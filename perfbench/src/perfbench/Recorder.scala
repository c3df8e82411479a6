package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation. Times are epoch milliseconds (for attributing
  * listener events, which carry epoch ms) plus a nanosecond wall. The
  * storage fields are deltas over the op; the file counts are -1 unless
  * the traced run walked the op's table directory. */
final case class OpRec(
    op: String, fmt: String, family: String,
    startMs: Long, endMs: Long, wallNs: Long,
    ok: Boolean, err: String,
    bytesWritten: Long, bytesRead: Long,
    userBytes: Long = 0,
    dataFiles: Long = -1, metaFiles: Long = -1, metaBytes: Long = -1) {
  def json: String = Json.obj(
    "op" -> op, "fmt" -> fmt, "family" -> family,
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_ms" -> wallNs / 1e6,
    "ok" -> ok, "err" -> err,
    "bytes_written" -> bytesWritten, "bytes_read" -> bytesRead, "user_bytes" -> userBytes,
    "data_files" -> dataFiles, "meta_files" -> metaFiles, "meta_bytes" -> metaBytes)
}

/** Raw Spark events, collected only in the traced run. Jobs and tasks
  * come from the scheduler; planning time comes from each
  * QueryExecution's tracker (analysis + optimization + planning). They
  * are attributed to ops afterwards by their timestamps. */
final class Events extends SparkListener with QueryExecutionListener {
  val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]() // (finish ms, duration ms)
  val qes = new ConcurrentLinkedQueue[(Long, Long)]()   // (first phase start ms, plan ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add((e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) tasks.add((e.taskInfo.finishTime, e.taskInfo.duration))

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.filter { case (k, _) =>
      k == "analysis" || k == "optimization" || k == "planning" }
    if (ph.nonEmpty) qes.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def jsonLines: Iterator[String] = {
    val ends = jobEnds.asScala.toMap
    jobStarts.asScala.iterator.map { case (id, s) =>
      Json.obj("ev" -> "job", "start_ms" -> s, "end_ms" -> ends.getOrElse(id, s)) } ++
    tasks.asScala.iterator.map { case (f, d) => Json.obj("ev" -> "task", "end_ms" -> f, "ms" -> d) } ++
    qes.asScala.iterator.map { case (s, p) => Json.obj("ev" -> "qe", "start_ms" -> s, "plan_ms" -> p) }
  }
}

/** Times ops and keeps going on failure: a failed op is recorded with
  * its exception class and the loop continues. */
final class Recorder(val spark: SparkSession, val traced: Boolean) {
  val ops = ArrayBuffer.empty[OpRec]
  val events: Option[Events] = if (traced) Some(new Events) else None

  def attach(): Unit = events.foreach { ev =>
    spark.sparkContext.addSparkListener(ev)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(ev)
  }

  def detach(): Unit = events.foreach { ev =>
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ev)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(ev)
  }

  /** Run `body` as one op. `walk` names the table root whose new files
    * the traced run counts; the untraced run never walks a directory. */
  def op[T](op: String, fmt: String = "", family: String = "", walk: String = "",
      userBytes: Long = 0)(body: => T): Option[T] = {
    val before = if (traced && walk.nonEmpty) Storage.files(walk) else Map.empty[String, Long]
    val (w0, r0) = Storage.fsBytes()
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(body), "")
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $op $fmt $family FAILED: ${e.getClass.getName}: ${e.getMessage}")
        (None, e.getClass.getName)
      }
    val wall = System.nanoTime() - t0
    val e = System.currentTimeMillis()
    val (w1, r1) = Storage.fsBytes()
    val rec0 = OpRec(op, fmt, family, s, e, wall, res.isDefined, err, w1 - w0, r1 - r0, userBytes)
    ops += (if (traced && walk.nonEmpty) {
      val added = Storage.files(walk).filter { case (p, _) => !before.contains(p) }
      val (data, meta) = added.partition { case (p, _) => Storage.isData(p) }
      rec0.copy(dataFiles = data.size, metaFiles = meta.size, metaBytes = meta.values.sum)
    } else rec0)
    res
  }
}

object Storage {
  /** Hadoop `file`-scheme bytes written and read, process-wide. */
  def fsBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  /** Every regular file under `root` with its size. Hidden checksum
    * files are counted too: they are bytes the table costs. */
  def files(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  def treeBytes(root: String): Long = files(root).values.sum

  /** Data files are the parquet files outside the formats' metadata
    * directories; checkpoints, logs, manifests and markers are metadata. */
  def isData(path: String): Boolean = {
    val n0 = java.nio.file.Paths.get(path).getFileName.toString
    val n = if (n0.startsWith(".") && n0.endsWith(".crc")) n0.drop(1).dropRight(4) else n0
    (n.endsWith(".parquet") || n.endsWith(".bin")) &&
      !path.contains("/_delta_log/") && !path.contains("/metadata/")
  }

  /** Bytes of `df` written as plain single-file parquet: the size a user
    * would call "my data", the denominator of the write and storage
    * amplification ratios. */
  def plainParquetBytes(df: org.apache.spark.sql.DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    files(dir).filter { case (p, _) =>
      p.endsWith(".parquet") && !java.nio.file.Paths.get(p).getFileName.toString.startsWith(".")
    }.values.sum
  }
}

object Json {
  private def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => esc(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case r: Raw => r.json
    case m: Map[_, _] => m.map { case (k, x) => esc(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => esc(o.toString)
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => esc(k) + ":" + value(v) }.mkString("{", ",", "}")
}
