package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the recorder, its inputs
  * and a place to put tables. Setup steps and output checks are
  * collected here and written out with the op records. */
final class Ctx(
    val spark: SparkSession, val rec: Recorder,
    val seed: Long, val sfDir: String, val work: String) {
  val setupTimes = ArrayBuffer.empty[(String, Double)]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val sizes = ArrayBuffer.empty[(String, Any)]
  val extra = ArrayBuffer.empty[(String, Any)]

  def dir(name: String): String = Paths.get(work, name).toString

  /** Time one set-up step; its seconds go into `setup_s`. */
  def setup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupTimes += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $d")
    checks += ((name, ok, d))
  }

  /** Wall seconds of `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  /** Build the inputs and tables. */
  def setup(ctx: Ctx): Unit
  /** One cycle of the op mix; cycle `n` draws its parameters from the
    * seed and `n`. The untimed warm-up is cycle 0, the timed loop is
    * cycle 1 and the traced loop cycle 2, whatever `--seconds` says, so
    * every run times the same op mix. */
  def cycle(ctx: Ctx, n: Int): Unit
  /** Run untimed at the end of set-up: the first executions of an op
    * pay JIT, codegen and footer-cache costs a serving engine pays once,
    * and leaving them in the loop would make its first cycle an
    * outlier. */
  def warmup(ctx: Ctx): Unit = cycle(ctx, 0)
  /** Output checks, after the timed loops. */
  def verify(ctx: Ctx): Unit
}

/** Machine-wide CPU time from `/proc/stat` (zeros where it does not
  * exist), sampled around set-up and the timed loop. `steal` is time the
  * hypervisor ran other guests while this machine's CPUs wanted to run. */
object Host {
  private val Fields = Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")

  def sample(): Seq[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(Fields.size).map(_.toLong).toSeq
    finally src.close()
  }.getOrElse(Nil).padTo(Fields.size, 0L)

  def delta(a: Seq[Long], b: Seq[Long]): Map[String, Long] =
    Fields.zip(b.zip(a).map { case (x, y) => x - y }).toMap
}

/** Benchmark driver for one workload in one JVM.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <sfDir>
  * <workDir>`. Writes `run.json`, `ops.jsonl` and,
  * when traced, `events.jsonl` under the work directory; `run.py` turns
  * them into metrics. Exit code 0 = every output check passed, 3 = a
  * check failed. */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", (cores < 16).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", graft.ingest.Scratch.warehouse.toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "spark-warehouse").toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, work) = args.take(6)
    val wl: Workload = workload match {
      case "query_mix" => QueryMix
      case "commit_churn" => CommitChurn
      case "table_scan" => TableScan
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpuStart = Host.sample()
    Files.createDirectories(Paths.get(work))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val rec = new Recorder(spark, traceS == "1")
    val ctx = new Ctx(spark, rec, seedS.toLong, sfDir, work)
    ctx.setup("warm") {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // calibration probes from graft.Bench (diagnostics): fixed work with
    // no graft code in it, so host drift between runs shows
    def probe(work: => Unit): Double = {
      val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e9
    }
    val calCpu = probe(spark.range(500000000L).selectExpr("sum(id * 3 + 7)").collect())
    val calScan = probe(spark.read.parquet(s"$sfDir/lineitem.parquet").selectExpr("count(*)").collect())

    wl.setup(ctx)
    ctx.setup("warmup")(wl.warmup(ctx))
    val setupS = sessionS + ctx.setupTimes.filter(_._1 != "warm").map(_._2).sum

    val cpu0 = Host.sample()
    rec.ops.clear()
    val wall = ctx.timed(wl.cycle(ctx, 1))
    val plainOps = rec.ops.toList
    val cpu1 = Host.sample()
    // the program's heap after the timed loop, before the traced loop's
    // records and the output checks' reference data are on it
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    val (twall, tracedOps) =
      if (!rec.traced) (0.0, Nil)
      else {
        rec.ops.clear()
        rec.attach()
        val t = ctx.timed(wl.cycle(ctx, 2))
        rec.detach()
        (t, rec.ops.toList)
      }
    rec.ops.clear()
    rec.ops ++= plainOps ++ tracedOps
    wl.verify(ctx)

    val out = Paths.get(work)
    def lines(name: String, it: Iterator[String]): Unit =
      Files.write(out.resolve(name), it.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    lines("ops.jsonl", plainOps.iterator.map(o => Json.obj("traced" -> false, "rec" -> Json.Raw(o.json))) ++
      tracedOps.iterator.map(o => Json.obj("traced" -> true, "rec" -> Json.Raw(o.json))))
    rec.events.foreach(ev => lines("events.jsonl", ev.jsonLines))
    val run = Json.obj(
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toDouble,
      "session_s" -> sessionS, "setup_s" -> setupS,
      "setup_steps" -> ctx.setupTimes.map { case (n, s) => Map("step" -> n, "s" -> s) },
      "timed_s" -> wall, "traced_timed_s" -> twall,
      "retained_heap_mb" -> heapMb,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "sizes" -> ctx.sizes.toMap, "extra" -> ctx.extra.toMap,
      "cpus_effective" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "cal_cpu_s" -> calCpu, "cal_scan_s" -> calScan, "setup_cpu" -> Host.delta(cpuStart, cpu0), "loop_cpu" -> Host.delta(cpu0, cpu1))
    lines("run.json", Iterator(run))
    spark.stop()
    sys.exit(if (ctx.checks.forall(_._2)) 0 else 3)
  }
}
