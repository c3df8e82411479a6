package perfbench

import scala.collection.mutable.ArrayBuffer

/** Read-only registry entries run through `SparkEntry.queries`, in a
  * seeded order. No entry here goes through `Once`/`Prefix`, caches, or
  * writes under the scratch or warehouse tree, so a commit-path or
  * table-format change must not move this workload; planning and
  * session changes show here first. */
object QueryMix extends Workload {
  /** One or two entries per family, picked from the middle of each
    * family's cost range at sf0.1: the 113 read-only entries take ~90 s
    * per pass at local[4], far more than one run can measure. */
  val entries: Seq[String] = Seq(
    "a1_pricing_summary", "a7_agg_expr",
    "f2_datetime_family",
    "j1_inner_join", "j3_left_outer_join",
    "l1_dedup_exact", "l4c_tf_df",
    "o2_topk",
    "p2_filter_combo",
    "r1_pivot",
    "sql3_collation",
    "sub1_scalar_subquery",
    "t1_tumbling_window",
    "u2_except",
    "w1_ranking", "w2_lag_lead")

  def family(entry: String): String = entry.takeWhile(_.isLetter)

  private lazy val fns = graft.SparkEntry.queries
  private val results = ArrayBuffer.empty[(String, Long, String)]
  private def scratchFiles(ctx: Ctx): Long = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_scratch")
    Storage.files(root.toString).size.toLong
  }

  /** Nothing to build: the entries read the sf0.1 tables directly. */
  def setup(ctx: Ctx): Unit = ()

  /** A pass runs every entry once, in a seeded order. A cycle is three
    * passes (48 ops), enough samples for a tail percentile. */
  val PassesPerCycle = 3

  /** One pass, four entries at a time: the warm-up only has to run each
    * plan once, and its JIT and codegen work is shared across threads. */
  override def warmup(ctx: Ctx): Unit = {
    val exec = java.util.concurrent.Executors.newFixedThreadPool(4)
    try entries.map(e => exec.submit(() => Digest.of(fns(e)(ctx.spark, ctx.sfDir)))).foreach(_.get())
    finally exec.shutdown()
  }

  def cycle(ctx: Ctx, n: Int): Unit = (1 to PassesPerCycle).foreach(i => pass(ctx, PassesPerCycle * (n - 1) + i))

  private def pass(ctx: Ctx, p: Int): Unit =
    new scala.util.Random(ctx.seed * 7919L + p).shuffle(entries).foreach { e =>
      ctx.rec.op("query", family = family(e)) {
        Digest.of(fns(e)(ctx.spark, ctx.sfDir))
      }.foreach { case (rows, d) => results += ((e, rows, d)) }
    }

  def verify(ctx: Ctx): Unit = {
    ctx.check("query_mix.no_scratch_writes", scratchFiles(ctx) == 0,
      s"${scratchFiles(ctx)} files under the scratch tree")
    ctx.extra += "results" -> results.map { case (e, r, d) => Seq(e, r.toString, d) }.toSeq
  }
}
