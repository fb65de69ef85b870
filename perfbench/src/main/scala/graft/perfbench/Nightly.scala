package graft.perfbench

/** `nightly`: the data engineer's night, a closed loop of one. First the
  * load ([[Ingest]]: a backfill of daily exports and event files, then the
  * fact build), then the curation pass ([[Curate]]: the heavy `ops` jobs on
  * a fresh sample). `etl` does most of the load's work and `ops` all of
  * the pass's; `streaming` is used as a stateless, growing-warehouse sink,
  * unlike its stateful fold in `refresh`.
  *
  * `latency_*` are per-day load times; `throughput_per_s` is the night's
  * input rows (exports, events, curation sample) over the night's wall
  * time, so it moves with both halves.
  */
object Nightly extends Workload {
  val name = "nightly"
  val aliases = Map("latency_p50_s" -> "day_p50_s", "latency_tail_s" -> "day_tail_s",
    "throughput_per_s" -> "night_rows_per_s")

  def setup(ctx: Ctx, dir: String): Map[String, Long] =
    Ingest.setup(ctx, s"$dir/ingest") ++
      DataGen.generate(ctx.spark, s"$dir/curate", ctx.seed, ctx.sf, Curate.tables)

  def run(ctx: Ctx, dir: String, work: String, seconds: Double, tr: Tracer, out: Outcome): Unit = {
    val truth = Ingest.truths(ctx)
    // whole nights only: another starts while the last one's duration
    // still fits before the deadline (the first always runs)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var night = 0
    var rows = 0L
    val nights = scala.collection.mutable.ArrayBuffer.empty[Double]
    out.fromMs = System.currentTimeMillis()
    while (night == 0 || System.nanoTime() + (nights.last * 1e9).toLong <= deadline) {
      night += 1
      val t0 = System.nanoTime()
      rows += Ingest.backfill(ctx, s"$dir/ingest", s"$work/night$night/ingest", truth, tr, out)
      rows += Curate.pass(ctx, s"$dir/curate", s"$work/night$night/curate", night, tr, out)
      nights += (System.nanoTime() - t0) / 1e9
    }
    out.toMs = System.currentTimeMillis()
    out.throughput = rows / nights.sum
    out.report("batch_s") = nights.toSeq
    out.report("nights") = night
  }
}
