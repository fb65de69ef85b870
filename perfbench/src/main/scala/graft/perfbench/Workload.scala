package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the seed every input and
  * parameter derives from, the input scale, the cores, and the recorded
  * result digests for this seed and scale (empty if none).
  */
final case class Ctx(spark: SparkSession, seed: Long, sf: Double, cores: Int,
    digests: Map[String, String]) {
  def rng(salt: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt.hashCode)
}

/** What one timed phase measured, and how its correctness checks went.
  *
  * `latencies` are the samples behind `latency_p50_s` / `latency_tail_s`;
  * `throughput` is the workload's work per second. `layer` holds the
  * per-layer figures (filled only when the phase is traced).
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val latencies = mutable.ArrayBuffer.empty[Double]
  var throughput = 0.0
  /** wall-clock window of the measured work, for the `spark.*` figures */
  var fromMs = 0L
  var toMs = 0L
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** One operation: counts as attempted, and as failed if it throws or its
    * check does not hold. Returns whether it passed.
    */
  def op(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try { val r = body; if (!r) failures += s"$name: check failed"; r }
      catch {
        case e: Exception =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          false
      }
    if (!ok) failed += 1
    ok
  }
}

trait Workload {
  def name: String
  /** Tables and files the workload reads, built under `dir` from the seed;
    * returns input row counts.
    */
  def setup(ctx: Ctx, dir: String): Map[String, Long]
  /** One timed phase of about `seconds` over the inputs in `dir`; mutable
    * state goes under `work`. Spans and job groups go through `tr`.
    */
  def run(ctx: Ctx, dir: String, work: String, seconds: Double, tr: Tracer, out: Outcome): Unit
  /** The workload's own names for the generic end-to-end metrics, for the
    * report (e.g. `latency_p50_s` is `query_p50_s` on dashboard).
    */
  def aliases: Map[String, String]
}

object Workload {
  val all: Seq[Workload] = Seq(Dashboard, Refresh, Nightly)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n'; expected one of ${all.map(_.name).mkString(", ")}"))

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  /** Move a finished file into a watched dir in one step, so a file-source
    * stream never sees it half written.
    */
  def land(src: java.nio.file.Path, dstDir: String, name: String): Unit = {
    val tmp = java.nio.file.Paths.get(dstDir, s".$name.tmp")
    java.nio.file.Files.copy(src, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dstDir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The single part file of a one-partition parquet write. */
  def partFile(dir: String): java.nio.file.Path =
    new java.io.File(dir).listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $dir")).toPath
}
