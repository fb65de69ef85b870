package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** The benchmark's JVM side. `run.py` builds the program and starts this
  * with the run's own temp dir as `java.io.tmpdir`. It prints nothing that
  * `run.py` reads; it writes one JSON record to `--out`.
  *
  * Untraced (`--trace 0`): set up the inputs three times (the median is
  * `setup_s`), then one timed phase of `--seconds`, reporting the
  * end-to-end metrics.
  *
  * Traced (`--trace 1`): the same set-up, then half the seconds untraced
  * and half traced on fresh state; the traced half gives the per-layer
  * metrics, and the ratio of the two halves' `latency_p50_s` is
  * `bench.trace_overhead`.
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sf = a.getOrElse("sf", "0.1").toDouble
    val cores = a("cores").toInt
    val runDir = a("run-dir")
    val out = a("out")

    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, seed, sf, cores, digests(a.get("digests"), seed, sf))
    try {
      // set-up, several times; the last copy's inputs are the ones measured
      val setups = (1 to SetupRepeats).map { i =>
        val dir = s"$runDir/inputs$i"
        val t0 = System.nanoTime()
        val rows = wl.setup(ctx, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        if (i < SetupRepeats) Workload.rmrf(new File(dir))
        (dt, rows, dir)
      }
      val setupS = Stats.median(setups.map(_._1))
      val (_, inputRows, dir) = setups.last

      val record = scala.collection.mutable.LinkedHashMap[String, Any](
        "workload" -> wl.name, "seed" -> seed, "sf" -> sf, "seconds" -> seconds,
        "trace" -> (if (traced) 1 else 0), "input_rows" -> inputRows,
        "setup_s_samples" -> setups.map(_._1))
      val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]

      // a phase that throws counts as one failed operation; the run still
      // reports, so the failure shows as correct = false
      def phase(name: String, secs: Double, tr: Tracer): Outcome = {
        val o = new Outcome
        o.op(s"$name phase") { wl.run(ctx, dir, s"$runDir/$name", secs, tr, o); true }
        if (o.latencies.isEmpty) o.latencies += 0.0
        o
      }

      val result =
        if (!traced) {
          val tr = new Tracer(false, spark)
          val o = try phase("timed", seconds, tr) finally tr.close()
          metrics("setup_s") = setupS
          metrics ++= endToEnd(o)
          record("report") = o.report.toMap ++ tailNote(o) ++ aliasNote(wl, metrics)
          o
        } else {
          val plain = new Tracer(false, spark)
          val u = try phase("untraced", seconds / 2, plain) finally plain.close()
          val tr = new Tracer(true, spark)
          val t = try phase("traced", seconds / 2, tr) finally tr.close()
          tr.drain()
          metrics ++= t.layer
          metrics ++= sparkLayer(tr, t, cores)
          metrics("bench.trace_overhead") = Stats.median(t.latencies.toSeq) / Stats.median(u.latencies.toSeq)
          a.get("trace-out").foreach(p => tr.writeSpans(p, wl.name))
          record("report") = t.report.toMap
          record("spans") = tr.spans.size
          val both = new Outcome
          both.attempted = u.attempted + t.attempted
          both.failed = u.failed + t.failed
          both.failures ++= u.failures ++ t.failures
          both
        }
      record("correct") = result.failed == 0
      record("attempted") = result.attempted
      record("failed") = result.failed
      record("failures") = result.failures.take(20).toSeq
      record("metrics") = metrics.toMap
      val w = new java.io.PrintWriter(out, "UTF-8")
      try w.println(Json.obj(record.toSeq)) finally w.close()
    } finally spark.stop()
  }

  /** Recorded digests for (seed, sf) from a JSON file of the form
    * {"seed=1 sf=0.1": {"job": "digest", ...}, ...}.
    */
  private def digests(path: Option[String], seed: Long, sf: Double): Map[String, String] =
    path.filter(p => new File(p).exists()).map { p =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(p)).path(s"seed=$seed sf=$sf")
      node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
    }.getOrElse(Map.empty)

  def endToEnd(o: Outcome): Map[String, Double] = Map(
    "latency_p50_s" -> Stats.median(o.latencies.toSeq),
    "latency_tail_s" -> Stats.tail(o.latencies.toSeq)._2,
    "throughput_per_s" -> o.throughput)

  /** The runtime under every layer, over the traced phase's window. */
  def sparkLayer(tr: Tracer, o: Outcome, cores: Int): Map[String, Double] = {
    val js = tr.jobsIn(o.fromMs, o.toMs)
    val s = JobSums(js)
    val wall = math.max(1L, o.toMs - o.fromMs) / 1e3
    Map(
      "spark.jobs" -> s("jobs"), "spark.stages" -> s("stages"), "spark.tasks" -> s("tasks"),
      "spark.cpu_s" -> s("cpu_s"), "spark.core_util" -> s("run_s") / (wall * cores),
      "spark.job_gap_s" -> JobSums.idleMs(js, o.fromMs, o.toMs) / 1e3,
      "spark.gc_s" -> s("gc_s"), "spark.spill_mb" -> s("spill_mb"),
      "spark.shuffle_write_mb" -> s("shuffle_write_mb"))
  }

  private def tailNote(o: Outcome): Map[String, Any] = {
    val (p, _) = Stats.tail(o.latencies.toSeq)
    Map("latency_tail_percentile" -> p, "latency_samples" -> o.latencies.size)
  }

  private def aliasNote(wl: Workload, m: scala.collection.Map[String, Double]): Map[String, Any] =
    wl.aliases.collect { case (generic, own) if m.contains(generic) => own -> m(generic) }
}
