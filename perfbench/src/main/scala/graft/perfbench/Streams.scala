package graft.perfbench

import java.util.UUID

/** Per-batch figures of one streaming query, from its progress events and
  * the jobs it launched.
  */
object Streams {
  def layer(tr: Tracer, runId: UUID, out: Outcome): Unit = {
    tr.drain()
    val ev = tr.progressEvents.map(_._2.progress).filter(p => p.runId == runId && p.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    out.layer("streaming.add_batch_s") = Stats.medianOr0(ev.map(dur(_, "addBatch")))
    out.layer("streaming.trigger_overhead_s") = Stats.medianOr0(ev.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")))
    val js = JobSums(tr.streamJobs("streaming"))
    val nb = math.max(1, ev.size).toDouble
    out.layer("streaming.jobs_per_batch") = js("jobs") / nb
    out.layer("streaming.shuffle_mb_per_batch") = js("shuffle_mb") / nb
    out.layer("streaming.write_mb_per_batch") = js("write_mb") / nb
  }
}
