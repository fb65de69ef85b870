package graft.perfbench

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.mart.MartQueries
import graft.streaming.MartStream

/** `refresh`: the write-heavy twin of `dashboard` on the same mart
  * semantics. Listening-fact files arrive in a watched directory and
  * `MartStream.yearlyAggSink` folds them into the versioned incremental
  * mart; the analyst reads the served rollups.
  *
  * Two phases, both open loop (files arrive regardless of progress):
  *  - drain: a backlog of files is visible at start and the stream folds
  *    it as fast as it can (`drain_rows_per_s`);
  *  - scheduled: one file lands per fixed interval; after each committed
  *    batch one reader calls `serveYearly` and `serveTopArtists`. A file's
  *    freshness runs from its due time to the end of the first served read
  *    that reflects it — the reader knows which files a read reflects from
  *    the served row count.
  */
object Refresh extends Workload {
  val name = "refresh"
  val aliases = Map("latency_p50_s" -> "freshness_p50_s", "latency_tail_s" -> "freshness_tail_s",
    "throughput_per_s" -> "drain_rows_per_s")

  /** Backlog files, and scheduled files (one per interval). */
  val BacklogFiles = 4
  val ScheduledFiles = 4
  /** Share of the fact rows (by date) in the backlog. */
  val BacklogShare = 0.8

  def setup(ctx: Ctx, dir: String): Map[String, Long] = {
    val spark = ctx.spark
    val rows = DataGen.generate(spark, dir, ctx.seed, ctx.sf, Set("lineitem", "orders", "part", "supplier"))
    // split the facts by date: the earliest dates into equal backlog files,
    // the rest into scheduled files of seeded sizes
    val dates = spark.read.parquet(s"$dir/orders.parquet").select(to_date(col("o_orderdate")).as("d"))
      .distinct().orderBy("d").collect().map(_.getDate(0))
    val nBack = (dates.length * BacklogShare).toInt
    val r = ctx.rng("refresh-files")
    val w = Array.fill(ScheduledFiles)(0.5 + r.nextDouble())
    val rest = dates.length - nBack
    val cuts = w.scanLeft(0.0)(_ + _).map(x => nBack + math.round(x / w.sum * rest).toInt)
    val fileOf = dates.indices.map { i =>
      val f = if (i < nBack) i * BacklogFiles / nBack
              else BacklogFiles + math.max(0, cuts.lastIndexWhere(_ <= i).min(ScheduledFiles - 1))
      (dates(i), f)
    }
    import spark.implicits._
    val map = fileOf.toDF("d", "file_idx")
    MartQueries.listeningFacts(spark, dir)
      .join(broadcast(map), to_date(col("ts")) === col("d")).drop("d")
      .repartition(col("file_idx"))
      .write.partitionBy("file_idx").parquet(s"$dir/facts")
    val counts = spark.read.parquet(s"$dir/facts").groupBy("file_idx").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perFile = (0 until BacklogFiles + ScheduledFiles).map(i => counts.getOrElse(i, 0L))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "facts", "rows.txt"),
      perFile.mkString("\n").getBytes("UTF-8"))
    rows ++ Map("facts_backlog" -> perFile.take(BacklogFiles).sum, "facts_scheduled" -> perFile.drop(BacklogFiles).sum)
  }

  def run(ctx: Ctx, dir: String, work: String, seconds: Double, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    val fileRows = scala.io.Source.fromFile(s"$dir/facts/rows.txt", "UTF-8").getLines().map(_.toLong).toList
    val cum = fileRows.scanLeft(0L)(_ + _).tail
    val backlogRows = cum(BacklogFiles - 1)
    val schema = spark.read.parquet(s"$dir/facts/file_idx=0").schema
    val landing = s"$work/landing"
    val state = s"$work/state"
    new java.io.File(landing).mkdirs()
    def landFile(i: Int): Unit =
      Workload.land(Workload.partFile(s"$dir/facts/file_idx=$i"), landing, f"f$i%04d.parquet")

    (0 until BacklogFiles).foreach(landFile)
    tr.progress.clear()
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(landing)
    out.fromMs = System.currentTimeMillis()
    val tStart = System.nanoTime()
    val q = MartStream.yearlyAggSink(stream, state)
      .option("checkpointLocation", s"$work/checkpoint").start()
    tr.streamGroups.put(q.runId.toString, "streaming")
    val runId = q.runId

    def nextBatch(timeoutMs: Long) =
      Option(tr.progress.poll(timeoutMs, TimeUnit.MILLISECONDS))
        .filter(_._2.progress.runId == runId)

    try {
      // drain: nothing lands meanwhile, so "all available" is the backlog
      out.op("drain") { q.processAllAvailable(); true }
      val drainS = (System.nanoTime() - tStart) / 1e9
      out.throughput = backlogRows / drainS
      tr.progress.clear()

      // scheduled: one file per interval, a reader after each batch. The
      // interval (2 s in a 10 s run) leaves room for a batch and a read, so
      // freshness measures the fold and the serve, not a growing queue.
      val interval = seconds * 0.2
      val t0 = System.nanoTime() + 50000000L
      val due = (0 until ScheduledFiles).map(i => t0 + (i * interval * 1e9).toLong)
      val landed = Array.fill(ScheduledFiles)(0L)
      val gen = new Thread(() => {
        (0 until ScheduledFiles).foreach { i =>
          val wait = due(i) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          landFile(BacklogFiles + i)
          landed(i) = System.nanoTime()
        }
      })
      gen.setDaemon(true)
      gen.start()
      val fresh = Array.fill(ScheduledFiles)(-1.0)
      val serveS = scala.collection.mutable.ArrayBuffer.empty[Double]
      var lastTotal = -1L
      val limit = due.last + ((seconds + 30) * 1e9).toLong
      while (fresh.contains(-1.0) && System.nanoTime() < limit && q.exception.isEmpty) {
        nextBatch(100).filter(_._2.progress.numInputRows > 0).foreach { _ =>
          out.op("serve") {
            val s0 = System.nanoTime()
            val (yearly, top) = tr.span("mart", "serve") {
              (tr.span("mart", "serve_yearly")(MartStream.serveYearly(spark, state).collect()),
                tr.span("mart", "serve_top_artists")(MartStream.serveTopArtists(spark, state, dir).collect()))
            }
            val end = System.nanoTime()
            serveS += (end - s0) / 1e9
            val total = yearly.map(_.getAs[Long]("total_streams_sessions")).sum
            (0 until ScheduledFiles).foreach { i =>
              if (fresh(i) < 0 && total >= cum(BacklogFiles + i)) fresh(i) = (end - due(i)) / 1e9
            }
            val ok = total >= lastTotal && top.length <= 10
            lastTotal = total
            ok
          }
        }
      }
      gen.join(1000)
      out.toMs = System.currentTimeMillis()
      out.op("every scheduled file served") { !fresh.contains(-1.0) }
      out.latencies ++= fresh.filter(_ >= 0)
      out.op("stream caught up") { q.processAllAvailable(); true }

      out.op("served rollup equals yearlyAgg") {
        MartStream.serveYearly(spark, state).collect().toSeq ==
          MartQueries.yearlyAgg(spark, dir).collect().toSeq
      }
      out.op("served top artists equal topArtists") {
        val cols = Seq("artist", "hours_played", "times_played", "estimated_full_streams", "full_real_streams")
        def shared(rs: Array[Row]) = rs.toSeq.map(r => cols.map(c => r.getAs[Any](c)))
        shared(MartStream.serveTopArtists(spark, state, dir).collect()) ==
          shared(MartQueries.topArtists(spark, dir).collect())
      }
      out.report("backlog_rows") = backlogRows
      out.report("scheduled_rows") = cum.last - backlogRows
      out.report("interval_s") = interval
      out.report("drain_s") = drainS

      if (tr.enabled) {
        tr.drain()
        Streams.layer(tr, runId, out)
        val ev = tr.progressEvents.map(_._2.progress).filter(p => p.runId == runId && p.numInputRows > 0)
        // the batch that took scheduled file i, from the file source's log
        val startMs = ev.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
        val wall0 = System.currentTimeMillis() - System.nanoTime() / 1000000
        val waits = batchOfFile(s"$work/checkpoint").toSeq.flatMap { case (file, b) =>
          val i = file.stripPrefix("f").stripSuffix(".parquet").toInt - BacklogFiles
          if (i < 0) None else startMs.get(b).map(t => (t - (wall0 + landed(i) / 1000000)) / 1e3)
        }
        out.layer("streaming.pickup_wait_s") = Stats.medianOr0(waits.map(math.max(0.0, _)))
        val versions = Option(new java.io.File(state).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("v"))
        out.layer("streaming.state_versions_live") = versions.length
        out.layer("streaming.state_mb") = versions.sortBy(_.getName.drop(1).toLong).lastOption
          .map(Workload.dirBytes).getOrElse(0L) / 1048576.0
        out.layer("mart.serve_s") = Stats.medianOr0(serveS.toSeq)
        out.layer("bench.generator_lag_s") = (0 until ScheduledFiles).map(i => (landed(i) - due(i)) / 1e9).max
      }
    } finally q.stop()
  }

  /** file name → id of the batch that read it, from the file source's
    * metadata log under the checkpoint (one JSON line per file).
    */
  private def batchOfFile(checkpoint: String): Map[String, Long] = {
    val log = new java.io.File(s"$checkpoint/sources/0")
    val entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r.unanchored
    Option(log.listFiles()).getOrElse(Array.empty).filter(_.getName.forall(_.isDigit)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect { case entry(name, b) => name -> b.toLong }.toList finally src.close()
    }.toMap
  }
}
