package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{EtlQueries, Extractor}
import graft.streaming.EventsPipeline

/** The load half of `nightly`: backfill `Days` daily exports in arrival
  * order. Per day, the seeded Spotify-export JSON goes through
  * `Extractor.readHistoryJson` → `cleanHistory` → `deltaLoad` against what
  * is already staged, and the day's events file lands through one
  * long-lived `EventsPipeline.fileIngest` → `upsertWarehouseSink` query.
  * After the last day `EtlQueries.factBuildCore` runs over the landed
  * warehouse. The seed sets the shares of malformed, bad-ts, negative and
  * null `ms_played` export rows, of rows overlapping the previous day, of
  * re-delivered events and of null event keys; the row counts per day are
  * fixed.
  */
object Ingest {
  val Days = 6

  /** Export rows and event rows per day at sf 0.1. */
  private def perDay(sf: Double): (Int, Int) =
    (math.max(50, math.round(20000 * sf)).toInt, math.max(60, math.round(30000 * sf)).toInt)

  private val DayMs = 86400000L
  private val Day0 = java.time.LocalDate.of(2024, 1, 1)
  /** event ids of day d are d * IdStride + j */
  private val IdStride = 1000000L

  /** Ground truth of one day, from the generator. */
  final case class DayTruth(exportRows: Int, malformed: Int, badTs: Int, negative: Int, nullMs: Int,
      overlap: Int, eventRows: Int, redelivered: Int, nullKeys: Int) {
    def quarantined: Int = malformed + badTs + negative + nullMs
    def staged: Int = exportRows - quarantined - overlap
    def freshEvents: Int = eventRows - redelivered - nullKeys
  }

  /** The seeded composition of every day. */
  def truths(ctx: Ctx): Seq[DayTruth] = {
    val (nExp, nEv) = perDay(ctx.sf)
    val r = ctx.rng("ingest")
    def share(lo: Double, hi: Double, n: Int) = math.round(n * (lo + (hi - lo) * r.nextDouble())).toInt
    (0 until Days).map { d =>
      DayTruth(nExp, share(0.01, 0.03, nExp), share(0.01, 0.03, nExp), share(0.01, 0.03, nExp),
        share(0.01, 0.03, nExp), if (d == 0) 0 else share(0.05, 0.10, nExp),
        nEv, share(0.02, 0.05, nEv), share(0.005, 0.01, nEv))
    }
  }

  /** Export files and event files of every day under `dir`. */
  def setup(ctx: Ctx, dir: String): Map[String, Long] = {
    val truth = truths(ctx)
    Files.createDirectories(Paths.get(dir, "exports"))
    truth.zipWithIndex.foreach { case (t, d) =>
      Files.write(Paths.get(dir, "exports", f"day$d%02d.json"),
        exportLines(t, d, ctx.rng(s"export$d")).mkString("\n").concat("\n").getBytes(StandardCharsets.UTF_8))
      events(ctx, t, d, truth.map(_.freshEvents).min).coalesce(1).write.parquet(f"$dir/events/day$d%02d")
    }
    Map("export_rows" -> truth.map(_.exportRows.toLong).sum,
      "event_rows" -> truth.map(_.eventRows.toLong).sum)
  }

  private def iso(ms: Long) =
    java.time.Instant.ofEpochMilli(ms).toString.replaceAll("\\.\\d+Z$", "Z")

  /** One day's export, one JSON object per line, rows in seeded order. */
  private def exportLines(t: DayTruth, d: Int, r: java.util.SplittableRandom): Seq[String] = {
    val start = Day0.plusDays(d).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val step = (DayMs - 120000L) / t.exportRows
    def row(i: Int, ts: String, ms: String) =
      s"""{"ts":"$ts","platform":"android","ms_played":$ms,"conn_country":"SE","ip_addr":"10.0.0.${i % 250}",""" +
        s""""master_metadata_track_name":"track ${r.nextInt(500)}","master_metadata_album_artist_name":"artist ${r.nextInt(80)}",""" +
        s""""master_metadata_album_album_name":"album ${r.nextInt(150)}","spotify_track_uri":"spotify:track:${r.nextInt(100000)}",""" +
        s""""reason_start":"trackdone","reason_end":"trackdone","shuffle":${r.nextBoolean()},"skipped":${r.nextBoolean()},""" +
        s""""offline":false,"offline_timestamp":0,"incognito_mode":false}"""
    val kinds = Seq.fill(t.malformed)("malformed") ++ Seq.fill(t.badTs)("badts") ++
      Seq.fill(t.negative)("negative") ++ Seq.fill(t.nullMs)("nullms") ++ Seq.fill(t.overlap)("overlap")
    val lines = (0 until t.exportRows).map { i =>
      val ts = iso(start + 60000L + i * step + r.nextInt(math.max(1, step.toInt / 2)))
      val ms = (1000 + r.nextInt(300000)).toString
      kinds.lift(i).getOrElse("ok") match {
        case "malformed" => row(i, ts, ms).take(40 + r.nextInt(40))
        case "badts"     => row(i, ts.replace('T', ' ').replace("-", "/"), ms)
        case "negative"  => row(i, ts, s"-$ms")
        case "nullms"    => row(i, ts, "null")
        // inside the previous day's first minute: at or before what is staged
        case "overlap"   => row(i, iso(start - DayMs + r.nextInt(59000)), ms)
        case _           => row(i, ts, ms)
      }
    }
    val order = lines.indices.map(i => (r.nextLong(), i)).sorted.map(_._2)
    order.map(lines)
  }

  /** One day's events: fresh ids, re-deliveries of earlier ids (identical
    * rows, since every column derives from the id) and null keys.
    * Re-delivered ids are drawn below `minFresh`, so they exist on any day.
    */
  private def events(ctx: Ctx, t: DayTruth, d: Int, minFresh: Int) = {
    val k = col("id")
    val seed = ctx.seed
    val fresh = t.freshEvents.toLong
    // re-delivered ids: any earlier fresh id (day 0: this day's own)
    val pickDay = if (d == 0) lit(0L) else DataGen.h(k, seed, s"rd$d", d.toLong)
    val redeliveredId = pickDay * IdStride + DataGen.h(k, seed, s"rj$d", minFresh.toLong)
    val id = when(k < fresh, lit(d * IdStride) + k)
      .when(k < fresh + t.redelivered, redeliveredId)
    val day = (id / IdStride).cast("long")
    ctx.spark.range(t.eventRows).select(
      id.as("event_id"),
      timestamp_millis(lit(Day0.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli) +
        coalesce(day, lit(d.toLong)) * DayMs + DataGen.h(coalesce(id, k), seed, "ets", DayMs)).as("ts"),
      DataGen.h(coalesce(id, k), seed, "euser", DataGen.sizes(ctx.sf)("users")).as("user_id"),
      element_at(array(Seq("signup", "purchase", "view", "click", "error").map(lit): _*),
        (DataGen.h(coalesce(id, k), seed, "etype", 5) + 1).cast("int")).as("event_type"),
      round(DataGen.u(coalesce(id, k), seed, "evalue") * 100.0, 2).as("value"))
  }

  /** One backfill of all days into `work`; returns the input rows. Day 0
    * starts the long-lived query and is not timed: the upsert stream of a
    * real warehouse is already running when a day's files arrive.
    */
  def backfill(ctx: Ctx, dir: String, work: String, truth: Seq[DayTruth], tr: Tracer, out: Outcome): Long = {
    val spark = ctx.spark
    val staged = s"$work/staged"
    val quarantine = s"$work/quarantine"
    val landing = s"$work/landing"
    val wh = s"$work/wh/events.parquet"
    new java.io.File(landing).mkdirs()
    val q = EventsPipeline.upsertWarehouseSink(EventsPipeline.fileIngest(spark, landing), wh, "event_id")
      .option("checkpointLocation", s"$work/checkpoint").start()
    tr.streamGroups.put(q.runId.toString, "streaming")
    val extractS, upsertS, dayS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var probed = 0L
    var whRows = 0L
    val t0 = System.nanoTime()
    try {
      truth.indices.foreach { d =>
        val d0 = System.nanoTime()
        out.op(s"day $d extract") {
          tr.span("etl", "extract") {
            val raw = Extractor.readHistoryJson(spark, f"$dir/exports/day$d%02d.json")
            val (clean, bad) = Extractor.cleanHistory(raw)
            val loaded =
              if (new java.io.File(staged).exists()) spark.read.parquet(staged) else clean.limit(0)
            Extractor.deltaLoad(clean, loaded).write.mode("append").parquet(staged)
            bad.write.mode("append").parquet(quarantine)
          }
          true
        }
        val d1 = System.nanoTime()
        out.op(s"day $d upsert") {
          tr.span("streaming", "upsert") {
            Workload.land(Workload.partFile(f"$dir/events/day$d%02d"), landing, f"day$d%02d.parquet")
            q.processAllAvailable()
          }
          true
        }
        val d2 = System.nanoTime()
        if (d > 0) {
          extractS += (d1 - d0) / 1e9
          upsertS += (d2 - d1) / 1e9
          dayS += (d2 - d0) / 1e9
        }
        if (tr.enabled) { probed += whRows; whRows = spark.read.parquet(wh).count() }
      }
      val f0 = System.nanoTime()
      val facts = s"$work/facts"
      out.op("fact build") {
        tr.span("etl", "fact_build")(EtlQueries.factBuildCore(spark, s"$work/wh").write.parquet(facts))
        true
      }
      val loadS = (System.nanoTime() - t0) / 1e9
      val factS = (System.nanoTime() - f0) / 1e9

      // checks against the generator's ground truth
      val stagedN = spark.read.parquet(staged).count()
      out.op("staged rows") { stagedN == truth.map(_.staged.toLong).sum }
      out.op("quarantine rows per reason") {
        val got = spark.read.parquet(quarantine).groupBy("error_reason").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = Map("malformed json" -> truth.map(_.malformed.toLong).sum,
          "unparseable ts" -> truth.map(_.badTs.toLong).sum,
          "negative ms_played" -> truth.map(_.negative.toLong).sum,
          "null ms_played" -> truth.map(_.nullMs.toLong).sum).filter(_._2 > 0)
        got == want
      }
      val whDf = spark.read.parquet(wh)
      val whN = whDf.count()
      out.op("warehouse rows, unique event_id") {
        whN == truth.map(_.freshEvents.toLong).sum && whDf.select("event_id").distinct().count() == whN
      }
      out.op("fact rows") { spark.read.parquet(facts).count() == whN }

      val inputRows = truth.map(t => t.exportRows.toLong + t.eventRows).sum
      out.latencies ++= dayS
      out.report("load_s") = loadS
      out.report("day_s") = dayS.toSeq
      if (tr.enabled) {
        tr.drain()
        val etlSpans = tr.spans.filter(_.layer == "etl")
        val js = JobSums(tr.jobsOf(etlSpans))
        val exportRows = truth.map(_.exportRows.toLong).sum
        val quarantined = truth.map(_.quarantined.toLong).sum
        out.layer("etl.extract_s_per_day") = Stats.medianOr0(extractS.toSeq)
        out.layer("etl.clean_ratio") = (exportRows - quarantined).toDouble / exportRows
        out.layer("etl.quarantine_rows") = quarantined.toDouble
        out.layer("etl.delta_dropped_rows") = (exportRows - quarantined - stagedN).toDouble
        out.layer("etl.fact_build_s") = factS
        out.layer("etl.jobs") = js("jobs")
        out.layer("etl.records_read") = js("records_read")
        out.layer("etl.write_mb") = js("write_mb")
        out.layer("streaming.upsert_s_per_day") = Stats.medianOr0(upsertS.toSeq)
        out.layer("streaming.upsert_fresh_ratio") = whN.toDouble / truth.map(_.eventRows.toLong).sum
        out.layer("streaming.warehouse_rows_probed") = probed.toDouble
        Streams.layer(tr, q.runId, out)
      }
      inputRows
    } finally q.stop()
  }
}
