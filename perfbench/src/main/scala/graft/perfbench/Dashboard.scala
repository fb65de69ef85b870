package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.mart.MartQueries

/** `dashboard`: one analyst clicking through the reference's eight
  * dashboard functions and waiting for each answer — a closed loop with one
  * client. Every request scans the whole listening fact (lineitem ⋈ orders),
  * so `mart`, Catalyst planning and per-query jobs do the work; the
  * streaming, etl and ops layers do none.
  *
  * Requests go in whole rounds of the eight functions, in a seeded order
  * per round, so the mix is the same for every seed. Each function has
  * three parameter sets of fixed shape (which filters are set) with seeded
  * values (year, month, artist, album, limit); the sets rotate by round.
  * After the timed rounds an earlier request is repeated and must return
  * identical rows.
  */
object Dashboard extends Workload {
  val name = "dashboard"
  val aliases = Map("latency_p50_s" -> "query_p50_s", "latency_tail_s" -> "query_tail_s",
    "throughput_per_s" -> "queries_per_s")

  val requests: Seq[String] = Seq("yearly_agg", "monthly_agg", "all_time_agg", "top_artists",
    "top_tracks", "top_albums", "album_stats", "variant_detection")

  def setup(ctx: Ctx, dir: String): Map[String, Long] =
    DataGen.generate(ctx.spark, dir, ctx.seed, ctx.sf, Set("lineitem", "orders", "part", "supplier"))

  /** A request: function name, its parameters (for the report and the
    * repeat check) and the call.
    */
  final case class Req(kind: String, params: String, limit: Option[Int],
      call: (SparkSession, String) => DataFrame)

  /** Three parameter sets per function. Which filters a set uses is fixed,
    * so every seed plans the same query shapes; the filter values come from
    * the seed.
    */
  def pool(ctx: Ctx): Map[String, IndexedSeq[Req]] = {
    val r = ctx.rng("dashboard-params")
    def year() = 1995 + r.nextInt(6) // the orders span 1995-01 .. 2001-08
    def month() = 1 + r.nextInt(12)
    def brand() = s"Brand#${1 + r.nextInt(25)}"
    val types = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
    def ptype() = types(r.nextInt(types.size))
    def some[T](use: Boolean, v: => T): Option[T] = if (use) Some(v) else None
    requests.map { kind =>
      kind -> (0 until 3).map { set =>
        kind match {
          case "yearly_agg"   => Req(kind, "", None, MartQueries.yearlyAgg)
          case "monthly_agg"  => Req(kind, "", None, MartQueries.monthlyAgg)
          case "all_time_agg" => Req(kind, "", None, MartQueries.allTimeAgg)
          case "top_artists" =>
            val y = some(set < 2, year()); val m = some(set == 0, month()); val n = 5 + r.nextInt(21)
            Req(kind, s"year=$y month=$m limit=$n", Some(n), (s, d) => MartQueries.topArtists(s, d, y, m, n))
          case "top_tracks" =>
            val y = some(set < 2, year()); val m = some(set == 0, month())
            val a = some(set != 1, brand()); val n = 10 + r.nextInt(21)
            Req(kind, s"year=$y month=$m artist=$a limit=$n", Some(n),
              (s, d) => MartQueries.topTracks(s, d, y, m, a, n))
          case "top_albums" =>
            val y = some(set < 2, year()); val m = some(set == 0, month())
            val n = 5 + r.nextInt(11); val a = some(set == 0, ptype())
            Req(kind, s"year=$y month=$m limit=$n artist=$a", Some(n),
              (s, d) => MartQueries.topAlbums(s, d, y, m, n, a))
          case "album_stats" =>
            val al = brand(); val a = some(set != 1, ptype())
            Req(kind, s"album=$al artist=$a", None, (s, d) => MartQueries.albumStats(s, d, al, a))
          case "variant_detection" => Req(kind, "", None, MartQueries.variantDetection)
        }
      }
    }.toMap
  }

  /** Top-N: at most `limit` rows, ordered by hours_played desc then name. */
  private def topNOk(rows: Array[Row], limit: Int): Boolean =
    rows.length <= limit && rows.sliding(2).forall {
      case Array(a, b) =>
        val (ha, hb) = (a.getAs[Double]("hours_played"), b.getAs[Double]("hours_played"))
        ha > hb || (ha == hb && a.getString(0) <= b.getString(0))
      case _ => true
    }

  def run(ctx: Ctx, dir: String, work: String, seconds: Double, tr: Tracer, out: Outcome): Unit = {
    val spark = ctx.spark
    val reqs = pool(ctx)
    val order = ctx.rng("dashboard-order")
    val seen = scala.collection.mutable.Map.empty[(String, String), Seq[Row]]
    val last = scala.collection.mutable.Map.empty[String, Array[Row]]

    def send(q: Req): Array[Row] =
      if (!tr.enabled) q.call(spark, dir).collect()
      else {
        tr.newRequest()
        tr.span("mart", q.kind) {
          val df = tr.span("mart", "build")(q.call(spark, dir))
          tr.span("mart", "plan")(df.queryExecution.executedPlan)
          tr.span("mart", "exec")(df.collect())
        }
      }

    // warm-up: one untimed, untraced request of each kind, all at once, so
    // the JIT and code generation of the eight plans overlap
    val w0 = System.nanoTime()
    val warm = requests.map(k => new Thread(() => { reqs(k)(0).call(spark, dir).collect(); () }))
    warm.foreach(_.start())
    warm.foreach(_.join())
    out.report("warmup_s") = (System.nanoTime() - w0) / 1e9
    val byKind = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)

    // whole rounds only, so every seed measures the same mix: a round
    // starts while the previous one's duration still fits before the
    // deadline (the first always runs)
    out.fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var n = 0
    var roundNs = 0L
    var sent = List.empty[Req]
    while (n == 0 || System.nanoTime() + roundNs <= deadline) {
      val r0 = System.nanoTime()
      val round = scala.util.Random.javaRandomToRandom(new java.util.Random(order.nextLong()))
        .shuffle(requests)
      val rounds = n / requests.size
      round.foreach { kind =>
        // parameter sets rotate by round and kind, the same for every seed
        val q = reqs(kind)((rounds + requests.indexOf(kind)) % 3)
        val s = System.nanoTime()
        var rows: Array[Row] = null
        val ok = out.op(s"$kind(${q.params})") {
          rows = send(q)
          q.limit.forall(topNOk(rows, _)) && seen.get((kind, q.params)).forall(_ == rows.toSeq)
        }
        out.latencies += (System.nanoTime() - s) / 1e9
        byKind(kind) :+= out.latencies.last
        n += 1
        sent ::= q
        if (ok) { seen((kind, q.params)) = rows.toSeq; if (q.params.isEmpty) last(kind) = rows }
      }
      roundNs = System.nanoTime() - r0
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    out.toMs = System.currentTimeMillis()
    out.throughput = n / elapsed

    // an analyst re-opening an earlier view gets the same rows
    val again = sent(order.nextInt(sent.size))
    out.op(s"repeat ${again.kind}(${again.params})") {
      seen.get((again.kind, again.params)).forall(_ == again.call(spark, dir).collect().toSeq)
    }
    out.op("monthly/yearly/all-time totals agree") {
      val y = last.getOrElse("yearly_agg", MartQueries.yearlyAgg(spark, dir).collect())
      val m = last.getOrElse("monthly_agg", MartQueries.monthlyAgg(spark, dir).collect())
      val all = last.getOrElse("all_time_agg", MartQueries.allTimeAgg(spark, dir).collect())
      def byYear(rows: Array[Row], c: String) =
        rows.groupBy(_.getAs[Long]("year")).map { case (k, rs) => k -> rs.map(_.getAs[Long](c)).sum }
      Seq("total_streams_sessions", "nonskip_sessions").forall { c =>
        byYear(m, c) == byYear(y, c) && y.map(_.getAs[Long](c)).sum == all.head.getAs[Long](c)
      }
    }
    out.report("requests") = n
    out.report("latency_by_kind") = byKind.toMap
    out.report("request_params") = reqs.map { case (k, v) => k -> v.map(_.params).distinct }

    if (tr.enabled) {
      tr.drain()
      val roots = tr.spans.filter(s => s.parent == 0 && s.layer == "mart")
      val kids = tr.spans.groupBy(_.parent)
      def phase(rs: Seq[Span], p: String) = rs.flatMap(r => kids.getOrElse(r.id, Nil).filter(_.name == p).map(_.seconds))
      Seq("build", "plan", "exec").foreach { p =>
        out.layer(s"mart.${p}_s") = Stats.medianOr0(phase(roots, p))
        requests.foreach(k => out.layer(s"mart.$k.${p}_p50_s") = Stats.medianOr0(phase(roots.filter(_.name == k), p)))
      }
      val js = JobSums(tr.jobsOf(roots.flatMap(tr.subtree)))
      val q = math.max(1, roots.size).toDouble
      out.layer("mart.jobs_per_query") = js("jobs") / q
      out.layer("mart.tasks_per_query") = js("tasks") / q
      out.layer("mart.records_read_per_query") = js("records_read") / q
      out.layer("mart.shuffle_mb_per_query") = js("shuffle_mb") / q
    }
  }
}
