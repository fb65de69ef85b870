package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The curation half of `nightly`: the heavy jobs, one closed pass in a
  * fixed order, each waiting for the one before. Every pass runs on a
  * freshly written, seeded, fixed-size sample of the documents, listening
  * facts and embeddings in a new directory, so the program's per-directory
  * caches start cold as they would on a new night's data. The `ops` job
  * chains (dedup, recommendation, graph) do this work and none of the other
  * workloads' work.
  */
object Curate {
  /** `curation_pipeline` is left out: cold, it takes as long as the other
    * five together, and a run of the benchmark has no room for it.
    */
  val jobs: Seq[String] = Seq("dedup_cascade", "dedup_minhash_lsh",
    "rec_als_implicit", "rec_item_item_cf", "knn_graph_communities")

  val tables: Set[String] = Set("documents", "embeddings", "orders", "lineitem", "part", "supplier")

  /** Sample sizes (documents, customers, embeddings), the same at any scale
    * whose tables are large enough.
    */
  private def sampleSizes(sf: Double): (Long, Long, Long) = {
    val s = DataGen.sizes(sf)
    (math.min(1000L, s("documents") / 2), math.min(300L, s("customer") / 2), math.min(500L, s("embeddings") / 2))
  }

  /** Seeded fixed-size sample of the inputs under `to`: documents and
    * embeddings by row, listening facts by customer (whole order
    * histories, so the recommenders see real per-user baskets). Returns
    * the number of documents, customers and embeddings sampled.
    */
  private def sample(ctx: Ctx, dir: String, to: String, pass: Int): Long = {
    val spark = ctx.spark
    val (nDoc, nCust, nVec) = sampleSizes(ctx.sf)
    val salt = s"pass$pass"
    def first(df: org.apache.spark.sql.DataFrame, key: String, n: Long) =
      df.orderBy(xxhash64(col(key), lit(ctx.seed), lit(salt)), col(key)).limit(n.toInt)
    def read(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    first(read("documents"), "doc_id", nDoc).write.parquet(s"$to/documents.parquet")
    first(read("embeddings"), "vec_id", nVec).write.parquet(s"$to/embeddings.parquet")
    val orders = read("orders")
    val custs = first(orders.select("o_custkey").distinct(), "o_custkey", nCust)
    orders.join(broadcast(custs), "o_custkey").select(orders.columns.map(col): _*)
      .write.parquet(s"$to/orders.parquet")
    val li = read("lineitem")
    val keys = spark.read.parquet(s"$to/orders.parquet").select(col("o_orderkey").as("l_orderkey"))
    li.join(keys, "l_orderkey").select(li.columns.map(col): _*).write.parquet(s"$to/lineitem.parquet")
    Seq("part", "supplier").foreach(t => read(t).write.parquet(s"$to/$t.parquet"))
    nDoc + nCust + nVec
  }

  /** Order-independent digest of a result: sorted rows, doubles at six
    * significant digits.
    */
  def digest(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case d: Double => f"$d%.6g"
      case f: Float  => f"${f.toDouble}%.6g"
      case null      => "null"
      case x         => x.toString
    }
    val lines = rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** What each job's result must satisfy on any input. */
  private def invariant(job: String, rs: Array[Row], nDoc: Long, nVec: Long): Boolean = {
    def ids(c: String) = rs.toSeq.map(_.getAs[Long](c))
    def unique[T](xs: Seq[T]) = xs.distinct.size == xs.size
    job match {
      case "curation_pipeline" =>
        val st = rs.sortBy(_.getAs[Long]("stage_order"))
        st.nonEmpty && st.head.getAs[Long]("n_in") == nDoc &&
          st.forall(r => r.getAs[Long]("n_in") - r.getAs[Long]("n_kept") == r.getAs[Long]("n_dropped")) &&
          st.sliding(2).forall(p => p.length < 2 || p(0).getAs[Long]("n_kept") == p(1).getAs[Long]("n_in"))
      case "dedup_cascade" =>
        rs.length == nDoc && unique(ids("doc_id"))
      case "dedup_minhash_lsh" =>
        unique(ids("doc_id")) && rs.forall(r => r.getAs[Long]("keeper_doc_id") <= r.getAs[Long]("doc_id"))
      // the recommenders may rightly return nothing for a tiny cohort
      case "rec_als_implicit" =>
        unique(rs.map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("rank"))).toSeq) &&
          rs.forall(r => !r.getAs[Double]("score").isNaN)
      case "rec_item_item_cf" =>
        unique(rs.map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("rank"))).toSeq) &&
          rs.forall(r => r.getAs[Long]("item_id") != r.getAs[Long]("rec_item_id") &&
            math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9)
      case "knn_graph_communities" =>
        val sizes = rs.groupBy(_.getAs[Long]("community")).map { case (c, m) => c -> m.length.toLong }
        rs.length == nVec && unique(ids("vec_id")) &&
          rs.forall(r => r.getAs[Long]("community_size") == sizes(r.getAs[Long]("community")))
      case _ => rs.nonEmpty
    }
  }

  /** One pass over a fresh sample under `work`; returns the sample's size
    * (documents, customers and embeddings, fixed for a scale).
    * Job results are checked against their invariants and, where `ctx`
    * knows digests for this seed and scale, against those.
    */
  def pass(ctx: Ctx, dir: String, work: String, passNo: Int, tr: Tracer, out: Outcome): Long = {
    val spark = ctx.spark
    val (nDoc, _, nVec) = sampleSizes(ctx.sf)
    val size = sample(ctx, dir, work, passNo)
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val p0 = System.nanoTime()
    jobs.foreach { j =>
      val j0 = System.nanoTime()
      out.op(j) {
        val rs = tr.span("ops", j) {
          val df = tr.span("ops", "build")(SparkEntry.queries(j)(spark, work))
          tr.span("ops", "exec")(df.collect())
        }
        digests(j) = digest(rs)
        invariant(j, rs, nDoc, nVec) &&
          (passNo > 1 || ctx.digests.get(j).forall(_ == digests(j)))
      }
      out.report(s"curate.$j.s") = (System.nanoTime() - j0) / 1e9
    }
    out.report("curate_s") = (System.nanoTime() - p0) / 1e9
    if (passNo == 1) out.report("curate_digests") = digests.toMap
    if (tr.enabled) {
      tr.drain()
      val roots = tr.spans.filter(s => s.layer == "ops" && s.parent == 0)
      val kids = tr.spans.groupBy(_.parent)
      var runS, wallS, jobsN, tasksN = 0.0
      roots.groupBy(_.name).foreach { case (j, ss) =>
        val js = JobSums(tr.jobsOf(ss.flatMap(tr.subtree)))
        val n = ss.size.toDouble
        out.layer(s"ops.$j.s") = ss.map(_.seconds).sum / n
        out.layer(s"ops.$j.build_s") =
          ss.flatMap(s => kids.getOrElse(s.id, Nil).filter(_.name == "build")).map(_.seconds).sum / n
        out.layer(s"ops.$j.jobs") = js("jobs") / n
        out.layer(s"ops.$j.tasks") = js("tasks") / n
        out.layer(s"ops.$j.cpu_s") = js("cpu_s") / n
        out.layer(s"ops.$j.shuffle_mb") = js("shuffle_mb") / n
        runS += js("run_s"); wallS += ss.map(_.seconds).sum; jobsN += js("jobs"); tasksN += js("tasks")
      }
      out.layer("ops.tasks_per_job") = if (jobsN > 0) tasksN / jobsN else 0.0
      out.layer("ops.core_util") = if (wallS > 0) runS / (wallS * ctx.cores) else 0.0
    }
    size
  }
}
