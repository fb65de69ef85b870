package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the tables the workloads read, in the shape of the
  * sf0.1 test data: TPC-H-like `supplier`, `part`, `orders`, `lineitem`,
  * plus `documents` and `embeddings`. (`users` sizes the event streams
  * [[Ingest]] writes itself.)
  *
  * Row counts depend on the scale factor only, never on the seed; every
  * column value is `xxhash64(row id, seed, salt)`, so one seed gives the
  * same tables on any partitioning and any run.
  */
object DataGen {

  /** Row count of each table at scale factor `sf` (sf 0.1 = the sizes of
    * the sf0.1 test data).
    */
  def sizes(sf: Double): Map[String, Long] = {
    def n(atOne: Double, floor: Long) = math.max(floor, math.round(atOne * sf))
    Map(
      "supplier" -> n(10000, 10), "customer" -> n(150000, 150), "part" -> n(200000, 200),
      "orders" -> n(1500000, 1500), "lineitem" -> n(6000000, 6000),
      "users" -> n(15000, 20),
      "documents" -> n(50000, 60), "embeddings" -> n(20000, 40))
  }

  private def hv(c: Column, seed: Long, salt: String): Column = xxhash64(c, lit(seed), lit(salt))
  /** uniform integer in [0, m) */
  def h(c: Column, seed: Long, salt: String, m: Long): Column = pmod(hv(c, seed, salt), lit(m))
  /** uniform double in [0, 1) */
  def u(c: Column, seed: Long, salt: String): Column =
    pmod(hv(c, seed, salt), lit(1000000L)).cast("double") / 1000000.0
  private def pick(c: Column, seed: Long, salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(c, seed, salt, values.size.toLong) + 1).cast("int"))

  val adjectives = Seq("large", "small", "bright", "quiet", "dark", "slow", "fast", "loud")
  val nouns = Seq("ring", "song", "river", "night", "road", "dream", "fire", "storm")
  val words = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch")

  /** The tables named in `only` under `dir`; returns their row counts. */
  def generate(spark: SparkSession, dir: String, seed: Long, sf: Double,
      only: Set[String]): Map[String, Long] = {
    val sz = sizes(sf)
    val id = col("id")
    def range(name: String) = spark.range(sz(name))
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "supplier" -> (() => range("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        h(id, seed, "s_nation", 25).cast("int").as("s_nationkey"),
        round(u(id, seed, "s_bal") * 10999.0 - 999.0, 2).as("s_acctbal"))),
      "part" -> (() => range("part").select(id.as("p_partkey"),
        concat(pick(id, seed, "p_adj", adjectives), lit(" "), pick(id, seed, "p_noun", nouns)).as("p_name"),
        concat(lit("Brand#"), (h(id, seed, "p_brand", 25) + 1).cast("string")).as("p_brand"),
        pick(id, seed, "p_type", Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
        (h(id, seed, "p_size", 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000).cast("double") / 10.0).as("p_retailprice"))),
      "orders" -> (() => range("orders").select(id.as("o_orderkey"),
        h(id, seed, "o_cust", sz("customer")).as("o_custkey"),
        pick(id, seed, "o_status", Seq("O", "F", "P")).as("o_orderstatus"),
        round(u(id, seed, "o_price") * 400000.0 + 900.0, 2).as("o_totalprice"),
        date_add(lit(java.sql.Date.valueOf("1995-01-01")), h(id, seed, "o_date", 2404).cast("int"))
          .cast("timestamp").as("o_orderdate"),
        pick(id, seed, "o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))),
      "lineitem" -> (() => {
        val part = h(id, seed, "l_part", sz("part"))
        val qty = (h(id, seed, "l_qty", 50) + 1).cast("double")
        range("lineitem").select(
          h(id, seed, "l_order", sz("orders")).as("l_orderkey"),
          part.as("l_partkey"),
          h(id, seed, "l_supp", sz("supplier")).as("l_suppkey"),
          (h(id, seed, "l_line", 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + (part % 1000).cast("double") / 10.0), 2).as("l_extendedprice"),
          (h(id, seed, "l_disc", 11).cast("double") / 100.0).as("l_discount"),
          (h(id, seed, "l_tax", 9).cast("double") / 100.0).as("l_tax"),
          pick(id, seed, "l_rf", Seq("N", "A", "R")).as("l_returnflag"),
          pick(id, seed, "l_ls", Seq("O", "F")).as("l_linestatus"),
          date_add(lit(java.sql.Date.valueOf("1995-01-01")), h(id, seed, "l_ship", 2500).cast("int"))
            .cast("timestamp").as("l_shipdate"))
      }),
      "documents" -> (() => documents(spark, seed, sz("documents"))),
      "embeddings" -> (() => embeddings(spark, seed, sz("embeddings"))))
    tables.filter { case (name, _) => only(name) }.map { case (name, df) =>
      df().write.parquet(s"$dir/$name.parquet")
      name -> sz(name)
    }.toMap
  }

  /** Text corpus with ~5% near-duplicates (each copies the words of a doc
    * 1..6 ids back and appends " dup"), so the dedup jobs have work.
    */
  private def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = array(words.map(lit): _*)
    val id = col("doc_id")
    spark.range(n).withColumnRenamed("id", "doc_id")
      .withColumn("is_dup", id >= 6 && h(id, seed, "dup?", 100) < 5)
      .withColumn("content", when(col("is_dup"), id - 1 - h(id, seed, "back", 6)).otherwise(id))
      .withColumn("len", h(col("content"), seed, "len", 90) + 10)
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0L), col("len") - 1),
          i => element_at(vocab, (pmod(xxhash64(col("content"), i, lit(seed)), lit(words.size.toLong)) + 1)
            .cast("int"))), " "),
        when(col("is_dup"), lit(" dup")).otherwise(lit(""))))
      .withColumn("lang", pick(id, seed, "lang", Seq("en", "en", "en", "zh", "es", "fr", "de")))
      .withColumn("source", concat(lit("src"), h(id, seed, "src", 20).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** 64-dim vectors as label centre + noise over 10 labels. */
  private def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("vec_id")
    spark.range(n).withColumnRenamed("id", "vec_id")
      .withColumn("label", h(id, seed, "label", 10).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit("center"), col("label"), j, lit(seed)), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.35 +
          (pmod(xxhash64(id, j, lit(seed)), lit(2001L)).cast("double") / 1000.0 - 1.0) * 0.12)
          .cast("float")))
      .select("vec_id", "embedding", "label")
  }
}
