package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Schemas.EntityDesc
import graft.sources.{Corruptions, Generator}

/** Seeded inputs for the three workloads. Every value is a pure function
  * of (seed, row id, field), so the same seed gives the same inputs at
  * any parallelism. */
object Inputs {

  private def u(seed: Long, id: Column, field: String): Column = Generator.u(seed, id, field)

  // ---------------------------------------------------------------- ingest

  /** One entity topic's backlog: every row it publishes, tagged with the
    * topic file (`_file`) it lands in. File 0 holds only first versions;
    * file i > 0 holds new keys plus re-publications of a share of the keys
    * first published in file i - 1, with a newer version and a changed
    * payload. Corruption follows the reference's default probabilities. */
  final case class Topic(desc: EntityDesc, rows: DataFrame)

  /** Share of keys that are published again in the next file. */
  val RepublishShare = 0.15

  def backlog(spark: SparkSession, seed: Long, events: Long, files: Int): Seq[Topic] = {
    val s = graft.Settings.Defaults
    val nOrders = events / 2
    val nCustomers = math.max(20L, events / 8)
    val nProducts = math.max(20L, events / 16)
    def build(desc: EntityDesc, base: DataFrame,
        corrupt: (DataFrame, Double, Long) => DataFrame,
        update: DataFrame => DataFrame): Topic = {
      val key = col(desc.pk)
      val p = s.corruptionP(desc.topic)
      val file = pmod(xxhash64(lit(seed), key, lit("file")), lit(files)).cast("int")
      val first = corrupt(base, p, seed + 1).withColumn("_file", file)
      val again = corrupt(update(base), p, seed + 2)
        .filter(u(seed, key, "republish") < RepublishShare)
        .withColumn("_file", file + 1)
        .filter(col("_file") < files)
      Topic(desc, first.unionByName(again))
    }
    val hour = expr("INTERVAL 1 HOUR")
    Seq(
      build(graft.Schemas.productsDesc,
        Generator.products(spark, nProducts, seed), Corruptions.products,
        _.withColumn("price", round(col("price") * 1.1, 2))),
      build(graft.Schemas.customersDesc,
        Generator.customers(spark, nCustomers, seed), Corruptions.customers,
        _.withColumn("name", concat(col("name"), lit(" Jr")))),
      build(graft.Schemas.ordersDesc,
        Generator.orders(spark, nOrders, nCustomers, nProducts, seed), Corruptions.orders,
        _.withColumn("status", lit("delivered"))
          .withColumn("updated_at", col("updated_at") + hour)),
      build(graft.Schemas.eventsDesc,
        Generator.events(spark, events, nCustomers, seed), Corruptions.events,
        _.withColumn("props", lit("""{"k":100}"""))
          .withColumn("timestamp", col("timestamp") + hour)))
  }

  /** Write a materialized topic backlog as one Kafka-frame topic file per
    * `_file`, with per-partition offsets monotone across files. */
  def produce(topic: Topic, files: Int, partitions: Int, dir: String): Unit = {
    val stride = topic.rows.count() + 1
    for (i <- 0 until files)
      graft.streaming.KafkaShaped.writeTopicFile(
        topic.rows.filter(col("_file") === i).drop("_file"), topic.desc.pk,
        topic.desc.topic, partitions, i * stride, dir)
  }

  /** The normalized table an ingest drain must produce, computed from the
    * generated rows alone: valid rows only, the latest version per key
    * winning and a later file breaking a version tie (its offsets are
    * later on every partition), money cast to DECIMAL(10,2). */
  def expectedNormalized(topic: Topic, schema: StructType): DataFrame = {
    val valid = graft.operators.Validation.split(topic.rows, topic.desc.rules).valid
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(topic.desc.pk))
      .orderBy(col(topic.desc.versionCol).desc, col("_file").desc)
    val latest = valid.withColumn("_rank", row_number().over(w)).filter(col("_rank") === 1)
    latest.select(schema.fields.toIndexedSeq.map { f =>
      val c = if (latest.columns.contains(f.name)) col(f.name) else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)
  }

  // -------------------------------------------------------------- documents

  val Vocabulary: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the")
  val Langs: Seq[String] = Seq("en", "en", "zh", "es", "fr", "de")

  /** `n` documents (doc_id, text, lang, source, n_chars): 10–99 words drawn
    * from a small vocabulary, with 2 % exact copies and 2 % near copies
    * (one word appended) of an earlier document. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val vocab = Vocabulary.map(w => s"'$w'").mkString("array(", ",", ")")
    def uSql(id: String, field: String, extra: String = "") =
      s"cast(shiftrightunsigned(xxhash64(${seed}L, $id, '$field'$extra), 11) as double) / 9007199254740992.0"
    def textOf(id: String) =
      s"""array_join(transform(sequence(1, cast(floor(${uSql(id, "len")} * 90) + 10 as int)),
            i -> element_at($vocab, cast(floor(${uSql(id, "w", ", i")} * ${Vocabulary.size}) + 1 as int))), ' ')"""
    val id = col("id")
    val kind = u(seed, id, "kind")
    val src = when(kind < 0.02 && id >= 7, id - 7)
      .when(kind < 0.04 && id >= 3, id - 3).otherwise(id)
    spark.range(n)
      .withColumn("src", src)
      .withColumn("text0", expr(textOf("src")))
      .select(
        id.as("doc_id"),
        when(kind >= 0.02 && kind < 0.04 && id >= 3, concat(col("text0"), lit(" dup")))
          .otherwise(col("text0")).as("text"),
        Generator.choice(seed, id, "lang", Langs).as("lang"),
        concat(lit("src"), floor(u(seed, id, "source") * 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ------------------------------------------------------ dashboard tables

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** TPC-H-shaped star schema plus events, documents and embeddings at
    * scale factor `sf` (sf 1 = 6M lineitem rows), the table set every
    * cataloged query and `Report.build` read. */
  def tables(spark: SparkSession, seed: Long, sf: Double, docs: Long): Map[String, DataFrame] = {
    val id = col("id")
    def n(base: Double, min: Long) = math.max(min, (base * sf).toLong)
    val nCust = n(150000, 50)
    val nSupp = n(10000, 10)
    val nPart = n(200000, 50)
    val nOrd = n(1500000, 200)
    val nEv = n(1000000, 200)
    def pick(field: String, xs: Seq[String]) = Generator.choice(seed, id, field, xs)
    def intIn(field: String, lo: Long, hi: Long) =
      (floor(u(seed, id, field) * (hi - lo + 1)) + lo).cast("long")
    val day0 = "1995-01-01"
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      intIn("c_nat", 0, 24).cast("int").as("c_nationkey"),
      round(u(seed, id, "c_bal") * 10999.0 - 999.0, 2).as("c_acctbal"),
      pick("c_seg", Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"))
        .as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      intIn("s_nat", 0, 24).cast("int").as("s_nationkey"),
      round(u(seed, id, "s_bal") * 10999.0 - 999.0, 2).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat(lit("part "), id.cast("string")).as("p_name"),
      concat(lit("Brand#"), intIn("p_brand", 1, 25).cast("string")).as("p_brand"),
      pick("p_type", Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"))
        .as("p_type"),
      intIn("p_size", 1, 50).cast("int").as("p_size"),
      round(u(seed, id, "p_price") * 1100.0 + 900.0, 2).as("p_retailprice"))
    val orderDate = (d: Column) => to_timestamp(date_add(lit(day0).cast("date"), d.cast("int")))
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      intIn("o_cust", 0, nCust - 1).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(seed, id, "o_total") * 500000.0 + 800.0, 2).as("o_totalprice"),
      orderDate(intIn("o_date", 0, 2403)).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = spark.range(nOrd)
      .withColumn("ln", explode(sequence(lit(1), (floor(u(seed, id, "n_lines") * 7) + 1)
        .cast("int"))))
      .withColumn("lid", id * 8 + col("ln"))
      .select(id.as("l_orderkey"),
        (floor(u(seed, col("lid"), "l_part") * nPart)).cast("long").as("l_partkey"),
        (floor(u(seed, col("lid"), "l_supp") * nSupp)).cast("long").as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (floor(u(seed, col("lid"), "l_qty") * 50) + 1).cast("double").as("l_quantity"),
        round(u(seed, col("lid"), "l_price") * 100000.0 + 900.0, 2).as("l_extendedprice"),
        (floor(u(seed, col("lid"), "l_disc") * 11) / 100.0).as("l_discount"),
        (floor(u(seed, col("lid"), "l_tax") * 9) / 100.0).as("l_tax"),
        Generator.choice(seed, col("lid"), "l_rf", Seq("R", "A", "N")).as("l_returnflag"),
        Generator.choice(seed, col("lid"), "l_ls", Seq("O", "F")).as("l_linestatus"),
        orderDate(floor(u(seed, col("lid"), "l_ship") * 2500)).as("l_shipdate"))
    val events = spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u(seed, id, "ts") * lit(30.0 * 86400000000.0)).cast("long")).as("ts"),
      intIn("user", 0, nCust - 1).as("user_id"),
      pick("ev_type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(u(seed, id, "value") * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", intIn("k", 0, 99)).as("props"))
    val embeddings = spark.range(docs)
      .withColumn("raw", transform(sequence(lit(1), lit(64)),
        i => (shiftrightunsigned(xxhash64(lit(seed), id, lit("emb"), i), 11)
          .cast("double") / 9007199254740992.0 - 0.5)))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        intIn("label", 0, 9).cast("int").as("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents(spark, docs, seed), "embeddings" -> embeddings)
  }
}
