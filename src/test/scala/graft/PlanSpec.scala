package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB guardrails: no accidental
  * cartesian products, pushdown reaching the parquet scan, broadcasts on
  * the tiny dimensions, whole-stage codegen on the hot paths. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  /** Queries allowed to contain a nested-loop join — each one a
    * guaranteed-single-row broadcast: o5's 1×1 scalar compare, the
    * query-vector broadcasts in l3/l12, l10's 1×1 stats-row combine,
    * and the 1-row planted-offset max-agg in l9/l10/l14 (plan-internal
    * since round 4; LshSpec asserts those NL joins are offset-only). */
  private val nlAllowed =
    Set("o5_except_intersect", "l3_cosine_topk", "l12_ann_lsh", "l10_simhash",
      "l9_minhash_neardup", "l14_cosine_neardup",
      // l16: the k-row centroid broadcast (k=16 ≪ corpus) is the IVF
      // assignment step itself, plus the 1-row query-vector broadcast.
      "l16_ann_ivf",
      // l26: l16's centroid broadcast plus the 1-row invariant-counter
      // combines (off/n_vecs/n_candidates/n_planted — same shape as l14;
      // IvfSpec's plan case asserts they are 1-row aggregates only).
      "l26_semantic_dedup",
      // l28: the 1-row n_unconverged invariant broadcast (a global agg).
      "l28_dedup_components",
      // l29: three 1-row invariant broadcasts (n_clusters /
      // n_exact_dup_escapees / n_unconverged — each a global agg
      // crossJoined onto the 15-row matrix).
      "l29_curation_neardup",
      // l33: plantedFull's 1-row offset broadcast (the same
      // planted-corpus construction l9/l29 carry).
      "l33_substring_dedup",
      // l36: l16's exact shapes — the k-row centroid broadcast, the
      // 1-row query-vector/quantized-query broadcasts, and the 1-row
      // overlap/agreement counters crossJoined onto the top-k frame.
      "l36_ann_ivf_int8",
      // l38: the 1-row corpus-count broadcast that scales the 6%
      // document-frequency bar (a global agg crossJoined onto the df
      // frame).
      "l38_line_dedup",
      // l39: the 1-row smoothing-totals broadcast onto the B-row llr
      // table, and the k-row chosen-set broadcast mark join.
      "l39_dsir_sample",
      // l44: the 1-row planted-offset broadcast building the v1
      // fixture's removed-doc ids.
      "l44_snapshot_diff",
      // l42: the brute semantic screen against the eval SUITE — bounded
      // by construction (a benchmark set, not a corpus), broadcast as
      // the BNLJ build side — plus the 1-row planted-offset broadcast.
      "l42_semantic_decontam",
      // l45: the 1-row n_min broadcast crossJoined onto the L-row
      // language-count frame (the data-dependent rate table's anchor).
      "l45_temperature_mix",
      // l46/l47/l49: the standard 1-row planted-offset broadcast
      // building each fixture's planted ids (v1 removed docs / planted
      // train docs; l48's mirror is source-grained and needs no ids).
      "l46_incremental_dedup", "l47_span_decontam",
      "l49_incremental_neardup",
      // l50: l16's k-row centroid broadcast — the IVF assignment step.
      "l50_prototype_prune",
      // l51: the 1-row (corpus_tokens, n_langs) totals broadcast onto
      // the L-row per-language plan frame.
      "l51_epoch_plan",
      // l52: the 1-row (n_tokens, bound) totals broadcast onto the
      // sketch-audit join.
      "l52_heavy_hitters",
      // l53: the 1-row planted-offset broadcast plus the 1-row invariant
      // counters crossJoined onto the single result row (l14's shape).
      "l53_media_phash_dedup",
      // l59: the same 1-row planted-offset broadcast as l44/l46 — the
      // shared v1Snapshot fixture construction (everything downstream
      // is equi-joins on the tiny post-agg (dim, val) frame).
      "l59_dist_drift",
      // l61: the 1-row (budget, n) and 1-row water-level broadcasts
      // crossJoined onto the L-row language frame (l45/l51's shape).
      "l61_budget_waterfill",
      // l62: the same two 1-row broadcasts (totals, water level)
      // crossJoined onto the L-row frame — the composed l45/l51/l61
      // report inherits their shapes.
      "l62_mix_plan",
      // l64/l65/l66: plantedFull's 1-row offset broadcast (the l33
      // planted-corpus construction these cut/profile variants share).
      "l64_substring_cut", "l65_substring_cut_global", "l66_dup_profile",
      // l69: the 1-row planted-offset broadcast building the degraded
      // fixture copies (l47's construction).
      "l69_gopher_quality",
      // l74: plantedFull's 1-row offset broadcast (the l33/l64
      // planted-corpus construction the winnowing audit shares).
      "l74_winnow_fingerprints",
      // l77: the 1-row token-total broadcast crossJoined onto the
      // min-count-filtered pair frame (l51/l52's totals shape).
      "l77_collocations",
      // l80: the 1-row planted-offset broadcast building the media
      // copies (l53's construction).
      "l80_media_by_source",
      // r1/r2: the 1-row offset and 1-row quote broadcasts building the
      // planted shard classes (l53/l74's construction family).
      "r1_release_roundtrip", "r2_releasecut_roundtrip",
      // r3: the 1-row planted-offset broadcast building the media shard
      // classes (l80's construction on the release lifecycle).
      "r3_media_release_roundtrip",
      // c1: r1's 1-row offset and 1-row quote broadcasts, one class
      // deeper (the build-gate shard construction).
      "c1_corpus_build")

  test("no catalog query plans a CartesianProduct") {
    for (dq <- SparkEntry.catalog) {
      val plan = dq.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${dq.name} plans a cartesian product")
    }
  }

  test("nested-loop joins only where a side is a known single row") {
    for (dq <- SparkEntry.catalog if !nlAllowed(dq.name)) {
      val plan = dq.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"${dq.name} plans an unexpected nested-loop join")
    }
  }

  test("ANN query construction is action-free once the sizing memo is warm " +
      "(plan-only consumers must not launch cluster jobs)") {
    // l16/l26 size IVF's k from the corpus count; the count lives in a
    // per-JVM memo (Tables.rowCount), so after this warm-up call,
    // CONSTRUCTING the plans below must start zero Spark jobs. l12 is
    // included as the always-lazy reference point (probeLshJoin).
    // l26 additionally consumes the shared centroid pin
    // (sharedIvfCentroids, an eager Pins.shared frame), so — exactly
    // like sharedPairs for l9/l28/l29 — the FIRST construction per JVM
    // trains, and the pin covers every construction after (the shape
    // bench re-runs and plan sweeps actually hit). Warm both.
    graft.Tables.rowCount(spark, sf, "embeddings")
    operators.LlmQueries.l26.fn(spark, sf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      operators.LlmQueries.l12.fn(spark, sf)
      operators.LlmQueries.l16.fn(spark, sf)
      operators.LlmQueries.l26.fn(spark, sf)
      // listener bus is async: give a stray job event time to surface
      Thread.sleep(1000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0,
      s"${jobs.get()} Spark job(s) launched during plan construction")
  }

  test("shared frames go through Pins: no lazy checkpoint and no private " +
      "frame memo anywhere under src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"no src/main/scala under ${sys.props("user.dir")}")
    val banned = Seq(
      """localCheckpoint\(\s*false\s*\)""",
      """eager\s*=\s*false""",
      """ConcurrentHashMap\[\s*String\s*,\s*DataFrame\s*\]""").map(_.r)
    val files = java.nio.file.Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          banned.flatMap(_.findAllIn(text)).map(m => s"$p: $m")
        }.toList
      finally files.close()
    assert(hits.isEmpty, s"share frames through graft.Pins instead:\n${hits.mkString("\n")}")
  }

  test("p2 filter reaches the parquet scan as a pushed filter") {
    val plan = operators.RelationalQueries.p2.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("p_size") || plan.contains("p_brand"))
  }

  test("p1 projection prunes the lineitem scan to the referenced columns") {
    val plan = operators.RelationalQueries.p1.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_shipdate"), s"unpruned scan: $readSchema")
  }

  test("j1 star join broadcasts the tiny dimensions") {
    val plan = operators.RelationalQueries.j1.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("j8 broadcasts the supplier-side dimensions (fact never shuffles for the join)") {
    val df = operators.RelationalQueries.j8.fn(spark, sf)
    df.collect() // finalize adaptively
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"j8 shuffles a dimension join:\n$plan")
  }

  test("o1 top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = operators.SetOpQueries.o1.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("a1 aggregation is partial (map-side combine before the shuffle)") {
    val plan = operators.RelationalQueries.a1.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"))
  }

  test("CBO: column stats flip a selectively-filtered join to broadcast") {
    import org.apache.spark.sql.functions._
    import graft.sources.Stats
    def reset(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$name")
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    reset("cbo_fact"); reset("cbo_dim")
    spark.range(300000).select(col("id").as("k"), (col("id") * 7).as("v"))
      .write.saveAsTable("cbo_fact")
    spark.range(400000).select(col("id").as("k"), (col("id") % 100).as("sel"))
      .write.saveAsTable("cbo_dim")
    def plan: String = spark.table("cbo_fact")
      .join(spark.table("cbo_dim").filter(col("sel") === 1), "k")
      .queryExecution.executedPlan.toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Threshold between the dim's FILE size (MBs — all the optimizer
      // knows without stats) and its stats-estimated filtered output
      // (~1% of rows): the same query must plan SMJ blind and broadcast
      // informed.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      assert(plan.contains("SortMergeJoin"),
        s"without stats the filtered dim must look too big to broadcast:\n$plan")
      Stats.analyze(spark, "cbo_dim", Seq("k", "sel"))
      Stats.analyze(spark, "cbo_fact", Seq("k"))
      assert(plan.contains("BroadcastHashJoin"),
        s"with column stats the 1%-selectivity filter must broadcast:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("the round-12 row-local operators plan NO join at all — " +
      "blocklist, epoch order, media rules, curriculum ride the scan") {
    // each claims "row-local until the rollup" in its scaladoc; a join
    // appearing here means provenance or rules started shuffling data
    for (name <- Seq("l54_blocklist_filter", "l55_epoch_shuffle",
        "l58_media_quality", "l60_curriculum_order")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
    }
  }

  test("hot relational queries run inside WholeStageCodegen") {
    for (dq <- Seq(operators.RelationalQueries.p1, operators.RelationalQueries.j2,
        operators.RelationalQueries.a1)) {
      val df = dq.fn(spark, sf)
      df.collect() // finalize THIS plan adaptively; codegen spans only show then
      val plan = df.queryExecution.executedPlan.toString
      // "*(n) " prefixes mark WholeStageCodegen spans in the plan tree.
      assert(plan.contains("*("), s"${dq.name} not codegen'd:\n$plan")
    }
  }

  test("per-row LLM text/vector math stays inside WholeStageCodegen (no UDF hot paths)") {
    // The HOF-based operators (regex tokenize, rolling hash, dot
    // products) must compile to codegen'd expressions — a Scala UDF
    // sneaking in would show as a BatchEvalPython/Invoke break with no
    // codegen span around the scan+project.
    for (dq <- Seq(operators.LlmQueries.l5, operators.LlmQueries.l6,
        operators.LlmQueries.l8, operators.LlmQueries.l3)) {
      val df = dq.fn(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"${dq.name} not codegen'd:\n$plan")
      assert(!plan.contains("BatchEvalPython"), s"${dq.name} has a Python UDF")
    }
  }
}
