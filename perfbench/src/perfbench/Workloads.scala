package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{AdmissionPipeline, IngestPipeline, StreamingDecontam, StreamingNearDup}
import graft.operators.{DedupIndex, SubstringIndex, WinnowIndex}

/** Shared by the two streaming workloads: batch latencies from each
  * query's own progress record (no listener in an untraced pass). */
object Streams {
  private def seconds(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
    p.durationMs.get("triggerExecution").longValue / 1e3

  /** Record each query's batches with input; its first batch separately. */
  def collect(p: Pass, qs: Seq[StreamingQuery]): Unit =
    for (q <- qs) {
      val bs = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      p.batchS ++= bs.map(seconds)
      p.firstS ++= bs.headOption.map(seconds)
      p.laterS ++= bs.drop(1).map(seconds)
    }

  /** Batches per second once a query is past its first batch, which
    * absorbs planning and JIT warm-up. */
  def speed(p: Pass): Double = 1.0 / Stats.median(p.laterS.toSeq)

  /** `latency_p50_s` is the median over the batches after each query's
    * first, so it is the steady per-batch cost; the first batches (planning,
    * warm-up) are `latency_first_s`. */
  def streamMetrics(w: Workload, p: Pass): Seq[(String, String, Double)] = {
    val (tail, pct, n) = Stats.tail(p.batchS.toSeq)
    w.info("batch_tail_s") = tail
    w.info("batch_tail_percentile") = pct
    w.info("batch_samples") = n
    w.info("batch_p50_all_s") = Stats.median(p.batchS.toSeq)
    Seq(("records_per_s", "1/s", p.records / p.drainS),
      ("latency_p50_s", "s", Stats.median(p.laterS.toSeq)),
      ("latency_first_s", "s", Stats.median(p.firstS.toSeq)))
  }
}

/** One streaming path of a workload: its inputs and one drain of them.
  * It works in the workload's session, trace and directories. */
abstract class StreamPath(val w: Workload) {
  def spark: SparkSession = w.spark
  def tiny: Boolean = w.tiny
  def seed: Long = w.a.seed
  def setupDir: String = w.setupDir
  def info: mutable.Map[String, Any] = w.info

  def setup(): Unit

  /** Drain the stream once, outputs under `dir`; check them when `p` is
    * the measured pass. */
  def round(p: Pass, r: Int, dir: String): Unit
}

/** A streaming workload: its paths set up and drained one after another
  * in one session. */
final class StreamWorkload(a: Main.Args, val name: String, paths: Workload => Seq[StreamPath])
    extends Workload(a) {
  private val ps = paths(this)
  def setup(): Unit = ps.foreach(_.setup())
  def round(p: Pass, r: Int, dir: String): Unit = ps.foreach(_.round(p, r, dir))
  def metrics(p: Pass): Seq[(String, String, Double)] = Streams.streamMetrics(this, p)
  def speed(p: Pass): Double = Streams.speed(p)
}

/** `ingest` path: closed-loop catch-up drain of the four e-commerce topics
  * through `IngestPipeline.start`, the four streams running together as
  * `graft.Ingest.run` starts them. */
final class IngestPath(w: Workload) extends StreamPath(w) {
  val events: Long = if (tiny) 400 else 4000
  val files: Int = if (tiny) 2 else 3
  val partitions: Int = graft.Settings.Defaults.topicPartitions
  info("events") = events
  info("files_per_topic") = files
  info("max_files_per_trigger") = 1

  def topics(): Seq[Inputs.Topic] = Inputs.backlog(spark, seed, events, files)

  /** The set-up's materialized backlog; the measured pass runs in the
    * set-up's session, where it stays readable. */
  private var backlog: Seq[Inputs.Topic] = Nil

  def setup(): Unit = {
    val ts = w.part("sources.generate") {
      Stats.inParallel(topics())(t => t.copy(rows = t.rows.localCheckpoint(true)))
    }
    w.part("produce.write") {
      Stats.inParallel(ts)(t =>
        Inputs.produce(t, files, partitions, s"$setupDir/topics/${t.desc.topic}"))
    }
    w.addBytes("produce_bytes", Stats.dirBytes(s"$setupDir/topics"))
    info("input_records") = ts.map(_.rows.count()).sum
    backlog = ts
  }

  def round(p: Pass, r: Int, dir: String): Unit = {
    val sinks = graft.Schemas.all.map { d =>
      d -> IngestPipeline.Sinks(s"$dir/${d.topic}/raw", s"$dir/${d.topic}/normalized",
        s"$dir/${d.topic}/rejects", s"$dir/${d.topic}/stats", s"$dir/${d.topic}/_checkpoint")
    }
    val t0 = System.nanoTime()
    val done = p.op("ingest.drain")(w.tracer.span("IngestPipeline.start(4 topics).drain") {
      val qs = sinks.map { case (d, s) =>
        IngestPipeline.start(spark, s"$setupDir/topics/${d.topic}", s, d.schema,
          d.pk, d.versionCol, d.rules, maxFilesPerTrigger = Some(1), moneyCols = d.moneyCols)
      }
      qs.foreach(_.awaitTermination())
      qs
    })
    val wall = (System.nanoTime() - t0) / 1e9
    done.foreach { qs =>
      Streams.collect(p, qs)
      p.drainS += wall
      if (p.label == "main") {
        val v0 = System.nanoTime()
        verify(p, r, sinks)
        info("ingest_verify_s") = (System.nanoTime() - v0) / 1e9
      }
    }
  }

  /** One topic's outputs and, when the backlog is at hand, what they must
    * equal. */
  private final case class TopicCheck(topic: String, produced: Long, raw: Long, rejects: Long,
      nIn: Long, nFresh: Long, normalized: Long,
      expected: Option[(Long, (Long, BigDecimal), (Long, BigDecimal))])

  /** Checks the four topics concurrently, as the streams ran. */
  private def verify(p: Pass, r: Int,
      sinks: Seq[(graft.Schemas.EntityDesc, IngestPipeline.Sinks)]): Unit = {
    val ts = if (r > 0) Nil else backlog
    val results = Stats.inParallel(sinks) { case (d, s) =>
      checkTopic(d, s, ts.find(_.desc == d))
    }
    for (c <- results) {
      val t = c.topic
      p.records += c.produced
      p.check(s"$t.raw_equals_produced_offsets", c.raw == c.produced, s"${c.raw} vs ${c.produced}")
      p.counts(s"$t.n_in") = c.nIn.toDouble
      p.counts(s"$t.replayed") = (c.nIn - c.nFresh).toDouble
      p.counts(s"$t.rejects") = c.rejects.toDouble
      p.counts(s"$t.raw") = c.raw.toDouble
      c.expected.foreach { case (expRejects, got, exp) =>
        p.check(s"$t.rejects_equal_validation", c.rejects == expRejects,
          s"${c.rejects} vs $expRejects")
        p.check(s"$t.normalized_equals_latest_wins", got == exp,
          s"rows/hash ${got._1}/${got._2} vs ${exp._1}/${exp._2}")
        p.counts(s"$t.normalized") = got._1.toDouble
      }
      if (r > 0) p.check(s"$t.normalized_rows_repeat",
        p.counts(s"$t.normalized") == c.normalized.toDouble)
    }
  }

  private def checkTopic(d: graft.Schemas.EntityDesc, s: IngestPipeline.Sinks,
      backlog: Option[Inputs.Topic]): TopicCheck = {
    val normalized = spark.read.parquet(s.normalized)
    val produced = spark.read.schema(graft.streaming.KafkaShaped.schema)
      .json(s"$setupDir/topics/${d.topic}")
      .select("partition", "offset").distinct().count()
    val stats = spark.read.parquet(s.stats)
      .agg(sum("n_in"), sum("n_fresh")).head()
    val expected = backlog.map { t =>
      val got = normalized.drop("last_modified", "_src_offset")
      (graft.operators.Validation.split(t.rows, d.rules).rejects.count(), fingerprint(got),
        fingerprint(Inputs.expectedNormalized(t, got.schema)))
    }
    TopicCheck(d.topic, produced, spark.read.parquet(s.raw).count(),
      spark.read.parquet(s.rejects).count(), stats.getLong(0), stats.getLong(1),
      if (expected.isDefined) expected.get._2._1 else normalized.count(), expected)
  }

  /** Row count and order-free sum of row hashes: equal multisets of rows
    * give equal fingerprints. */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** `admission` path: closed-loop drain of documents through
  * `AdmissionPipeline.startLive` with every live index configured. */
final class AdmissionPath(w: Workload) extends StreamPath(w) {
  val docs: Long = if (tiny) 200 else 300
  val files = 3
  val holdout: Long = if (tiny) 10 else 20
  info("documents") = docs
  info("stream_files") = files
  info("event_time") = w.a.eventTime
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("ts", TimestampType)))
  val indexes = Seq("neardup", "substring", "winnow", "dedup")

  /** Indexed half, decontam holdout, and the stream: the other half, a
    * re-crawl copy (new doc_id, same text) of a fifth of the indexed half
    * and an in-file exact copy of 3 % of the stream. Stream file i carries
    * event time hour i, so the dedup watermark never drops a late doc. */
  private def corpus(): (DataFrame, DataFrame, DataFrame) = {
    val d = Inputs.documents(spark, docs, seed).select("doc_id", "text", "lang")
    val u = (f: String) => graft.sources.Generator.u(seed, col("doc_id"), f)
    val indexed = d.filter(u("half") < 0.5)
    val held = indexed.filter(col("doc_id") < holdout)
    val fresh = d.filter(u("half") >= 0.5)
    val recrawl = indexed.filter(u("recrawl") < 0.2)
      .withColumn("doc_id", col("doc_id") + 1000000000L)
    val stream0 = fresh.unionByName(recrawl)
      .withColumn("_file", pmod(xxhash64(lit(seed), col("doc_id")), lit(files)).cast("int"))
    val copies = stream0.filter(u("copy") < 0.03)
      .withColumn("doc_id", col("doc_id") + 2000000000L)
    val stream1 = stream0.unionByName(copies)
    val ts = if (w.a.eventTime == "random") floor(u("ts") * files * 3600)
    else col("_file") * 3600 + floor(u("ts") * 300)
    val stream = stream1.withColumn("ts", timestamp_seconds(lit(1767225600L) + ts))
    (indexed.filter(col("doc_id") >= holdout), held, stream)
  }

  def setup(): Unit = {
    val dir = setupDir
    val (indexed, held, stream) = w.part("sources.generate") {
      val (i, h, s) = corpus()
      val Seq(ic, hc, sc) = Stats.inParallel(Seq(i, h, s))(_.localCheckpoint(true))
      (ic, hc, sc)
    }
    w.part("produce.write") {
      Files.createDirectories(Paths.get(s"$dir/stream"))
      Stats.inParallel(0 until files) { f =>
        stream.filter(col("_file") === f).drop("_file").coalesce(1)
          .write.json(s"$dir/stream-tmp/$f")
        val json = Files.list(Paths.get(s"$dir/stream-tmp/$f")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".json")).get
        val dst = Paths.get(s"$dir/stream/part-$f.json")
        Files.move(json, dst)
        // file order = event-time order for the file source
        dst.toFile.setLastModified(1700000000000L + f * 1000L)
      }
    }
    w.addBytes("produce_bytes", Stats.dirBytes(s"$dir/stream"))
    w.part("index.seed") {
      val docsOnly = indexed.select("doc_id", "text")
      Stats.inParallel(Seq[() => Unit](
        () => StreamingNearDup.writeIndex(StreamingNearDup.buildIndex(docsOnly),
          s"$dir/index/neardup"),
        () => SubstringIndex.write(indexed.select("lang", "doc_id", "text"),
          s"$dir/index/substring"),
        () => WinnowIndex.write(docsOnly, s"$dir/index/winnow"),
        () => DedupIndex.write(docsOnly, s"$dir/index/dedup"),
        () => StreamingDecontam.writeIndex(
          StreamingDecontam.buildIndex(held.select("doc_id", "text")), s"$dir/index/holdout")
      ))(_())
    }
    streamDocs = Some(stream.select("doc_id", "text", "_file", "ts"))
    info("stream_docs") = stream.count()
    info("expected_decisions") = expectedDecisions(stream)
  }

  /** Decisions the stream must yield: one per doc, except exact copies
    * (same text) of a doc still held in the dedup state. One file is one
    * microbatch. A state entry expires once the watermark (the highest
    * event time of the earlier batches minus the delay) passes its event
    * time plus the delay, and leaves the state at the end of that batch.
    * Late docs are not modelled, so a stream whose event time does not
    * advance per file fails the check. */
  private def expectedDecisions(stream: DataFrame): Long = {
    val delayMs = 10 * 60 * 1000L
    val rows = stream.select("_file", "text", "ts").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getTimestamp(2).getTime))
    val state = collection.mutable.HashMap.empty[String, Long]
    var watermark = Long.MinValue
    var expected = 0L
    for ((_, docs) <- rows.groupBy(_._1).toSeq.sortBy(_._1)) {
      for ((_, text, ts) <- docs.sortBy(_._3) if !state.contains(text)) {
        expected += 1
        state(text) = ts
      }
      // expired entries leave the state after the batch that passed them
      state.filterInPlace((_, t) => t + delayMs > watermark)
      watermark = math.max(watermark, docs.map(_._3).max - delayMs)
    }
    expected
  }

  private var streamDocs: Option[DataFrame] = None

  def round(p: Pass, r: Int, dir: String): Unit = {
    Stats.copyTree(s"$setupDir/index", s"$dir/index")
    val before = indexes.map(i => i -> Stats.dirBytes(s"$dir/index/$i")).toMap
    val t0 = System.nanoTime()
    val done = p.op("admission.drain")(w.tracer.span("AdmissionPipeline.startLive.drain") {
      val in = spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
        .json(s"$setupDir/stream")
      val q = AdmissionPipeline.startLive(spark, in, s"$dir/index/neardup",
        StreamingDecontam.readIndex(spark, s"$dir/index/holdout"), s"$dir/out", "ts",
        "10 minutes", substrIndexDir = Some(s"$dir/index/substring"),
        winnowIndexDir = Some(s"$dir/index/winnow"), exactHashDir = Some(s"$dir/index/dedup"))
      try q.processAllAvailable() finally q.stop()
      q
    })
    val wall = (System.nanoTime() - t0) / 1e9
    done.foreach { q =>
      Streams.collect(p, Seq(q))
      p.drainS += wall
      for (i <- indexes)
        p.counts(s"index.$i.bytes_appended") = (Stats.dirBytes(s"$dir/index/$i") - before(i)).toDouble
      if (p.label == "main") verify(p, r, dir)
    }
  }

  private def verify(p: Pass, r: Int, dir: String): Unit = {
    val dec = spark.read.parquet(s"$dir/out/decisions")
    val n = dec.count()
    val ids = dec.select("doc_id").distinct().count()
    val expected = info("expected_decisions").asInstanceOf[Long]
    p.records += n
    p.check("one_decision_per_doc", n == ids, s"$n rows for $ids docs")
    p.check("decisions_equal_stream_minus_held_copies", n == expected, {
      val undecided = streamDocs.get.join(dec.select("doc_id", "reason"), Seq("doc_id"), "left")
        .groupBy("_file", "text").agg(count("reason").as("n"), collect_list("doc_id").as("ids"))
        .filter(col("n") =!= 1).collect().map(_.toString).take(5).mkString("; ")
      s"$n decisions, expected $expected; $undecided"
    })
    val reasons = dec.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (r == 0) {
      for ((k, v) <- reasons) p.counts(s"reason.$k") = v.toDouble
      p.counts("decisions") = n.toDouble
    } else
      p.check("reason_counts_repeat",
        reasons.forall { case (k, v) => p.counts.get(s"reason.$k").contains(v.toDouble) } &&
          p.counts.keys.count(_.startsWith("reason.")) == reasons.size,
        reasons.toString)
  }
}

/** `dashboard`: one full `Marts.refreshAll`, incremental `Marts.refresh`
  * calls with a group-key predicate, then `Report.build` over the mart
  * base: the first build in a fresh session (cold) and later ones (warm). */
final class DashboardWorkload(a: Main.Args) extends Workload(a) {
  def name = "dashboard"
  // Report.build's cost is per query, not per row: these sizes keep every
  // panel non-empty, and a tiny-scale run uses them too
  val sf = 0.001
  val docs = 300L
  val warmBuilds = 1
  info("sf") = sf
  info("documents") = docs
  val incrementals: Seq[(graft.Marts.Mart, org.apache.spark.sql.Column)] = Seq(
    graft.Marts.revenueTrend -> col("month").isin("1996-01", "1998-06", "2000-12"),
    graft.Marts.brandQty -> col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"),
    graft.Marts.qualityRates -> col("event_type").isin("click", "purchase"))

  def tablesDir = s"$setupDir/tables"

  def setup(): Unit = {
    part("sources.generate") {
      Stats.inParallel(Inputs.tables(spark, a.seed, sf, docs).toSeq) { case (t, df) =>
        df.write.parquet(s"$tablesDir/$t.parquet")
      }
    }
    info("source_rows") =
      Inputs.Tables.map(t => spark.read.parquet(s"$tablesDir/$t.parquet").count()).sum
  }

  private val martTables = Seq("orders", "lineitem", "part", "events")

  /** The mart base of the measured pass's last round. */
  private var martBase = ""

  def round(p: Pass, r: Int, dir: String): Unit =
    if (p.label == "main") measured(p, r, dir)
    else timed(p, "Report.build.cold", 0L)(graft.Report.build(spark, tablesDir, Some(martBase)))

  private def timed[A](p: Pass, op: String, rows: Long)(f: => A): Option[A] = {
    val t0 = System.nanoTime()
    val res = p.op(op)(tracer.span(op)(f))
    if (res.isDefined) {
      p.records += rows
      p.drainS += (System.nanoTime() - t0) / 1e9
    }
    res
  }

  private def measured(p: Pass, r: Int, dir: String): Unit = {
    // every round starts in a fresh session, so its first build is cold
    if (r > 0) newSession(p.cores, p.traced)
    val sfDir = tablesDir
    val base = s"$dir/marts"
    martBase = base
    val martRows = martTables.map(t => spark.read.parquet(s"$sfDir/$t.parquet").count()).sum
    val allRows = info("source_rows").asInstanceOf[Long]
    timed(p, "Marts.refreshAll", martRows)(graft.Marts.refreshAll(spark, sfDir, base, 1L))
    val touched = incrementals.zipWithIndex.flatMap { case ((m, pred), i) =>
      timed(p, s"Marts.refresh(${m.name})", martRows)(
        graft.Marts.refresh(spark, sfDir, base, m, 2L + i, Some(pred))).map(_.size)
    }
    p.counts("Marts.buckets_rewritten") = Stats.median(touched.map(_.toDouble))
    val cold = timed(p, "Report.build.cold", allRows)(graft.Report.build(spark, sfDir, Some(base)))
    val warm = (0 until warmBuilds).flatMap(_ =>
      timed(p, "Report.build.warm", allRows)(graft.Report.build(spark, sfDir, Some(base))))
    verify(p, r, sfDir, cold.toSeq ++ warm)
  }

  /** The panels `Report.build` serves from marts, computed directly by the
    * cataloged queries it falls back to without a mart base. */
  private def direct(sfDir: String): Seq[(String, DataFrame)] = {
    import graft.operators.RelationalQueries._
    Seq("revenue_trend" -> a2.fn(spark, sfDir).orderBy("month"),
      "top_products" -> j3.fn(spark, sfDir),
      "quality_rates" -> a4.fn(spark, sfDir).orderBy("event_type"))
  }

  val Panels: Seq[String] = Seq("revenue_trend", "top_products", "quality_rates",
    "order_value_percentiles", "sessions", "events_hourly_recent", "dedup_exact",
    "dedup_neardup", "dedup_clusters", "contamination", "mix_manifest", "cleaning",
    "pii_scrub", "quality_classifier", "repetition_ladder", "snapshot_diff",
    "increment_screen", "source_overlap", "heavy_hitters", "media_dedup",
    "distribution_drift", "media_quality", "mix_plan", "tokenizer_fertility",
    "source_report", "dup_profile", "suite_contamination", "quality_ladder",
    "length_histogram", "vocab_growth", "pii_by_source")

  private def verify(p: Pass, r: Int, sfDir: String, built: Seq[String]): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val expected = direct(sfDir).map { case (k, df) =>
      k -> om.readTree(df.toJSON.collect().mkString("[", ",", "]")) }
    for ((b, i) <- built.zipWithIndex) {
      val j = om.readTree(b)
      val name = s"round$r.report$i"
      p.check(s"$name.marts_serve_three_panels", j.get("mart_backed").size == 3,
        j.get("mart_backed").toString)
      val missing = Panels.filterNot(k => j.hasNonNull(k))
      p.check(s"$name.every_panel_present", missing.isEmpty, missing.mkString(","))
      for ((k, exp) <- expected)
        p.check(s"$name.$k.mart_equals_direct", j.get(k) == exp,
          s"${j.get(k)} vs $exp".take(300))
    }
  }

  def metrics(p: Pass): Seq[(String, String, Double)] = {
    val warm = Stats.median(p.times("Report.build.warm"))
    val cold = Stats.median(p.times("Report.build.cold"))
    info("marts_full_s") = Stats.median(p.times("Marts.refreshAll"))
    info("marts_incremental_s") = Stats.median(p.times("Marts.refresh("))
    info("report_cold_s") = cold
    info("report_warm_s") = warm
    Seq(("records_per_s", "1/s", p.records / p.drainS),
      ("latency_p50_s", "s", warm),
      ("latency_first_s", "s", cold))
  }
  /** 1 / the cold build: every pass, the comparison passes included,
    * makes one. */
  def speed(p: Pass): Double = 1.0 / Stats.median(p.times("Report.build.cold"))
}
