package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.functions.{DictionaryLocator, LexiconSentiment, TextFunctions}
import graft.operators.{Dedup, LakeMerge, TweetOps}
import graft.pipeline.{BackfillJob, IngestJob, MonthlyRollup}
import graft.sources.{LocationDictSource, TweetJsonSource}
import graft.tools.StreamingCapstone

/** JVM side of the pipeline benchmark.
  *
  * Usage: Harness <manifest.json>. The manifest (written by run.py)
  * names the workload, the generated input files, the window length and
  * whether to trace. The harness sets up (warming the workload's code
  * paths, so the window times warm code), runs operations until the
  * window closes or the input pool is used up, checks the outputs, and
  * writes one result JSON for run.py to turn into metrics.
  *
  * Every operation calls the program's public entry points only; the
  * traced path calls the same parts an entry composes, in the same order,
  * so each part gets its own span.
  */
object Harness {

  final case class Op(kind: String, wallS: Double, docs: Long, traced: Boolean,
      counters: Map[String, Double], extra: Map[String, Double] = Map.empty)

  final class Run(val spark: SparkSession, val m: JsonNode, val tracer: Tracer) {
    val work: String = m.get("work").asText()
    val seconds: Double = m.get("seconds").asDouble()
    val traceMode: Boolean = m.get("trace").asInt() == 1
    val ops = ArrayBuffer.empty[Op]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var windowStartMs = 0L
    var windowS = 0.0
    var peakRssMb = 0.0
    var storedBytes = 0L
    var liveDocs = 0L
    lazy val dict: DictionaryLocator.LocationDict =
      LocationDictSource.fromFile(m.get("dict").asText())
    val lexicon: LexiconSentiment.Lexicon = LexiconSentiment.Indonesian

    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

    def items(key: String): Seq[JsonNode] = m.get(key).elements().asScala.toSeq

    /** Run `body` as operation number `i`: odd operations are traced in
      * trace mode, so the same run also measures untraced operations and
      * the tracing overhead.
      */
    def op(i: Int, kind: String, docs: Long)(body: => Map[String, Double]): Unit = {
      tracer.op = i
      tracer.enabled = traceMode && i % 2 == 1
      val a = tracer.counters.snap(spark)
      val extra = tracer.span(s"op.$kind")(body)
      val b = tracer.counters.snap(spark)
      tracer.enabled = false
      ops += Op(kind, (b.nanos - a.nanos) / 1e9, docs, traceMode && i % 2 == 1,
        Counters.delta(a, b), extra)
    }

    /** Start the timed window: reset the process's peak RSS mark. */
    def openWindow(): Long = {
      resetPeakRss()
      windowStartMs = System.currentTimeMillis()
      System.nanoTime()
    }

    def closeWindow(t0: Long): Unit = {
      windowS = (System.nanoTime() - t0) / 1e9
      peakRssMb = readPeakRssMb()
    }

    /** Whether the window is still open after `done` operations. A traced
      * run always gets three: untraced, traced and untraced again, so the
      * same run measures the tracing overhead.
      */
    def open(t0: Long, done: Int): Boolean =
      (System.nanoTime() - t0) / 1e9 < seconds || (traceMode && done < 3)
  }

  // ------------------------------------------------------------ helpers

  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))
    catch { case _: java.io.IOException => () }

  private def readPeakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Bytes of data files under `dir` (hidden and marker files excluded). */
  def dataBytes(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else Files.walk(root.toPath).iterator().asScala.filter(isData).map(p => Files.size(p)).sum
  }

  def dataFiles(dir: String): Int = {
    val root = new File(dir)
    if (!root.exists()) 0 else Files.walk(root.toPath).iterator().asScala.count(isData)
  }

  private def isData(p: java.nio.file.Path): Boolean = {
    val n = p.getFileName.toString
    Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Top-level partition directory -> the data files under it (relative
    * paths), for partitions_touched and store compactions: a rewritten
    * partition has new file names.
    */
  def partitionFiles(dir: String): Map[String, Set[String]] = {
    val root = new File(dir)
    Option(root.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
      .map(d => d.getName -> Files.walk(d.toPath).iterator().asScala.filter(isData)
        .map(p => d.toPath.relativize(p).toString).toSet).toMap
  }

  def touched(before: Map[String, Set[String]], after: Map[String, Set[String]]): Int =
    (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))

  private def ts(s: String) = to_timestamp(lit(s))

  // ------------------------------------------------------ ingest layers

  /** One raw batch into the lake. Untraced: `IngestJob.runWithStats`,
    * the production entry. Traced: the parts runWithStats composes, in
    * its order (read, transform, merge), each materialized so its work
    * lands in its own span, plus isolated probes of the three column
    * functions the transform applies (clean, locate, label). The probes
    * are logical children of functions.transform; they run after it.
    */
  def ingest(r: Run, job: IngestJob, path: String, lake: String,
      now: String): Map[String, Double] = {
    val spark = r.spark
    val t = r.tracer
    if (!t.enabled) {
      val (_, stats) = job.runWithStats(spark, path, lake, ts(now))
      stats.map { case (k, v) => k -> v.toDouble }
    } else {
      val before = partitionFiles(lake)
      val (raw, incoming) = t.span("pipeline.ingest") {
        val raw = t.span("sources.read") {
          TweetJsonSource.readRawScrape(spark, path).localCheckpoint(eager = true)
        }
        val processed = t.span("functions.transform") {
          job.transform(raw, ts(now)).localCheckpoint(eager = true)
        }
        val incoming = processed.count()
        t.span("operators.lake_merge") { LakeMerge.mergeWrite(spark, processed, lake) }
        (raw, incoming)
      }
      val merged = t.spans.find(_.name == "operators.lake_merge").filter(_.op == t.op)
        .map(_.counters("output_records")).getOrElse(0.0)
      val parent = t.lastId("functions.transform")
      val nested = TweetOps.nest(TweetOps.minLengthFilter(raw), ts(now))
        .localCheckpoint(eager = true)
      def probe(name: String, c: org.apache.spark.sql.Column): Unit =
        t.span(name, parent) {
          nested.select(c.as("v")).write.format("noop").mode("overwrite").save()
        }
      probe("functions.clean",
        TextFunctions.cleanTweetText(coalesce(col("content.text"), lit(""))))
      probe("functions.locate", DictionaryLocator.detect(
        concat_ws(" ", col("content.text"), col("metadata.author_name")), job.dict))
      probe("functions.label", LexiconSentiment.score(
        substring(coalesce(col("content.clean_text"), lit("")), 1, 512), job.lexicon))
      Map("incoming_rows" -> incoming.toDouble, "merge_output_records" -> merged,
        "partitions_touched" -> touched(before, partitionFiles(lake)).toDouble)
    }
  }

  /** Lake checks: one row per id, every generated id present, each id
    * carrying its latest scrape's metrics, nothing unprocessed, and a
    * content fingerprint for cross-run comparison.
    */
  def checkLake(r: Run, lake: String, landed: Seq[String]): Unit = {
    val spark = r.spark
    val lakeDf = LakeMerge.readLake(spark, lake)
    val n = lakeDf.count()
    val dupIds = lakeDf.groupBy(col("_id")).count().filter(col("count") > 1).count()
    r.check("no_duplicate_id", dupIds == 0, s"$dupIds ids stored more than once")
    // expected state, derived from the generated files alone: the last
    // file an id appears in holds its newest metrics
    val raw = landed.zipWithIndex.map { case (p, i) =>
      TweetJsonSource.readRawScrape(spark, p).select(col("_id"), col("metrics"), lit(i).as("__f"))
    }.reduce(_ unionByName _)
    val expected = raw.groupBy(col("_id"))
      .agg(max(struct(col("__f"), col("metrics"))).getField("metrics").as("want"))
    val distinct = expected.count()
    r.check("lake_count_equals_distinct_ids", n == distinct,
      s"lake $n rows, $distinct distinct ids")
    val stale = expected
      .join(lakeDf.select(col("_id"), col("metrics").as("got")), Seq("_id"), "left")
      .filter(col("got").isNull || col("got") =!= col("want")).count()
    r.check("rescraped_ids_carry_newest_metrics", stale == 0,
      s"$stale ids with missing or stale metrics")
    val unprocessed = TweetOps.unprocessed(lakeDf).count()
    r.check("unprocessed_is_zero", unprocessed == 0, s"$unprocessed unprocessed docs")
    val fp = lakeDf.select(sum(xxhash64(col("*")).cast("decimal(38,0)"))).head().get(0)
    r.checks += (("lake_fingerprint", true, String.valueOf(fp)))
    r.storedBytes = dataBytes(lake)
    r.liveDocs = n
  }

  // ---------------------------------------------------------- workloads

  def dashboard(spark: SparkSession, lake: String): Array[org.apache.spark.sql.Row] =
    LakeMerge.readLakeLatest(spark, lake)
      .groupBy(to_date(col("metadata.created_at")).as("day"),
        coalesce(col("location.province"), lit("unknown")).as("province"),
        col("sentiment_analysis.label").as("label"))
      .count().collect()

  /** One day of the reference pipeline per operation, over a month-long
    * lake prebuilt in set-up: the day's scrape lands through IngestJob,
    * BackfillJob scans the lake for unprocessed documents, MonthlyRollup
    * rolls the month up into a fresh path, and the dashboard counts the
    * latest docs per day, province and label. Set-up also warms the
    * backfill, roll-up and dashboard paths on the prebuilt lake.
    */
  def lakeDaily(r: Run): Unit = {
    val spark = r.spark
    val lake = s"${r.work}/lake"
    val month = r.m.get("month").asText()
    val job = IngestJob(r.dict, r.lexicon)
    val backfill = BackfillJob(r.dict, r.lexicon)
    val pre = r.m.get("prebuild")
    val preNow = ts(pre.get("now").asText())
    job.runWithStats(spark, pre.get("path").asText(), lake, preNow)
    backfill.run(spark, lake, preNow)
    MonthlyRollup.runIfNeeded(spark, lake, month, s"${r.work}/rollup_warm")
    dashboard(spark, lake)
    val landed = ArrayBuffer(pre.get("path").asText())
    var rollups = 0
    val t0 = r.openWindow()
    val pool = r.items("ops").iterator
    var i = 0
    while (r.open(t0, i) && pool.hasNext) {
      val c = pool.next()
      val path = c.get("path").asText()
      val now = c.get("now").asText()
      val rollupPath = s"${r.work}/rollup_$i"
      val t = r.tracer
      r.op(i, "day", c.get("docs").asLong()) {
        val ing = ingest(r, job, path, lake, now)
        val left = t.span("pipeline.backfill") { backfill.run(spark, lake, ts(now)) }
        if (t.span("pipeline.rollup") { MonthlyRollup.runIfNeeded(spark, lake, month, rollupPath) })
          rollups += 1
        val rows = t.span("lake.read") { dashboard(spark, lake) }
        ing ++ Map("unprocessed_after_backfill" -> left.toDouble,
          "dashboard_docs" -> rows.map(_.getLong(3)).sum.toDouble)
      }
      landed += path
      i += 1
    }
    r.closeWindow(t0)
    val left = r.ops.map(_.extra("unprocessed_after_backfill")).sum
    r.check("backfill_leaves_nothing_unprocessed", left == 0, s"$left docs left after backfill")
    r.check("rollup_written_every_day", rollups == r.ops.length,
      s"rolled up on $rollups of ${r.ops.length} days")
    val stats = r.ops.filter(_.extra.contains("n_located")).map(_.extra)
    if (stats.nonEmpty)
      r.layer("located_share") = stats.map(_("n_located")).sum / stats.map(_("total_docs")).sum
    r.layer("lake_bytes") = dataBytes(lake).toDouble
    checkLake(r, lake, landed.toSeq)
    val docs = r.liveDocs.toDouble
    val dashDocs = r.ops.last.extra("dashboard_docs")
    r.check("dashboard_counts_every_doc", dashDocs == docs,
      s"dashboard counts $dashDocs docs, lake holds $docs")
  }

  val CurationQueries: Seq[String] =
    Seq("q_curation_e2e", "q_jaccard_prefix_pairs", "q_minhash_pairs")

  /** One round of the registered batch curation queries over the corpus
    * with planted duplicates, then their checks. The traced curate_stream
    * run calls it after its window: an untraced round warms the queries,
    * and a traced round gives each query its own span.
    */
  def curationRound(r: Run): Unit = {
    val spark = r.spark
    val dir = r.m.get("corpus_dir").asText()
    val t = r.tracer
    CurationQueries.foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    t.op = r.ops.length
    t.enabled = true
    val last = CurationQueries.map { q =>
      q -> t.span(s"queries.$q") { SparkEntry.queries(q)(spark, dir).collect() }
    }.toMap
    t.enabled = false
    r.layer("prefix_pairs") = last("q_jaccard_prefix_pairs").length.toDouble
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue)).toSet
    val exact = pairs(Dedup.nearDuplicatePairsExact(graft.Tables.wide(spark, dir, "documents"),
      col("doc_id"), col("text"), threshold = 0.5).select(col("id_a"), col("id_b")).collect())
    val prefix = pairs(last("q_jaccard_prefix_pairs"))
    val minhash = pairs(last("q_minhash_pairs"))
    r.check("prefix_pairs_equal_exact_pairs", prefix == exact,
      s"prefix ${prefix.size}, exact ${exact.size}, " +
        s"symmetric difference ${(prefix diff exact).size + (exact diff prefix).size}")
    val planted = r.items("planted").map(p => (p.get(0).asLong(), p.get(1).asLong())).toSet
    val missed = planted diff prefix
    r.check("planted_pairs_found", missed.isEmpty,
      s"${missed.size} of ${planted.size} planted pairs missed")
    r.check("minhash_pairs_subset_of_exact", minhash.subsetOf(exact),
      s"${(minhash diff exact).size} minhash pairs not in the exact set")
    r.check("curation_returns_rows", last("q_curation_e2e").nonEmpty,
      s"q_curation_e2e returned ${last("q_curation_e2e").length} rows")
  }

  /** StreamingCapstone micro-batches over a JSONL landing directory, with
    * the text stores and compaction; traced runs add [[curationRound]].
    */
  def curateStream(r: Run): Unit = {
    val spark = r.spark
    val landing = s"${r.work}/landing"
    val stores = StreamingCapstone.Stores(s"${r.work}/curated", s"${r.work}/lsh_store",
      s"${r.work}/seg_store", s"${r.work}/seg_out")
    val perTrigger = r.m.get("files_per_trigger").asInt()
    val compactEvery = r.m.get("compact_every").asInt()
    val progress = ArrayBuffer.empty[(Long, Long, Long, Long)] // batch, rows, wall ms, addBatch ms
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) progress.synchronized {
          progress += ((p.batchId, p.numInputRows, p.batchDuration,
            Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)))
        }
      }
    })
    Files.createDirectories(Paths.get(landing))
    def land(files: Seq[JsonNode]): Unit = files.foreach { f =>
      val src = Paths.get(f.asText())
      Files.move(src, Paths.get(landing, src.getFileName.toString))
    }
    def files(c: JsonNode): Seq[JsonNode] = c.get("files").elements().asScala.toSeq
    def round(): Unit = {
      val q = StreamingCapstone.start(spark, landing, stores, s"${r.work}/ckpt", r.dict,
        maxFilesPerTrigger = perTrigger, trigger = Trigger.AvailableNow(),
        compactEvery = compactEvery)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val pool = r.items("ops").iterator
    // untimed warm-up micro-batches, so the timed ones check against
    // stores that already hold data, and compact them
    (1 to r.m.get("warmup_rounds").asInt()).foreach(_ => land(files(pool.next())))
    round()
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    val warm = progress.synchronized(progress.length)
    var compactions = 0
    val t0 = r.openWindow()
    var i = 0
    while (r.open(t0, i) && pool.hasNext) {
      val c = pool.next()
      land(files(c))
      val seen = progress.synchronized(progress.length)
      val before = partitionFiles(stores.lshStore)
      r.op(i, "round", c.get("docs").asLong()) {
        r.tracer.span("streaming.round") { round() }
        Map.empty
      }
      // a compaction rewrites a batch partition the store already had
      val after = partitionFiles(stores.lshStore)
      if (before.exists { case (k, v) => after.get(k).exists(_ != v) }) compactions += 1
      // the operations of this workload are the round's micro-batches
      val done = r.ops.remove(r.ops.length - 1)
      org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
      val batches = progress.synchronized(progress.drop(seen).toList)
      batches.foreach { case (_, _, wall, _) =>
        r.ops += Op("micro_batch", wall / 1000.0, done.docs / batches.length, done.traced,
          done.counters)
      }
      i += 1
    }
    r.closeWindow(t0)
    val batches = progress.synchronized(progress.drop(warm).toList)
    r.layer("streaming.batch.rows") = batches.map(_._2).sum.toDouble
    val adds = batches.map(_._4).sorted
    r.layer("streaming.batch.add_batch_ms_p50") =
      if (adds.isEmpty) 0.0 else adds(adds.length / 2).toDouble
    val storeDirs = Seq(stores.curatedDir, stores.lshStore, stores.segStore, stores.segOut)
    r.layer("stores.files") = storeDirs.map(dataFiles).sum.toDouble
    r.layer("stores.bytes") = storeDirs.map(dataBytes).sum.toDouble
    r.layer("stores.compactions") = compactions.toDouble
    // landed rows == rows passing the batch-mode form of the stream's
    // quality gate (clean, at least 5 tokens, punctuation <= tokens)
    val landedRows = spark.read.parquet(stores.curatedDir).count()
    val input = spark.read.schema("doc_id long, text string, lang string").json(landing)
    val clean = TextFunctions.cleanTweetText(
      TextFunctions.redactPii(TextFunctions.nfcNormalize(col("text"))))
    val gated = input.select(clean.as("c"))
      .select(col("c"), size(Dedup.tokens(col("c"))).as("nt"))
      .filter(col("c").isNotNull && col("nt") >= 5 &&
        TextFunctions.punctCount(col("c")) <= col("nt"))
      .count()
    r.check("landed_rows_equal_batch_gate", landedRows == gated,
      s"landed $landedRows, batch gate passes $gated")
    r.storedBytes = storeDirs.map(dataBytes).sum
    r.liveDocs = landedRows
    if (r.traceMode) curationRound(r)
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val m = mapper.readTree(new File(args(0)))
    val work = m.get("work").asText()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // StreamingCapstone's own deployment setting for local stores
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val tracer = new Tracer(spark, counters, System.nanoTime())
    val r = new Run(spark, m, tracer)
    m.get("workload").asText() match {
      case "lake_daily" => lakeDaily(r)
      case "curate_stream" => curateStream(r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    writeResult(r, m.get("result").asText(), mapper)
    spark.stop()
  }

  private def writeResult(r: Run, path: String, mapper: ObjectMapper): Unit = {
    def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
      val o = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => o.put(k, v) }
      o
    }
    def dmap(mm: collection.Map[String, Double]): java.util.Map[String, Any] = obj(mm.toSeq: _*)
    val out = obj(
      "window_start_ms" -> r.windowStartMs,
      "window_s" -> r.windowS,
      "peak_rss_mb" -> r.peakRssMb,
      "stored_bytes" -> r.storedBytes,
      "live_docs" -> r.liveDocs,
      "ops" -> r.ops.map(o => obj("kind" -> o.kind, "wall_s" -> o.wallS, "docs" -> o.docs,
        "traced" -> o.traced, "counters" -> dmap(o.counters), "extra" -> dmap(o.extra))).asJava,
      "checks" -> r.checks.map { case (n, ok, d) =>
        obj("name" -> n, "ok" -> ok, "detail" -> d)
      }.asJava,
      "spans" -> r.tracer.spans.map(s => obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_s" -> s.startS, "end_s" -> s.endS, "task_max_ms" -> s.taskMaxMs,
        "task_p50_ms" -> s.taskP50Ms, "counters" -> dmap(s.counters))).asJava,
      "layer" -> dmap(r.layer),
      "host" -> obj("spark" -> r.spark.version, "jdk" -> System.getProperty("java.version"),
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "cores" -> Runtime.getRuntime.availableProcessors()))
    Files.write(Paths.get(path), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
  }
}
