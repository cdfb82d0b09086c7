package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, sequence}

import graft.{GraftSession, SparkEntry}
import graft.functions.{BpeExpressions, GensortExpressions, LangidExpressions, PairExpressions, ShingleExpressions, VectorExpressions}
import graft.operators.{AnnModels, Dedup}
import graft.sources.Tables
import graft.streaming.EventStreams

/** The benchmark's JVM driver. It runs one workload on a
  * `GraftSession.local` session over inputs that `gen.py` wrote, times
  * calls into graft's public functions, and writes a raw run record
  * (`raw.json`, plus `spans.jsonl` when traced) for `run.py` to reduce.
  *
  * Phases: set-up (session start, empty registry, input scan) → the
  * one-time prepare phase (first touch of every query, registry pre-build,
  * warm-up passes) → untraced timed passes → traced timed passes and
  * layer sweeps (traced runs only) → a check pass whose results `run.py`
  * compares with DuckDB replays of `SparkEntry.oracleSql`. */
object Main {
  final case class Args(workload: String, dataDir: String, outDir: String,
      registry: String, work: String, warmup: Int, passes: Int, tracedPasses: Int,
      cores: Int)

  /** Every argument is required; `run.py` passes them all. */
  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("registry"), m("work"),
      m("warmup").toInt, m("passes").toInt, m("traced-passes").toInt, m("cores").toInt)
  }

  type Query = (SparkSession, String) => DataFrame

  /** Query sets. Each is a closed loop: one query at a time, in this order. */
  val MrAnalytics: Seq[String] = Seq(
    "mr_wordcount", "mr_grep", "mr_secondary_sort", "mr_join_reduceside",
    "mr_teragen", "mr_terasort", "mr_terachecksum",
    "q_pricing_summary", "q_shipping_priority", "stream_window_agg")
  val CorpusWarm: Seq[String] = Seq(
    "text_langid_model", "dedup_minhash_verified", "dedup_substring", "sim_knn_graph",
    "mm_text_align", "pipeline_token_budget",
    // registry-free: computed from the raw corpus on every pass
    "text_entropy", "text_tfidf", "mr_wordcount", "mr_grep")
  /** Products `corpus_append` re-serves after every drop: per-document
    * artifacts (quality scores, gopher flags, BPE id streams, doc-token
    * budgets) plus a global one (the langid centroids). */
  val AppendProducts: Seq[String] = Seq(
    "text_quality", "text_gopher_rules", "text_bpe_ids",
    "pipeline_token_budget", "text_langid_model")

  /** Operator families with a per-layer execute time: those of the corpus
    * workloads (`corpus_warm`'s MapReduce queries read the corpus). */
  val Families: Seq[String] = Seq("mr", "dedup", "sim", "text", "pipeline", "mm")
  def family(q: String): String = q.takeWhile(_ != '_')

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(a)
    try run.execute(bootS)
    finally run.stop()
  }
}

final class Run(a: Main.Args) {
  import Main._

  private val queries: Map[String, Query] = SparkEntry.queries
  private val dataDir = a.dataDir
  private val corpusDir = Paths.get(dataDir, "documents.parquet")
  private val registry = new File(a.registry)
  private val work = Paths.get(a.work)
  private val ingestDir = work.resolve("ingest")
  private val baseParts: Set[String] =
    if (Files.isDirectory(corpusDir)) list(corpusDir).map(_.getFileName.toString).toSet else Set.empty
  private val drops: Seq[Path] = {
    val d = Paths.get(dataDir, "drops")
    if (Files.isDirectory(d)) list(d).sortBy(_.getFileName.toString) else Nil
  }
  private var nextDrop = 0

  private val querySet: Seq[String] = a.workload match {
    case "mr_analytics" => MrAnalytics
    case "corpus_warm" => CorpusWarm
    case "corpus_append" => AppendProducts
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val tables: Seq[String] = Tables.names.filter(t =>
    Files.exists(Paths.get(dataDir, s"$t.parquet")))

  private var spark: SparkSession = _
  private val setupTally = new Tally
  private val timed = new Tally
  private val tracedTally = new Tally
  private val checkTally = new Tally
  private val traceRun = a.tracedPasses > 0
  private val tracer = new Tracer
  private val probes = new Listeners
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val passS = mutable.ArrayBuffer.empty[Double]
  private val tracedPassS = mutable.ArrayBuffer.empty[Double]
  private val ingestS = mutable.ArrayBuffer.empty[Double]

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  // --- set-up ---------------------------------------------------------------

  /** Start from the inputs as generated: an empty registry, the base corpus
    * files only, no streaming state. */
  private def resetState(): Unit = {
    rm(registry)
    registry.mkdirs()
    if (Files.isDirectory(corpusDir))
      list(corpusDir).filterNot(p => baseParts(p.getFileName.toString)).foreach(Files.delete)
    Seq("ingest", "checkpoint", "sink").foreach(d => rm(work.resolve(d).toFile))
    Files.createDirectories(ingestDir)
    nextDrop = 0
  }

  private def startSession(): Unit = {
    stop()
    spark = GraftSession.local(a.cores)
    if (traceRun) {
      spark.sparkContext.addSparkListener(probes.engine)
      spark.streams.addListener(probes.streams)
      spark.listenerManager.register(probes.executions)
    }
  }

  private def scanInputs(): Unit = tables.foreach(t => noop(Tables.load(spark, dataDir, t)))

  /** Set-up in the freshly started JVM: a session over the generated inputs,
    * an empty registry, every input table scanned once. */
  private def setup(): Double = {
    val t0 = System.nanoTime()
    startSession()
    resetState()
    scanInputs()
    (System.nanoTime() - t0) / 1e9
  }

  /** The one-time part of set-up: the first touch of every query and, on
    * the corpus workloads, the registry pre-build; then `warmup` untimed
    * passes (on `corpus_append`, drops) so that JIT compilation has settled
    * before timing. On `mr_analytics`, whose queries do not depend on the
    * registry, the first touch also writes the results the oracle check
    * reads. */
  private def prepare(): Double = {
    val t0 = System.nanoTime()
    if (a.workload == "mr_analytics") checkPass(setupTally)
    else querySet.foreach(q => runQuery(q, setupTally, traced = false))
    (1 to a.warmup).foreach(_ => pass(setupTally, traced = false))
    (System.nanoTime() - t0) / 1e9
  }

  // --- one query ------------------------------------------------------------

  private val famExec = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val reg = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var construct = 0.0
  private var plan = 0.0
  private val shape = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Construct, (traced: plan) and execute one query through the noop sink,
    * so its whole result is computed. A throw counts as a failure. */
  private def runQuery(q: String, tally: Tally, traced: Boolean): Unit =
    tally.run(q) {
      tracer.span("query", q) {
        val before = if (traced) StoreState.scan(registry) else null
        val t0 = System.nanoTime()
        val df = tracer.span("construct")(queries(q)(spark, dataDir))
        val constructS = (System.nanoTime() - t0) / 1e9
        if (traced) {
          val (built, written, collected) = StoreState.diff(before, StoreState.scan(registry))
          val t1 = System.nanoTime()
          val ps = tracer.span("plan")(PlanShape.of(df.queryExecution.executedPlan))
          plan += (System.nanoTime() - t1) / 1e9
          shape("exchanges") += ps.exchanges
          shape("file_scans") += ps.fileScans
          shape("topk_nodes") += ps.topkNodes
          val root = registry.getCanonicalPath
          val served = ps.scanRoots.exists(_.startsWith(root))
          if (built > 0) {
            tracer.relabelLast("construct", "registry.build")
            reg("calls") += 1; reg("builds") += built; reg("build_s") += constructS
          } else if (served) {
            tracer.relabelLast("construct", "registry.serve")
            reg("calls") += 1; reg("hits") += 1; reg("serve_s") += constructS
          } else construct += constructS
          reg("bytes_written") += written
          reg("generations_collected") += collected
        }
        val t2 = System.nanoTime()
        tracer.span("execute")(noop(df))
        if (traced) famExec(family(q)) += (System.nanoTime() - t2) / 1e9
      }
    }

  // --- corpus_append ----------------------------------------------------------

  /** Land the next drop (a new part file in the corpus, and in the ingest
    * directory the stream reads), run the incremental LSH ingest step, and
    * re-serve every product until fresh. Returns drop-to-fresh seconds. */
  private def appendStep(tally: Tally, traced: Boolean): Double = tracer.span("append.drop", "drop") {
    val d = drops(nextDrop)
    nextDrop += 1
    val t0 = System.nanoTime()
    Files.copy(d, corpusDir.resolve(d.getFileName), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(d, ingestDir.resolve(d.getFileName), StandardCopyOption.REPLACE_EXISTING)
    val s0 = System.nanoTime()
    val before = if (traced) StoreState.scan(registry) else null
    tally.run("ingest_step") {
      tracer.span("streaming.step", "ingest_step") {
        EventStreams.runIncrementalLshStep(spark, dataDir, ingestDir.toString,
          work.resolve("checkpoint").toString, work.resolve("sink").toString)
      }
    }
    if (traced) { // the step rebuilds the stale LSH index it probes
      val (built, written, collected) = StoreState.diff(before, StoreState.scan(registry))
      reg("builds") += built
      reg("bytes_written") += written
      reg("generations_collected") += collected
    }
    if (tally eq timed) ingestS += (System.nanoTime() - s0) / 1e9
    querySet.foreach(q => runQuery(q, tally, traced))
    (System.nanoTime() - t0) / 1e9
  }

  // --- timed passes -----------------------------------------------------------

  private def pass(tally: Tally, traced: Boolean): Double =
    if (a.workload == "corpus_append") appendStep(tally, traced)
    else {
      val t0 = System.nanoTime()
      querySet.foreach(q => runQuery(q, tally, traced))
      (System.nanoTime() - t0) / 1e9
    }

  // --- layer sweeps (traced runs) ----------------------------------------------

  private def timeMedian(reps: Int)(body: => Unit): Double = {
    val xs = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(xs.size / 2)
  }

  private def sourcesSweep(): Unit = {
    BenchBus.drain(spark.sparkContext)
    probes.engine.reset()
    val s = tables.map(t => tracer.span("sources.scan", t) {
      timeMedian(1)(noop(Tables.load(spark, dataDir, t)))
    }).sum
    BenchBus.drain(spark.sparkContext)
    val e = probes.engine.snapshot()
    layers("sources.scan_s") = s
    layers("sources.bytes_read") = e("bytes_read")
    layers("sources.rows_read") = e("rows_read")
  }

  /** Each graft kernel as a noop select over generated columns: the corpus
    * text repeated 20 times, the embeddings repeated 20 times, and 100k
    * TeraGen record numbers. Median of three. */
  private def kernelSweep(): Unit = {
    val docs = Tables.load(spark, dataDir, "documents")
      .select(col("text"), explode(sequence(lit(1), lit(20))).as("r")).cache()
    val embs = Tables.load(spark, dataDir, "embeddings")
      .select(col("embedding"), explode(sequence(lit(1), lit(20))).as("r")).cache()
    noop(docs); noop(embs)
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n", "e" -> "r", "o" -> "r", "i" -> "n")
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "shingles" -> (() => docs.select(ShingleExpressions.shingles(col("text"), Dedup.ShingleN))),
      "minhash" -> (() => docs.select(ShingleExpressions.minhashSig(col("text"), Dedup.MinhashPerms, Dedup.ShingleN))),
      "simhash" -> (() => docs.select(ShingleExpressions.simhash64(col("text")))),
      "bpe_encode" -> (() => docs.select(BpeExpressions.bpeEncode(col("text"), merges))),
      "langid" -> (() => docs.select(LangidExpressions.bigramBuckets(col("text"), 64))),
      "cosine" -> (() => embs.select(VectorExpressions.cosine(col("embedding"), col("embedding")))),
      "lsh_sign" -> (() => embs.select(PairExpressions.lshSign(col("embedding"), 16, 64))),
      "gensort" -> (() => spark.range(100000).select(GensortExpressions.gensortRecord(col("id")))))
    kernels.foreach { case (k, df) =>
      layers(s"functions.${k}_s") = tracer.span(s"kernel.$k", k)(timeMedian(3)(noop(df())))
    }
    docs.unpersist(); embs.unpersist()
  }

  /** Public registry accessors behind each workload's queries. */
  private val accessors: Seq[(String, Query)] = a.workload match {
    case "corpus_warm" => Seq(
      "verifiedPairs" -> AnnModels.verifiedPairs, "substrStats" -> AnnModels.substrStats,
      "alignScores" -> AnnModels.alignScores, "knnGraph" -> AnnModels.knnGraph,
      "langidCentroids" -> AnnModels.langidCentroids, "tokenTotals" -> AnnModels.tokenTotals)
    case "corpus_append" => Seq(
      "qualityScores" -> AnnModels.qualityScores, "gopherFlags" -> AnnModels.gopherFlags,
      "bpeStaticIdStream" -> AnnModels.bpeStaticIdStream, "tokenTotals" -> AnnModels.tokenTotals,
      "langidCentroids" -> AnnModels.langidCentroids)
    case _ => Nil
  }

  /** Noop scans of the accessors' DataFrames, each on a serving call (the
    * workload's passes have already built them). */
  private def registrySweep(): Unit =
    layers("registry.artifact_read_s") = accessors.map { case (n, f) =>
      val df = f(spark, dataDir)
      tracer.span("registry.read", n)(timeMedian(1)(noop(df)))
    }.sum

  // --- the run ------------------------------------------------------------------

  def execute(bootS: Double): Unit = {
    val setupS = setup()
    val prepS = prepare()

    (1 to a.passes).foreach(_ => passS += pass(timed, traced = false))

    if (traceRun) {
      tracer.recording = true
      BenchBus.drain(spark.sparkContext)
      probes.reset() // count the traced passes only
      val gc0 = Jvm.gcSeconds()
      Jvm.resetHeapPeak()
      val n = a.tracedPasses
      (1 to n).foreach(_ => tracedPassS += pass(tracedTally, traced = true))
      BenchBus.drain(spark.sparkContext)
      val e = probes.engine.snapshot()
      val busy = tracedPassS.sum
      layers("plans.plan_s") = plan / n
      Seq("exchanges", "file_scans", "topk_nodes").foreach(k => layers(s"plans.$k") = shape(k) / n)
      layers("plans.query_executions") = probes.executions.count.toDouble / n
      layers("operators.construct_s") = construct / n
      Families.foreach(f => layers(s"operators.$f.execute_s") = famExec(f) / n)
      Seq("tasks", "stages", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "jvm_gc_s").foreach(k => layers(s"engine.$k") = e(k) / n)
      layers("engine.core_busy_frac") = if (busy > 0) e("executor_run_s") / (busy * a.cores) else 0.0
      layers("jvm.heap_peak_mb") = Jvm.heapPeakMb()
      layers("jvm.gc_s") = (Jvm.gcSeconds() - gc0) / n
      layers("registry.build_s") = reg("build_s") / n
      layers("registry.serve_s") = reg("serve_s") / n
      layers("registry.builds") = reg("builds") / n
      layers("registry.calls") = reg("calls") / n
      layers("registry.hit_ratio") = if (reg("calls") > 0) reg("hits") / reg("calls") else 0.0
      layers("registry.bytes_written") = reg("bytes_written") / n
      layers("registry.generations_collected") = reg("generations_collected") / n
      layers("registry.bytes_live") = StoreState.dirBytes(registry).toDouble
      val prog = probes.streams.snapshot()
      Seq("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms").foreach { k =>
        layers(s"streaming.$k") = median(prog.map(_(k)))
      }
      Seq("input_rows", "state_rows", "state_bytes").foreach { k =>
        layers(s"streaming.$k") = if (prog.isEmpty) 0.0 else prog.map(_(k)).sum / n
      }
      val stepSpans = tracer.spans.filter(_.name == "streaming.step")
      layers("streaming.step_s") = median(stepSpans.map(_.seconds))
      sourcesSweep()
      kernelSweep()
      registrySweep()
      Tracer.selfTimes(tracer.spans).toSeq.sortBy(_._1).foreach { case (k, v) =>
        layers(s"self.${k}_s") = v
      }
      tracer.writeJsonLines(Paths.get(a.outDir, "spans.jsonl"))
      tracer.recording = false
    }

    if (a.workload != "mr_analytics") checkPass(checkTally)

    val record = Seq(
      "workload" -> a.workload,
      "boot_s" -> bootS,
      "setup_s" -> setupS,
      "prepare_s" -> prepS,
      "passes_s" -> passS,
      "traced_passes_s" -> tracedPassS,
      "ingest_step_s" -> ingestS,
      // the ingest step is a streaming call, not a query: it is timed in
      // ingest_step_s and inside each drop's pass time
      "query_samples" -> timed.samples.collect { case (k, v) if k != "ingest_step" => k -> v.toSeq },
      "attempted" -> Seq(setupTally, timed, tracedTally, checkTally).map(_.attempted).sum,
      "failures" -> Seq(setupTally, timed, tracedTally, checkTally).flatMap(_.failures)
        .map { case (q, e) => Seq(q, e) },
      "check_queries" -> querySet,
      "peak_rss_mb" -> Jvm.peakRssMb(),
      "heap_max_mb" -> Jvm.heapMaxMb(),
      "spark_version" -> spark.version,
      "cores" -> a.cores,
      "registry_bytes" -> StoreState.dirBytes(registry),
      "layers" -> layers,
      "oracle_sql" -> querySet.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    Files.write(Paths.get(a.outDir, "raw.json"), Json.obj(record).getBytes("UTF-8"))
  }

  /** Write each checked query's whole result as parquet (outside every timed
    * region) for the DuckDB comparison. */
  private def checkPass(tally: Tally): Unit = querySet.foreach { q =>
    tally.run(q) {
      queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(Paths.get(a.outDir, "check", q).toString)
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}
