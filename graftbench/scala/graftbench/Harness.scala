package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CurateConfig, GraftConfig, GraftSession, Pipeline}
import graft.operators._
import graft.ops.{Export, Report}
import graft.sources.Tables

/** Timing loop of the graft benchmark: drives graft only through its
  * public entry points, one client in a closed loop (the next call starts
  * when the previous one returns).
  *
  *   Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Writes `workDir/result.json` (raw samples and the environment) and,
  * with trace 1, `workDir/spans.jsonl`. Every call writes its output
  * under `workDir/out/<n>`; graftbench/run.py checks those outputs and
  * turns the samples into metrics.
  */
object Harness {
  /** Fresh sessions per run; the set-up figure is their median. */
  val SetupRepeats = 3

  final case class Conf(workload: String, in: String, work: String, seconds: Double,
                        trace: Boolean, cores: Int)

  /** Everything the run reports, as JSON-ready values. */
  final class Record {
    val setup = ArrayBuffer.empty[Double]
    val calls = ArrayBuffer.empty[Map[String, Any]]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  def session(c: Conf): (SparkSession, Probe) = {
    val spark = GraftSession.builder("graftbench")
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    probe.register(spark)
    (spark, probe)
  }

  /** A run times at least this many warm calls (pairs of untraced and
    * traced calls with trace 1). Three, not more: with the set-ups and
    * curate's warm-ups, a run on a slow spell of a shared 4-core host
    * already takes over a minute.
    */
  val MinCalls = 3
  val MinTracedCalls = 2

  /** Release caller-owned caches between calls, outside the clock; a GC
    * lets the context cleaner drop checkpoint blocks no frame references.
    */
  def settle(spark: SparkSession, gc: Boolean): Unit = {
    spark.catalog.clearCache()
    if (gc) System.gc()
  }

  def main(args: Array[String]): Unit = {
    val c = Conf(args(0), args(1), args(2), args(3).toDouble, args(4) == "1", args(5).toInt)
    val rec = new Record
    val spans = c.workload match {
      case "daily_snapshot" => runPipeline(c, rec, Daily)
      case "corpus_curate" => runPipeline(c, rec, new Curate)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.extra("env") = Map(
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "cpus" -> c.cores,
      "shuffle_partitions" -> c.cores)
    val out = Map("setup_s" -> rec.setup.toSeq, "calls" -> rec.calls.toSeq) ++ rec.extra
    json.writeValue(new java.io.File(s"${c.work}/result.json"), out)
    if (c.trace) {
      val lines = spans.map(json.writeValueAsString).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${c.work}/spans.jsonl"), lines)
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A pipeline workload: one production call, and the same work split
    * into layer calls, each in its own span.
    */
  trait PipelineWorkload {
    /** Untimed warm calls between the set-ups and the timed calls. */
    def warmups: Int = 0
    def call(spark: SparkSession, in: String, out: String): Unit
    def traced(spark: SparkSession, t: Trace, in: String, out: String): Unit
  }

  /** Materialize `df` through the noop sink; returns its row count. */
  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** `df`, after timing it through the noop sink. */
  def timed(df: DataFrame): DataFrame = { noop(df); df }

  /** Persist `df` and fill its cache, the cut the production call makes. */
  def persisted(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    df
  }

  object Daily extends PipelineWorkload {
    val Stamp = "bench"

    def call(spark: SparkSession, in: String, out: String): Unit = {
      Pipeline.runDaily(spark, in, out, Stamp, notify = Pipeline.Notify.silent)
      ()
    }

    /** runDaily one layer at a time. Only bars and enriched are cut, as
      * runDaily cuts them; every other frame is timed through the noop
      * sink in its own span and handed on uncut, so the exports and the
      * report re-derive what they re-derive in runDaily.
      */
    def traced(spark: SparkSession, t: Trace, in: String, out: String): Unit = {
      val base = Export.snapshotPath(out, Stamp)
      t("daily") {
        val o = t("Pipeline.build")(Pipeline.build(spark, in))
        t("Cleaning.cleanEvents")(
          t.note("rows_out", noop(Cleaning.cleanEvents(Tables.events(spark, in))).toDouble))
        t("Bars.daily")(persisted(o.bars))
        t("Indicators.enrichAll")(persisted(o.enriched))
        try {
          Seq("Breadth.breadthDaily" -> o.breadth, "Breadth.marketHealth" -> o.health,
            "Breadth.topMovers" -> o.movers, "Screener.signalScore" -> o.signals,
            "Screener.breakouts" -> o.breakouts).foreach { case (name, df) => t(name)(timed(df)) }
          Seq[(String, DataFrame, Seq[String], Int)](
            ("bars", o.bars, Seq("date"), 0), ("indicators", o.enriched, Nil, 0),
            ("breadth", o.breadth, Nil, 0), ("health", o.health, Nil, 1),
            ("movers", o.movers, Nil, 1), ("signals", o.signals, Nil, 0),
            ("breakouts", o.breakouts, Nil, 0)
          ).foreach { case (name, df, parts, maxFiles) =>
            t("Export.parquet")(Export.parquet(df, s"$base/$name", parts, maxFiles))
          }
          t("Report.dailyMarkdown")(Report.dailyMarkdown(
            Breadth.marketSummary(o.breadth, o.bars), o.movers, Breadth.marketRegime(o.breadth)))
        } finally {
          o.bars.unpersist(); o.enriched.unpersist()
        }
      }
      ()
    }
  }

  final class Curate extends PipelineWorkload {
    private val cfg = CurateConfig.from(GraftConfig.load("config/graft.yaml"))
    /** Token budget per shard: a few dozen shards at the benchmark's size. */
    val Budget = 8000L
    /** A warm curate call keeps getting faster for about a dozen calls
      * (C2 compiling the planner and task code; flat with C1 alone), by
      * about a third in all, most of it in the first four. Timing starts
      * on the flatter part.
      */
    override val warmups = 2

    def call(spark: SparkSession, in: String, out: String): Unit =
      Export.jsonlShards(cfg.curate(Tables.documents(spark, in)), out, Budget)

    /** CorpusPipeline.curate's default path one layer at a time. Only the
      * exact-deduplicated frame is cut, as curate cuts it; every other
      * frame is timed through the noop sink in its own span and handed on
      * uncut, so the export re-derives what it re-derives in production.
      */
    def traced(spark: SparkSession, t: Trace, in: String, out: String): Unit = {
      t("curate") {
        val gated = t("TextAnalysis.withQuality")(timed(TextAnalysis.withQuality(
          Tables.documents(spark, in))
          .filter(col("lang").isin(cfg.langs: _*) && col("quality_score") >= cfg.minQuality)))
        val exact = t("curate.exactDedup")(persisted(gated
          .withColumn("__rn", row_number().over(
            Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
          .filter(col("__rn") === 1).drop("__rn")))
        val pairs = t("Dedup.pairs") {
          val p = Dedup.minhashPairs(exact)
          t.note("count", noop(p).toDouble)
          p
        }
        val drops = t("Components.dedupClusters")(timed(
          Components.dedupClusters(pairs, "id1", "id2")
            .filter(col("is_canonical") === 0).select(col("id").as("doc_id"))))
        val released = t("TextAnalysis.splitByHash")(timed(TextAnalysis.splitByHash(
          exact.join(drops, Seq("doc_id"), "left_anti"), "doc_id", cfg.valFrac, cfg.testFrac)))
        t("Shard.shardPack")(noop(Shard.shardPack(released, Budget)))
        t("Export.jsonlShards")(Export.jsonlShards(released, out, Budget))
      }
    }
  }

  /** One call of a pipeline workload, timed; failures are recorded, not thrown. */
  def timedCall(spark: SparkSession, probe: Probe, rec: Record, kind: String, out: String)
               (body: => Unit): Double = {
    val w = new Interval(spark, probe)
    val err = try { body; None } catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
    val (secs, st) = w.close()
    rec.calls += Map("kind" -> kind, "out" -> out, "wall_s" -> secs, "error" -> err.orNull,
      "cached_mb" -> st.cachedPeak / 1e6, "read_mb" -> st.bytesRead / 1e6,
      "task_s" -> st.taskMs / 1e3)
    settle(spark, gc = true)
    secs
  }

  def runPipeline(c: Conf, rec: Record, wl: PipelineWorkload): Seq[Map[String, Any]] = {
    var n = 0
    def nextOut(): String = { n += 1; s"${c.work}/out/$n" }
    var spark: SparkSession = null
    var probe: Probe = null
    for (k <- 0 until (if (c.trace) 1 else SetupRepeats)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val (s, p) = session(c)
      spark = s; probe = p
      val started = (System.nanoTime() - t0) / 1e9
      val out = nextOut()
      rec.setup += started + timedCall(spark, probe, rec, "setup", out)(wl.call(spark, c.in, out))
    }
    for (_ <- 0 until wl.warmups) {
      val out = nextOut()
      timedCall(spark, probe, rec, "warmup", out)(wl.call(spark, c.in, out))
    }
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    val trace = new Trace(spark, probe, c.cores)
    var calls = 0
    while (System.nanoTime() < deadline || calls < (if (c.trace) MinTracedCalls else MinCalls)) {
      val out = nextOut()
      timedCall(spark, probe, rec, "measure", out)(wl.call(spark, c.in, out))
      if (c.trace) {
        val tout = nextOut()
        trace.run = n
        timedCall(spark, probe, rec, "traced", tout)(wl.traced(spark, trace, c.in, tout))
      }
      calls += 1
    }
    if (c.trace)
      new Catalogue.Runner(c, rec, spark, probe, trace).run(Catalogue.rowsFor(c.workload))
    spark.stop()
    trace.records
  }
}
