package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.operators._
import graft.tools.Golden

/** Benchmark harness for graft, run by `perfbench/run.py` (which builds it,
  * prepares state and reads the result file this writes).
  *
  *   --mode prepare   build every store of the serve corpus once (cold
  *                    pass over all queries), recorded in `prepared.json`
  *   --mode run       one benchmark run of `--workload`
  *   --mode expected  write the (rows, checksum) map of every served query
  *                    and pipeline output over `--corpus` to `--out`
  *
  * Workloads:
  *   serve_sf0.001     [[ServeQueries]] over a corpus whose stores are
  *                     already built; warm-up + correctness pass, then
  *                     timed rounds in a seed-shuffled order.
  *   generation_sf0.001  a fresh corpus minus a seed-chosen delta: cold
  *                     store build, delta append, compaction, the first
  *                     serve after the delta (and, traced, Pipeline.run),
  *                     then timed rounds of [[GenerationQueries]] over the
  *                     new stores.
  *                     Serving after the delta uses a fresh session, as a
  *                     separate serving application would.
  *
  * Every timed query drives all of its columns through Spark's discard
  * (`noop`) sink, so no output column can be pruned away. Each run is one
  * closed-loop client thread. */
object Main {
  final case class Opts(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, corpus: String, delta: String, expected: String, out: String)

  /** Nominal length of one serve round; `--seconds` sets the number of
    * timed rounds as a fixed function of it, never from the measured speed. */
  val RoundSeconds = 6

  /** The serve workload's surface: both lane classes, the heaviest serves
    * (n-gram dedup, posting-index screen, ANN, media) and dim-scale queries
    * that sit on Spark's per-query floor, across 12 operator families. A
    * fresh process pays about three times a warm query's cost on first
    * touch, so all 92 queries do not fit one run; the trained IVF-PQ and OPQ
    * serves are left out because their training dominates preparation. */
  val ServeQueries: Seq[String] = Seq(
    "q_pricing_summary", "q_star_join", "q_forecast_changepoint", "q_hdi_volatility",
    "q_funnel", "q_asof_rates", "q_text_bpe", "q_dedup_ngram", "q_knn_ivf",
    "q_column_profile", "q_contamination_delta", "q_video_dedup").sorted

  /** The generation workload's serve surface: readers of the stores with a
    * public append path whose append is documented bit-equal to a rebuild.
    * The fact layout, the media hashes, the minhash and both simhash
    * signature stores and IVF-PQ are left out: their build, append and
    * compaction do not fit the run. */
  val GenerationQueries: Seq[String] = Seq(
    "q_contamination_delta",
    "q_forecast_linear", "q_seasonal_forecast",
    "q_dedup_embedding")

  /** Operator family of each served query (the object its constructor
    * lives in, `SparkEntry.rawQueries`). */
  val Family: Map[String, String] = Seq(
    "AsOf" -> "q_asof_rates q_enrich_attach",
    "Catalog" -> "q_column_profile q_distinct_slices",
    "Curation" -> ("q_collocations q_contamination q_contamination_delta q_lm_score " +
      "q_pii_scrub q_rarity_score q_rarity_thresholds q_repetition_stats " +
      "q_sample_stratified q_tfidf_terms"),
    "Dedup" -> ("q_dedup_excise q_dedup_minhash q_dedup_ngram q_dedup_resolve " +
      "q_dedup_simhash q_dedup_simhash_idf q_dup_spans"),
    "Events" -> ("q_cohort_retention q_conversion_cohort q_conversion_lag " +
      "q_event_windows q_funnel q_json_extract q_sessionize"),
    "Export" -> "q_export_manifest",
    "Forecast" -> ("q_forecast_changepoint q_forecast_horizon q_forecast_interval " +
      "q_forecast_linear q_forecast_recency q_forecast_weekly q_seasonal_forecast " +
      "q_topk_forecast"),
    "Impute" -> "q_impute_group_mean q_impute_mean",
    "Incremental" -> "q_backfill_rollup q_incremental_merge",
    "Multimodal" -> ("q_audio_phash q_image_dedup q_image_phash q_media_crossmodal " +
      "q_video_dedup q_video_mosaic"),
    "PricingSummary" -> "q_pricing_summary",
    "QualityModel" -> "q_quality_classifier",
    "Reshape" -> "q_pivot_monthly q_unpivot_wide",
    "Seasonal" -> "q_monthly_trend q_moving_avg q_seasonal_agg",
    "Similarity" -> ("q_dedup_embedding q_dedup_embedding_cells q_dedup_embedding_resolve " +
      "q_knn_brute q_knn_ivf q_knn_ivfpq q_knn_lsh q_knn_opq q_knn_pq"),
    "StarSchema" -> "q_date_dim q_dedup_merge q_dim_build q_ml_extract q_price_usd q_star_join",
    "Stats" -> "q_covariate_corr q_hdi_volatility",
    "TextAnalysis" -> ("q_corpus_clean q_corpus_clean_adaptive q_corpus_mix q_corpus_stats " +
      "q_dedup_apply q_dedup_exact q_fingerprint q_lang_id q_pack_bucketed " +
      "q_pack_sequences q_quality_thresholds q_text_bpe q_text_quality q_text_tokens " +
      "q_train_split q_vocab_top q_winnow_fingerprint"),
    "TopK" -> "q_topk_per_group q_topk_rows",
    "Units" -> "q_price_per_unit q_unit_normalize"
  ).flatMap { case (f, qs) => qs.split(' ').map(_ -> f) }.toMap

  /** Warehouse prefixes of the store families (`Similarity.servePath`). */
  val StorePrefixes: Seq[String] = Seq(
    "asof_rates_series", "emb_sigs", "enrich_resolved", "factlayout", "forecast_days",
    "funnel_stamps", "gt_serve_k10", "ivf_serve", "ivfpq_serve", "lm_bc", "lm_pc",
    "lr_serve", "media_hashes", "minhash_sigs", "opq_serve", "postings_serve", "pq_serve",
    "resolve_canon_t80", "semassign_serve", "semcells_serve", "simhash_idf_sigs",
    "simhash_idfw", "simhash_sigs")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "20").toInt,
      m.getOrElse("trace", "0") == "1", need("corpus"), m.getOrElse("delta", ""),
      m.getOrElse("expected", ""), m.getOrElse("out", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val b = GraftSession.builder("perfbench").master(s"local[${GraftSession.cpus}]")
    if (o.trace) b.config("spark.sql.queryExecutionListeners",
      classOf[TraceQueryListener].getName)
    val spark = b.getOrCreate()
    GraftSession.tuneLogs(spark)
    val startS = (System.nanoTime() - t0) / 1e9
    if (o.trace) spark.sparkContext.addSparkListener(new TraceJobListener)
    val r = new Run(spark, o, startS)
    try o.mode match {
      case "expected" => r.printExpected()
      case "prepare" => r.prepare()
      case "run" => o.workload match {
        case "serve_sf0.001" => r.serve()
        case "generation_sf0.001" => r.generation()
        case w => sys.error(s"unknown workload $w")
      }
      case m => sys.error(s"unknown mode $m")
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (f.length, 1L)
    else (0L, 0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** CPU seconds this process has used, all of its threads together. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }
}

/** One process's benchmark run. */
final class Run(spark: SparkSession, o: Main.Opts, sessionStartS: Double) {
  import Main._

  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var timedStartMs = 0L
  private var prepS = 0.0
  private val sc = spark.sparkContext
  /** The session queries are served from. */
  private var serving: SparkSession = spark
  /** Timed rounds of this run. */
  private val Rounds = math.max(1, math.round(o.seconds.toDouble / RoundSeconds).toInt)

  /** A per-layer metric (reported by the traced run). */
  private def metric(name: String, value: Double, unit: String, n: Long = 1L): Unit =
    metrics(name) = (value, unit, n)

  /** An end-to-end metric (reported by the untraced run). */
  private def endToEnd(name: String, value: Double, unit: String, n: Long = 1L): Unit =
    e2e(name) = (value, unit, n)

  private def attempt(): Unit = synchronized(attempted += 1)

  private def fail(what: String, e: Throwable): Unit = {
    synchronized {
      failed += 1
      failures += s"$what: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    System.err.println(s"[perfbench] FAILED $what")
    e.printStackTrace()
  }

  private def mismatch(what: String): Unit = {
    synchronized { failed += 1; failures += what }
    System.err.println(s"[perfbench] MISMATCH $what")
  }

  // ------------------------------------------------------------ operations

  private var opSeq = 0L

  /** Run `body` as one traced operation: a job group tags its Spark jobs,
    * and in the traced run the listener bus is drained afterwards so the
    * operation's counters are complete. Returns (seconds, stats). */
  private def op[T](name: String, parent: String)(body: => T): (Double, T, OpStats) = {
    opSeq += 1
    val id = s"$opSeq:$name"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    if (Trace.enabled) Trace.begin(id)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val v = body
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val st =
        if (Trace.enabled) {
          org.apache.spark.PerfbenchBus.drain(sc)
          Trace.span(Span(name, w0, w1, parent, id))
          Trace.statsOf(id)
        } else null
      (secs, v, st)
    } finally {
      if (Trace.enabled) Trace.end()
      sc.clearJobGroup()
    }
  }

  /** Per-query traced figures of served queries. */
  private final class QueryTrace {
    val constructS = mutable.ArrayBuffer.empty[Double]
    var hits = 0L
    var constructions = 0L
    var engaged = 0L
    val partitions = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[(OpStats, Double, Long, Long)]
    def reset(): Unit = {
      constructS.clear(); hits = 0; constructions = 0; engaged = 0
      partitions.clear(); stats.clear()
    }
  }
  private val qtrace = new QueryTrace
  private val lastFrame = mutable.HashMap.empty[String, DataFrame]

  /** Construct one served query and drive every column through the
    * discard sink; returns the wall seconds of construction + execution. */
  private def serveOnce(name: String, dir: String, parent: String): Double = {
    var constructS = 0.0
    var w0 = 0L
    val (secs, df, st) = op(name, parent) {
      w0 = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val df = SparkEntry.queries(name)(serving, dir)
      constructS = (System.nanoTime() - c0) / 1e9
      if (Trace.enabled)
        Trace.span(Span("construct", w0, System.currentTimeMillis(), "query", s"${opSeq}:$name"))
      df.write.format("noop").mode("overwrite").save()
      df
    }
    if (st != null) {
      qtrace.constructS += constructS
      qtrace.constructions += 1
      if (lastFrame.get(name).exists(_ eq df)) qtrace.hits += 1
      if (!(df.sparkSession eq serving)) qtrace.engaged += 1
      qtrace.partitions +=
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toDouble
      qtrace.stats += ((st, secs, w0, w0 + (secs * 1000).toLong))
    }
    lastFrame(name) = df
    secs
  }

  private def tryServe(name: String, dir: String, parent: String): Option[Double] = {
    attempt()
    try Some(serveOnce(name, dir, parent))
    catch { case NonFatal(e) => fail(name, e); None }
  }

  // ------------------------------------------------------------ correctness

  private lazy val expected: Map[String, (Long, String)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(new File(o.expected))
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
    }.toMap
  }

  /** Untimed checks execute on all cores but one: a fresh JVM pays about
    * three times a warm query's cost on first touch, most of it
    * single-threaded driver work (class loading, code generation, JIT). */
  private val checkThreads = math.max(1, GraftSession.cpus.toInt - 1)

  /** Check `queries`: construct them one at a time on this thread (the
    * engine's store registration is not safe under concurrent
    * construction), then checksum the results concurrently. */
  private def checkAll(queries: Seq[String], dir: String): Unit = {
    val frames = queries.flatMap { n =>
      try Some(n -> SparkEntry.queries(n)(serving, dir))
      catch { case NonFatal(e) => attempt(); fail(s"construct $n", e); None }
    }
    inParallel(frames) { case (n, df) => check(n, df) }
  }

  private def inParallel[A](xs: Seq[A])(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(checkThreads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Check one result against the committed map; counts a mismatch as a
    * failed operation. */
  private def check(key: String, df: => DataFrame): Unit = {
    attempt()
    try {
      val (rows, sum) = Golden.checksum(df)
      expected.get(key) match {
        case None => mismatch(s"$key: no expected checksum")
        case Some((er, es)) =>
          if (er != rows || es != sum) mismatch(s"$key: got ($rows, $sum), expected ($er, $es)")
      }
    } catch { case NonFatal(e) => fail(s"check $key", e) }
  }

  private def recallMin(names: Seq[String], dir: String): Double =
    names.flatMap { n =>
      try {
        val df = SparkEntry.queries(n)(serving, dir)
        if (df.columns.contains("recall_at_k"))
          Option(df.agg(min(col("recall_at_k"))).collect()(0).get(0))
            .map(_.asInstanceOf[Number].doubleValue)
        else None
      } catch { case NonFatal(e) => fail(s"recall $n", e); None }
    }.foldLeft(1.0)(_ min _)

  def printExpected(): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val entries = names.map { n =>
      val (rows, sum) = Golden.checksum(SparkEntry.queries(n)(spark, o.corpus))
      s"""  "$n": [$rows, "$sum"]"""
    }
    val out = new File("pipeline_out").getAbsoluteFile
    deleteTree(out)
    Pipeline.run(spark, o.corpus, out.getPath)
    val stages = Option(out.listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).sorted
    val pipe = stages.map { s =>
      val (rows, sum) = Golden.checksum(spark.read.parquet(s"${out.getPath}/$s"))
      s"""  "pipeline/$s": [$rows, "$sum"]"""
    }
    java.nio.file.Files.write(new File(o.out).toPath,
      (entries ++ pipe).mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }

  // ------------------------------------------------------------ store view

  /** Newest modification time per store prefix in the warehouse. */
  private def storeState(): Map[String, Long] = {
    val w = new File("spark-warehouse")
    def newest(f: File): Long =
      if (f.isDirectory) (f.lastModified +: Option(f.listFiles).getOrElse(Array.empty)
        .toSeq.map(newest)).max
      else f.lastModified
    Option(w.listFiles).getOrElse(Array.empty).toSeq.flatMap { f =>
      StorePrefixes.sortBy(-_.length).find(p => f.getName.startsWith(p + "_"))
        .map(_ -> newest(f))
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).max }
  }

  private def changed(before: Map[String, Long], after: Map[String, Long]): Seq[String] =
    after.collect { case (p, t) if !before.get(p).contains(t) => p }.toSeq.sorted

  /** Number of store generations stamped: sidecar (`*_model`) dirs whose
    * contents changed. */
  private def sidecars(): Map[String, Long] = {
    val w = new File("spark-warehouse")
    Option(w.listFiles).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.endsWith("_model") && f.isDirectory)
      .map(f => f.getName -> (f.lastModified +: Option(f.listFiles)
        .getOrElse(Array.empty).toSeq.map(_.lastModified)).max)
      .toMap
  }

  /** Cold pass over `names`, attributing each query's wall time evenly to
    * the store prefixes it created (measured from outside: the warehouse
    * before and after the query). Returns per-prefix build seconds. */
  private def coldPass(names: Seq[String], dir: String, parent: String)
      : (Double, mutable.LinkedHashMap[String, Double]) = {
    val build = mutable.LinkedHashMap.empty[String, Double]
    var total = 0.0
    names.foreach { n =>
      val before = storeState()
      tryServe(n, dir, parent).foreach { s =>
        total += s
        val ch = changed(before, storeState())
        ch.foreach(p => build(p) = build.getOrElse(p, 0.0) + s / ch.size)
      }
    }
    (total, build)
  }

  // ------------------------------------------------------------ serve

  /** One-time store build of the serve corpus, recorded but never timed. */
  def prepare(): Unit = {
    val p0 = System.nanoTime()
    val (_, build) = coldPass(ServeQueries, o.corpus, "prepare")
    prepS = (System.nanoTime() - p0) / 1e9
    build.foreach { case (p, s) => metric(s"ServingStore.$p.build_s", s, "s") }
    finish()
  }

  def serve(): Unit = {
    val dir = o.corpus
    val rnd = new scala.util.Random(o.seed)
    // warm-up, untimed: every query checksummed (the correctness check)
    val w0 = System.nanoTime()
    checkAll(rnd.shuffle(ServeQueries), dir)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val sidecarsBefore = sidecars()
    timedServe(ServeQueries, dir, rnd, warmupS)
    if (o.trace) {
      metric("ServingStore.generations_built",
        changed(sidecarsBefore, sidecars()).size.toDouble, "count")
      val ann = Seq("q_knn_ivf")
      metric("Similarity.recall_at_k_min", recallMin(ann, dir), "ratio", ann.size)
      zeroGenerationLayers()
    }
    metric("jvm.peak_rss_mb", peakRssMb, "MB")
    finish()
  }

  /** The timed part of both workloads: `Rounds` rounds over `names`, each
    * in a seed-shuffled order. `serve_cpu_s` sums, over the queries, the
    * least CPU seconds (all threads of the process) that one execution of
    * the query took; `serve_s` sums each query's fastest wall time. On a
    * host whose cores are shared, a query's other executions measure its
    * neighbours as much as the engine, and CPU seconds moved less between
    * runs than wall time. The traced run serves each query twice in a row,
    * untraced and traced, in a seeded order per pair; the difference of
    * the two sample sets is the tracing overhead, and the traced samples
    * give the per-layer metrics. */
  private def timedServe(names: Seq[String], dir: String, rnd: scala.util.Random,
      warmupS: Double): Unit = {
    val orders = (1 to Rounds).map(_ => rnd.shuffle(names))
    type Samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]
    def samples(): Samples = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    def leastSum(s: Samples): Double = s.values.map(v => if (v.isEmpty) 0.0 else v.min).sum
    def serveMetrics(s: Samples): Map[String, Double] = Map(
      "serve_s" -> leastSum(s),
      "serve_total_s" -> s.values.map(v => median(v.toSeq)).sum,
      "serve_p50_s" -> median(s.values.flatten.toSeq))

    timedStartMs = System.currentTimeMillis()
    qtrace.reset()
    val (plain, plainCpu) = (samples(), samples())
    /** Serve `n` once, adding its wall and CPU seconds to `wall` and `cpu`. */
    def serveInto(n: String, i: Int, wall: Samples, cpu: Samples): Unit = {
      val c0 = cpuS
      tryServe(n, dir, s"round ${i + 1}").foreach { s =>
        wall(n) += s
        cpu(n) += cpuS - c0
      }
    }
    if (!o.trace) {
      orders.zipWithIndex.foreach { case (order, i) =>
        order.foreach(n => serveInto(n, i, plain, plainCpu))
      }
      names.foreach { q =>
        System.err.println(s"[perfbench] $q wall ${plain(q).map(x => f"$x%.3f").mkString(" ")}" +
          s" cpu ${plainCpu(q).map(x => f"$x%.3f").mkString(" ")}")
      }
      val m = serveMetrics(plain)
      val n = plain.values.map(_.size).sum.toLong
      endToEnd("serve_cpu_s", leastSum(plainCpu), "s", n)
      endToEnd("serve_s", m("serve_s"), "s", n)
      endToEnd("serve_total_s", m("serve_total_s"), "s", n)
      endToEnd("serve_p50_s", m("serve_p50_s"), "s", n)
    } else {
      val (traced, tracedCpu) = (samples(), samples())
      orders.zipWithIndex.foreach { case (order, i) =>
        order.foreach { n =>
          def untracedOnce(): Unit = serveInto(n, i, plain, plainCpu)
          def tracedOnce(): Unit = {
            Trace.enabled = true
            try serveInto(n, i, traced, tracedCpu)
            finally Trace.enabled = false
          }
          if (rnd.nextBoolean()) { tracedOnce(); untracedOnce() }
          else { untracedOnce(); tracedOnce() }
        }
      }
      val (p, t) = (serveMetrics(plain), serveMetrics(traced))
      metric("trace.overhead.serve_cpu_s", leastSum(tracedCpu) - leastSum(plainCpu), "s")
      Seq("serve_s", "serve_total_s", "serve_p50_s").foreach { k =>
        metric(s"trace.overhead.$k", t(k) - p(k), "s")
      }
      layerMetrics(traced.map { case (k, v) => k -> v.toSeq }.toMap, warmupS)
    }
  }

  /** Per-layer metrics of the traced served queries. */
  private def layerMetrics(samples: Map[String, Seq[Double]], warmupS: Double): Unit = {
    val qt = qtrace
    val n = qt.stats.size.max(1).toDouble
    def sum(f: OpStats => Long): Double = qt.stats.map(s => f(s._1).toDouble).sum
    metric("GraftSession.start_s", sessionStartS, "s")
    metric("GraftSession.warmup_s", warmupS, "s")
    metric("PlanCache.construct_s", qt.constructS.sum, "s", qt.constructions)
    metric("PlanCache.hit_ratio", qt.hits / qt.constructions.max(1L).toDouble, "ratio",
      qt.constructions)
    metric("Lane.engaged_ratio", qt.engaged / n, "ratio", qt.stats.size)
    metric("Lane.shuffle_partitions_mean", qt.partitions.sum / n, "count", qt.stats.size)
    metric("plans.plan_s", sum(_.planMs) / 1000.0, "s", qt.stats.size)
    metric("plans.exchanges", sum(_.exchanges), "count")
    metric("plans.bnl_joins", sum(_.bnlJoins), "count")
    metric("scheduler.jobs", sum(_.jobs), "count")
    metric("scheduler.stages", sum(_.stages), "count")
    metric("scheduler.tasks", sum(_.tasks), "count")
    metric("scheduler.driver_s", qt.stats.map { case (s, secs, a, b) =>
      (secs - s.jobCoveredMs(a, b) / 1000.0).max(0.0)
    }.sum, "s")
    metric("exec.task_run_s", sum(_.taskRunMs) / 1000.0, "s")
    metric("exec.task_cpu_s", sum(_.taskCpuNs) / 1e9, "s")
    metric("exec.gc_s", sum(_.gcMs) / 1000.0, "s")
    metric("exec.shuffle_write_bytes", sum(_.shuffleWrite), "bytes")
    metric("exec.shuffle_read_bytes", sum(_.shuffleRead), "bytes")
    metric("exec.spill_bytes", sum(_.spill), "bytes")
    metric("exec.peak_exec_mem_bytes",
      qt.stats.map(_._1.peakExecMem.toDouble).foldLeft(0.0)(_ max _), "bytes")
    metric("Tables.scan_bytes", sum(_.scanBytes), "bytes")
    metric("Tables.scan_rows", sum(_.scanRows), "count")
    metric("operators.hot_drops", sum(_.hotDrops), "count")
    val fams = Family.values.toSeq.distinct.sorted
    fams.foreach { f =>
      val qs = samples.filter { case (q, _) => Family.get(q).contains(f) }
      metric(s"operators.$f.serve_s", qs.values.map(median).sum, "s", qs.size)
    }
  }

  // ------------------------------------------------------------ generation

  /** Per-layer metrics that only the generation workload moves; the serve
    * workload reports them as 0 so every traced run carries every metric. */
  private def zeroGenerationLayers(): Unit = {
    StorePrefixes.foreach { p =>
      metrics.getOrElseUpdate(s"ServingStore.$p.build_s", (0.0, "s", 0L))
    }
    AppendPrefixes.values.toSeq.distinct.foreach { p =>
      metrics.getOrElseUpdate(s"ServingStore.$p.append_s", (0.0, "s", 0L))
    }
    CompactPrefixes.foreach { p =>
      metrics.getOrElseUpdate(s"ServingStore.$p.compact_s", (0.0, "s", 0L))
    }
    Seq("ServingStore.bytes_on_disk" -> "bytes", "ServingStore.files_on_disk" -> "count",
      "Pipeline.output_bytes" -> "bytes", "generation.build_s" -> "s",
      "generation.append_s" -> "s", "generation.compact_s" -> "s",
      "generation.serve_after_delta_s" -> "s", "generation.pipeline_s" -> "s",
      "generation.land_s" -> "s", "generation.bytes_written_per_input_byte" -> "ratio")
      .foreach { case (k, u) => metrics.getOrElseUpdate(k, (0.0, u, 0L)) }
    PipelineStages.foreach { s =>
      metrics.getOrElseUpdate(s"Pipeline.${s}_s", (0.0, "s", 0L))
    }
  }

  val AppendPrefixes: Map[String, String] = Map(
    "appendPostings" -> "postings_serve",

"appendDayStats" -> "forecast_days",
    "appendEmbSigs" -> "emb_sigs")
  val CompactPrefixes: Seq[String] = Seq("postings_serve")
  val PipelineStages: Seq[String] = Seq("dim_locality", "dim_country", "dim_date",
    "dim_unit", "fact_rollup", "fact_price_per_unit", "seasonal", "monthly_trend",
    "best_markets", "forecasts", "ml_data", "corpus_thresholds", "corpus_clean",
    "corpus_repetition", "corpus_pii", "corpus_decontamination", "corpus_splits",
    "corpus_packed", "corpus_report", "quality_scores", "forecast_model")

  /** `--corpus` is a never-served corpus minus a delta, and `--delta` holds
    * the delta's orders, lineitems, documents and embeddings (both written
    * by run.py from the seed). The new generation (steps 1-4) is one cold
    * pass that cannot be repeated within a run, so it is set-up: its cost
    * shows in `setup_s`, and per step in the traced run. The timed rounds
    * then serve from the appended and compacted stores. `Pipeline.run`
    * (step 5) runs in the traced run only: one cold run of it costs as much
    * as three timed serve rounds, and a single sample of it is not steady. */
  def generation(): Unit = {
    val dir = o.corpus
    val rnd = new scala.util.Random(o.seed)
    val inBytes = (dirBytes(new File(dir))._1 + dirBytes(new File(o.delta))._1).toDouble
    def read(t: String) = spark.read.parquet(s"${o.delta}/$t.parquet")
    val oDelta = read("orders")
    val liDelta = read("lineitem")
    val docDelta = read("documents")
    val embDelta = read("embeddings")

    if (o.trace) Trace.enabled = true
    // 1. cold build of every store the generation surface serves from
    val (buildS, build) = coldPass(GenerationQueries, dir, "build")
    // 2. land the delta, then fold it into every appendable store
    val docFp = Similarity.corpusFingerprint(spark, dir, "documents.parquet")
    val dayFp = Forecast.dayStatsFingerprint(spark, dir)
    val embFp = Similarity.embSigsFingerprint(spark, dir)
    val (landS, _, _) = op("land delta", "append") {
      oDelta.write.mode("append").parquet(s"$dir/orders.parquet")
      liDelta.write.mode("append").parquet(s"$dir/lineitem.parquet")
      docDelta.write.mode("append").parquet(s"$dir/documents.parquet")
      embDelta.write.mode("append").parquet(s"$dir/embeddings.parquet")
    }
    val dayDelta = liDelta
      .join(broadcast(spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        datediff(col("l_shipdate"), lit("1995-01-01").cast("date")).cast("long").as("x"),
        col("l_extendedprice").as("y"))
    val appends: Seq[(String, () => Unit)] = Seq(
      "appendPostings" -> (() => { Dedup.appendPostings(spark, dir, docDelta, expectedFp = Some(docFp)); () }),
      "appendDayStats" -> (() => Forecast.appendDayStats(spark, dir, dayDelta, dayFp)),
      "appendEmbSigs" -> (() => Similarity.appendEmbSigs(spark, dir, embDelta, embFp)))
    val appendS = appends.map { case (name, f) =>
      attempt()
      try {
        val (s, _, _) = op(name, "append")(f())
        metric(s"ServingStore.${AppendPrefixes(name)}.append_s", s, "s")
        s
      } catch { case NonFatal(e) => fail(name, e); 0.0 }
    }.sum
    // 3. compaction
    val compacts: Seq[(String, () => Unit)] = Seq(
      "postings_serve" -> (() => Dedup.compactPostings(spark, dir)))
    val compactS = compacts.map { case (p, f) =>
      attempt()
      try {
        val (s, _, _) = op(s"compact $p", "compact")(f())
        metric(s"ServingStore.$p.compact_s", s, "s")
        s
      } catch { case NonFatal(e) => fail(s"compact $p", e); 0.0 }
    }.sum
    // 4. the first serve after the delta (rebuilding what has no append
    // path), from a fresh session: file listings cached by the building
    // session's interactive-lane children do not see the compaction
    serving = spark.newSession()
    val sidecarsBefore = sidecars()
    val served = GenerationQueries.flatMap(n => tryServe(n, dir, "serve after delta").map(n -> _))
    val serveS = served.map(_._2).sum
    val rebuilt = changed(sidecarsBefore, sidecars()).size
    // 5. the batch pipeline into a fresh output directory
    val out = new File(new File(dir).getAbsoluteFile.getParentFile, "pipeline_out").getPath
    val captured = new java.io.ByteArrayOutputStream()
    val pipelineS =
      if (!o.trace) 0.0
      else {
        attempt()
        try op("Pipeline.run", "pipeline") {
          Console.withOut(new java.io.PrintStream(captured, true, "UTF-8")) {
            Pipeline.run(serving, dir, out)
          }
        }._1
        catch { case NonFatal(e) => fail("Pipeline.run", e); 0.0 }
      }
    Trace.enabled = false
    System.err.println(f"[perfbench] generation build $buildS%.3f land $landS%.3f " +
      f"append $appendS%.3f compact $compactS%.3f serve $serveS%.3f pipeline $pipelineS%.3f")

    // correctness, untimed: appended stores serve the full-corpus results
    checkAll(GenerationQueries, dir)
    if (o.trace) {
      val stages = Option(new File(out).listFiles).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).sorted
      inParallel(PipelineStages) { s =>
        check(s"pipeline/$s", serving.read.parquet(s"$out/$s"))
      }
      if (stages.toSeq != PipelineStages.sorted)
        mismatch(s"pipeline stages ${stages.mkString(",")}")
    }
    val (storeBytes, storeFiles) = dirBytes(new File("spark-warehouse"))
    val (outBytes, _) = dirBytes(new File(out))

    timedServe(GenerationQueries, dir, rnd, 0.0)
    metric("jvm.peak_rss_mb", peakRssMb, "MB")
    if (o.trace) {
      build.foreach { case (p, s) => metric(s"ServingStore.$p.build_s", s, "s") }
      metric("ServingStore.bytes_on_disk", storeBytes.toDouble, "bytes")
      metric("ServingStore.files_on_disk", storeFiles.toDouble, "count")
      metric("ServingStore.generations_built", rebuilt.toDouble, "count")
      metric("generation.build_s", buildS, "s")
      metric("generation.land_s", landS, "s")
      metric("generation.append_s", appendS, "s")
      metric("generation.compact_s", compactS, "s")
      metric("generation.serve_after_delta_s", serveS, "s", served.size)
      metric("generation.pipeline_s", pipelineS, "s")
      metric("generation.bytes_written_per_input_byte",
        (storeBytes + outBytes) / inBytes, "ratio")
      metric("Pipeline.output_bytes", outBytes.toDouble, "bytes")
      val line = """\[pipeline\] (\S+)\s+([0-9.]+)s""".r
      new String(captured.toByteArray, "UTF-8").linesIterator.foreach {
        case line(stage, s) if stage != "TOTAL" => metric(s"Pipeline.${stage}_s", s.toDouble, "s")
        case _ => ()
      }
      metric("Similarity.recall_at_k_min", recallMin(Seq("q_knn_lsh"), dir), "ratio", 1)
      zeroGenerationLayers()
    }
    finish()
  }

  // ------------------------------------------------------------ result

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  private def finish(): Unit = {
    def ms(m: mutable.LinkedHashMap[String, (Double, String, Long)]) = m.map {
      case (k, (v, u, n)) =>
        s""""${str(k)}": {"value": ${num(v)}, "unit": "${str(u)}", "n": $n}"""
    }.mkString("{", ", ", "}")
    val fl = failures.take(50).map(f => "\"" + str(f) + "\"").mkString("[", ", ", "]")
    val json =
      s"""{"correct": ${failed == 0}, "attempted": ${attempted.max(1)}, "failed": $failed, """ +
        s""""e2e": ${ms(e2e)}, "layers": ${ms(metrics)}, "timed_start_ms": $timedStartMs, "prepare_s": ${num(prepS)}, """ +
        s""""failures": $fl}"""
    java.nio.file.Files.write(new File(o.out).toPath, json.getBytes("UTF-8"))
    if (o.trace) {
      val spans = Trace.spans.map { s =>
        s"""{"name": "${str(s.name)}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
          s""""parent": "${str(s.parent)}", "op": "${str(s.op)}"}"""
      }
      java.nio.file.Files.write(new File("spans.jsonl").toPath,
        spans.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}
