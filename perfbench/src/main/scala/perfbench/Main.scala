package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run: one workload in one JVM, printing one JSON result.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work-dir D --trace-out T
  *
  * `setup_s` is the session start, plus the median of [[setUpRounds]]
  * input preparations, plus one warm-up. With `--trace 0` the timed phase
  * runs for S seconds and the result carries the end-to-end metrics. With `--trace 1` it runs
  * S/2 seconds untraced, then S/2 seconds traced, and the result carries
  * the per-layer metrics, `trace.overhead_s` among them.
  */
object Main {
  val setUpRounds = 3

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "call_p50_s" -> "s", "query_p50_s" -> "s",
    "batch_s" -> "s", "scan_s" -> "s", "items_per_s" -> "1/s",
    "bytes_per_item" -> "bytes", "peak_rss_mb" -> "MB", "ok_op_share" -> "ratio")

  private val generic = Seq("wall_s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "shuffle_bytes" -> "bytes", "driver_s" -> "s")

  /** Every per-layer metric, with its unit. A layer a workload leaves idle
    * reports 0.
    */
  val perLayer: Seq[(String, String)] =
    Layers.all.flatMap(l => generic.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "spark.jobs_per_call" -> "count", "spark.core_util" -> "ratio", "spark.gc_s" -> "s",
      "spark.unattributed_jobs" -> "count",
      "ingest.pages" -> "count", "ingest.http_s" -> "s", "ingest.parse_s" -> "s",
      "pos.lake.bytes_written" -> "bytes", "pos.lake.files_written" -> "count",
      "pos.lake.files_per_partition" -> "count", "pos.lake.dup_rows" -> "count",
      "pos.lake.bytes_read" -> "bytes", "pos.lake.pruned_share" -> "ratio",
      "pos.reports.jobs_per_monthly" -> "count", "pos.reports.charts_s" -> "s",
      "pos.basket.tier" -> "fpgrowth",
      "dedup.candidate_pairs" -> "count", "dedup.candidate_precision" -> "ratio",
      "dedup.planted_recall" -> "ratio", "dedup.components_tier" -> "distributed",
      "dedup.components_rounds" -> "count",
      "similarity.knn_edges" -> "count", "similarity.candidates_per_query" -> "count",
      "text.chunks" -> "count", "streaming.shards.skew" -> "ratio",
      "trace.overhead_s" -> "s")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** A session configured the way `graft.cli.Main` configures one, with
    * local[N] and N shuffle partitions, and every directory Spark writes
    * inside this run's work directory.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work-dir"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(nproc, 2)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val code = try {
      val ctx = Ctx(spark, seed, work, cores)
      val wl = Workload(name, ctx)
      try {
        def timed(body: => Unit): Double = {
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        val rounds = (1 to setUpRounds).map(_ => timed(wl.prepare()))
        val warmUpS = timed(wl.warmUp())
        val probeBefore = Stats.contentionProbeMs()
        val sc = spark.sparkContext
        val (ph, untraced) =
          if (!traced) (wl.phase(seconds, new Tracer(sc, enabled = false)), None)
          else {
            val base = wl.phase(seconds / 2, new Tracer(sc, enabled = false))
            val tr = new Tracer(sc, enabled = true)
            val ph = try wl.phase(seconds / 2, tr) finally { tr.drain(); tr.stop() }
            tr.write(Paths.get(opt("trace-out")), s"$name-seed$seed.jsonl")
            (ph, Some(base))
          }
        val probeAfter = Stats.contentionProbeMs()
        // Runs have 3–30 calls of a kind: too few for a tail with ten
        // samples beyond it, so tails go to the host line, not the metrics.
        val tail = if (ph.calls.isEmpty) None else Some(Stats.tail(ph.calls.toSeq))
        val queryTail = if (ph.queries.isEmpty) None else Some(Stats.tail(ph.queries.toSeq))

        val metrics: Seq[(String, Double, String)] =
          if (!traced) {
            def med(xs: collection.Seq[Double]) =
              if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
            val values = Map(
              "setup_s" -> (sessionS + Stats.median(rounds) + warmUpS),
              "call_p50_s" -> med(ph.calls),
              "query_p50_s" -> med(ph.queries),
              "batch_s" -> med(ph.batches),
              "scan_s" -> med(ph.scans),
              "items_per_s" -> ph.itemsPerS,
              "bytes_per_item" -> ph.bytesPerItem,
              "peak_rss_mb" -> Stats.peakRssMb(),
              "ok_op_share" -> (ph.attempted - ph.failed).toDouble / math.max(ph.attempted, 1))
            endToEnd.map { case (m, u) => (m, values(m), u) }
          } else {
            val tr = ph.tracer
            val overhead = for (b <- untraced if b.calls.nonEmpty && ph.calls.nonEmpty)
              yield Stats.median(ph.calls.toSeq) - Stats.median(b.calls.toSeq)
            val values = tr.layerMetrics(cores) ++ ph.layer ++
              Map("trace.overhead_s" -> overhead.getOrElse(Double.NaN))
            perLayer.map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }
          }

        val attempted = ph.attempted + untraced.map(_.attempted).getOrElse(0)
        val failed = ph.failed + untraced.map(_.failed).getOrElse(0)
        val host = Map(
          "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
          "nproc" -> nproc, "local_cores" -> cores, "master" -> spark.sparkContext.master,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
          "spark_version" -> spark.version, "jvm" -> System.getProperty("java.vm.version"),
          "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
          "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
          "contention_probe_before_ms" -> probeBefore,
          "contention_probe_after_ms" -> probeAfter,
          "session_start_s" -> sessionS, "prepare_rounds_s" -> rounds, "warm_up_s" -> warmUpS,
          "call_times_s" -> ph.calls.toSeq, "query_times_s" -> ph.queries.toSeq,
          "batch_times_s" -> ph.batches.toSeq, "scan_times_s" -> ph.scans.toSeq,
          "call_tail_s" -> tail.map(_._1).getOrElse(Double.NaN),
          "call_tail_percentile" -> tail.map(_._2).getOrElse(Double.NaN),
          "call_tail_n" -> tail.map(_._3).getOrElse(0),
          "query_tail_s" -> queryTail.map(_._1).getOrElse(Double.NaN),
          "query_tail_percentile" -> queryTail.map(_._2).getOrElse(Double.NaN),
          "query_tail_n" -> queryTail.map(_._3).getOrElse(0),
          "workload_info" -> ph.info, "errors" -> (untraced.toSeq.flatMap(_.errors) ++ ph.errors))
        println(Json.value(Map("host" -> host)))
        println(Json.value(Map(
          "correct" -> (failed == 0 && metrics.forall(!_._2.isNaN)),
          "attempted" -> attempted,
          "failed" -> failed,
          "metrics" -> metrics.map { case (m, v, u) => m -> Map("value" -> v, "unit" -> u) }
            .to(scala.collection.immutable.ListMap))))
        0
      } finally wl.close()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }
}
