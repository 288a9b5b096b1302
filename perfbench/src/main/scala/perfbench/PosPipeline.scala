package perfbench

import graft.ingest.Receipts
import graft.pos.{Lake, Pipeline, StateStore, Transform}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Random

/** The paper's pipeline on one lake, write path then read path:
  *
  *  1. backfill: `Pipeline.fullExtract` → `Pipeline.loadHistorical`, three
  *     times, into fresh lakes;
  *  2. a closed loop of `Pipeline.dailyRun` calls, each taking the next
  *     175-receipt increment from the mock API;
  *  3. `Lake.compactTo`, four times, into fresh targets;
  *  4. a closed loop of `Pipeline.monthlyReport` over pairs of consecutive
  *     months of the lake the daily loop left (several files per month,
  *     duplicates), latest first, then `Pipeline.cumulativeReport` four
  *     times.
  *
  * The two loops share the phase's seconds equally. At-least-once delivery:
  * before one daily call in four the watermark goes back to its previous
  * value, as when a run dies between its lake write and its state commit,
  * so that call re-lands the previous increment. The mock serves pages with
  * no politeness delay (`pageDelayMs = 0`), so runs measure the program.
  */
final class PosPipeline(ctx: Ctx) extends Workload {
  import PosPipeline._
  private val spark = ctx.spark

  private var history: Array[PosData.Receipt] = _
  private var stream: Array[PosData.Receipt] = _
  private var api: MockApi = _

  private def feed(seed: Long, prefix: String, nHistory: Int, nStream: Int)
      : (Array[PosData.Receipt], Array[PosData.Receipt]) = {
    val rng = new Random(seed)
    val h = PosData.receipts(rng, s"$prefix-h", nHistory, historyStart, historyEnd)
    val s = PosData.receipts(rng, s"$prefix-d", nStream, historyEnd, streamEnd)
    (h, s)
  }

  def prepare(): Unit = {
    close()
    val (h, s) = feed(ctx.seed, "r", historyReceipts, streamReceipts)
    history = h
    stream = s
    api = new MockApi(h ++ s)
  }

  /** The whole path once, on a small feed and a mock of its own. */
  def warmUp(): Unit = {
    val (wh, ws) = feed(ctx.seed + 7919, "w", 1000, 175 * warmupCalls)
    val warm = new MockApi(wh ++ ws)
    try {
      val cfg = config(warm, ctx.mkdirs("warmup"))
      Pipeline.fullExtract(spark, cfg, PosData.iso(historyStart), PosData.iso(historyEnd))
      Pipeline.loadHistorical(spark, cfg, cfg.rawDir.resolve("receipts_historical").toString)
      new StateStore(cfg.statePath).commit(Some(PosData.iso(historyEnd)))
      (1 to warmupCalls).foreach(_ => Pipeline.dailyRun(spark, cfg))
      Lake.compactTo(spark, cfg.lakeRoot, cfg.lakeRoot + "_compacted")
      val months = wh.map(_.month).distinct.sorted
      (1 to 2).foreach(i => Pipeline.monthlyReport(spark, cfg, months(i), months(i - 1)))
      Pipeline.cumulativeReport(spark, cfg)
    } finally warm.stop()
  }

  override def close(): Unit = if (api != null) { api.stop(); api = null }

  private def config(api: MockApi, dir: Path): Pipeline.Config =
    Pipeline.Config(
      baseUrl = api.baseUrl,
      apiKey = "perfbench",
      lakeRoot = dir.resolve("lake").toString,
      statePath = dir.resolve("etl_state.json"),
      rawDir = dir.resolve("raw"),
      reportDir = dir.resolve("reports"),
      receiptCap = None,
      pageDelayMs = 0)

  def phase(seconds: Double, tr: Tracer): Phase = {
    val ph = new Phase(tr)
    val dir = ctx.mkdirs("pos")
    val cfg = config(api, dir)
    val (pages0, serve0) = (api.pages.get, api.serveNs.get)

    // Backfill: the paginated extract to the raw zone, then the lake load;
    // into lakes of their own, then into the lake the loop continues. The
    // first call of a kind in the phase runs markedly slower than the
    // next ones, and the next ones keep getting faster, so each kind gets
    // three or four calls and its median is a warm one.
    def backfill(c: Pipeline.Config): Option[Double] = {
      val extracted = ph.op("Pipeline.fullExtract", "ingest") {
        Pipeline.fullExtract(spark, c, PosData.iso(historyStart), PosData.iso(historyEnd))
      }(n => if (n == history.length) None else Some(s"extracted $n of ${history.length}"))
      val loaded = ph.op("Pipeline.loadHistorical", "pos.lake") {
        Pipeline.loadHistorical(spark, c, c.rawDir.resolve("receipts_historical").toString)
      }(_ => None)
      for ((_, a) <- extracted; (_, b) <- loaded) yield a + b
    }
    val backfills = (1 until backfillRuns).flatMap(_ => backfill(config(api, ctx.mkdirs("pos-backfill")))) ++
      backfill(cfg)
    if (backfills.nonEmpty) ph.itemsPerS = history.length / Stats.median(backfills)

    // The daily loop, from the backfill's cut-over. `raw` collects every
    // receipt the lake should hold, as often as it was landed.
    val all = history ++ stream
    val raw = mutable.ArrayBuffer[PosData.Receipt]() ++= history
    val store = new StateStore(cfg.statePath)
    store.commit(Some(PosData.iso(historyEnd)))
    val lost = new Random(ctx.seed * 31 + 5)
    var previous = Files.readString(cfg.statePath)
    var daily = 0
    Workload.loop(seconds / 2) { k =>
      if (k > 0 && lost.nextInt(4) == 0) Files.writeString(cfg.statePath, previous)
      previous = Files.readString(cfg.statePath)
      val since = PosData.ms(store.readLastTimestamp())
      daily += 1
      ph.op("Pipeline.dailyRun", "ingest")(Pipeline.dailyRun(spark, cfg)) { wrote =>
        val mark = store.readLastTimestamp()
        if (!wrote) Some("no new data appended")
        else if (!api.lastServedMax.contains(mark))
          Some(s"watermark $mark != last served ${api.lastServedMax}")
        else None
      }.foreach(ph.calls += _._2)
      // The client keeps the served receipts created after its watermark.
      api.lastServed.foreach(r => raw ++= r.map(all).filter(_.updatedMs > since))
    }
    val servedUpTo = api.lastServedMax.map(PosData.ms).getOrElse(Long.MinValue)
    val landed = history ++ stream.takeWhile(_.updatedMs <= servedUpTo)
    val lakeFiles = Stats.dataFiles(Path.of(cfg.lakeRoot), _.endsWith(".parquet"))
    ph.verify("lake holds every landed receipt") {
      LakeCheck.diff(spark, cfg.lakeRoot, landed, exactlyOnce = false)
    }

    // Compaction into fresh targets, each one checked.
    var compacted = ""
    (1 to compactions).foreach { i =>
      val target = dir.resolve(s"compacted-$i").toString
      ph.op("Lake.compactTo", "pos.lake")(Lake.compactTo(spark, cfg.lakeRoot, target)) { _ =>
        LakeCheck.diff(spark, target, landed, exactlyOnce = true)
      }.foreach { case (_, t) => ph.batches += t; compacted = target }
    }
    if (compacted.nonEmpty)
      ph.bytesPerItem = Stats.treeBytes(Path.of(compacted)).toDouble / landed.length

    // The report loop over the daily loop's lake.
    val months = landed.map(_.month).distinct.sorted.toIndexedSeq
    val pairs = months.indices.drop(1).map(i => (months(i), months(i - 1)))
    val cumulative = PosData.cumulativeFigures(raw)
    // Latest month first, so every seed reports the same months in the
    // same order: the months differ in size and in files per partition.
    var monthly = 0
    Workload.loop(seconds / 2) { _ =>
      val (report, comparison) = pairs(pairs.length - 1 - monthly % pairs.length)
      monthly += 1
      ph.op("Pipeline.monthlyReport", "pos.reports")(
        Pipeline.monthlyReport(spark, cfg, report, comparison))(
        md => PosData.checkMonthly(md, PosData.monthFigures(landed, report)))
        .foreach(ph.queries += _._2)
    }
    // After the monthly loop: a cumulative report drops a large cache, and
    // the monthly report right after one runs markedly slower.
    (1 to cumulatives).foreach { _ =>
      ph.op("Pipeline.cumulativeReport", "pos.reports")(Pipeline.cumulativeReport(spark, cfg))(
        md => PosData.checkCumulative(md, cumulative)).foreach(ph.scans += _._2)
    }

    ph.info ++= Seq("history_receipts" -> history.length, "backfill_s" -> backfills,
      "daily_calls" -> daily,
      "landed_receipts" -> landed.length, "lake_rows" -> raw.map(_.lines.length).sum,
      "lake_months" -> months.length, "monthly_calls" -> monthly)
    if (tr.enabled) ph.layer ++= layerMetrics(tr, cfg, compacted, lakeFiles, daily, monthly,
      api.pages.get - pages0, api.serveNs.get - serve0)
    ph
  }

  private def layerMetrics(tr: Tracer, cfg: Pipeline.Config, compacted: String,
      lakeFiles: Seq[Path], daily: Int, monthly: Int, pages: Long, serveNs: Long)
      : Seq[(String, Double)] = {
    tr.drain()
    val dailyJobs = tr.jobsUnder(tr.spanIds("Pipeline.dailyRun"))
    val monthlyJobs = tr.jobsUnder(tr.spanIds("Pipeline.monthlyReport"))
    val lakeJobs = tr.allJobs.filter(_.layer == "pos.lake")
    val basket = tr.allJobs.filter(_.layer == "pos.basket")
    val lakeRows = spark.read.parquet(cfg.lakeRoot).count()
    val lakeBytes = Stats.treeBytes(Path.of(cfg.lakeRoot)).toDouble
    val m = math.max(monthly, 1).toDouble
    val read = monthlyJobs.map(_.inputBytes).sum / m
    Seq(
      "spark.jobs_per_call" -> dailyJobs.length.toDouble / math.max(daily, 1),
      "ingest.pages" -> pages.toDouble,
      "ingest.http_s" -> serveNs / 1e9,
      "pos.lake.bytes_written" -> lakeJobs.map(_.outputBytes).sum.toDouble,
      "pos.lake.files_written" -> lakeFiles.length.toDouble,
      "pos.lake.files_per_partition" ->
        lakeFiles.length.toDouble / math.max(lakeFiles.map(_.getParent).distinct.length, 1),
      "pos.lake.dup_rows" ->
        (if (compacted.isEmpty) 0.0 else (lakeRows - spark.read.parquet(compacted).count()).toDouble),
      "pos.lake.bytes_read" -> read,
      "pos.lake.pruned_share" -> read / lakeBytes,
      "pos.reports.jobs_per_monthly" -> monthlyJobs.length / m,
      "pos.reports.charts_s" -> monthlyJobs
        .filter(_.innermostGraftClass.startsWith("graft.pos.Charts")).map(_.wallMs).sum / 1000.0 / m,
      // 1 when the rules came from MLlib FP-Growth, 0 for the driver mask tier.
      "pos.basket.tier" ->
        (if (basket.exists(_.details.contains("org.apache.spark.ml.fpm"))) 1.0 else 0.0)) ++
      parseAndTransformProbe(tr)
  }

  /** Traced only, after the timed calls: parse the backfill's pages alone,
    * then parse and transform them, each into Spark's no-op sink. The
    * transform fuses into the lake-write stage when the pipeline runs, so
    * this difference is the only place its cost shows by itself.
    */
  private def parseAndTransformProbe(tr: Tracer): Seq[(String, Double)] = {
    val pages = PosData.pages(history.toSeq, 250)
    def taskS(name: String, layer: String)(df: => org.apache.spark.sql.DataFrame): Double = {
      tr.span(name, layer)(df.write.format("noop").mode("overwrite").save())
      tr.drain()
      tr.jobsUnder(tr.spanIds(name)).map(_.taskMs).sum / 1000.0
    }
    val parse = taskS("probe.parse", "ingest")(Receipts.fromPages(spark, pages))
    val both = taskS("probe.transform", "pos.transform")(
      Transform.run(Receipts.fromPages(spark, pages)))
    Seq("ingest.parse_s" -> parse, "pos.transform.task_s" -> math.max(both - parse, 0.0))
  }
}

object PosPipeline {
  private val day = 24L * 3600 * 1000
  // 12,000 receipts over twelve months (the paper's shop: ~150,000 over 17).
  val historyReceipts = 12000
  val historyStart: Long = PosData.ms("2024-09-01T00:00:00.000Z")
  val historyEnd: Long = PosData.ms("2025-09-01T00:00:00.000Z")
  // Enough increments that no run exhausts the stream.
  val streamReceipts: Int = 175 * 100
  val streamEnd: Long = historyEnd + 120 * day
  val warmupCalls = 4
  val backfillRuns = 3
  val compactions = 4
  val cumulatives = 4
}

/** Lake contents against the receipts that were landed, read with plain
  * Spark (no program code).
  */
object LakeCheck {
  def diff(spark: SparkSession, root: String, landed: Seq[PosData.Receipt],
      exactlyOnce: Boolean): Option[String] = {
    val got = spark.read.parquet(root)
      .groupBy(col("receipt_number"))
      .agg(count(lit(1)).as("rows"), countDistinct(col("item_name")).as("items"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = landed.map(r => r.number -> r.lines.length.toLong).toMap
    val missing = want.keySet.diff(got.keySet)
    val extra = got.keySet.diff(want.keySet)
    val short = want.filter { case (k, n) => got.get(k).exists(_._2 != n) }
    val dup = if (exactlyOnce) got.filter { case (_, (rows, items)) => rows != items } else Map.empty
    if (missing.nonEmpty) Some(s"${missing.size} receipts missing, e.g. ${missing.head}")
    else if (extra.nonEmpty) Some(s"${extra.size} unexpected receipts, e.g. ${extra.head}")
    else if (short.nonEmpty) Some(s"${short.size} receipts with wrong line items, e.g. ${short.head}")
    else if (dup.nonEmpty) Some(s"${dup.size} receipts still duplicated, e.g. ${dup.head}")
    else None
  }
}
