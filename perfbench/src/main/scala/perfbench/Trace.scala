package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The program's layers, named after its modules, and the rule that
  * attributes a Spark job to one of them.
  */
object Layers {
  val all: Seq[String] = Seq("ingest", "pos.transform", "pos.lake", "pos.reports",
    "pos.basket", "dedup", "similarity", "text", "streaming.shards", "spark")

  // Class-name prefix → layer. `Pipeline`'s own jobs are the raw-zone
  // extract (parse, raw write, batch probes), so they belong to ingest.
  private val byPrefix: Seq[(String, String)] = Seq(
    "graft.ingest." -> "ingest",
    "graft.sources." -> "ingest",
    "graft.pos.Pipeline" -> "ingest",
    "graft.pos.Transform" -> "pos.transform",
    "graft.pos.Lake" -> "pos.lake",
    "graft.pos.StateStore" -> "pos.lake",
    "graft.pos.MarketBasket" -> "pos.basket",
    "graft.pos." -> "pos.reports", // Reports, Analytics, ComboExplode, Charts
    "graft.dedup." -> "dedup",
    "graft.similarity." -> "similarity",
    "graft.text." -> "text",
    "graft.streaming.ShardStream" -> "streaming.shards",
    "graft.operators.GlobalRank" -> "streaming.shards")

  def ofClass(cls: String): Option[String] =
    byPrefix.collectFirst { case (p, l) if cls.startsWith(p) => l }

  /** Class of a stack-frame line such as
    * `graft.pos.Lake$.writeFull(Lake.scala:45)`.
    */
  def frameClass(frame: String): String = {
    val method = frame.takeWhile(_ != '(')
    method.substring(0, math.max(method.lastIndexOf('.'), 0))
  }

  /** The innermost `graft.` frame of a call site that belongs to a layer;
    * helper modules without a layer (expression and operator utilities)
    * are skipped outward. Returns (frame, layer).
    */
  def ofCallSite(details: String): Option[(String, String)] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .flatMap(f => ofClass(frameClass(f)).map(f -> _)).nextOption()
}

/** One benchmark span around a call into a layer. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Long, var endMs: Long = -1L)

/** One Spark job as the listener saw it, with the metrics of its tasks.
  * `details` is the call site: its first stage's, or, when that has no
  * `graft.` frame (adaptive execution submits stages from its own
  * threads), the call site of the SQL execution that started the job.
  */
final class JobRec(val id: Int, val startMs: Long, val details: String,
    val executionId: Long, val spanId: Int, val spanLayer: String) {
  @volatile var endMs: Long = -1L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  lazy val frame: Option[(String, String)] = Layers.ofCallSite(details)
  /** The job's layer: its call site's, else the enclosing span's. */
  lazy val layer: String = frame.map(_._2).getOrElse(spanLayer)
  def wallMs: Long = math.max(endMs - startMs, 0L)
  def innermostGraftClass: String = frame.map(f => Layers.frameClass(f._1)).getOrElse("")
}

/** Traced mode: a SparkListener that attributes every job to a layer, and
  * spans the benchmark records around each call it makes into a layer.
  * Everything stays in memory until [[write]]. A disabled tracer records
  * nothing and runs the calls bare.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spanKey = "perfbench.span"
  private val layerKey = "perfbench.layer"
  private val markerKey = "perfbench.marker"

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  private val executionSites = new ConcurrentHashMap[Long, String]()
  @volatile private var marker: CountDownLatch = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(markerKey) != null)) { markerJobs.add(e.jobId); return }
      // Jobs outside every span are the benchmark's own output checks.
      val spanId = props.flatMap(p => Option(p.getProperty(spanKey))).map(_.toInt).getOrElse(-1)
      if (spanId < 0) return
      val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val details =
        if (Layers.ofCallSite(stageSite).isDefined) stageSite
        else Option(executionSites.get(execution)).getOrElse(stageSite)
      val layer = props.flatMap(p => Option(p.getProperty(layerKey))).getOrElse("")
      val rec = new JobRec(e.jobId, e.time, details, execution, spanId, layer)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      if (markerJobs.remove(e.jobId) && marker != null) marker.countDown()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executionSites.put(x.executionId, x.details)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        rec.taskMs += m.executorRunTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span of `layer`; jobs it starts carry the span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      spans += s
      stack.push(s)
      val (prevSpan, prevLayer) = (sc.getLocalProperty(spanKey), sc.getLocalProperty(layerKey))
      sc.setLocalProperty(spanKey, s.id.toString)
      sc.setLocalProperty(layerKey, layer)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(spanKey, prevSpan)
        sc.setLocalProperty(layerKey, prevLayer)
      }
    }

  /** Wait until the listener has seen every event posted so far: run a
    * marker job and wait for its end, which the bus delivers after all
    * earlier events.
    */
  def drain(): Unit = if (enabled) {
    marker = new CountDownLatch(1)
    sc.setLocalProperty(markerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(markerKey, null)
    marker.await(30, TimeUnit.SECONDS)
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  /** Jobs started inside span `id` or any span nested in it. */
  def jobsUnder(spanIds: Set[Int]): Seq[JobRec] = {
    val closure = mutable.Set[Int]() ++ spanIds
    spans.foreach(s => if (closure(s.parent)) closure += s.id)
    allJobs.filter(j => closure(j.spanId))
  }

  def spanIds(name: String): Set[Int] = spans.filter(_.name == name).map(_.id).toSet

  /** Total length of the union of `[start, end)` intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(curE - curS, 0L); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(curE - curS, 0L)
  }

  /** Time inside `s` that no job covers: planning, HTTP, driver work. */
  private def driverMs(s: Span, js: Seq[JobRec]): Long = {
    val clipped = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
    math.max(s.endMs - s.startMs - unionMs(clipped), 0L)
  }

  /** `<layer>.wall_s/.jobs/.task_s/.shuffle_bytes/.driver_s` for every
    * layer, plus spark.gc_s, spark.core_util and spark.unattributed_jobs.
    * A layer's wall is the time its jobs run plus the driver time of the
    * spans that call into it; `spark` covers all jobs and all spans.
    * Probe spans (named `probe.*`) are left out: they are extra work the
    * traced run adds after its timed calls.
    */
  def layerMetrics(cores: Int): Map[String, Double] = {
    val probes = spans.filter(_.name.startsWith("probe.")).map(_.id).toSet
    val timed = spans.filter(s => s.endMs >= 0 && !probes(s.id))
    val js = allJobs.filter(j => j.endMs >= 0 && !probes(j.spanId))
    val leaves = timed.filter(s => !timed.exists(_.parent == s.id))
    val roots = timed.filter(_.parent < 0)
    val out = mutable.LinkedHashMap[String, Double]()
    def put(layer: String, mine: Seq[JobRec], driver: Long): Unit = {
      out(s"$layer.wall_s") = (unionMs(mine.map(j => (j.startMs, j.endMs))) + driver) / 1000.0
      out(s"$layer.jobs") = mine.length.toDouble
      out(s"$layer.task_s") = mine.map(_.taskMs).sum / 1000.0
      out(s"$layer.shuffle_bytes") = mine.map(_.shuffleBytes).sum.toDouble
      out(s"$layer.driver_s") = driver / 1000.0
    }
    Layers.all.filter(_ != "spark").foreach { l =>
      put(l, js.filter(_.layer == l), leaves.filter(_.layer == l).map(driverMs(_, js)).sum)
    }
    put("spark", js, roots.map(driverMs(_, js)).sum)
    val spanWall = unionMs(roots.map(s => (s.startMs, s.endMs)).toSeq)
    out("spark.gc_s") = js.map(_.gcMs).sum / 1000.0
    out("spark.core_util") =
      if (spanWall > 0) js.map(_.taskMs).sum.toDouble / (spanWall.toDouble * cores) else 0.0
    out("spark.unattributed_jobs") = js.count(j => !Layers.all.contains(j.layer)).toDouble
    out.toMap
  }

  /** Write spans and jobs as JSON lines under `dir`. */
  def write(dir: Path, name: String): Path = {
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    val lines = spans.map(s => Json.value(Map("span" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))) ++
      allJobs.map(j => Json.value(Map("job" -> j.id, "span" -> j.spanId, "layer" -> j.layer,
        "frame" -> j.frame.map(_._1).getOrElse(""), "execution" -> j.executionId,
        "site" -> j.details.linesIterator.take(1).mkString, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes)))
    Files.write(f, lines.asJava)
    f
  }
}
