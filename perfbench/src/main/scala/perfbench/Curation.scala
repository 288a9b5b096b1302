package perfbench

import graft.dedup.{Components, MinHashLSH}
import graft.similarity.Ann
import graft.streaming.ShardStream
import graft.text.TextOps
import java.nio.file.Path
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The README's scale-out corpus chain, composed from the program's public
  * functions and ending in one Parquet sink:
  *
  *  1. near-duplicate dedup: `MinHashLSH.signatures` → `candidatePairs` →
  *     `Components.connectedComponents`, keeping each component's min id;
  *  2. semantic dedup: `Ann.kmeansIterate` lists → `Ann.knnGraph` →
  *     `Components` over the close edges;
  *  3. `TextOps.curate` → `TextOps.chunk`;
  *  4. `ShardStream.batchDeal` and its manifest; the chunks go to the sink
  *     with their shard.
  *
  * Each stage's result is checkpointed once, as a pipeline would persist
  * it between stages, so every job runs inside the stage that needs it.
  * The planted near-duplicate clusters give more candidate edges than
  * `Components`' 65,536-edge driver bound, so its distributed propagation
  * runs; the semantic stage's few edges stay on the driver tier.
  */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark

  private var docs: IndexedSeq[CorpusData.Doc] = _
  private var input: String = _

  def prepare(): Unit = {
    docs = CorpusData.generate(ctx.seed, clusters, clusterSize, singles, paraphraseGroups, docLength)
    if (input != null) Stats.deleteTree(Path.of(input))
    input = ctx.fresh("corpus").toString
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType), StructField("emb", ArrayType(FloatType))))
    val rows = docs.map(d => Row(d.id, d.source, d.text, d.emb.toSeq))
    spark.createDataFrame(rows.asJava, schema).repartition(ctx.cores).write.parquet(input)
  }

  /** Two whole passes of the chain. Passes keep getting faster for about
    * a minute of this workload (the JIT compiler at work), most of all
    * over the first three: after one warm-up pass the first timed pass
    * still ran 5–30% slower than the next.
    */
  def warmUp(): Unit = (1 to 2).foreach { _ =>
    chain(new Tracer(spark.sparkContext, enabled = false), ctx.fresh("warmup-sink").toString)
  }

  /** What one chain pass leaves for the checks. */
  private final case class Pass(candidates: DataFrame, labels: DataFrame, knn: DataFrame,
      lists: DataFrame, manifest: Array[Row], sink: String,
      minhashS: Double, componentsS: Double, knnS: Double)

  private def chain(tr: Tracer, sink: String): Pass = {
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val corpus = spark.read.parquet(input)
    val (candidates, minhashS) = timed(tr.span("MinHashLSH.candidatePairs", "dedup") {
      val sig = MinHashLSH.signatures(corpus, "doc_id", "text", shingleSize = 3, numHashes = numHashes)
      MinHashLSH.candidatePairs(sig, "doc_id", numHashes = numHashes, rowsPerBand = 2).localCheckpoint()
    })
    val (labels, componentsS) = timed(tr.span("Components.minhash", "dedup") {
      Components.connectedComponents(corpus.select("doc_id"), "doc_id",
        candidates.filter(col("est_jaccard") >= jaccardThreshold), "id_a", "id_b")
    })
    val canon = corpus.join(labels.filter(col("doc_id") === col("component")), Seq("doc_id"), "left_semi")

    val ((lists, knn), knnS) = timed(tr.span("Ann.knnGraph", "similarity") {
      val withInit = canon.withColumn("init", col("doc_id") % numLists)
      val lists = Ann.kmeansIterate(withInit, "doc_id", "emb", "init", iters = 1).localCheckpoint()
      val indexed = canon.join(lists.select("doc_id", "list"), "doc_id")
      (lists, Ann.knnGraph(indexed, "doc_id", "emb", "list", k = 4, nprobe = nprobe).localCheckpoint())
    })
    val semantic = tr.span("Components.semantic", "dedup") {
      Components.connectedComponents(canon.select("doc_id"), "doc_id",
        knn.filter(col("cosine") >= cosineThreshold), "qid", "bid")
    }
    val kept = canon.join(semantic.filter(col("doc_id") === col("component")), Seq("doc_id"), "left_semi")

    val curated = tr.span("TextOps.curate", "text") {
      TextOps.curate(kept, "doc_id", "text", samplePct = samplePct).localCheckpoint()
    }
    val (dealt, manifest) = tr.span("ShardStream.batchDeal", "streaming.shards") {
      val dealt = ShardStream.batchDeal(curated.select("doc_id", "source", "text"), numShards)
        .localCheckpoint()
      (dealt, ShardStream.manifestOf(dealt, curated.select("doc_id", "text")).collect())
    }
    tr.span("TextOps.chunk", "text") {
      TextOps.chunk(curated, "doc_id", "text", chunkTokens = 64, overlap = 16)
        .join(dealt.select("doc_id", "shard", "pos_in_shard"), "doc_id")
        .write.parquet(sink)
    }
    Pass(candidates, labels, knn, lists, manifest, sink, minhashS, componentsS, knnS)
  }

  /** Share of planted near-duplicate pairs that ended in one component. */
  private def plantedRecall(labels: DataFrame): Double = {
    val label = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = docs.filter(_.cluster >= 0).groupBy(_.cluster).values.toSeq.flatMap { ds =>
      ds.combinations(2).map(p => label.get(p(0).id) == label.get(p(1).id) && label.contains(p(0).id))
    }
    pairs.count(identity).toDouble / pairs.length
  }

  /** Order-independent digest of the sink's rows, and their count. */
  private def digest(sink: String): (String, Int) = {
    val rows = spark.read.parquet(sink)
      .select("doc_id", "chunk_idx", "shard", "pos_in_shard", "n_tokens", "chunk_text")
      .collect().map(_.mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, rows.length)
  }

  def phase(seconds: Double, tr: Tracer): Phase = {
    val ph = new Phase(tr)
    var first: Option[String] = None
    var last: Option[Pass] = None
    var recall = Double.NaN
    var chunks = 0
    var sinkBytes = 0L
    // At least three passes, so that a slow host does not leave a run with
    // fewer, and so earlier and slower, passes to take its medians over.
    Workload.loop(seconds, minCalls = 3) { _ =>
      val sink = ctx.fresh("sink").toString
      ph.op("chain", "spark")(chain(tr, sink)) { pass =>
        last = Some(pass)
        recall = plantedRecall(pass.labels)
        val (d, n) = digest(pass.sink)
        chunks = n
        sinkBytes = Stats.treeBytes(Path.of(pass.sink))
        if (first.isEmpty) first = Some(d)
        if (recall < recallFloor) Some(f"planted recall $recall%.4f below $recallFloor")
        else if (!first.contains(d)) Some(s"sink digest $d differs from the first pass's ${first.get}")
        else None
      }.foreach { case (pass, t) =>
        ph.calls += t
        ph.queries += pass.componentsS
        ph.batches += pass.minhashS
        ph.scans += pass.knnS
      }
      last.foreach(p => Workload.ignoreErrors(Stats.deleteTree(Path.of(p.sink))))
    }
    if (ph.calls.nonEmpty) ph.itemsPerS = docs.length / Stats.median(ph.calls.toSeq)
    ph.info ++= Seq("docs" -> docs.length, "planted_clusters" -> clusters,
      "cluster_size" -> clusterSize, "sink_digest" -> first.getOrElse(""))
    last.foreach { p =>
      ph.bytesPerItem = sinkBytes.toDouble / docs.length
      if (tr.enabled) ph.layer ++= passMetrics(tr, p, recall) :+ ("text.chunks" -> chunks.toDouble)
    }
    ph
  }

  private def passMetrics(tr: Tracer, p: Pass, recall: Double): Seq[(String, Double)] = {
    tr.drain()
    val ccSpans = tr.spanIds("Components.minhash")
    val ccJobs = tr.jobsUnder(ccSpans)
    // Each propagation round ends in one count of the changed labels: one
    // SQL execution, however many jobs adaptive execution splits it into.
    val rounds = ccJobs.filter(j => j.innermostGraftClass.startsWith("graft.dedup.Components") &&
      j.details.linesIterator.nextOption().exists(_.contains(".count(")))
      .map(_.executionId).distinct.size.toDouble / ccSpans.size
    val pairs = p.candidates.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sh = docs.map(d => d.id -> CorpusData.shingles(d.text)).toMap
    val good = pairs.count { case (a, b) => CorpusData.jaccard(sh(a), sh(b)) >= jaccardThreshold }
    val manifestTokens = p.manifest.map(_.getAs[Long]("n_tokens").toDouble)
    Seq(
      "spark.jobs_per_call" -> tr.allJobs.length.toDouble / math.max(tr.spanIds("chain").size, 1),
      "dedup.candidate_pairs" -> pairs.length.toDouble,
      "dedup.candidate_precision" -> (if (pairs.isEmpty) 0.0 else good.toDouble / pairs.length),
      "dedup.planted_recall" -> recall,
      // 1 when the distributed propagation ran, 0 for the driver union-find.
      "dedup.components_tier" -> (if (rounds > 0) 1.0 else 0.0),
      "dedup.components_rounds" -> rounds,
      "similarity.knn_edges" -> p.knn.count().toDouble,
      "similarity.candidates_per_query" -> candidatesPerQuery(p.lists),
      "streaming.shards.skew" ->
        (if (manifestTokens.isEmpty) 0.0 else manifestTokens.max / (manifestTokens.sum / manifestTokens.length)))
  }

  /** Mean candidates a kNN-graph query scores: the population of the
    * `nprobe` lists whose centroids are nearest it, less itself —
    * recomputed on the driver from the list assignment.
    */
  private def candidatesPerQuery(lists: DataFrame): Double = {
    val byId = docs.map(d => d.id -> d.emb).toMap
    val assigned = lists.select("doc_id", "list").collect().map(r => r.getLong(0) -> r.getLong(1))
    val members = assigned.groupBy(_._2).view.mapValues(_.map(a => byId(a._1))).toMap
    val centroids = members.map { case (l, vs) =>
      l -> Array.tabulate(CorpusData.dim)(i => vs.map(_(i).toDouble).sum / vs.length)
    }
    def cos(a: Array[Float], b: Array[Double]): Double = {
      var dot = 0.0; var x = 0.0; var y = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); x += a(i) * a(i); y += b(i) * b(i) }
      dot / math.sqrt(x * y)
    }
    val perQuery = assigned.map { case (id, _) =>
      centroids.toSeq.sortBy { case (l, c) => (-cos(byId(id), c), l) }.take(nprobe)
        .map { case (l, _) => members(l).length }.sum - 1
    }
    if (perQuery.isEmpty) 0.0 else perQuery.sum.toDouble / perQuery.length
  }
}

object Curation {
  val clusters = 28
  val clusterSize = 74 // 28 × C(74, 2) = 75,628 planted candidate edges
  val singles = 700
  val paraphraseGroups = 60
  val docLength = 120
  // With 16 hashes (8 bands of 2) a few planted pairs went missing or
  // estimated below the threshold on some seeds, and `Components` ran
  // three or four rounds depending on the seed. With 32 (16 bands) every
  // seed tried found all 75,628 and ran two.
  val numHashes = 32
  val jaccardThreshold = 0.5
  val cosineThreshold = 0.99
  val numLists = 16
  val nprobe = 2
  val numShards = 8
  val samplePct = 90
  val recallFloor = 0.95
}
