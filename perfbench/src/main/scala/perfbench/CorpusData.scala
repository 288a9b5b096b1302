package perfbench

import scala.collection.mutable
import scala.util.Random

/** A seeded document corpus with planted duplicates of two kinds:
  *
  *  - near-duplicate clusters: `clusterSize` variants of one base text, each
  *    with one word replaced, which MinHash-LSH should find. Any two
  *    variants share nearly all their shingles, so that a cluster's
  *    candidate graph is complete on every seed (see `Curation.numHashes`);
  *  - paraphrase groups: distinct texts whose embeddings nearly coincide,
  *    which only the embedding kNN graph can find.
  *
  * Every document carries a 16-dimensional embedding. Texts are drawn from
  * a fixed synthetic vocabulary with a few "the"/"a" stopwords; about one
  * single document in twenty is too short for the quality gate.
  */
object CorpusData {

  final case class Doc(id: Long, source: String, text: String, emb: Array[Float], cluster: Int)

  val dim = 16
  private val sources = Array("web", "books", "news", "forum")

  private val vocab: Array[String] = {
    val rng = new Random(7L)
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "zu", "fe",
      "qui", "bra", "sto", "nel", "mor", "tin")
    Array.fill(4000)((1 to 2 + rng.nextInt(3)).map(_ => syl(rng.nextInt(syl.length))).mkString)
      .distinct
  }

  private def words(rng: Random, n: Int): Array[String] =
    Array.fill(n) {
      val r = rng.nextInt(100)
      if (r < 4) "the" else if (r < 8) "a" else vocab(rng.nextInt(vocab.length))
    }

  private def unit(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }
  private def randomVec(rng: Random): Array[Double] = Array.fill(dim)(rng.nextGaussian())
  private def near(rng: Random, c: Array[Double]): Array[Float] =
    unit(c.map(_ + rng.nextGaussian() * 0.01))

  /** Docs in id order. `cluster` is the planted near-duplicate cluster, or
    * −1 for a document planted alone.
    */
  def generate(seed: Long, clusters: Int, clusterSize: Int, singles: Int,
      paraphraseGroups: Int, length: Int): IndexedSeq[Doc] = {
    val rng = new Random(seed)
    val drafts = mutable.ArrayBuffer[(String, Array[Float], Int)]()
    (0 until clusters).foreach { c =>
      val base = words(rng, length)
      val centre = randomVec(rng)
      (0 until clusterSize).foreach { _ =>
        val w = base.clone()
        w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.length))
        drafts += ((w.mkString(" "), near(rng, centre), c))
      }
    }
    var left = singles
    (0 until paraphraseGroups).foreach { _ =>
      val centre = randomVec(rng)
      (1 to 3).foreach { _ => drafts += ((words(rng, length).mkString(" "), near(rng, centre), -1)) }
      left -= 3
    }
    (0 until left).foreach { _ =>
      val n = if (rng.nextInt(20) == 0) 12 else length
      drafts += ((words(rng, n).mkString(" "), unit(randomVec(rng)), -1))
    }
    rng.shuffle(drafts.toIndexedSeq).zipWithIndex.map { case ((t, e, c), i) =>
      Doc(i.toLong, sources(rng.nextInt(sources.length)), t, e, c)
    }
  }

  /** Word 3-shingles, as the program's MinHash tokenizes (split on " "). */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }
}
