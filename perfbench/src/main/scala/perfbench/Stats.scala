package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Order statistics, host probes and the JSON the benchmark prints. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the highest percentile with at least ten samples beyond
    * it (100·(n−10)/n, the eleventh-largest sample) once there are a
    * hundred samples; below that, where the ten-beyond rule would fall
    * under p90 or under the median, the nearest-rank p90. Returns
    * (value, percentile, n).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val p = math.max(100.0 * (n - 10) / n, 90.0)
    val rank = math.max(math.ceil(p / 100.0 * n).toInt, 1)
    (s(rank - 1), p, n)
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Contention probe: wall time of a fixed single-thread integer loop,
    * median of five, in ms. It reads higher when other work competes for
    * the core.
    */
  def contentionProbeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println() // keeps the loop observable
      (System.nanoTime() - t0) / 1e6
    }
    median(Seq.fill(5)(once()))
  }

  /** Total bytes of the regular files under `root` (0 when absent). */
  def treeBytes(root: Path): Long = dataFiles(root, _ => true).map(Files.size).sum

  /** Regular files under `root` whose name passes `keep`, skipping
    * Spark's hidden and side files (`_SUCCESS`, `.crc`).
    */
  def dataFiles(root: Path, keep: String => Boolean): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") && keep(n)
      }.toList
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
