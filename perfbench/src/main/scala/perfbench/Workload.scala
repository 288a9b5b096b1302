package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** What the benchmark hands every workload. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, cores: Int) {
  private var n = 0

  /** A fresh, not yet existing path under the run's work directory. */
  def fresh(name: String): Path = {
    n += 1
    work.resolve(s"$name-$n")
  }

  def mkdirs(name: String): Path = Files.createDirectories(fresh(name))
}

/** What one timed phase measured. Only calls that returned and passed
  * their check contribute a timing.
  */
final class Phase(val tracer: Tracer) {
  /** Timings of the workload's four kinds of call; what each kind is per
    * workload is in `perfbench/README.md`.
    */
  val calls = mutable.ArrayBuffer[Double]()
  val queries = mutable.ArrayBuffer[Double]()
  val batches = mutable.ArrayBuffer[Double]()
  val scans = mutable.ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  var itemsPerS: Double = Double.NaN
  var bytesPerItem: Double = Double.NaN
  /** Workload-specific per-layer metrics (traced phases only). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Figures recorded next to the result, such as input sizes. */
  val info = mutable.LinkedHashMap[String, Any]()

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.length < 20) errors += what
    System.err.println(s"perfbench: FAILED $what")
  }

  /** Time one call into `layer`. A throw or a failed check counts the
    * call as failed and gives no timing; the check runs untimed.
    */
  def op[T](name: String, layer: String)(call: => T)(check: T => Option[String])
      : Option[(T, Double)] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tracer.span(name, layer)(call)
      val dt = (System.nanoTime() - t0) / 1e9
      check(r) match {
        case None => Some((r, dt))
        case Some(why) => fail(s"$name: $why"); None
      }
    } catch {
      case NonFatal(e) => fail(s"$name threw $e"); None
    }
  }

  /** A check of a phase's collective output, counted like a call. */
  def verify(name: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(why => fail(s"$name: $why"))
    catch { case NonFatal(e) => fail(s"$name threw $e") }
  }
}

/** One benchmark workload: a set-up in two parts, and a timed phase that
  * runs closed-loop (one client, next call after the last returns) until
  * its deadline.
  */
trait Workload {
  /** Generate the inputs and build what the phase reads. Repeatable: each
    * call replaces the previous one's results.
    */
  def prepare(): Unit
  /** Untimed calls on the program, so that class loading, JIT and code
    * generation are done before the phase.
    */
  def warmUp(): Unit
  def phase(seconds: Double, tracer: Tracer): Phase
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pos_pipeline" => new PosPipeline(ctx)
    case "corpus_curation" => new Curation(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Closed loop: call `step(k)` until `seconds` have passed and it has
    * run at least `minCalls` times.
    */
  def loop(seconds: Double, minCalls: Int = 1)(step: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (k < minCalls || System.nanoTime() < deadline) { step(k); k += 1 }
    k
  }

  def ignoreErrors(body: => Unit): Unit =
    try body catch { case NonFatal(_) => () }
}
