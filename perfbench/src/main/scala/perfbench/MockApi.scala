package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

/** An in-JVM POS API that honours the `PosApiClient` contract:
  *
  *  - `GET /items`: the catalog;
  *  - `GET /receipts?updated_at_min&updated_at_max`: newest first, pages
  *    of `pageSize`, chained by a `cursor` field (`GET /receipts?cursor=`);
  *  - `GET /receipts?limit&updated_at_min`: the next `limit` receipts with
  *    updated_at ≥ min, oldest first, so a limit never skips a receipt.
  *
  * The server has one dispatcher thread and no executor, so it serves one
  * request at a time. It counts pages and the time spent serving them.
  */
final class MockApi(receipts: IndexedSeq[PosData.Receipt], pageSize: Int = 250) {
  private val updated: Array[Long] = receipts.map(_.updatedMs).toArray
  require(updated.sameElements(updated.sorted), "receipts must be in updated_at order")
  private val bodies: Array[String] = receipts.map(_.json).toArray

  val pages = new AtomicLong
  val serveNs = new AtomicLong
  /** Indices and highest updated_at of the last non-empty incremental
    * response.
    */
  @volatile var lastServed: Option[Range] = None
  @volatile var lastServedMax: Option[String] = None

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/items", (ex: HttpExchange) => serve(ex) {
    PosData.catalog.zipWithIndex.map { case ((n, p), i) =>
      s"""{"id":$i,"item_name":"$n","price":$p}"""
    }.mkString("""{"items":[""", ",", "]}")
  })
  server.createContext("/receipts", (ex: HttpExchange) => serve(ex) {
    pages.incrementAndGet()
    receiptsBody(params(ex))
  })
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  /** First index with updated ≥ t (binary search). */
  private def lowerBound(t: Long): Int = {
    var lo = 0
    var hi = updated.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (updated(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def envelope(idx: Seq[Int], cursor: Option[String]): String =
    idx.map(bodies(_)).mkString("""{"receipts":[""", ",",
      "]" + cursor.fold("")(c => s""","cursor":"$c"""") + "}")

  private def receiptsBody(p: Map[String, String]): String =
    p.get("cursor").map(_.split("_").map(_.toInt)) match {
      case Some(Array(lo, hi, off)) => rangePage(lo, hi, off)
      case _ if p.contains("updated_at_max") =>
        val lo = lowerBound(PosData.ms(p("updated_at_min")))
        val hi = lowerBound(PosData.ms(p("updated_at_max")) + 1)
        rangePage(lo, hi, 0)
      case _ =>
        val from = lowerBound(PosData.ms(p("updated_at_min")))
        val idx = from until math.min(from + p.getOrElse("limit", "175").toInt, updated.length)
        if (idx.nonEmpty) {
          lastServed = Some(idx)
          lastServedMax = Some(receipts(idx.last).updatedAt)
        }
        envelope(idx, None)
    }

  /** Page `off` of [lo, hi), newest first. */
  private def rangePage(lo: Int, hi: Int, off: Int): String = {
    val top = hi - off * pageSize
    val idx = (top - 1 to math.max(top - pageSize, lo) by -1)
    val more = top - pageSize > lo
    envelope(idx, if (more) Some(s"${lo}_${hi}_${off + 1}") else None)
  }

  private def serve(ex: HttpExchange)(body: => String): Unit = {
    val t0 = System.nanoTime()
    try {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch {
      case e: Exception =>
        val msg = s"""{"error":${Json.str(e.toString)}}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally {
      ex.close()
      serveNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
