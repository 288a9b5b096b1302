package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Random

/** Seeded POS receipts in the API's JSON shape, and the expected report
  * figures computed from them directly (no program code).
  *
  * Each receipt holds 1–6 DISTINCT catalog items: the program dedups line
  * items on (receipt_number, item_name), so distinct names make "each line
  * exactly once" a well-defined check. Prices are whole pesos, so revenue
  * sums are exact in double arithmetic whatever the summation order. No
  * item name contains "combo", so the combo explode passes rows through.
  */
object PosData {

  final case class Line(item: String, price: Int, modifier: Option[String])

  final case class Receipt(number: String, saleMs: Long, updatedMs: Long, order: String,
      payment: String, lines: Array[Line]) {
    def updatedAt: String = iso(updatedMs)

    /** The shifted (−6 h) month the lake files this receipt under. */
    def month: String = iso(saleMs - 6L * 3600 * 1000).substring(0, 7)

    def json: String = {
      val items = lines.map { l =>
        val mods = l.modifier.fold("[]")(o => s"""[{"name":"Mayonesa","option":"$o"}]""")
        s"""{"item_name":"${l.item}","cost":${l.price / 2}.0,"price":${l.price}.0,""" +
          s""""total_money":${l.price}.0,"line_modifiers":$mods}"""
      }.mkString(",")
      s"""{"receipt_number":"$number","receipt_date":"${iso(saleMs)}",""" +
        s""""created_at":"$updatedAt","updated_at":"$updatedAt","order":"$order",""" +
        s""""payments":[{"type":"$payment"}],"line_items":[$items]}"""
    }
  }

  private val isoFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  def iso(ms: Long): String = isoFmt.format(Instant.ofEpochMilli(ms))
  def ms(iso: String): Long = Instant.parse(iso).toEpochMilli

  val catalog: Array[(String, Int)] = Array(
    "Hamburguesa Sencilla" -> 95, "Hamburguesa Doble" -> 135, "Hamburguesa Smash" -> 125,
    "Hamburguesa Chiken" -> 110, "Papas Fritas" -> 45, "Papas Gajo" -> 55,
    "Aros de Cebolla" -> 50, "Hot Dog" -> 60, "Alitas 6" -> 115, "Alitas 12" -> 210,
    "Boneless" -> 120, "Nuggets" -> 75, "Ensalada" -> 85, "Malteada Vainilla" -> 70,
    "Malteada Fresa" -> 70, "Refresco Coca" -> 30, "Refresco Sprite" -> 30,
    "Agua Fresca" -> 28, "Agua Natural" -> 20, "Cafe" -> 35, "Brownie" -> 45,
    "Pay de Queso" -> 50, "Helado" -> 40, "Extra Queso" -> 15)
  // Zipf-like popularity, so the top-five items are well separated.
  private val weights = catalog.indices.map(i => 1.0 / (i + 1.5)).toArray
  private val cumWeights = weights.scanLeft(0.0)(_ + _).tail
  private val orders = Array("Mesa 1", "Mesa 02", "Mesa 3-4", "Para Llevar", "Llevar 01",
    "A domicilio", "Servicio a domicilio")
  private val payments = Array("CASH", "CARD", "CARD", "TRANSFER")
  private val mayos = Array("Ajo", "Chipotle", "Natural")

  private def pick(rng: Random): Int = {
    val x = rng.nextDouble() * cumWeights.last
    val i = java.util.Arrays.binarySearch(cumWeights, x)
    if (i >= 0) i else math.min(-i - 1, catalog.length - 1)
  }

  /** `n` receipts evenly spread over [fromMs, toMs), in updated_at order,
    * numbered `prefix-<i>`. Sales fall in opening hours, 13:00–22:59 UTC;
    * updated_at is the sale time plus a sync delay, unique per receipt.
    */
  def receipts(rng: Random, prefix: String, n: Int, fromMs: Long, toMs: Long): Array[Receipt] = {
    val day = 24L * 3600 * 1000
    val span = toMs - fromMs
    val out = Array.tabulate(n) { i =>
      val base = fromMs + span * i / n
      val dayStart = base - Math.floorMod(base, day)
      val sale = dayStart + 13L * 3600 * 1000 + Math.floorMod(base * 7919L, 10L * 3600 * 1000)
      val k = 1 + rng.nextInt(6)
      val names = mutable.LinkedHashSet[Int]()
      while (names.size < k) names += pick(rng)
      val lines = names.toArray.map { c =>
        val (item, price) = catalog(c)
        val mod = if (item.startsWith("Hamburguesa") && rng.nextInt(3) == 0)
          Some(mayos(rng.nextInt(mayos.length))) else None
        Line(item, price, mod)
      }
      Receipt(f"$prefix-$i%07d", sale, 0L, orders(rng.nextInt(orders.length)),
        payments(rng.nextInt(payments.length)), lines)
    }.sortBy(_.saleMs)
    // A strictly increasing updated_at, a few seconds after each sale.
    var last = Long.MinValue
    out.map { r =>
      val u = math.max(r.saleMs + 2000L + rng.nextInt(3000), last + 1)
      last = u
      r.copy(updatedMs = u)
    }
  }

  /** Page bodies of the API envelope, `pageSize` receipts each. */
  def pages(rs: Seq[Receipt], pageSize: Int): Seq[String] =
    rs.grouped(pageSize).map(g => g.map(_.json).mkString("""{"receipts":[""", ",", "]}")).toSeq

  /** Expected monthly-report figures for `month` over the deduplicated
    * receipts: (revenue, receipts, top five (item, sold)).
    */
  final case class MonthFigures(revenue: Double, receipts: Long, top5: Seq[(String, Long)])

  def monthFigures(distinct: Iterable[Receipt], month: String): MonthFigures = {
    val in = distinct.filter(_.month == month)
    val sold = in.flatMap(_.lines.map(_.item)).groupBy(identity).view.mapValues(_.size.toLong)
    MonthFigures(
      in.iterator.flatMap(_.lines).map(_.price.toDouble).sum,
      in.size.toLong,
      sold.toSeq.sortBy { case (item, n) => (-n, item) }.take(5))
  }

  /** Raw (duplicate-including) cumulative figures over the lake's rows:
    * (total revenue, unique receipts).
    */
  def cumulativeFigures(rawRows: Iterable[Receipt]): (Double, Long) =
    (rawRows.iterator.flatMap(_.lines).map(_.price.toDouble).sum,
      rawRows.iterator.map(_.number).toSet.size.toLong)

  // --- reading the program's markdown reports ---------------------------

  private def cells(md: String, label: String): Option[Array[String]] =
    md.linesIterator.map(_.split("\\|").map(_.trim)).find(c => c.length > 2 && c(1) == label)

  private def number(s: String): Double = s.replaceAll("[^0-9.\\-]", "").toDouble

  def mdValue(md: String, label: String): Option[Double] =
    cells(md, label).map(c => number(c(2)))

  /** Rows of the markdown table under `## <heading>`. */
  def mdTable(md: String, heading: String): Seq[(String, String)] =
    md.split("\n").dropWhile(_ != s"## $heading").drop(1)
      .dropWhile(l => !l.startsWith("|")).drop(2).takeWhile(_.startsWith("|"))
      .map(_.split("\\|").map(_.trim)).map(c => c(1) -> c(2)).toSeq

  /** Mismatches between a monthly report and the expected figures. */
  def checkMonthly(md: String, want: MonthFigures): Option[String] = {
    val rev = mdValue(md, "Revenue")
    val n = mdValue(md, "Receipts")
    val top = mdTable(md, "Top 5 products").map { case (i, s) => i -> number(s).toLong }
    if (!rev.exists(r => math.abs(r - want.revenue) < 0.005))
      Some(s"monthly revenue ${rev.getOrElse("missing")} != ${want.revenue}")
    else if (!n.contains(want.receipts.toDouble))
      Some(s"monthly receipts ${n.getOrElse("missing")} != ${want.receipts}")
    else if (top != want.top5) Some(s"monthly top five $top != ${want.top5}")
    else None
  }

  def checkCumulative(md: String, want: (Double, Long)): Option[String] = {
    val rev = mdValue(md, "Total Revenue")
    val n = mdValue(md, "Total Unique Receipts")
    if (!rev.exists(r => math.abs(r - want._1) < 0.005))
      Some(s"cumulative revenue ${rev.getOrElse("missing")} != ${want._1}")
    else if (!n.contains(want._2.toDouble))
      Some(s"cumulative receipts ${n.getOrElse("missing")} != ${want._2}")
    else None
  }
}
