package perfbench

import java.time.{DayOfWeek, LocalDate}

/** Seeded synthetic market: `nSym` symbols by `nDays` weekdays of daily
  * bars, served the way the bars API serves them (symbol-major pages of
  * at most `limit` bars chained by `next_page_token`).
  *
  * Revisions: a seeded share of bars is restated after the fact. A bar of
  * day `d` carries its revised close once a later day exists
  * (`d < newest`), so the inclusive overlap day an incremental round
  * re-reads brings new values for that share, and the expected table is
  * `close(s, d, newest)` for every served day. */
final class Market(seed: Long, val nSym: Int, val nDays: Int) {
  val symbols: Array[String] = Array.tabulate(nSym)(i => f"S$i%04d")
  val dates: Array[String] = {
    var d = LocalDate.of(2021, 1, 4)
    Array.fill(nDays) {
      while (d.getDayOfWeek == DayOfWeek.SATURDAY || d.getDayOfWeek == DayOfWeek.SUNDAY)
        d = d.plusDays(1)
      val s = d.toString
      d = d.plusDays(1)
      s
    }
  }
  private val dayOf = dates.zipWithIndex.toMap
  def day(date: String): Int = dayOf(date.take(10))
  def ts(d: Int): String = dates(d) + "T05:00:00Z"
  def company(s: Int): String = s"Company ${symbols(s)}"

  private def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def r2(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  private val base: Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(nSym) {
      var p = 20 + r.nextDouble() * 480
      Array.fill(nDays) {
        p = math.max(1.0, p * math.exp(r.nextGaussian() * 0.02))
        r2(p)
      }
    }
  }

  /** About one bar in ten is restated after its day closes. */
  def isRevised(s: Int, d: Int): Boolean = java.lang.Long.remainderUnsigned(mix(seed, s, d), 10) == 0
  def close(s: Int, d: Int, newest: Int): Double =
    if (d < newest && isRevised(s, d))
      r2(base(s)(d) + 0.01 * (1 + java.lang.Long.remainderUnsigned(mix(seed + 1, s, d), 50)))
    else base(s)(d)

  private def appendBar(sb: java.lang.StringBuilder, s: Int, d: Int, newest: Int): Unit = {
    val b = base(s)(d)
    val c = close(s, d, newest)
    val o = if (d == 0) b else base(s)(d - 1)
    val u = java.lang.Long.remainderUnsigned(mix(seed + 2, s, d), 1000) / 1e5
    val h = r2(math.max(o, c) * (1 + u))
    val l = r2(math.min(o, c) * (1 - u))
    val v = 10000 + java.lang.Long.remainderUnsigned(mix(seed + 3, s, d), 5000000)
    sb.append("{\"c\":").append(c).append(",\"h\":").append(h).append(",\"l\":").append(l)
      .append(",\"n\":").append(v / 40).append(",\"o\":").append(o)
      .append(",\"t\":\"").append(ts(d)).append("\",\"v\":").append(v)
      .append(",\"vw\":").append(r2((h + l + c) / 3)).append('}')
  }

  /** Bars of days [from, to] for every symbol, symbol-major, starting at
    * flat offset `offset`, at most `limit` of them, as one bars-API page
    * body. Returns the body and the next offset (-1 on the last page). */
  def page(from: Int, to: Int, offset: Int, limit: Int, newest: Int): (String, Int) = {
    val nd = to - from + 1
    val total = if (nd <= 0) 0 else nSym * nd
    val end = math.min(total, offset + limit)
    val next = if (end < total) end else -1
    (payload((offset until end).map(i => (i / nd, from + i % nd)), newest,
      if (next < 0) None else Some(next.toString)), next)
  }

  /** A payload page holding the listed (symbol, day) bars, grouped by
    * symbol, as served when day `newest` is the latest published one. */
  def payload(bars: Seq[(Int, Int)], newest: Int, nextToken: Option[String] = None): String = {
    val sb = new java.lang.StringBuilder(64 + bars.size * 160)
    sb.append("{\"bars\":{")
    bars.groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex.foreach { case ((s, sd), i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(symbols(s)).append("\":[")
      sd.map(_._2).sorted.zipWithIndex.foreach { case (d, j) =>
        if (j > 0) sb.append(',')
        appendBar(sb, s, d, newest)
      }
      sb.append(']')
    }
    sb.append("},\"next_page_token\":")
    nextToken.fold(sb.append("null"))(t => sb.append('"').append(t).append('"'))
    sb.append('}').toString
  }

  /** The company dimension (Company, Symbol, Exchange) as CSV. */
  def companyCsv: String =
    (Iterator("Company,Symbol,Exchange") ++ symbols.indices.iterator.map(s =>
      s"${company(s)},${symbols(s)},${if (s % 2 == 0) "NASDAQ" else "NYSE"}")).mkString("\n") + "\n"
}
