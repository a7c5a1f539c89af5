package perfbench

import graft.operators.MarketOps
import org.apache.spark.sql.{DataFrame, Row}

/** Research requests against the market warehouse: a `readBarsBox` over a
  * multi-day window of a Zipf-popular ticker (so requests share work a
  * cache could reuse), then one of three indicators picked by a seeded mix,
  * then a collect. Every response is checked against a plain-Scala
  * reference over the generated prices.
  */
object ResearchReads {
  private val ZipfS = 1.1

  final case class Request(k: Int, tFrom: Long, tTo: Long, op: String)

  val Ops = Seq("backtestSmaCross", "rsiWilder", "emaExact")

  /** `n` seeded requests over `tickers` series and trading days [0, days). */
  def requests(seed: Long, salt: Long, n: Int, tickers: Int,
               days: Int): Seq[Request] = {
    val r = Gen.rng(seed, 30000L + salt)
    val w = (0 until tickers).map(k => 1.0 / math.pow(k + 1, ZipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val ops = mix(r, n, Seq(Ops(0), Ops(1), Ops(0), Ops(2)))
    val spans = mix(r, n, Seq(2, 3, 4, 5).filter(_ <= days))
    (0 until n).map { i =>
      val u = r.nextDouble()
      val k = cdf.indexWhere(_ >= u) max 0
      val span = spans(i)
      val d0 = r.nextInt(days - span + 1)
      val tFrom = Gen.dayOpenMs(d0) + r.nextInt(60) * 60000L
      val tTo = Gen.dayOpenMs(d0 + span - 1) + (330 + r.nextInt(60)) * 60000L
      Request(k, tFrom, tTo, ops(i))
    }
  }

  /** `n` values cycling through `cycle`, in a seeded order: how many
    * requests run each operator (2:1:1) and each window length (2-5 days)
    * depends on `n` only, so the mix does not differ from one seed to
    * another.
    */
  private def mix[T](r: java.util.SplittableRandom, n: Int, cycle: Seq[T]): Seq[T] = {
    val ix = Array.tabulate(n)(_ % cycle.size)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = ix(i); ix(i) = ix(j); ix(j) = t
    }
    ix.toSeq.map(cycle)
  }

  /** The operator's answer the reference can check: (rows, last value). */
  def answer(rows: Array[Row], op: String): (Int, Double) = {
    if (rows.isEmpty) (0, Double.NaN)
    else op match {
      case "backtestSmaCross" => (rows.length, rows.last.getAs[Long]("cum_pnl_cents").toDouble)
      case "rsiWilder" => (rows.length, rows.last.getAs[Double]("rsi_wilder"))
      case _ => (rows.length, rows.last.getAs[Double]("ema"))
    }
  }

  /** Plain-Scala reference over the generated closes of the window. */
  def reference(seed: Long, days: Int, q: Request): (Int, Double) = {
    val closes = (0 until days).flatMap(d => Gen.dayBars(seed, q.k, d))
      .filter(b => b.t >= q.tFrom && b.t <= q.tTo).map(_.close)
    if (closes.isEmpty) return (0, Double.NaN)
    val last = q.op match {
      case "backtestSmaCross" =>
        val p = closes.map(c => math.floor(c * 100).toLong)
        var cum = 0L
        var prevSignal = 0L
        for (i <- p.indices) {
          val sf = p.slice(math.max(0, i - 4), i + 1).sum
          val ss = p.slice(math.max(0, i - 19), i + 1).sum
          val dp = if (i == 0) 0L else p(i) - p(i - 1)
          cum += prevSignal * dp
          prevSignal = if (i + 1 >= 20 && sf * 20 > ss * 5) 1L else 0L
        }
        cum.toDouble
      case "rsiWilder" =>
        val n = 14
        var g = Double.NaN
        var l = Double.NaN
        var rsi = Double.NaN
        for (i <- 1 until closes.size) {
          val ch = closes(i) - closes(i - 1)
          val gain = if (ch > 0) ch else 0.0
          val loss = if (ch < 0) -ch else 0.0
          if (g.isNaN) { g = gain; l = loss }
          else { g = (g * (n - 1) + gain) / n; l = (l * (n - 1) + loss) / n }
          rsi = if (l == 0) 100.0 else 100.0 - 100.0 / (1.0 + g / l)
        }
        rsi
      case _ =>
        closes.tail.foldLeft(closes.head)((ema, x) => 0.1 * x + 0.9 * ema)
    }
    (closes.size, last)
  }

  def same(a: (Int, Double), b: (Int, Double)): Boolean =
    a._1 == b._1 && (a._2 == b._2 || (a._2.isNaN && b._2.isNaN) ||
      math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2)))

  def indicator(spark: org.apache.spark.sql.SparkSession, events: DataFrame,
                op: String): DataFrame = op match {
    case "backtestSmaCross" => MarketOps.backtestSmaCross(events, 5, 20)
    case "rsiWilder" => MarketOps.rsiWilder(spark, events, 14)
    case _ => MarketOps.emaExact(spark, events, 0.1)
  }
}
