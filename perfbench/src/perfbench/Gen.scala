package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{DayOfWeek, LocalDate, ZoneOffset}
import java.util.SplittableRandom

/** Seeded input generator. Everything the program under test receives is
  * derived from (seed, shape) here: Polygon-protocol page trees for the
  * file transport and corpus documents. The same seed gives byte-identical
  * files; a page or document is a pure function of (seed, series, day) or
  * (seed, doc index), so any slice can be regenerated for a reference
  * computation without keeping the whole input in memory.
  */
object Gen {

  /** Independent stream per (seed, a, b): splitmix-style mixing so nearby
    * keys do not give correlated streams.
    */
  def rng(seed: Long, a: Long, b: Long = 0L): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  def write(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  /** Publish a file the way a fetcher would see it appear: write a hidden
    * temp sibling, then rename it into place in one step.
    */
  def publish(p: Path, body: String): Unit = {
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    write(tmp, body)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** SHA-256 over every file's relative path and bytes, in path order. */
  def treeDigest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).sorted().forEach { f =>
      md.update(root.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- market

  /** One minute bar; prices are whole cents so references are exact. */
  final case class Bar(t: Long, o: Long, h: Long, l: Long, c: Long, v: Long,
                       n: Long) {
    def close: Double = c / 100.0
    def json: String =
      s"""{"t":$t,"o":${o / 100.0},"h":${h / 100.0},"l":${l / 100.0},""" +
        s""""c":${c / 100.0},"v":$v.0,"vw":${(o + h + l + c) / 400.0},"n":$n}"""
  }

  val DayBars = 390
  private val Day0 = LocalDate.of(2024, 1, 2)

  /** The i-th weekday on or after 2024-01-02. */
  def tradingDay(i: Int): LocalDate = {
    var d = Day0
    var k = 0
    while (k < i || d.getDayOfWeek == DayOfWeek.SATURDAY ||
        d.getDayOfWeek == DayOfWeek.SUNDAY) {
      if (d.getDayOfWeek != DayOfWeek.SATURDAY &&
          d.getDayOfWeek != DayOfWeek.SUNDAY) k += 1
      d = d.plusDays(1)
    }
    d
  }

  /** Epoch ms of the 14:30 UTC open of trading day `day`. */
  def dayOpenMs(day: Int): Long =
    tradingDay(day).atTime(14, 30).toInstant(ZoneOffset.UTC).toEpochMilli

  def ticker(k: Int): String = f"TK$k%03d"

  /** The 390 minute bars of series `k` on trading day `day`. */
  def dayBars(seed: Long, k: Int, day: Int): Array[Bar] = {
    val r = rng(seed, 1000L + k, day)
    val open = dayOpenMs(day)
    var last = 2000L + r.nextInt(18000)
    Array.tabulate(DayBars) { m =>
      val o = last
      val c = math.max(100L, o + r.nextInt(41) - 20)
      last = c
      Bar(open + m * 60000L, o, math.max(o, c) + r.nextInt(6),
        math.max(1L, math.min(o, c) - r.nextInt(6)),
        c, 100L + r.nextInt(9900), 1L + r.nextInt(50))
    }
  }

  /** Page tree for the file transport:
    * {root}/{TICKER}/minute--1--adjusted/page-NNNN.json chained by next_url,
    * each page re-serving its predecessor's last bar (the protocol's
    * boundary overlap), some pages served twice (an at-least-once
    * upstream), and the tickers/splits/dividends dimension endpoints.
    */
  final class MarketTree(val root: Path, val seed: Long, val tickers: Int,
                         val pageBars: Int) {
    val seriesDir = "minute--1--adjusted"
    private val lastPage = new Array[Int](tickers).map(_ => -1)
    private val lastBar = new Array[Bar](tickers)
    private var daysWritten = 0
    var pagesWritten = 0L
    var rowsWritten = 0L

    def days: Int = daysWritten

    private def dir(k: Int) = root.resolve(ticker(k)).resolve(seriesDir)
    private def pageName(i: Int) = f"page-$i%04d.json"
    private def pageBody(rows: Seq[Bar], next: Option[String]): String =
      rows.map(_.json).mkString("""{"status":"OK","results":[""", ",",
        "],\"next_url\":" + next.fold("null")("\"" + _ + "\"") + "}")

    /** Append trading day `daysWritten` to every series. The previous tail
      * page is re-published with a next_url naming the first new page
      * before the new pages appear, so a reader never sees a dangling
      * cursor.
      */
    def appendDay(): Unit = {
      val day = daysWritten
      for (k <- 0 until tickers) {
        val r = rng(seed, 5000L + k, day)
        val chunks = dayBars(seed, k, day).grouped(pageBars).toSeq
        val bodies = Seq.newBuilder[Seq[Bar]]
        chunks.foreach { ch =>
          val rows = Option(lastBar(k)).toSeq ++ ch
          bodies += rows
          if (r.nextInt(8) == 0) bodies += rows // re-served page
          lastBar(k) = ch.last
          rowsWritten += ch.length
        }
        val pages = bodies.result()
        val first = lastPage(k) + 1
        if (lastPage(k) >= 0) {
          val prev = dir(k).resolve(pageName(lastPage(k)))
          val body = new String(Files.readAllBytes(prev), UTF_8)
          publish(prev, body.replace("\"next_url\":null",
            "\"next_url\":\"" + pageName(first) + "\""))
        }
        pages.zipWithIndex.foreach { case (rows, j) =>
          val i = first + j
          val next = if (j < pages.size - 1) Some(pageName(i + 1)) else None
          publish(dir(k).resolve(pageName(i)), pageBody(rows, next))
        }
        lastPage(k) = first + pages.size - 1
        pagesWritten += pages.size
      }
      daysWritten += 1
    }

    /** Dimension endpoints: every bar ticker listed as a stock plus a few
      * non-stock tickers with no bars; splits and dividends on a seeded
      * subset.
      */
    def writeDims(): Unit = {
      val r = rng(seed, 7L)
      val tick = (0 until tickers).map { k =>
        s"""{"ticker":"${ticker(k)}","name":"Name ${ticker(k)}","market":"stocks",""" +
          s""""locale":"us","primary_exchange":"X${k % 4}","type":"CS",""" +
          s""""active":true,"currency_name":"usd"}"""
      } ++ Seq("X:BTCUSD", "C:EURUSD").map { t =>
        s"""{"ticker":"$t","name":"$t","market":"crypto","locale":"global",""" +
          s""""primary_exchange":"XC","type":"CRYPTO","active":true,"currency_name":"usd"}"""
      }
      val splits = (0 until tickers).filter(_ => r.nextInt(4) == 0).map { k =>
        s"""{"ticker":"${ticker(k)}","execution_date":"${tradingDay(r.nextInt(5))}",""" +
          s""""split_from":1.0,"split_to":${2 + r.nextInt(3)}.0}"""
      }
      val divs = (0 until tickers).filter(_ => r.nextInt(3) == 0).map { k =>
        s"""{"ticker":"${ticker(k)}","ex_dividend_date":"${tradingDay(r.nextInt(5))}",""" +
          s""""pay_date":"${tradingDay(6)}","cash_amount":0.${10 + r.nextInt(80)},"frequency":4}"""
      }
      Seq("tickers" -> tick, "splits" -> splits, "dividends" -> divs).foreach {
        case (ep, rows) =>
          write(root.resolve("_ref").resolve(ep).resolve("page-0000.json"),
            rows.mkString("""{"status":"OK","results":[""", ",",
              """],"next_url":null}"""))
      }
    }
  }

  def marketTree(root: Path, seed: Long, tickers: Int, days: Int,
                 pageBars: Int): MarketTree = {
    val t = new MarketTree(root, seed, tickers, pageBars)
    t.writeDims()
    (0 until days).foreach(_ => t.appendDay())
    t
  }

  // ---------------------------------------------------------------- corpus

  private val Vocab = 3000

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)("w" + r.nextInt(Vocab))

  /** A corpus document set: `fresh` new texts plus planted copies of
    * earlier documents (`pool`): exact copies under a new doc_id and near
    * copies with a few words replaced. Returns (docs, exactCopyIds).
    */
  def corpusDocs(seed: Long, salt: Long, firstId: Long, n: Int,
                 pool: IndexedSeq[(Long, String)])
      : (IndexedSeq[(Long, String)], Set[Long]) = {
    val r = rng(seed, 9000L + salt)
    val exact = Set.newBuilder[Long]
    val out = (0 until n).map { i =>
      val id = firstId + i
      val roll = r.nextInt(10)
      if (pool.nonEmpty && roll == 0) {
        exact += id
        (id, pool(r.nextInt(pool.size))._2)
      } else if (pool.nonEmpty && roll == 1) {
        val w = pool(r.nextInt(pool.size))._2.split(' ')
        (0 until math.max(1, w.length / 25)).foreach(_ =>
          w(r.nextInt(w.length)) = "w" + r.nextInt(Vocab))
        (id, w.mkString(" "))
      } else (id, words(r, 40 + r.nextInt(40)).mkString(" "))
    }
    (out, exact.result())
  }

  // ------------------------------------------------------------ live pages

  /** Live series: `series` tickers, each page 60 one-second bars; page k
    * covers seconds [60k, 60k + 60) after `t0` and re-serves page k-1's
    * last bar.
    */
  final class LiveTree(val root: Path, val seed: Long, val series: Int) {
    val seriesDir = "second--1--adjusted"
    val t0: Long = dayOpenMs(0)
    val barsPerPage = 60

    def ticker(s: Int): String = f"LV$s%03d"
    private def dir(s: Int) = root.resolve(ticker(s)).resolve(seriesDir)
    private def pageName(i: Int) = f"page-$i%04d.json"

    private def bars(s: Int, page: Int): Seq[Bar] = {
      val r = rng(seed, 20000L + s, page)
      var last = 5000L + (s * 37) % 1000
      (0 until barsPerPage).map { j =>
        val o = last
        val c = math.max(100L, o + r.nextInt(21) - 10)
        last = c
        Bar(t0 + (page * barsPerPage + j) * 1000L, o, math.max(o, c) + 1,
          math.min(o, c) - 1, c, 1L + r.nextInt(500), 1L)
      }
    }

    private def body(s: Int, page: Int, next: Option[String]): String = {
      val rows = (if (page > 0) Seq(bars(s, page - 1).last) else Nil) ++
        bars(s, page)
      rows.map(_.json).mkString("""{"status":"OK","results":[""", ",",
        "],\"next_url\":" + next.fold("null")("\"" + _ + "\"") + "}")
    }

    /** Publish page `page` of series `s`, re-linking page-1 to it first. */
    def publish(s: Int, page: Int): Unit = {
      if (page > 0)
        Gen.publish(dir(s).resolve(pageName(page - 1)),
          body(s, page - 1, Some(pageName(page))))
      Gen.publish(dir(s).resolve(pageName(page)), body(s, page, None))
    }

    def publishPage(page: Int): Unit = (0 until series).foreach(publish(_, page))

    def rows(pages: Int): Long = series.toLong * pages * barsPerPage
  }
}
