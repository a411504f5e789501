package graftbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.ingest.GasPrices

/** One day's scrape: the HTML pages and the rows the reference parser
  * would keep from them. */
final case class Scrape(pages: Seq[String], rows: Seq[GasModel.Parsed])

/** The day's answer to a serve request: highest and lowest price, with
  * every (station, city) that holds each (ties may be served by either). */
final case class TopOfDay(high: BigDecimal, highAt: Set[(String, String)],
    low: BigDecimal, lowAt: Set[(String, String)])

/** A plain-Scala model of the scrape pages and of what the engine must
  * serve from them, written apart from `graft.ingest.GasPrices`: zip
  * truncation per page, whitespace and tag normalisation, keep-last per
  * (date, station) by time of day, and numeric price order. */
object GasModel {
  final case class Parsed(price: BigDecimal, station: String, city: String,
      time: String, user: String)

  private val streets = Seq("Rue Sherbrooke", "Boul René-Lévesque", "Av du Parc",
    "Rue Notre-Dame", "Boul Décarie", "Ch de la Côte-des-Neiges")
  private val brands = Seq("Esso", "Shell", "Petro-Canada", "Ultramar", "Costco",
    "Pioneer")
  val cities = Seq("Montréal", "Verdun ( Île des Soeurs )", "LaSalle", "Laval",
    "Longueuil", "Saint-Laurent", "Anjou", "Outremont")
  /** 48 stations, each in one city. */
  val stations: IndexedSeq[(String, String)] = (0 until 48).map { i =>
    (s"${brands(i % brands.size)} ${100 + 37 * i} ${streets(i % streets.size)}",
      cities(i % cities.size))
  }
  val Pages = 3

  private def clock(minute: Int): String = {
    val h24 = minute / 60
    val h12 = if (h24 % 12 == 0) 12 else h24 % 12
    f"$h12%d:${minute % 60}%02d${if (h24 < 12) "AM" else "PM"}"
  }

  /** The pages scraped on day `day` of a run seeded with `seed`. Every
    * report of the day has its own minute, so keep-last has one answer;
    * the first page ends in a price cell with no station, city or user,
    * which the reference's zip() drops; prices carry tags and cells
    * carry stray whitespace, which the normalisation removes. */
  def scrape(seed: Long, day: Int): Scrape = {
    val rnd = new scala.util.Random(seed * 1000003L + day)
    val minutes = rnd.shuffle((0 until 24 * 60).toVector).iterator
    val pages = mutable.ArrayBuffer.empty[String]
    val rows = mutable.ArrayBuffer.empty[Parsed]
    for (p <- 0 until Pages) {
      val sb = new StringBuilder("<table>\n")
      for (_ <- 0 until 20 + rnd.nextInt(9)) {
        val (station, city) = stations(rnd.nextInt(stations.size))
        val tenths = 1290 + rnd.nextInt(500)
        val price = s"${tenths / 10}.${tenths % 10}"
        val time = clock(minutes.next())
        val user = if (rnd.nextInt(5) == 0) "" else s"user${rnd.nextInt(40)}"
        val cls = Seq("pricecell", "greencell", "redcell")(rnd.nextInt(3))
        val priceCell = if (rnd.nextBoolean()) s"<b>$price</b>" else price
        val stationCell = station.replace(" ", if (rnd.nextInt(4) == 0) "  " else " ")
        sb.append(s"""<tr><td class="$cls">$priceCell</td>\n""")
        sb.append(s"""    <td class="stationcell">$stationCell</td>\n""")
        sb.append(s"""    <td class="citycell">$city</td>\n""")
        sb.append(s"""    <td class="usercell">$time ${user}</td></tr>\n""")
        rows += Parsed(BigDecimal(price), station, city, time, user)
      }
      if (p == 0) sb.append("""<tr><td class="pricecell">999.9</td></tr>""" + "\n")
      sb.append("</table>")
      pages += sb.toString
    }
    Scrape(pages.toSeq, rows.toSeq)
  }

  private def minuteOf(time: String): Int = {
    val Array(h, rest) = time.split(":", 2)
    val m = rest.take(2).toInt
    val pm = rest.endsWith("PM")
    (h.toInt % 12 + (if (pm) 12 else 0)) * 60 + m
  }

  /** Keep-last per station (latest time of day; the engine breaks ties
    * on time then user, which the generator never needs), then the
    * numeric highest and lowest price. */
  def topOfDay(rows: Seq[Parsed]): TopOfDay = {
    val kept = rows.groupBy(_.station).values.map(_.maxBy(r => minuteOf(r.time))).toSeq
    val hi = kept.map(_.price).max
    val lo = kept.map(_.price).min
    TopOfDay(hi, kept.filter(_.price == hi).map(r => (r.station, r.city)).toSet,
      lo, kept.filter(_.price == lo).map(r => (r.station, r.city)).toSet)
  }

  /** Why a served row is not the expected answer, if it is not. */
  def mismatch(expected: TopOfDay, served: Row): Option[String] = {
    def side(name: String, r: Row, price: BigDecimal,
        at: Set[(String, String)]): Option[String] = {
      val p = BigDecimal(r.getDecimal(0))
      val where = (r.getString(1), r.getString(2))
      if (p != price) Some(s"$name price $p, expected $price")
      else if (!at.contains(where)) Some(s"$name at $where, expected one of $at")
      else None
    }
    if (served == null) Some("no row served")
    else side("highest", served.getStruct(0), expected.high, expected.highAt)
      .orElse(side("lowest", served.getStruct(1), expected.low, expected.lowAt))
  }
}

/** `gas_serving`: the paper's own path. Each round is one day: the day's
  * scrape goes through `GasPrices.parse` and `writeCanonical` into the
  * date-partitioned store, `expirePartitions` keeps a fixed window, and
  * four serve requests follow (`topOfDay` over `spark.read.parquet` of
  * the store), for today and three seeded random days of the window.
  * The window holds more than 32 days, so every serve also runs Spark's
  * parallel partition listing, and the store's size stays fixed as the
  * run goes on. */
final class GasServing(ctx: Ctx, seed: Long) extends Workload {
  private val spark = ctx.spark
  val Window = 36
  val ServesPerDay = 4
  private val base = LocalDate.of(2024, 1, 1)
  private val store = ctx.outDir.resolve("gas_store").toString
  private val expected = mutable.Map.empty[Int, TopOfDay]
  private val problemsSeen = mutable.ArrayBuffer.empty[String]
  private val pick = new scala.util.Random(seed)
  private var today = -1
  /** One served row and its day, kept for the checker's self-test. */
  private var sample: Option[(Int, Row)] = None

  private val parsedSchema = StructType(Seq(
    StructField("price", DecimalType(6, 1)), StructField("station", StringType),
    StructField("city", StringType), StructField("time", StringType),
    StructField("user", StringType), StructField("date", DateType)))

  private def date(day: Int): LocalDate = base.plusDays(day.toLong)

  private def load(day: Int): Unit = {
    val s = GasModel.scrape(seed, day)
    expected(day) = GasModel.topOfDay(s.rows)
    import spark.implicits._
    val pages = s.pages.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("page_id", "html")
    ctx.op("ingest", "daily_load", "GasPrices") {
      ctx.phase("parse_write") {
        GasPrices.writeCanonical(GasPrices.parse(pages, date(day)), store)
      }
      ctx.phase("upkeep") {
        GasPrices.expirePartitions(spark, store, date(day - Window + 1))
      }
    }
    today = day
  }

  private def serve(day: Int): Unit = {
    val got = ctx.op("serve", "top_of_day", "GasPrices") {
      val df = ctx.phase("construct") {
        GasPrices.topOfDay(spark.read.parquet(store), date(day))
      }
      ctx.phase("action")(df.collect())
    }
    got.foreach { rows =>
      val row = rows.headOption.orNull
      GasModel.mismatch(expected(day), row).foreach(p => problemsSeen += s"day $day: $p")
      if (sample.isEmpty && row != null) sample = Some(day -> row)
    }
  }

  /** The first Window - 1 days go into the store through one
    * `writeCanonical` of the model's parsed rows (one call instead of 35
    * daily loads); then three whole rounds warm every kind of operation
    * (serves still run ~30% slower in the first two). */
  def setup(): Unit = {
    val rows = new java.util.ArrayList[Row]()
    for (day <- -(Window - 1) until 0) {
      val s = GasModel.scrape(seed, day)
      expected(day) = GasModel.topOfDay(s.rows)
      val d = java.sql.Date.valueOf(date(day))
      s.rows.foreach(r => rows.add(Row(r.price.bigDecimal.setScale(1), r.station,
        r.city, r.time, r.user, d)))
    }
    GasPrices.writeCanonical(spark.createDataFrame(rows, parsedSchema), store)
    for (i <- 0 until 3) round(i)
  }

  def round(i: Int): Unit = {
    load(today + 1)
    serve(today)
    for (_ <- 1 until ServesPerDay) serve(today - pick.nextInt(Window))
  }

  def problems: Seq[String] = problemsSeen.toSeq

  def selfTest(): Seq[String] = sample match {
    case None => Seq("gas: no served row to corrupt")
    case Some((day, row)) =>
      val hi = row.getStruct(0)
      val bumped = Row(Row(hi.getDecimal(0).add(new java.math.BigDecimal("0.1")),
        hi.getString(1), hi.getString(2)), row.getStruct(1))
      val moved = Row(Row(hi.getDecimal(0), "Nowhere 0 Rue Nulle", hi.getString(2)),
        row.getStruct(1))
      Seq("gas price" -> bumped, "gas station" -> moved).collect {
        case (name, bad) if GasModel.mismatch(expected(day), bad).isEmpty => name
      }
  }

  override def storeFiles(): Int =
    Option(new java.io.File(store).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
      .flatMap(p => Option(p.listFiles()).toSeq.flatten)
      .count(_.getName.endsWith(".parquet"))
}
