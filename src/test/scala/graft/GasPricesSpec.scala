package graft

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.GasPrices
import graft.TempDirs.withTempDir

/** Golden tests for the reference-domain ingest: HTML cell extraction,
  * zip-truncation alignment, normalization, and the top-of-day answer
  * shape (/root/reference/README.md:12-23). */
class GasPricesSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val day = LocalDate.of(2023, 4, 1)

  private def fixturePages = {
    import spark.implicits._
    Seq((1L, GasPrices.fixtureHtml)).toDF("page_id", "html")
  }

  private def parsed = GasPrices.parse(fixturePages, day)

  test("parse aligns cell families and drops the unmatched tail row") {
    val rows = parsed.orderBy(col("price")).collect()
    // 4 price cells but only 3 complete rows -> zip truncation drops one
    assert(rows.length === 3)
    assert(rows.map(_.getAs[java.math.BigDecimal]("price").toString).toSeq
      === Seq("154.4", "163.9", "166.4"))
  }

  test("normalization: tags stripped, whitespace collapsed, accents kept") {
    val esso = parsed.filter(col("price") === "163.9").head
    assert(esso.getAs[String]("station") === "Esso Du Commerce / René Lévesque")
    assert(esso.getAs[String]("city") === "Verdun ( Île des Soeurs )")
    assert(esso.getAs[String]("time") === "10:42AM")
    assert(esso.getAs[String]("user") === "driverMTL")
  }

  test("time/user split: missing user becomes empty string") {
    val shell = parsed.filter(col("price") === "154.4").head
    assert(shell.getAs[String]("time") === "9:05AM")
    assert(shell.getAs[String]("user") === "")
  }

  test("topOfDay answers the README shape with numeric (not lexicographic) order") {
    val r = GasPrices.topOfDay(parsed, day).head
    val hi = r.getAs[Row]("highest_price")
    val lo = r.getAs[Row]("lowest_price")
    assert(hi.getAs[java.math.BigDecimal]("price").toString === "166.4")
    assert(hi.getAs[String]("station") === "Petro-Canada 7950 Boul Newman")
    assert(lo.getAs[java.math.BigDecimal]("price").toString === "154.4")
    assert(lo.getAs[String]("city") === "Montréal")
  }

  test("topAllTime serves the all-time highest and lowest rows, ties included") {
    import spark.implicits._
    // two days; the top price is tied across days and the bottom one
    // within a day, so either tied row is a right answer
    val fixture = Seq(
      ("166.4", "A", "X", "1:00PM", "u", day),
      ("99.9", "B", "Y", "2:00PM", "v", day),
      ("154.4", "C", "Z", "3:00PM", "", day),
      ("166.4", "D", "X", "9:05AM", "w", day.plusDays(1)),
      ("99.9", "E", "Y", "9:10AM", "v", day.plusDays(1)),
      ("99.9", "F", "W", "9:15AM", "", day.plusDays(1)),
      ("120.0", "G", "Z", "9:20AM", "u", day.plusDays(1)))
    val df = fixture.toDF("p", "station", "city", "time", "user", "d")
      .select(col("p").cast("decimal(6,1)").as("price"), col("station"),
        col("city"), col("time"), col("user"),
        col("d").cast("date").as("date"))
    val rows = fixture.map { case (p, s, c, t, u, d) =>
      (BigDecimal(p), Seq(BigDecimal(p), s, c, t, u, java.sql.Date.valueOf(d)))
    }
    val top = rows.map(_._1).max
    val bottom = rows.map(_._1).min
    val r = GasPrices.topAllTime(df).head()
    assert(r.schema.fieldNames.toSeq === Seq("highest", "lowest"))
    for ((field, want) <- Seq("highest" -> top, "lowest" -> bottom)) {
      val got = r.getAs[Row](field)
      assert(got.schema.fieldNames.toSeq === df.columns.toSeq)
      val cells = got.toSeq.updated(0, BigDecimal(got.getDecimal(0)))
      assert(cells.head === want, field)
      assert(rows.filter(_._1 == want).map(_._2).contains(cells),
        s"$field: $cells is not one of the tied rows")
    }
  }

  test("numeric sort diverges from the reference's lexicographic sort by design") {
    // "99.9" > "163.9" as varchar (the reference's latent bug,
    // /root/reference/api/postgres/api.py:22); numerically it is lower.
    import spark.implicits._
    val withCheap = parsed.select(col("price").cast("string"))
      .union(Seq("99.9").toDF)
    val lexMax = withCheap.agg(max(col("price"))).as[String].head
    assert(lexMax === "99.9") // what the reference would serve as "highest"
    val numMax = withCheap.agg(max(col("price").cast("decimal(6,1)"))).head
      .getDecimal(0).toString
    assert(numMax === "166.4") // what graft serves
  }

  test("droppedRowCount reports the zip-truncated rows the reference hides") {
    import spark.implicits._
    val pages = fixturePages
    // fixture: 4 price cells, 3 complete rows -> exactly 1 dropped
    assert(GasPrices.droppedRowCount(pages) === 1L)
    // the metric agrees with what parse actually drops
    assert(GasPrices.droppedRowCount(pages) ===
      4L - GasPrices.parse(pages, day).count())
    // a complete page drops nothing
    val complete = Seq((1L, GasPrices.fixtureHtml.linesIterator
      .filterNot(_.contains("""pricecell">159.9""")).mkString("\n")))
      .toDF("page_id", "html")
    assert(GasPrices.droppedRowCount(complete) === 0L)
  }

  test("fanOut writes one cached batch to every sink (no re-extract)") {
    withTempDir("graft-fanout") { tmp =>
      val base = tmp.toString
      GasPrices.fanOut(parsed, s"$base/parquet", s"$base/json")
      GasPrices.fanOut(parsed, s"$base/parquet", s"$base/json") // rerun
      assert(spark.read.parquet(s"$base/parquet").count() === 3) // not 6
      assert(spark.read.json(s"$base/json").count() === 3)
      // serving records carry the date INLINE in the body (reference
      // serving-object shape) — not only in the dt=... directory name
      val raw = spark.read.textFile(s"$base/json/dt=*/*.json")
      assert(raw.count() === 3)
      assert(raw.filter(_.contains("\"date\":")).count() === 3)
    }
  }

  test("writeServingJdbc round-trips the gas_prices table through a real JDBC sink") {
    System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))
    withTempDir("graft-gp-derby") { tmp =>
      val db = s"$tmp/db"
      val url = s"jdbc:derby:$db;create=true"
      try {
        // twice: overwrite mode is the reference's daily-replace idempotence
        GasPrices.writeServingJdbc(parsed, url)
        val back = GasPrices.writeServingJdbc(parsed, url)
        assert(back.count() === parsed.count())
        val direct = parsed.orderBy(col("price")).collect()
          .map(r => (r.getAs[java.math.BigDecimal]("price").toString,
            r.getString(r.fieldIndex("station"))))
        val rt = back.orderBy(col("price")).collect()
          .map(r => (r.getAs[java.math.BigDecimal]("price").toString,
            r.getString(r.fieldIndex("station"))))
        assert(rt.toSeq === direct.toSeq)
        // the flagship query answers identically off the JDBC store
        assert(GasPrices.topOfDay(back, day).collect().toSeq ===
          GasPrices.topOfDay(parsed, day).collect().toSeq)
      } finally {
        // a booted database holds its files open: shut it down before
        // the delete (Derby reports a clean shutdown as an SQLException)
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true").close()
        catch { case _: java.sql.SQLException => }
      }
    }
  }

  test("compactStore shrinks a fragmented store and preserves every row") {
    def partFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    withTempDir("graft-compact") { tmp =>
      val base = tmp.toString
      // fragment: two ingest days, each scattered across 6 shuffled files
      val twoDays = parsed.union(GasPrices.parse(fixturePages, day.plusDays(1)))
      twoDays.repartition(6)
        .write.partitionBy("date").parquet(s"$base/frag")
      val before = partFiles(s"$base/frag").size
      assert(before >= 6, s"fixture store not fragmented enough: $before files")
      GasPrices.compactStore(spark, s"$base/frag", s"$base/tidy", 2)
      val after = partFiles(s"$base/tidy").size
      assert(after <= 3, s"compaction left $after files (was $before)")
      // content identical (multiset)
      val a = spark.read.parquet(s"$base/frag")
      val b = spark.read.parquet(s"$base/tidy").select(a.columns.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("expirePartitions drops only stale date partitions, without a rewrite") {
    withTempDir("graft-expire") { tmp =>
      val dir = tmp.toString + "/store"
      val threeDays = (0 to 2).map(i => GasPrices.parse(fixturePages, day.plusDays(i)))
        .reduce(_ union _)
      threeDays.write.partitionBy("date").parquet(dir)
      assert(spark.read.parquet(dir).select("date").distinct().count() === 3)
      val dropped = GasPrices.expirePartitions(spark, dir, day.plusDays(1))
      assert(dropped === 1L)
      val kept = spark.read.parquet(dir)
      assert(kept.select("date").distinct().count() === 2)
      assert(kept.filter(col("date") < java.sql.Date.valueOf(day.plusDays(1)))
        .count() === 0)
      // idempotent: nothing further to expire
      assert(GasPrices.expirePartitions(spark, dir, day.plusDays(1)) === 0L)
    }
  }

  test("writeCanonical keeps last per (date, station) and reruns idempotently") {
    withTempDir("graft-gas") { tmp =>
      val dir = tmp.toString
      val dup = parsed.union(parsed) // simulate a rerun double-load
      GasPrices.writeCanonical(dup, dir)
      GasPrices.writeCanonical(dup, dir) // second run must not double
      val back = spark.read.parquet(dir)
      assert(back.count() === 3)
      assert(back.groupBy("date", "station").count()
        .filter(col("count") > 1).count() === 0)
    }
  }

  test("keep-last is chronological, not lexicographic on the time token") {
    import spark.implicits._
    withTempDir("graft-gas-t") { tmp =>
      val dir = tmp.toString
      // same station reported at 9:05AM then 1:15PM: "9:05AM" wins a
      // string sort, but 1:15PM is the actual last write
      val rows = Seq(("150.0", "9:05AM"), ("160.0", "1:15PM"))
        .toDF("p", "time")
        .select(col("p").cast("decimal(6,1)").as("price"), lit("S").as("station"),
          lit("C").as("city"), col("time"), lit("u").as("user"),
          lit(java.sql.Date.valueOf(day)).as("date"))
      GasPrices.writeCanonical(rows, dir)
      val kept = spark.read.parquet(dir)
      assert(kept.count() === 1)
      assert(kept.head.getAs[java.math.BigDecimal]("price").toString === "160.0")
    }
  }

  test("writeCanonical overwrites only the partitions present in the batch") {
    withTempDir("graft-gas-d") { tmp =>
      val dir = tmp.toString
      GasPrices.writeCanonical(parsed, dir) // day 1
      val day2 = parsed.withColumn("date",
        lit(java.sql.Date.valueOf(day.plusDays(1))))
      GasPrices.writeCanonical(day2, dir) // day 2 must not wipe day 1
      val back = spark.read.parquet(dir)
      assert(back.select("date").distinct().count() === 2)
      assert(back.count() === 6)
    }
  }

  /** Spark jobs `body` starts (the shared counter, [[graft.util.Probes.jobs]]). */
  private def jobsOf(body: => Unit): Int = graft.util.Probes.jobs(spark)(body)._2

  test("a serve over a 36-day store runs 2 jobs, a daily load 2 with one file per date") {
    import spark.implicits._
    withTempDir("graft-gas-jobs") { tmp =>
      val store = tmp.toString + "/store"
      // 36 date dirs: more than Spark's default parallel-listing threshold (32)
      val days = (0 until 36).map(i => java.sql.Date.valueOf(day.plusDays(i.toLong)))
      GasPrices.writeCanonical(parsed.drop("date").crossJoin(days.toDF("date")), store)
      assert(new java.io.File(store).list().count(_.startsWith("date=")) === 36)

      var served: Array[Row] = Array.empty
      val serveJobs = jobsOf {
        served = GasPrices.topOfDay(spark.read.parquet(store), day.plusDays(7)).collect()
      }
      // the read's schema-footer job and one exchange-free aggregate
      assert(serveJobs <= 2, s"a serve ran $serveJobs jobs")
      assert(served.length === 1)
      assert(served.head.getStruct(0).getDecimal(0).toString === "166.4")

      val loadDay = day.plusDays(35)
      val loadJobs = jobsOf {
        GasPrices.writeCanonical(GasPrices.parse(fixturePages, loadDay), store)
      }
      // one shuffle on date: its map stage and the window + write stage
      assert(loadJobs <= 2, s"a daily load ran $loadJobs jobs")
      GasPrices.writeCanonical(GasPrices.parse(fixturePages, loadDay), store) // rerun
      val files = new java.io.File(store, s"date=$loadDay").list()
        .count(_.endsWith(".parquet"))
      assert(files === 1)
      assert(spark.read.parquet(store).filter(col("date") === java.sql.Date.valueOf(loadDay))
        .count() === 3)
    }
  }

  /** The join form `align` replaced, kept as its reference: one
    * posexplode per cell family, inner-joined on (page_id, pos); the
    * inner join drops each page's unmatched tail. */
  private def alignByJoin(pages: DataFrame): DataFrame =
    GasPrices.cellFamilies.map { case (name, pat) =>
      pages.select(col("page_id"),
        posexplode(regexp_extract_all(col("html"), lit(pat), lit(1))).as(Seq("pos", name)))
    }.reduce((a, b) => a.join(b, Seq("page_id", "pos")))
      .select(GasPrices.cellFamilies.map(f => col(f._1)): _*)

  test("zip parse equals the posexplode + ordinal-join form on ragged pages") {
    import spark.implicits._
    def row(cells: (String, String)*): String =
      cells.map { case (cls, v) => s"""<td class="$cls">$v</td>""" }
        .mkString("<tr>", "", "</tr>\n")
    // station is the shortest family: 3 prices, 2 stations, 3 cities, 3 users
    val shortStation = row("pricecell" -> "150.1", "stationcell" -> "A",
        "citycell" -> "X", "usercell" -> "8:00AM a") +
      row("redcell" -> "151.2", "citycell" -> "Y", "usercell" -> "8:30AM") +
      row("greencell" -> "<b>152.3</b>", "stationcell" -> "C",
        "citycell" -> "Z", "usercell" -> "9:00PM c")
    // no price cell at all
    val noPrice = row("stationcell" -> "D", "citycell" -> "W", "usercell" -> "7:00AM") +
      row("stationcell" -> "E", "citycell" -> "V", "usercell" -> "7:10AM v")
    val pages = Seq[(Long, String)](
      (7L, GasPrices.fixtureHtml), (3L, shortStation), (42L, noPrice),
      (1000L, null), (19L, GasPrices.fixtureHtml))
      .toDF("page_id", "html")

    val zipped = GasPrices.align(pages)
    val joined = alignByJoin(pages)
    assert(zipped.count() === 3 + 2 + 0 + 0 + 3)
    assert(zipped.exceptAll(joined).isEmpty && joined.exceptAll(zipped).isEmpty)
    // the station-short page keeps the reference's misalignment
    assert(zipped.filter(col("price_raw") === "151.2").head.getString(1) === "C")

    // dropped = per-page longest family, summed, minus the rows parse keeps
    val longest = pages.as[(Long, String)].collect().toSeq.map(_._2).filter(_ != null)
      .map(h => GasPrices.cellFamilies.map(_._2.r.findAllIn(h).size).max).sum
    assert(GasPrices.droppedRowCount(pages) ===
      longest - GasPrices.parse(pages, day).count())
  }

  test("topOfDay of a day absent from the store is one all-null row") {
    withTempDir("graft-gas-absent") { tmp =>
      val dir = tmp.toString
      GasPrices.writeCanonical(parsed, dir)
      val absent = day.plusDays(100)
      for (src <- Seq(parsed, spark.read.parquet(dir)))
        assert(GasPrices.topOfDay(src, absent).collect().toSeq === Seq(Row(null, null)))
    }
  }
}
