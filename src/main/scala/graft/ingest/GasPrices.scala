package graft.ingest

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's own domain, re-expressed Spark-first: ingest of the
  * Montreal gas-price HTML table and the top-of-day serving queries.
  *
  * Reference semantics reproduced (all paths /root/reference/):
  *  - S2 cell extraction by CSS class — price cells match any of
  *    greencell/redcell/pricecell (dags/get_prices_load_mongodb.py:23-26)
  *    → `regexp_extract_all` per cell family.
  *  - S3 positional zip of the four cell lists, silently truncating to
  *    the shortest (dags/get_prices_load_mongodb.py:30) → per page, each
  *    list `slice`d to the `least` list size, then `inline(arrays_zip)`;
  *    the slice IS the truncation, in one narrow pass with no join.
  *  - F1 whitespace-normalized text-fragment join (`" ".join(
  *    stripped_strings)`, dags/get_prices_load_mongodb.py:31-34) →
  *    strip tags, collapse whitespace, trim.
  *  - F2 split-at-first-whitespace into (time, user), user possibly
  *    empty (dags/get_prices_load_mongodb.py:37-38).
  *  - F3 run-date injection — but as an explicit parameter, not
  *    `date.today()` (dags/get_prices_load_mongodb.py:41-44), so runs
  *    are replayable (SURVEY §7.4 determinism).
  *  - §1.2 decision: price is DECIMAL(6,1) and sorts numerically; the
  *    reference sorts the varchar representation lexicographically
  *    (api/postgres/api.py:22), a latent bug we intentionally fix.
  *  - A1/A2 top-of-day argmax/argmin with station+city
  *    (api/mongo/main.py:63-77) and the all-time variant
  *    (api/postgres/api.py:16-33).
  *
  * Scale notes: parsing is a narrow per-page pipeline; the canonical
  * store is date-partitioned parquet so top-of-day prunes to one
  * partition. A daily load (`parse` + `writeCanonical`) is one shuffle
  * on `date`, which serves both keep-last and the one-file-per-date
  * layout: 2 Spark jobs. A serve (`topOfDay(spark.read.parquet(store),
  * day).collect()`) is 2 jobs: the read's schema-footer job and one
  * exchange-free aggregate over the day's partition (no listing job on
  * local[N]; see [[graft.GraftSession]]).
  */
object GasPrices {

  /** The four cell families (S2) — single source of truth shared by
    * [[parse]] and the [[droppedRowCount]] metric so the regexes can
    * never desynchronize. */
  private[graft] val cellFamilies: Seq[(String, String)] = Seq(
    ("price_raw", """<td[^>]*class="(?:greencell|redcell|pricecell)"[^>]*>(.*?)</td>"""),
    ("station_raw", """<td[^>]*class="stationcell"[^>]*>(.*?)</td>"""),
    ("city_raw", """<td[^>]*class="citycell"[^>]*>(.*?)</td>"""),
    ("timeuser_raw", """<td[^>]*class="usercell"[^>]*>(.*?)</td>"""))

  private def cells(pattern: String): Column =
    regexp_extract_all(col("html"), lit(pattern), lit(1))

  /** S3, the reference's zip(): one row per aligned raw cell quadruple
    * (`price_raw`, `station_raw`, `city_raw`, `timeuser_raw`). Per page
    * every family's list is cut to the shortest one and the lists are
    * zipped position by position: a narrow pass, no join, no page key. */
  private[graft] def align(pages: DataFrame): DataFrame = {
    val names = cellFamilies.map(_._1)
    val shortest = least(names.map(n => size(col(n))): _*)
    pages
      .select(cellFamilies.map { case (name, pat) => cells(pat).as(name) }: _*)
      .select(names.map(n => slice(col(n), lit(1), shortest).as(n)): _*)
      .select(inline(arrays_zip(names.map(col): _*)))
  }

  /** Raw page text → one row per aligned (price, station, city,
    * time/user) cell quadruple. Input: one row per page, column `html`. */
  def parse(pages: DataFrame, runDate: LocalDate): DataFrame = {
    val aligned = align(pages)

    // F1: stripped_strings-join ≈ drop tags, collapse whitespace, trim.
    def norm(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

    val tu = split(norm(col("timeuser_raw")), "\\s+", 2)
    aligned.select(
      norm(col("price_raw")).cast(DecimalType(6, 1)).as("price"),
      norm(col("station_raw")).as("station"),
      norm(col("city_raw")).as("city"),
      element_at(tu, 1).as("time"),
      coalesce(try_element_at(tu, lit(2)), lit("")).as("user"),
      lit(java.sql.Date.valueOf(runDate)).as("date"))
  }

  /** P5's malformed-row metric (SURVEY §2.3: "count dropped rows to a
    * metrics accumulator"): how many cell quadruples the zip truncation
    * silently discards — the number the reference can never report
    * because its `zip()` hides the drop. Per page the aligned row count
    * is the SHORTEST family, so dropped = greatest − least, summed in
    * one narrow aggregate pass (no re-parse, no accumulator-on-retry
    * double-count hazard); regexes shared with [[parse]]. */
  def droppedRowCount(pages: DataFrame): Long = {
    val counts = cellFamilies.map { case (_, p) => size(cells(p)) }
    pages.select((greatest(counts: _*) - least(counts: _*)).as("d"))
      .agg(coalesce(sum(col("d")), lit(0L))).head().getLong(0)
  }

  /** Canonical store write: date-partitioned parquet with the MinIO
    * sink's keep-last-per-(date,station) upsert semantics (K3,
    * dags/get_prices_load_minio.py:80) made explicit. Rerun-idempotent
    * via dynamic partition overwrite — the reference's append sinks
    * double-load on reruns (SURVEY §2.10). */
  def writeCanonical(df: DataFrame, path: String): Unit =
    keepLast(df).write.mode("overwrite")
      // only partitions present in this batch are replaced; without
      // this the (static) overwrite would truncate every earlier date
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date")
      .parquet(path)

  /** [[writeCanonical]]'s input: the last report per (date, station),
    * hash-partitioned on `date`. That one shuffle clusters the window
    * (its (date, station) partitioning is satisfied by `date` alone)
    * and puts each date in one task, so each date dir gets one file. */
  private[graft] def keepLast(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // chronological keep-last: the raw "10:42AM" token sorts wrongly as
    // a string ("9:.." > "10:.."), so parse it to a time-of-day key
    val tkey = try_to_timestamp(col("time"), lit("h:mma"))
    val w = Window.partitionBy(col("date"), col("station"))
      .orderBy(tkey.desc_nulls_last, col("time").desc, col("user").desc)
    df.repartition(col("date"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** A1/A2: the day's highest and lowest price with station and city —
    * the reference's flagship serving query (api/mongo/main.py:63-77),
    * as one pass (max_by/min_by, no sort). One day is bounded by the
    * station count, so the filtered rows are coalesced to one partition
    * and the global aggregate plans no exchange: one Spark job. */
  def topOfDay(df: DataFrame, day: LocalDate): DataFrame =
    df.filter(col("date") === lit(java.sql.Date.valueOf(day)))
      .coalesce(1)
      .agg(
        max_by(struct(col("price"), col("station"), col("city")), col("price"))
          .as("highest_price"),
        min_by(struct(col("price"), col("station"), col("city")), col("price"))
          .as("lowest_price"))

  /** T1/T2 all-time variant (api/postgres/api.py:16-33 — which returns
    * all six columns and no date filter; asymmetry noted in SURVEY
    * §2.3). */
  def topAllTime(df: DataFrame): DataFrame =
    df.agg(
      max_by(struct(df.columns.toIndexedSeq.map(col): _*), col("price")).as("highest"),
      min_by(struct(df.columns.toIndexedSeq.map(col): _*), col("price")).as("lowest"))

  /** Multi-sink fan-out (SURVEY §2.12 O4/§4 CSE note): the reference
    * runs the SAME scrape four times, once per sink DAG
    * (/root/reference/dags/get_prices_load_{mongodb,postgres,minio,
    * elasticsearch}.py — the function is copy-pasted into each). The
    * engine extracts once and fans the cached batch out to every sink
    * once, the cached batch fans out to every sink. Sinks are
    * format-level (parquet canonical + JSON serving dir) since no
    * store connectors exist in the zero-egress container. Both writes
    * are rerun-idempotent via dynamic partition overwrite on the
    * batch's date partitions — rerunning a day replaces that day in
    * both sinks instead of double-loading it (the SURVEY §2.10 defect
    * in the reference's append sinks).
    *
    * The JSON serving sink partitions by a DUPLICATED `dt` column so
    * each record keeps `date` inline in its body — the reference's
    * serving objects carry the date field
    * (/root/reference/dags/get_prices_load_minio.py:75), and non-Spark
    * consumers of the serving dir must not need partition-directory
    * discovery to recover it. */
  def fanOut(df: DataFrame, parquetPath: String, jsonPath: String): Unit = {
    df.persist()
    try {
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date").parquet(parquetPath)
      df.withColumn("dt", col("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").json(jsonPath)
    } finally { df.unpersist(); () }
  }

  /** The reference's Postgres load (K2,
    * /root/reference/dags/get_prices_load_postgres.py:59-65) as a real
    * JDBC sink: the `gas_prices` serving table written through
    * `df.write.jdbc` — against embedded Derby in this environment,
    * against Postgres in production with only the URL changed. Price
    * stays DECIMAL(6,1) (the SURVEY §1.2 numeric-over-varchar
    * decision; the reference's varchar price is its latent
    * lexicographic-sort bug). Overwrite mode gives the same rerun
    * idempotence as the reference's daily replace. Returns the
    * read-back frame so callers can verify the round-trip. */
  def writeServingJdbc(df: DataFrame, url: String): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    df.write.mode("overwrite").jdbc(url, "gas_prices", props)
    df.sparkSession.read.jdbc(url, "gas_prices", props)
  }

  /** Store compaction — the maintenance operator every long-running
    * ingestion needs at scale: daily/streaming appends leave each date
    * partition littered with small files, and at 100 TB the per-file
    * open/footer/scheduling overhead comes to dominate scan time (the
    * classic small-file problem). Rewrites the store with
    * `targetPartitions` range-clustered tasks — ranged AND sorted on
    * (date, station), so output files hold contiguous key runs and
    * parquet min/max row-group stats support predicate skipping on the
    * serving columns — into `outPath`, date-partitioned like the
    * source.
    *
    * Writes to a NEW directory on purpose: Spark (correctly) refuses
    * to overwrite a path it is simultaneously reading, and raw-parquet
    * compaction is only atomic via the write-then-swap it forces;
    * table formats (Delta/Iceberg) exist to make this transactional
    * in place. */
  def compactStore(spark: SparkSession, inPath: String, outPath: String,
      targetPartitions: Int): Unit =
    compactStore(spark, inPath, outPath, targetPartitions, "date",
      Seq("station"))

  /** General form: compact ANY partitioned parquet store —
    * `partitionCol` keeps the directory layout, `keyCols` order the
    * range-clustering and in-file sort so row-group min/max stats
    * support predicate skipping on the serving keys. Used by the
    * gas-prices store (date, station) and the corpus store (split,
    * doc_id) alike — one maintenance rule, not one per dataset. */
  def compactStore(spark: SparkSession, inPath: String, outPath: String,
      targetPartitions: Int, partitionCol: String,
      keyCols: Seq[String]): Unit = {
    val keys = (partitionCol +: keyCols).map(col)
    spark.read.parquet(inPath)
      .repartitionByRange(targetPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(outPath)
  }

  /** Partition retention — the expiry half of store maintenance: drop
    * date partitions older than `keepFrom` from a date-partitioned
    * store by deleting their directories, never rewriting the kept
    * data. Partition-dir deletion is the only sane expiry at 100 TB
    * (a filtered rewrite would cost a full copy of everything kept);
    * the date partitioning exists precisely so retention is O(dropped
    * partitions). Returns the number of partitions dropped. The
    * directory delete is atomic per partition; as with
    * [[compactStore]], table formats make the multi-partition batch
    * transactional — raw parquet callers expire from oldest forward so
    * any interruption leaves a contiguous retained range. */
  def expirePartitions(spark: SparkSession, path: String,
      keepFrom: LocalDate): Long =
    dropPartitions(spark, path, "date", { name =>
      // non-date partition dirs (e.g. a null-date sentinel) are kept
      val day = try Some(LocalDate.parse(name)) catch {
        case _: java.time.format.DateTimeParseException => None
      }
      day.exists(_.isBefore(keepFrom))
    })

  /** General form of partition retention: drop the partitions of
    * `partitionCol` whose VALUE satisfies `dropIf`, by directory
    * delete — O(dropped), never a rewrite of kept data. Shared by
    * date-based expiry above and any other partitioned store (e.g.
    * retiring a split from a built corpus). Returns the number of
    * partitions actually removed. */
  def dropPartitions(spark: SparkSession, path: String, partitionCol: String,
      dropIf: String => Boolean): Long = {
    // Hadoop FS, not java.io: the same call works on hdfs://, s3a://,
    // and local paths (everything else in this store layer goes
    // through Spark's Hadoop filesystem too)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
      .sortBy(_.getPath.getName)
      .count { d =>
        val name = d.getPath.getName.stripPrefix(s"$partitionCol=")
        // count only deletes that actually succeeded — a partition the
        // FS refuses to remove must not be reported as expired
        dropIf(name) && fs.delete(d.getPath, true)
      }.toLong
  }

  /** Fixture page fragment shaped like the reference's source table
    * (README.md:12-23 sample values; UTF-8 accents intentional). */
  val fixtureHtml: String =
    """<table>
      |<tr><td class="pricecell"><b>163.9</b></td>
      |    <td class="stationcell">Esso  Du Commerce / René Lévesque</td>
      |    <td class="citycell">Verdun ( Île des Soeurs )</td>
      |    <td class="usercell">10:42AM driverMTL</td></tr>
      |<tr><td class="greencell">154.4</td>
      |    <td class="stationcell">Shell 4849 Av Pierre-De Coubertin</td>
      |    <td class="citycell">Montréal</td>
      |    <td class="usercell">9:05AM</td></tr>
      |<tr><td class="redcell">166.4</td>
      |    <td class="stationcell">Petro-Canada 7950 Boul Newman</td>
      |    <td class="citycell">LaSalle</td>
      |    <td class="usercell">11:15AM lasalle_joe</td></tr>
      |<tr><td class="pricecell">159.9</td></tr>
      |</table>""".stripMargin // last row has no station/city/user -> zip-dropped
}
