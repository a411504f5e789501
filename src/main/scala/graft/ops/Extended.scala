package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.util.Scratch
import org.apache.commons.io.FileUtils

/** Extended relational / source-sink coverage beyond the round-2 set:
  * pivot, correlated scalar subquery (Catalyst decorrelation), CSV and
  * JSON source round-trips, bucketed co-located joins, salted skew
  * joins, sketch aggregates, and exact percentiles.
  *
  * Scale notes are per-query; the unifying theme is shuffle economy:
  * bucketing pre-pays the join shuffle at write time, salting splits a
  * hot build key across S reducers, the approx-distinct sketch
  * replaces a two-phase exact distinct with one mergeable pass.
  */
object Extended {

  /** PIVOT: order counts per priority × status. Explicit value list so
    * the plan is a single partial-aggregable pass (no values-discovery
    * job), which is also what keeps it sane on a wide cluster. */
  def pivotOrders(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** SCHEMA-RECONCILING UNION — `unionByName(allowMissingColumns)`:
    * the in-memory twin of q179's mergeSchema read, for when two
    * FEEDS (not two file batches) drifted — one carries columns the
    * other lacks, and positional UNION would silently misalign or
    * fail. Names align the columns, missing ones null-extend. Here:
    * the current orders projection unioned with a "legacy feed"
    * lacking priority and carrying an extra legacy flag — both
    * directions of drift at once. Rollup proves nothing misaligned
    * (per-source counts + null accounting). Oracle: DuckDB's
    * UNION ALL BY NAME, the SQL-standardized form of the same
    * reconciliation. */
  def unionByNameDrift(spark: SparkSession, dir: String): DataFrame = {
    val orders = load(spark, dir, "orders")
    val current = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        d2(col("o_totalprice")).as("price"), lit("current").as("src"))
    val legacy = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), d2(col("o_totalprice")).as("price"),
        lit(true).as("legacy_flag"), lit("legacy").as("src"))
    current.unionByName(legacy, allowMissingColumns = true)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderpriority").isNull.cast(LongType))
          .as("null_priority"),
        sum(col("legacy_flag").isNull.cast(LongType)).as("null_flag"),
        sum(col("price")).cast(DoubleType).as("sum_price"))
      .orderBy(col("src"))
  }

  /** DYNAMIC pivot — values INFERRED from the data (Spark runs a
    * distinct-values job, sorts the values, and widens the schema),
    * vs q44's explicitly pinned value list. The inference job is the
    * surface being exercised: at 100 TB you pin the list (q44) to
    * skip that extra scan, but exploratory pivots rely on inference
    * and on its DETERMINISTIC column order (sorted values — an
    * unsorted inference would make the output schema depend on
    * partition order). Absent cells stay NULL (pivot's contract;
    * q44 coalesces them away), mirrored by SUM(CASE) in the oracle. */
  def dynamicPivot(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus")
      .agg(count(lit(1)))
      .orderBy(col("o_orderpriority"))

  /** SALTED TWO-PHASE AGGREGATION — q50's skew remedy applied to the
    * aggregation side: when one group key carries most of the rows
    * (l_returnflag has 3 values), the single-phase hash aggregate
    * funnels the hot key's partials through one reducer; salting by a
    * hash of a high-cardinality column splits each group into 16
    * sub-groups aggregated in parallel, and a second O(groups·16)
    * rollup merges the partials. EXACTLY equal to the plain rollup
    * because the merged measures are commutative monoids (DECIMAL sum,
    * count) — which is why the oracle is the UNSALTED form; the final
    * cast to double happens once, after both phases. */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .withColumn("_salt", phash(col("l_orderkey").cast(StringType)) % 16)
      .groupBy(col("l_returnflag"), col("_salt"))
      .agg(sum(d2(col("l_quantity"))).as("pq"), count(lit(1)).as("pn"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pq")).cast(DoubleType).as("sum_qty"),
        sum(col("pn")).as("n"))
      .orderBy(col("l_returnflag"))

  /** SQL PIVOT-clause surface: q44's wide contingency restated with
    * the native `PIVOT (agg FOR col IN (...))` clause, gated on the
    * IDENTICAL q44 oracle (the twin rule). COALESCE restores the
    * zero-for-empty-cell contract the conditional-aggregation form
    * states — PIVOT emits NULL for an empty cell. */
  def sqlPivot(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "orders").createOrReplaceTempView("graft_ord_pv")
    spark.sql(
      """SELECT o_orderpriority,
        |  COALESCE(n_f, CAST(0 AS BIGINT)) AS n_f,
        |  COALESCE(n_o, CAST(0 AS BIGINT)) AS n_o,
        |  COALESCE(n_p, CAST(0 AS BIGINT)) AS n_p
        |FROM (SELECT o_orderpriority, o_orderstatus FROM graft_ord_pv)
        |PIVOT (COUNT(*) FOR o_orderstatus IN
        |  ('F' AS n_f, 'O' AS n_o, 'P' AS n_p))
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** SQL UNPIVOT-clause surface: q57's wide-to-long restated with the
    * native `UNPIVOT (value FOR metric IN (...))` clause, gated on
    * the IDENTICAL q57 oracle. */
  def sqlUnpivot(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "lineitem").createOrReplaceTempView("graft_li_upv")
    spark.sql(
      """SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM graft_li_upv GROUP BY l_returnflag)
        |UNPIVOT (value FOR metric IN (sum_qty, sum_price))
        |ORDER BY l_returnflag, metric""".stripMargin)
  }

  /** Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    * half their part's average quantity. Catalyst decorrelates the
    * subquery into an aggregate + join — written as SQL to exercise
    * exactly that path (the oracle runs the same text). */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "lineitem").createOrReplaceTempView("graft_li_corr")
    spark.sql(
      """SELECT COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft_li_corr l1
        |WHERE l_quantity < (
        |  SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                / COUNT(*))
        |  FROM graft_li_corr l2
        |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  /** LATERAL correlated top-N: per region, the two highest-revenue
    * nations via a LATERAL subquery with ORDER BY + LIMIT — the
    * "top-n per outer row" SQL surface (Spark ≥ 3.2 lateral joins;
    * Catalyst decorrelates to a window/aggregate under the hood, so
    * this does NOT execute per-outer-row at scale). Written as SQL
    * text; the oracle is the same shape. */
  def lateralTopN(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "region").createOrReplaceTempView("graft_lat_region")
    load(spark, dir, "nation").createOrReplaceTempView("graft_lat_nation")
    load(spark, dir, "customer").createOrReplaceTempView("graft_lat_cust")
    load(spark, dir, "orders").createOrReplaceTempView("graft_lat_orders")
    spark.sql(
      """SELECT r.r_name, t.n_name, t.revenue
        |FROM graft_lat_region r,
        |LATERAL (
        |  SELECT n.n_name,
        |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM graft_lat_nation n
        |  JOIN graft_lat_cust c ON c.c_nationkey = n.n_nationkey
        |  JOIN graft_lat_orders o ON o.o_custkey = c.c_custkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, n.n_name
        |  LIMIT 2
        |) t
        |ORDER BY r.r_name, t.revenue DESC, t.n_name""".stripMargin)
  }

  /** FILTER-clause conditional aggregation — the SQL-standard form of
    * the `sum(when(...))` idiom used across the suite: per priority,
    * total orders plus finished-only count and exact-decimal revenue
    * in ONE aggregation pass (no self-join, no second scan). */
  def filterClauseAgg(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "orders").createOrReplaceTempView("graft_filter_orders")
    spark.sql(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_finished
        |FROM graft_filter_orders
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** CSV sink + source round-trip (SURVEY §2.1 file-format scans,
    * ABSENT in the reference): project → write CSV → read back with an
    * explicit schema → aggregate. The aggregate must equal the direct
    * parquet path bit-for-bit. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_csv_roundtrip", dir)
    load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType)))
    spark.read.schema(schema).option("header", "true").csv(out)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** JSON round-trip: struct → to_json (F7, the MinIO object body,
    * /root/reference/dags/get_prices_load_minio.py:77) → JSON files →
    * schema'd read → aggregate. */
  /** PERMISSIVE malformed-record JSON ingestion — the operational
    * surface every real feed needs and clean roundtrips (q48) never
    * exercise: a JSONL batch where a deterministic slice
    * (doc_id % 13 = 0) is TORN mid-record (a crashed producer's
    * partial write), read back with mode=PERMISSIVE +
    * columnNameOfCorruptRecord so bad lines land in `_corrupt_record`
    * instead of failing the job (FAILFAST) or vanishing silently
    * (DROPMALFORMED — the mode that turns a producer bug into silent
    * data loss). Output quarantines corrupt lines as their own
    * rollup row beside the per-lang totals; the oracle derives the
    * SAME split from the base table and the tear rule, so a parser
    * that misclassifies even one line hash-mismatches. Per-row
    * parse + one partial-aggregable rollup; the staged file is the
    * contract (schema-pinned read, no inference job). */
  def corruptJson(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_corrupt_json", dir)
    load(spark, dir, "documents")
      .select(when(col("doc_id") % 13 === 0,
          concat(lit("{\"doc_id\": "), col("doc_id").cast(StringType),
            lit(", \"lang\": \"")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"),
          col("n_chars"))))
        .as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .select(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
        .otherwise(col("lang")).as("lang"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_json_roundtrip", dir)
    load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    spark.read.schema(schema).json(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** SCHEMA-EVOLUTION merge read: two parquet batches written with
    * DRIFTED schemas — an early batch before two columns existed, a
    * later batch carrying them — read back as ONE table via
    * `mergeSchema` + partition discovery, old rows null-extended. The
    * ingestion reality every long-lived 100 TB lake hits: producers
    * add columns mid-stream and history cannot be rewritten. Schema
    * union happens in FOOTER metadata only (no data scan, no rewrite
    * of the early batch); each file still scans with its own schema
    * and column pruning, and the partition-discovered `batch` column
    * gives lineage for free. The oracle states the same union
    * declaratively over the source table. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_schema_evo", dir)
    val orders = load(spark, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/batch=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").option("basePath", out)
      .parquet(s"$out/batch=1", s"$out/batch=2")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        col("batch").cast(LongType).as("batch"))
      .orderBy(col("o_orderkey"))
  }

  /** Bucketed co-located join: both sides bucketed by the join key at
    * write time, so the join itself needs NO shuffle — the 100 TB
    * answer for repeated joins on the same key (pre-pay once, join
    * free forever). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // External-table locations under tmp: a fresh session's in-memory
    // catalog has forgotten the table while the directory persists, so
    // managed-table overwrite would die with LOCATION_ALREADY_EXISTS.
    def recreate(name: String): String = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = s"${Scratch.tmpPath("graft_bucketed", dir)}/$name"
      FileUtils.deleteQuietly(new java.io.File(loc)): Unit
      loc
    }
    load(spark, dir, "customer")
      .write.mode("overwrite")
      .option("path", recreate("graft_customer_bucketed"))
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("graft_customer_bucketed")
    load(spark, dir, "orders")
      .write.mode("overwrite")
      .option("path", recreate("graft_orders_bucketed"))
      .bucketBy(8, "o_custkey")
      .saveAsTable("graft_orders_bucketed")
    val c = spark.table("graft_customer_bucketed")
    val o = spark.table("graft_orders_bucketed")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Skew-salted join: the build side is replicated across S salt
    * values and the probe side deterministically salted, splitting any
    * hot key over S reducers. Result is identical to the plain join —
    * the oracle is the unsalted formulation. */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    val l = load(spark, dir, "lineitem")
      .withColumn("salt", pmod(col("l_linenumber"), lit(S)))
    val o = load(spark, dir, "orders")
      .withColumn("salt", explode(array((0 until S).map(lit(_)): _*)))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsumExpr(d2(col("l_extendedprice")) * d4(lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The JDBC URL of a scratch embedded Derby database at a
    * [[Scratch.tmpPath]] root. The per-process root matters: embedded
    * Derby allows ONE booting JVM per database, and a concurrent
    * Verify/test pair must not contend. The root is purged like any
    * other, after the database is shut down: a booted database holds
    * its files open, and one deleted while booted cannot be re-created
    * in the same JVM. (Derby reports a successful shutdown as an
    * SQLException, which the purge swallows.) */
  private def derbyUrl(prefix: String, dir: String): String = {
    // keep derby.log out of the working directory
    System.setProperty("derby.system.home", sys.props("java.io.tmpdir"))
    // the ephemeral per-run scratch db needs no crash durability;
    // without this, Derby fsyncs its transaction log per commit and
    // the sf1 load spends its time in log syncs, not in Spark
    System.setProperty("derby.system.durability", "test")
    lazy val db: String = Scratch.tmpPath(prefix, dir,
      () => java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true"): Unit)
    s"jdbc:derby:$db;create=true"
  }

  /** q339 — JDBC SINK + SOURCE ROUND-TRIP (the reference's Postgres
    * load path, /root/reference/dags/get_prices_load_postgres.py:59-65,
    * made real): write a typed table through Spark's JDBC sink into an
    * embedded Apache Derby database (the JDBC engine that ships on
    * Spark's own classpath), read it back through the JDBC source,
    * and aggregate — the re-read rollup must equal the direct parquet
    * path bit-for-bit, exactly the CSV/ORC/JSON/XML round-trip
    * contract. Money rides explicit DECIMAL(18,2) so the SQL type
    * round-trip cannot lose precision (the reference stores price as
    * varchar — SURVEY §1.2's documented divergence).
    *
    * Scale notes: numPartitions controls sink parallelism (each
    * partition opens one connection — against a real Postgres this is
    * the write fan-in knob); the read side predicate-pushes through
    * the JDBC dialect. Derby is in-process here, but the code path —
    * dialect, type mapping, save modes — is the same production
    * `spark.read/write.jdbc` surface. */
  def jdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val url = derbyUrl("graft_derby", dir)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // fewer, larger executeBatch round-trips per partition connection
    props.setProperty("batchsize", "10000")
    load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        d2(col("o_totalprice")).as("o_totalprice"))
      // one JDBC connection per partition: the write fan-in. The
      // corpus ships single-file tables, so the scan yields too few
      // partitions to drive the sink at sf >= 1 — widen explicitly
      .repartition(8)
      .write.mode("overwrite").jdbc(url, "gas_orders", props)
    spark.read.jdbc(url, "gas_orders", props)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsumExpr(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** q340 — JDBC PARTITIONED PARALLEL SCAN (q339's read side at
    * scale): the same Derby-backed table read through
    * `partitionColumn/lowerBound/upperBound/numPartitions` — Spark
    * opens one connection PER STRIDE and scans them concurrently,
    * which is the only way a JDBC extract keeps up with a cluster
    * (a single-connection read serializes 100 TB behind one cursor).
    * The filter is pushed into each partition's WHERE clause (pinned
    * in PlanSpec), so the database does the pruning, not the
    * executors. Bounds are stride hints, not filters — rows outside
    * them still arrive via the open-ended edge strides, which the
    * oracle equality proves. */
  def jdbcPartitionedScan(spark: SparkSession, dir: String): DataFrame = {
    val url = derbyUrl("graft_derby_part", dir)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    props.setProperty("batchsize", "10000")
    val orders = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        d2(col("o_totalprice")).as("o_totalprice"))
    // widen the sink fan-in past the single-file scan's partitioning
    // (see jdbcRoundtrip)
    orders.repartition(8).write.mode("overwrite")
      .jdbc(url, "gas_orders_part", props)
    // stride bounds computed from the written table's actual key range
    // (one tiny agg): hard-coded bounds stay CORRECT (they're hints,
    // not filters) but at a larger scale factor every key above the
    // bound funnels into the open-ended edge stride, silently
    // serializing the parallel scan this query exists to demonstrate
    val r = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "gas_orders_part")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("partitionColumn", "o_orderkey")
      .option("lowerBound", r.getLong(0).toString)
      .option("upperBound", (r.getLong(1) + 1L).toString)
      .option("numPartitions", "4")
      .load()
      .filter(col("o_orderkey") > 100L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsumExpr(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Target probe rows per (key, salt) task for q321/q322 — the knob a
    * real job sets to its executor's comfortable task size. 600 sits
    * at this corpus's ~600-rows-per-key natural density, so both
    * factor-1 and factor-2 keys occur at every SF. */
  private val SaltTarget = 600L

  /** q321 — ADAPTIVE SALT PLAN: the per-key salt-factor table a
    * skew-aware join consumes, DERIVED from measured key counts
    * (q131 profiles the skew; this turns the profile into the plan):
    * factor(key) = ceil(probe_rows / SaltTarget), so a hot key is
    * split over exactly the tasks it needs while uniform keys pay NO
    * replication — the by-hand form of AQE's skew-join split, needed
    * whenever the skewed operation isn't a plain join (grouped aggs,
    * window pre-buckets) or the engine's heuristic must be pinned.
    * One partial-aggregable count rollup, O(keys) output — the plan
    * table is what q322 broadcasts. */
  def saltPlan(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey").as("key"))
      .agg(count(lit(1)).as("n_probe_rows"))
      .withColumn("salt_factor",
        expr(s"(n_probe_rows + ${SaltTarget - 1}) div $SaltTarget"))
      .orderBy(col("key"))

  /** q322 — ADAPTIVE SALTED JOIN (q50 completed): the build side is
    * replicated PER KEY by the q321 plan's factor (explode over
    * sequence(0, factor−1)) and the probe side salted mod its own
    * key's factor, so replication cost is paid ONLY where measured
    * skew demands it — q50's uniform S×8 replication blows up the
    * entire build side to split one hot key; this plan's blowup is
    * Σ factor(key) ≈ |build| + (hot mass / SaltTarget). The result is
    * IDENTICAL to the plain join (the oracle is the unsalted
    * formulation, shared verbatim with q50 — the two salting
    * disciplines can never fork). The plan table is O(keys) slim and
    * broadcast to both sides; at 100 TB it carries only factor>1
    * keys with a default-1 fallback via the left join's coalesce. */
  def adaptiveSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val plan = saltPlan(spark, dir)
      .select(col("key"), col("salt_factor"))
    val s = load(spark, dir, "supplier")
      .join(broadcast(plan), col("s_suppkey") === col("key"), "left")
      .withColumn("f", coalesce(col("salt_factor"), lit(1L)))
      .withColumn("salt", explode(expr("sequence(0L, f - 1L)")))
      .drop("key", "salt_factor", "f")
    val l = load(spark, dir, "lineitem")
      .join(broadcast(plan), col("l_suppkey") === col("key"), "left")
      .withColumn("salt",
        pmod(col("l_orderkey"), coalesce(col("salt_factor"), lit(1L))))
      .drop("key", "salt_factor")
    l.join(s, l("l_suppkey") === s("s_suppkey") && l("salt") === s("salt"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        dsumExpr(d2(col("l_extendedprice")) * d4(lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  /** HLL sketch distinct-count next to the exact answer. The sketch is
    * deterministic for fixed data; the emitted check is that it lands
    * within 10% of exact (typical HLL error at default rsd is ~2%),
    * so the oracle row is engine-independent. One mergeable pass vs
    * the exact path's two-phase distinct shuffle — the 100 TB default.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey")).as("n_approx"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast(DoubleType) /
          col("n_exact") <= 0.1).as("approx_within_10pct"))
      .orderBy(col("l_returnflag"))

  /** Exact interpolated percentiles (median/p90) of an integer-valued
    * measure: linear interpolation over whole numbers is exact in
    * IEEE doubles, so Spark's percentile and DuckDB's quantile_cont
    * agree bit-for-bit. */
  def medians(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))

  /** Array aggregation: collect_set → sorted → joined, emitted as a
    * scalar string so cross-engine comparison is unambiguous (ASCII
    * sort order agrees between engines). */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("p_type")).as("n_types"),
        array_join(array_sort(collect_set(col("p_type"))), ",")
          .as("types_sorted"))
      .orderBy(col("p_brand"))

  /** UNPIVOT via stack(): wide aggregate → long (metric, value) rows,
    * the melt step of metric pipelines. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .selectExpr("l_returnflag",
        "stack(2, 'sum_qty', sum_qty, 'sum_price', sum_price) AS (metric, value)")
      .orderBy(col("l_returnflag"), col("metric"))

  /** Partition pruning end-to-end: write events date-partitioned
    * (repartitioned by day first so each partition is one file, the
    * write-side hygiene that matters at 10k partitions), then read
    * back filtered to the earliest day — the scan must touch ONE
    * partition (PartitionFilters, pinned in PlanSpec). The single-row
    * driver fetch of min(day) is a query parameter, not a data loop.
    * This is the storage layout SURVEY §4 prescribes for the
    * reference's date-filtered serving queries (P3). */
  def partitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("day", to_date(col("ts")))
    val out = Scratch.tmpPath("graft_events_by_day", dir)
    ev.repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val minDay = ev.agg(min(col("day"))).head().getDate(0)
    spark.read.parquet(out)
      .filter(col("day") === lit(minDay))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Fuzzy string matching: Levenshtein edit distance over name pairs
    * (classic integer DP — bit-identical across engines). */
  def levenshteinPairs(spark: SparkSession, dir: String): DataFrame = {
    val n = load(spark, dir, "nation").select(col("n_name"))
    val a = n.select(col("n_name").as("name_a"))
    val b = n.select(col("n_name").as("name_b"))
    a.join(b, col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .filter(col("dist") <= 7)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Edit-distance ≤ 1 fuzzy JOIN via deletion-neighborhood blocking
    * (the SymSpell scheme, Garbe 2012 — public): every name emits
    * itself plus its L single-character-deletion variants, candidates
    * are pairs sharing a variant, and survivors are verified with the
    * exact Levenshtein filter.
    *
    * LOSSLESS for distance ≤ 1: dist 0 shares the identity variant;
    * a one-char insert/delete pair shares the shorter string itself;
    * a one-char substitution pair shares the deletion at the
    * substituted position. So blocking only prunes, never drops — the
    * oracle stays the naive all-pairs formulation.
    *
    * Scale: q60's theta-join is Θ(n²) comparisons — fine for 25
    * nations, fatal for 10⁹ names. Here the join is an EQUI-join on
    * an 8-byte hashed variant key: ×(L+1) replication on each side,
    * then only true near-miss candidates meet in a shuffle task. Hash
    * collisions are harmless (exact verify), and distance-d wants the
    * d-deletion neighborhood — same shape, ×C(L,d) keys. */
  def editDistanceJoin(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(
      spread(load(spark, dir, "supplier")).select(col("s_name").as("name")))

  /** Core of [[editDistanceJoin]] over any one-column `name` frame —
    * factored out so the losslessness property test can drive it with
    * adversarial synthetic edits. */
  private[graft] def editDistancePairs(s: DataFrame): DataFrame = {
    // i = 0 keeps the string itself; i >= 1 deletes character i
    val variants = s
      .select(col("name"), explode(sequence(lit(0), length(col("name")))).as("i"))
      .select(col("name"), phash(
        when(col("i") === 0, col("name"))
          .otherwise(concat(
            col("name").substr(lit(1), col("i") - 1),
            col("name").substr(col("i") + 1, length(col("name")) - col("i")))))
        .as("vk"))
    val a = variants.select(col("name").as("name_a"), col("vk"))
    val b = variants.select(col("name").as("name_b"), col("vk"))
    a.join(b, Seq("vk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .filter(col("dist") <= 1)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** BLOOM-pruned selective join: revenue per supplier for ONE
    * nation's suppliers. The dim filter keeps ~4% of suppliers; the
    * interesting regime at 100 TB is a dim that is SELECTIVE but too
    * big to broadcast — a plain shuffle join then moves the ENTIRE
    * fact table for a join where 96% of rows find no partner. The
    * scale shape: build a fixed-size Bloom filter over the filtered
    * dim keys (128 KiB regardless of dim cardinality — always
    * broadcastable, unlike the dim itself), semi-prune the fact
    * BEFORE its shuffle, then run the exact equi-join on the
    * survivors. False positives only cost a few extra shuffled rows;
    * no false negatives means the result is exactly the plain join's
    * (the oracle stays the naive formulation; a spec pins equality).
    * This is the manual form of Spark's runtime
    * `injectRuntimeFilter` bloom — expressed with the engine's own
    * mergeable [[graft.functions.Sketches.BloomAgg]] so the prune is
    * portable to any plan, not only where the optimizer infers it. */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val dim = load(spark, dir, "supplier")
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"), col("s_name"))
    val bloom = dim
      .select(phash(col("s_suppkey").cast(StringType)).as("h"))
      .agg(Sketches.bloomAgg(col("h")).as("bf"))
    val fact = load(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"))
      .withColumn("h", phash(col("l_suppkey").cast(StringType)))
    val pruned = fact.join(broadcast(bloom))
      .filter(Sketches.bloomMightContain(col("h"), col("bf")))
      .drop("bf", "h")
    pruned.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("s_name"))
  }

  /** Per-type cumulative VALUE-histogram scaffold shared by the
    * histogram-rank family (q118 winsorize, q122 median/MAD, q134
    * equi-depth): returns (histogram rows with a running `cum` count,
    * one `n` total per type). One definition — the integer-exact rank
    * cutoffs all three queries lean on must never fork. */
  private def cumHistogram(df: DataFrame, valueCol: String): (DataFrame, DataFrame) = {
    val hist = df.groupBy(col("event_type"), col(valueCol))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    (hist.withColumn("cum", sum(col("c")).over(wCum)), tot)
  }

  /** WINSORIZED robust mean per event type: values clipped to the
    * [p05, p95] range before averaging — the outlier-resistant
    * aggregate metric pipelines want when a few bad points poison a
    * plain mean. Thresholds come from the exact cumulative histogram
    * (the q90 CDF shape: the only window runs over the per-type VALUE
    * HISTOGRAM, never the raw rows), with integer-exact rank cutoffs
    * (ceil(n/20) = (n+19) div 20 — no float percentile semantics to
    * disagree on across engines). Clipping a 2-dp measure keeps it
    * 2-dp, so the mean is the exact-decimal davg. */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val (cum, tot) = cumHistogram(ev, "value")
    val th = cum.join(tot, "event_type")
      .groupBy(col("event_type"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 19) div 20"), col("value"))).as("lo"),
        min(when(col("cum") >= expr("(19 * n + 19) div 20"), col("value"))).as("hi"))
    ev.join(broadcast(th), "event_type")
      .groupBy(col("event_type"), col("n"), col("lo"), col("hi"))
      .agg(davg(greatest(col("lo"), least(col("value"), col("hi"))))
        .as("wmean"))
      .orderBy(col("event_type"))
  }

  /** PERCENT-OF-TOTAL contribution: each nation's share of global
    * order revenue — the BI staple that tempts a window-over-
    * everything (`SUM() OVER ()` forces a single partition at scale).
    * The scale shape: one partial-aggregable rollup, then the
    * one-row grand total BROADCAST back (cross join of an aggregate,
    * never a global window). Shares divide two exactly-summed
    * decimals cast to double once each. */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val byNation = load(spark, dir, "orders")
      .join(load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(d2(col("o_totalprice"))).as("rev_dec"))
    val total = byNation.agg(sum(col("rev_dec")).as("tot_dec"))
    byNation.crossJoin(broadcast(total))
      .select(col("n_name"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        (col("rev_dec").cast(DoubleType) / col("tot_dec").cast(DoubleType))
          .as("share"))
      .orderBy(col("n_name"))
  }

  /** PARETO-frontier (skyline) filter per brand: parts for which no
    * other same-brand part is both smaller and at-least-as-expensive —
    * the multi-objective shortlist (maximize price, minimize size)
    * that no single ORDER BY can express. Window formulation, no
    * quadratic dominance join: sorted by size, a row survives iff it
    * beats the running max price over STRICTLY smaller sizes (RANGE
    * ... 1 PRECEDING) and holds the max price within its own size.
    * All comparisons are raw column values (no arithmetic), so
    * cross-engine determinism is free.
    *
    * Scale: one window shuffle per brand partition — the standard
    * sort-filter skyline; a 100 TB variant pre-prunes with a coarse
    * grid (each cell keeps its local frontier, exact pass on the
    * survivors), same two-phase shape as q34/q99. */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("p_brand")).orderBy(col("p_size"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy(col("p_brand"), col("p_size"))
    load(spark, dir, "part")
      .select(col("p_brand"), col("p_size"), col("p_partkey"),
        col("p_retailprice"))
      .withColumn("best_smaller", max(col("p_retailprice")).over(wPrev))
      .withColumn("best_same", max(col("p_retailprice")).over(wSame))
      .filter((col("best_smaller").isNull ||
          col("best_smaller") < col("p_retailprice")) &&
        col("p_retailprice") === col("best_same"))
      .select(col("p_brand"), col("p_size"), col("p_partkey"),
        col("p_retailprice"))
      .orderBy(col("p_brand"), col("p_size"), col("p_partkey"))
  }

  /** MEDIAN + MAD (median absolute deviation) per event type — the
    * robust center/scale pair ([[winsorizedMean]]'s sibling): both
    * medians come from the exact cumulative VALUE HISTOGRAM with the
    * integer lower-median rank (n+1) div 2 — no float percentile
    * semantics, no global sort of raw rows — and |x − median| of 2-dp
    * values stays 2-dp exact, so the second histogram is as
    * deterministic as the first. */
  def medianMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("event_type"), d2(col("value")).as("v"))
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val (cum, tot) = cumHistogram(df, valueCol)
      cum.join(tot, "event_type")
        .groupBy(col("event_type"), col("n"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col(valueCol)))
          .as(out))
    }
    val med = lowerMedian(ev, "v", "median_dec")
    val dev = ev.join(broadcast(med.select(col("event_type"), col("median_dec"))),
        "event_type")
      .select(col("event_type"), abs(col("v") - col("median_dec")).as("d"))
    val mad = lowerMedian(dev, "d", "mad_dec")
    med.join(mad.select(col("event_type"), col("mad_dec")), "event_type")
      .select(col("event_type"), col("n"),
        col("median_dec").cast(DoubleType).as("median"),
        col("mad_dec").cast(DoubleType).as("mad"))
      .orderBy(col("event_type"))
  }

  /** FREQUENT-PAIR mining over order baskets (market-basket /
    * co-occurrence): part pairs appearing together in ≥ 3 orders.
    * The APRIORI prune makes this tractable at scale: a pair can only
    * reach support s if BOTH items individually do, so baskets are
    * first semi-joined down to frequent items — on heavy-tailed real
    * catalogs that cuts the quadratic per-basket pair explosion to
    * the frequent-item subset. Pairs are then enumerated INSIDE each
    * basket (sorted item array → ordered 2-combinations via nested
    * array HOFs, codegen'd): two shuffles total (basket rollup, pair
    * count) — a basket self-join would pay five (distinct, item
    * count, prune join, the join itself, pair count). Basket skew
    * (one giant order) is the residual risk at 100 TB — quadratic
    * inside its task; the standard cap is dropping baskets above a
    * size bound, which changes semantics and is left to the caller. */
  /** Ordered 2-combinations of a sorted, deduped array — pair
    * (arr[i], y) for every y after position i, as structs with the
    * given field names. The ONE in-basket pair enumerator (codegen'd
    * nested array HOFs; the i+2 start is the 1-based `slice` index of
    * the element AFTER position i), shared by q113/q151/q158 so the
    * subtle slice arithmetic exists once. */
  private def pairCombos(arr: Column, aName: String, bName: String): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + 2, size(arr) - i - 1),
        y => struct(x.as(aName), y.as(bName)))))

  def frequentPairs(spark: SparkSession, dir: String): DataFrame = {
    val MinSupport = 3
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val freqItems = li.groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_item"))
      .filter(col("n_item") >= MinSupport)
      .select(col("l_partkey"))
    val baskets = li.join(freqItems, "l_partkey")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
    // ordered 2-combinations of the sorted, deduped item array:
    // pair (parts[i], y) for every y after position i
    val pairsCol = pairCombos(col("parts"), "part_a", "part_b")
    baskets.select(explode(pairsCol).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= MinSupport)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
  }

  /** LINK PREDICTION over the part co-purchase graph: score
    * NON-adjacent part pairs by shared neighborhood — common-neighbor
    * count plus neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)|
    * (Liben-Nowell & Kleinberg 2003, the two baselines every
    * link-prediction paper starts from). Edges = part pairs co-ordered
    * ≥ 2 times (q113's mining relation at support 2); a non-adjacent
    * pair with many common co-purchase partners is the
    * "will be bought together next" recommendation candidate —
    * graph-completion phrased as a query. (Adamic–Adar needs log();
    * the raw-count + Jaccard pair carries the ranking with the
    * engine's no-transcendentals rule intact.)
    *
    * Scale shape: basket self-join work is Σ(parts-per-order)², wedge
    * join work is Σ deg²/2 (q124's friend-of-friend bound — cap hub
    * degree first on hubby graphs, the q92 lesson); candidate pairs
    * canonicalize via dst<dst, adjacency drops with ONE anti-join
    * against the already-canonical edge list, degrees join from an
    * O(nodes) rollup. Exact integers end-to-end, ONE double division,
    * and the output is a heap top-100 (TakeOrderedAndProject) under
    * the total order (common DESC, pair) — no global sort. */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = li.alias("a").join(li.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"),
        col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
      .select(col("part_a"), col("part_b"))
      .localCheckpoint(eager = false)
    val sym = e.union(e.select(col("part_b"), col("part_a")))
      .toDF("src", "dst")
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cn = sym.alias("x").join(sym.alias("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("part_a"), col("y.dst").as("part_b"))
      .agg(count(lit(1)).as("common"))
    cn.join(e, Seq("part_a", "part_b"), "left_anti")
      .join(deg.select(col("src").as("part_a"), col("deg").as("deg_a")),
        "part_a")
      .join(deg.select(col("src").as("part_b"), col("deg").as("deg_b")),
        "part_b")
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("deg_a") + col("deg_b") - col("common")))
      .select(col("part_a"), col("part_b"), col("common"),
        col("deg_a"), col("deg_b"), col("jaccard"))
      .orderBy(col("common").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  /** ASSOCIATION RULES from the q113 frequent pairs: both directions
    * A→B and B→A scored with support, confidence and lift — the
    * market-basket step after pair mining. All three metrics divide
    * exact int64 counts in one fixed IEEE op sequence (lift multiplies
    * numerator and denominator pairs before its single divide), so the
    * doubles are bit-portable. Scale shape: reuses the two-shuffle pair
    * count; the item-support joins are keyed shuffles (item counts are
    * NOT assumed broadcastable at 100 TB) and the one-row basket total
    * is the only broadcast. */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    val MinSupport = 3
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    // consumed three times (freqItems + both rule-direction joins) —
    // materialize the O(parts) rollup once (optimization r16)
    val itemN = li.groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("n_item"))
      .localCheckpoint(eager = false)
    val freqItems = itemN.filter(col("n_item") >= MinSupport)
      .select(col("l_partkey"))
    val baskets = li.join(freqItems, "l_partkey")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
    val pairsCol = pairCombos(col("parts"), "part_a", "part_b")
    // the basket mining (collect_set + pair enumeration — the
    // dominant subtree) feeds BOTH directions of the rules union;
    // materialize the O(frequent pairs) result once (optimization r16)
    val pairCounts = baskets.select(explode(pairsCol).as("p"))
      .select(col("p.part_a"), col("p.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinSupport)
      .localCheckpoint(eager = false)
    val nOrders = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val rules = pairCounts
      .select(col("part_a").as("antecedent"), col("part_b").as("consequent"),
        col("n_ab"))
      .unionByName(pairCounts.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("n_ab")))
    val d = (c: Column) => c.cast(DoubleType)
    rules
      .join(itemN.select(col("l_partkey").as("antecedent"),
        col("n_item").as("n_ant")), "antecedent")
      .join(itemN.select(col("l_partkey").as("consequent"),
        col("n_item").as("n_con")), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        (d(col("n_ab")) / d(col("n_orders"))).as("support"),
        (d(col("n_ab")) / d(col("n_ant"))).as("confidence"),
        (d(col("n_ab")) * d(col("n_orders")) /
          (d(col("n_ant")) * d(col("n_con")))).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** TEMPORAL CO-OCCURRENCE: event-type pairs that fire within the
    * same (user, hour) window, with lift — q113's basket mining where
    * the basket is a TIME window instead of an order (the
    * "error spikes when deploys happen" detector). Baskets are
    * distinct (user, hour, type) triples rolled to sorted type arrays;
    * pairs enumerate inside each basket via the same codegen'd HOF
    * combination trick (no basket self-join); lift divides exact
    * int64s in one fixed sequence. The type vocabulary is tiny but
    * the machinery is the general one — baskets stream through two
    * shuffles regardless of window count. */
  def temporalCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .distinct()
    val nWindows = ev.select(col("user_id"), col("hr")).distinct()
      .agg(count(lit(1)).as("n_win"))
    val typeN = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val baskets = ev.groupBy(col("user_id"), col("hr"))
      .agg(array_sort(collect_set(col("event_type"))).as("types"))
    val pairsCol = pairCombos(col("types"), "type_a", "type_b")
    val d = (c: Column) => c.cast(DoubleType)
    baskets.select(explode(pairsCol).as("p"))
      .select(col("p.type_a"), col("p.type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(typeN.select(col("event_type").as("type_a"),
        col("n_type").as("n_a"))), "type_a")
      .join(broadcast(typeN.select(col("event_type").as("type_b"),
        col("n_type").as("n_b"))), "type_b")
      .crossJoin(broadcast(nWindows))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        (d(col("n_ab")) * d(col("n_win")) /
          (d(col("n_a")) * d(col("n_b")))).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** GROUPING SETS: one pass computing the (flag, status) cube slice,
    * the per-flag margin, and the grand total, with grouping_id
    * disambiguating levels. Spark expands the sets inside a single
    * hash aggregate (Expand + partial agg — not N scans), which is the
    * reason to prefer it over UNION ALL of three aggregates at scale.
    * NULL group keys are coalesced to a sentinel so cross-engine sort
    * and hash semantics never see NULL ordering differences. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** ORC sink + source round-trip — same contract as the CSV/JSON
    * round-trips: the aggregate over the re-read ORC must equal the
    * direct parquet path bit-for-bit (the oracle runs on parquet). */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_orc_roundtrip", dir)
    load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("p_brand"))
  }

  /** EQUI-DEPTH histogram (10 buckets) of event values per type — the
    * column statistic CBOs and data-skipping layers build: every
    * bucket holds ~n/10 rows, bucket bounds adapt to the data.
    * Assignment is integer-exact off the cumulative VALUE histogram
    * (bucket = ceil(cum·10/n), all duplicates of a value land
    * together), so there are no float quantile semantics to diverge.
    * Window over the per-type value histogram only (the q90
    * principle); a 100 TB build swaps in the q93 two-level rank when
    * even the histogram outgrows one partition. */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val B = 10
    val ev = events(spark, dir).select(col("event_type"), col("value"))
    val (cum, tot) = cumHistogram(ev, "value")
    cum.join(tot, "event_type")
      .withColumn("bucket", expr(s"(cum * $B + n - 1) div n"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c")).as("n_rows"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** JOIN-KEY SKEW profiler: the top-10 heaviest values of a join key
    * with their share of the table — the diagnostic you run BEFORE
    * choosing q50's salting factor or trusting AQE's skew split. Two
    * partial-aggregable passes (per-key counts, then a heap top-k) and
    * a broadcast one-row total; never a sort of the key histogram. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").select(col("l_suppkey"))
    val counts = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
    val total = li.agg(count(lit(1)).as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("l_suppkey"), col("n_rows"),
        (col("n_rows").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("share"))
      .orderBy(col("n_rows").desc, col("l_suppkey"))
      .limit(10)
  }

  /** XML sink + source round-trip (Spark 4's built-in XML data
    * source — SPARK-44265 folded spark-xml into core): same contract
    * as the CSV/JSON/ORC round-trips, the aggregate over the re-read
    * XML must equal the direct parquet path bit-for-bit. Schema is
    * pinned on read (no inference job at scale), numeric fidelity
    * rides the explicit DecimalType so the XML text form can't lose
    * double precision. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_xml_roundtrip", dir)
    load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        d2(col("p_retailprice")).as("p_retailprice"))
      .write.mode("overwrite").option("rowTag", "part").xml(out)
    spark.read
      .schema(StructType(Seq(
        StructField("p_partkey", LongType),
        StructField("p_brand", StringType),
        StructField("p_retailprice", DecimalType(18, 2)))))
      .option("rowTag", "part").xml(out)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsumExpr(col("p_retailprice")).as("sum_price"))
      .orderBy(col("p_brand"))
  }

  /** Plain-text sink + source round-trip (`spark.read.text` — the
    * rawest corpus interchange format: one document per line). The
    * doc text is written as lines and re-read; the aggregate (line
    * count + total token count) must equal the direct parquet path.
    * Works because the corpus guarantees newline-free docs — the
    * check that guards exactly that assumption is part of the
    * round-trip (a doc with a newline would split and shift counts). */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.tmpPath("graft_text_roundtrip", dir)
    load(spark, dir, "documents").select(col("text"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(size(split(trim(col("value")), " +")).cast(LongType))
          .as("n_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q65_grouping_sets" -> groupingSetsAgg,
    "q72_orc_roundtrip" -> orcRoundtrip,
    "q64_partition_pruning" -> partitionPruning,
    "q60_levenshtein" -> levenshteinPairs,
    "q107_edit_distance_join" -> editDistanceJoin,
    "q110_bloom_pruned_join" -> bloomPrunedJoin,
    "q113_frequent_pairs" -> frequentPairs,
    "q246_link_prediction" -> linkPrediction,
    "q151_association_rules" -> associationRules,
    "q158_temporal_cooccurrence" -> temporalCooccurrence,
    "q172_lateral_topn" -> lateralTopN,
    "q173_filter_clause_agg" -> filterClauseAgg,
    "q118_winsorized_mean" -> winsorizedMean,
    "q120_pareto_frontier" -> paretoFrontier,
    "q123_revenue_share" -> revenueShare,
    "q128_xml_roundtrip" -> xmlRoundtrip,
    "q131_skew_profile" -> skewProfile,
    "q134_equidepth_histogram" -> equidepthHistogram,
    "q129_text_roundtrip" -> textRoundtrip,
    "q122_median_mad" -> medianMad,
    "q56_array_agg" -> arrayAgg,
    "q57_unpivot" -> unpivotMeasures,
    "q231_sql_pivot" -> sqlPivot,
    "q232_sql_unpivot" -> sqlUnpivot,
    "q243_salted_agg" -> saltedAgg,
    "q44_pivot" -> pivotOrders,
    "q266_dynamic_pivot" -> dynamicPivot,
    "q270_union_by_name" -> unionByNameDrift,
    "q46_correlated_subquery" -> correlatedSubquery,
    "q47_csv_roundtrip" -> csvRoundtrip,
    "q48_json_roundtrip" -> jsonRoundtrip,
    "q264_corrupt_json" -> corruptJson,
    "q49_bucketed_join" -> bucketedJoin,
    "q50_salted_skew_join" -> saltedSkewJoin,
    "q321_salt_plan" -> saltPlan,
    "q339_jdbc_roundtrip" -> jdbcRoundtrip,
    "q340_jdbc_partitioned_scan" -> jdbcPartitionedScan,
    "q322_adaptive_salted_join" -> adaptiveSaltedJoin,
    "q51_approx_distinct" -> approxDistinct,
    "q52_percentiles" -> medians,
    "q179_schema_evolution" -> schemaEvolutionRead)

  private lazy val pivotOracle: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private lazy val unpivotOracle: String =
    """WITH a AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      |UNION ALL
      |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
      |ORDER BY l_returnflag, metric""".stripMargin

  val oracles: Map[String, String] = Map(
    "q179_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(NULL AS DATE) AS o_orderdate,
        |  CAST(NULL AS VARCHAR) AS o_orderpriority,
        |  CAST(1 AS BIGINT) AS batch
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |  o_orderpriority, CAST(2 AS BIGINT) AS batch
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,
    "q65_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        | COALESCE(l_linestatus, 'ALL') AS linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q72_orc_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q64_partition_pruning" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE DATE_TRUNC('day', ts) =
        |      (SELECT MIN(DATE_TRUNC('day', ts)) FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the Bloom prune is lossless for the join (no false negatives and
    // an exact join after), so the oracle is the plain formulation
    "q110_bloom_pruned_join" ->
      """SELECT s.s_name, COUNT(*) AS n,
        | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_nationkey = 3
        |GROUP BY s.s_name
        |ORDER BY s.s_name""".stripMargin,
    "q134_equidepth_histogram" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |h AS (SELECT event_type, value, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT *, SUM(c) OVER (PARTITION BY event_type
        |          ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1)
        |SELECT c.event_type,
        |  CAST((c.cum * 10 + t.n - 1) // t.n AS BIGINT) AS bucket,
        |  CAST(SUM(c.c) AS BIGINT) AS n_rows,
        |  MIN(c.value) AS lo, MAX(c.value) AS hi
        |FROM cum c JOIN tot t USING (event_type)
        |GROUP BY 1, 2
        |ORDER BY c.event_type, bucket""".stripMargin,
    "q131_skew_profile" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem
        |           GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_total FROM lineitem)
        |SELECT l_suppkey, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM c CROSS JOIN t
        |ORDER BY n_rows DESC, l_suppkey
        |LIMIT 10""".stripMargin,
    // round-trip oracles run on the direct parquet path: equality IS
    // the fidelity check
    "q128_xml_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q129_text_roundtrip" ->
      """SELECT COUNT(*) AS n_lines,
        | CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +'))) AS BIGINT)
        |   AS n_tokens
        |FROM documents""".stripMargin,
    "q123_revenue_share" ->
      """WITH bn AS (SELECT n.n_name,
        |    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT SUM(rev_dec) AS tot_dec FROM bn)
        |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) AS share
        |FROM bn CROSS JOIN tot
        |ORDER BY n_name""".stripMargin,
    "q120_pareto_frontier" ->
      """WITH w AS (SELECT p_brand, p_size, p_partkey, p_retailprice,
        |    MAX(p_retailprice) OVER (PARTITION BY p_brand ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_smaller,
        |    MAX(p_retailprice) OVER (PARTITION BY p_brand, p_size)
        |      AS best_same
        |  FROM part)
        |SELECT p_brand, p_size, p_partkey, p_retailprice
        |FROM w
        |WHERE (best_smaller IS NULL OR best_smaller < p_retailprice)
        |  AND p_retailprice = best_same
        |ORDER BY p_brand, p_size, p_partkey""".stripMargin,
    "q122_median_mad" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |           FROM events),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
        |h1 AS (SELECT event_type, v, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |c1 AS (SELECT *, SUM(c) OVER (PARTITION BY event_type
        |         ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM h1),
        |med AS (SELECT c1.event_type, t.n,
        |    MIN(CASE WHEN c1.cum >= (t.n + 1) // 2 THEN c1.v END) AS median_dec
        |  FROM c1 JOIN tot t USING (event_type) GROUP BY 1, 2),
        |d AS (SELECT e.event_type, ABS(e.v - m.median_dec) AS dv
        |      FROM e JOIN med m USING (event_type)),
        |h2 AS (SELECT event_type, dv, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |c2 AS (SELECT *, SUM(c) OVER (PARTITION BY event_type
        |         ORDER BY dv ROWS UNBOUNDED PRECEDING) AS cum FROM h2),
        |mad AS (SELECT c2.event_type,
        |    MIN(CASE WHEN c2.cum >= (t.n + 1) // 2 THEN c2.dv END) AS mad_dec
        |  FROM c2 JOIN tot t USING (event_type) GROUP BY 1)
        |SELECT m.event_type, m.n,
        |  CAST(m.median_dec AS DOUBLE) AS median,
        |  CAST(a.mad_dec AS DOUBLE) AS mad
        |FROM med m JOIN mad a USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    "q118_winsorized_mean" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |h AS (SELECT event_type, value, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT *, SUM(c) OVER (PARTITION BY event_type
        |          ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum FROM h),
        |tot AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
        |th AS (SELECT c.event_type, t.n,
        |    MIN(CASE WHEN c.cum >= (t.n + 19) // 20 THEN c.value END) AS lo,
        |    MIN(CASE WHEN c.cum >= (19 * t.n + 19) // 20 THEN c.value END) AS hi
        |  FROM cum c JOIN tot t USING (event_type) GROUP BY 1, 2)
        |SELECT e.event_type, th.n, th.lo, th.hi,
        |  CAST(SUM(CAST(GREATEST(th.lo, LEAST(e.value, th.hi))
        |    AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS wmean
        |FROM e JOIN th USING (event_type)
        |GROUP BY 1, 2, 3, 4
        |ORDER BY e.event_type""".stripMargin,
    // the Apriori item prune is lossless at the pair-support floor, so
    // the oracle is the naive pair count
    "q172_lateral_topn" ->
      """SELECT r.r_name, t.n_name, t.revenue
        |FROM region r,
        |LATERAL (
        |  SELECT n.n_name,
        |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM nation n
        |  JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, n.n_name
        |  LIMIT 2
        |) t
        |ORDER BY r.r_name, t.revenue DESC, t.n_name""".stripMargin,
    "q173_filter_clause_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_finished
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q158_temporal_cooccurrence" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |    DATE_TRUNC('hour', ts) AS hr, event_type FROM events),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_win
        |      FROM (SELECT DISTINCT user_id, hr FROM ev)),
        |tn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
        |       FROM ev GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM ev a JOIN ev b
        |        ON a.user_id = b.user_id AND a.hr = b.hr
        |        AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_ab,
        |  CAST(p.n_ab AS DOUBLE) * CAST(n.n_win AS DOUBLE)
        |    / (CAST(ta.n_type AS DOUBLE) * CAST(tb.n_type AS DOUBLE)) AS lift
        |FROM p JOIN tn ta ON ta.event_type = p.type_a
        |       JOIN tn tb ON tb.event_type = p.type_b, n
        |ORDER BY p.type_a, p.type_b""".stripMargin,
    "q151_association_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |items AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        |          FROM li GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |      FROM li),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |        CAST(COUNT(*) AS BIGINT) AS n_ab
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |r AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM p
        |      UNION ALL SELECT pb, pa, n_ab FROM p)
        |SELECT r.antecedent, r.consequent, r.n_ab,
        |  CAST(r.n_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
        |  CAST(r.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
        |  CAST(r.n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        |    / (CAST(ia.n_item AS DOUBLE) * CAST(ic.n_item AS DOUBLE)) AS lift
        |FROM r JOIN items ia ON ia.l_partkey = r.antecedent
        |       JOIN items ic ON ic.l_partkey = r.consequent, n
        |ORDER BY r.antecedent, r.consequent""".stripMargin,
    "q246_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT part_a AS src, part_b AS dst FROM e
        |        UNION ALL SELECT part_b, part_a FROM e),
        |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
        |cn AS (SELECT x.dst AS part_a, y.dst AS part_b,
        |         COUNT(*) AS common
        |       FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
        |       GROUP BY 1, 2),
        |na AS (SELECT cn.* FROM cn LEFT JOIN e
        |       ON e.part_a = cn.part_a AND e.part_b = cn.part_b
        |       WHERE e.part_a IS NULL)
        |SELECT na.part_a, na.part_b, common,
        |  da.deg AS deg_a, db.deg AS deg_b,
        |  CAST(common AS DOUBLE) / (da.deg + db.deg - common) AS jaccard
        |FROM na JOIN deg da ON da.src = na.part_a
        |        JOIN deg db ON db.src = na.part_b
        |ORDER BY common DESC, part_a, part_b LIMIT 100""".stripMargin,
    "q113_frequent_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  COUNT(*) AS n_orders
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 3
        |ORDER BY n_orders DESC, part_a, part_b""".stripMargin,
    "q107_edit_distance_join" ->
      """SELECT a.s_name AS name_a, b.s_name AS name_b,
        | CAST(LEVENSHTEIN(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_name < b.s_name
        |WHERE LEVENSHTEIN(a.s_name, b.s_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    "q60_levenshtein" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        | CAST(LEVENSHTEIN(a.n_name, b.n_name) AS BIGINT) AS dist
        |FROM nation a JOIN nation b ON a.n_name < b.n_name
        |WHERE LEVENSHTEIN(a.n_name, b.n_name) <= 7
        |ORDER BY name_a, name_b""".stripMargin,
    "q56_array_agg" ->
      """SELECT p_brand,
        | COUNT(DISTINCT p_type) AS n_types,
        | ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT p_type)), ',') AS types_sorted
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q57_unpivot" -> unpivotOracle,
    "q232_sql_unpivot" -> unpivotOracle,
    "q44_pivot" -> pivotOracle,
    "q270_union_by_name" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    'current' AS src
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |    TRUE AS legacy_flag, 'legacy' AS src
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT src, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS null_priority,
        |  CAST(SUM(CASE WHEN legacy_flag IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS null_flag,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q266_dynamic_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
        |    AS "F",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)
        |    AS "O",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT)
        |    AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q231_sql_pivot" -> pivotOracle,
    // the UNSALTED form is the oracle: salting must change nothing
    "q243_salted_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q46_correlated_subquery" ->
      """SELECT COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l1
        |WHERE l_quantity < (
        |  SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                / COUNT(*))
        |  FROM lineitem l2
        |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q47_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q264_corrupt_json" ->
      """SELECT CASE WHEN doc_id % 13 = 0 THEN '_corrupt' ELSE lang END
        |    AS lang,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END)
        |    AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q48_json_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q49_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q50_salted_skew_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |          * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q340: stride bounds are hints, not filters — equality proves it
    "q340_jdbc_partitioned_scan" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders
        |WHERE o_orderkey > 100
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q339: the JDBC round-trip must preserve the direct rollup
    "q339_jdbc_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q321_salt_plan" ->
      """SELECT l_suppkey AS key, COUNT(*) AS n_probe_rows,
        | CAST((COUNT(*) + 599) // 600 AS BIGINT) AS salt_factor
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q322: the oracle is the UNSALTED join — adaptive salting must be
    // result-invariant (the q50 contract, per-key factors this time)
    "q322_adaptive_salted_join" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |          * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    "q51_approx_distinct" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS n_exact,
        | TRUE AS approx_within_10pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q52_percentiles" ->
      """SELECT l_returnflag,
        | QUANTILE_CONT(l_quantity, 0.5) AS median_qty,
        | QUANTILE_CONT(l_quantity, 0.9) AS p90_qty,
        | MIN(l_quantity) AS min_qty,
        | MAX(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
}
