package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic-corpus generator matching TESTDATA.md's
  * schema and distributions — the scale-soak path: the driver ships
  * sf ≤ 0.1, and the 100 TB design claims need exercise above that
  * (VERDICT r9 §next-round #1). `runMain graft.tools.DataGen <outDir>
  * <sf>` writes the ten tables at any scale factor.
  *
  * Determinism: every value derives from `xxhash64(id, salt)` — no
  * `rand()`, so the corpus is bit-identical on ANY partition layout,
  * parallelism, or rerun (spark's rand() is only partition-stable).
  * Distributions mirror the measured sf0.1 corpus: dense 0-based
  * surrogate keys; lineitem orderkeys drawn uniformly WITH
  * replacement (Poisson(4) lines/order, ~1.8% of orders lineless —
  * the outer-join queries need both sides); exponential(mean 50)
  * event values over a 30-day microsecond-precision window; 31-word
  * document vocabulary, 10–100 words/doc, ~41% en + 4 other langs,
  * 20 sources, planted duplicate STRUCTURE with degree variety
  * (1-in-625 exact pairs, 1-in-2500 exact groups of four, 1-in-1000
  * truncation near-dups); unit-norm 64-dim float embeddings with 10
  * labels. Timestamps are TIMESTAMP_NTZ → parquet TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), the current driver-corpus encoding
  * ([[graft.Tables.tsToNtz]] accepts it natively).
  *
  * Scale shape: generation is one narrow `spark.range` pass per
  * table — no shuffle, no driver-side data, O(rows/cores) work per
  * executor — so the generator holds at any sf the disk holds.
  */
object DataGen {

  /** Uniform double in [0,1) from (id, salt) — deterministic, layout-free. */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000000L)).cast(DoubleType) / 1e9

  /** Uniform long in [0, n) from (id, salt). */
  private def h(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  /** Pick from a fixed choice list, uniformly. */
  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*),
      (h(id, salt, xs.size.toLong) + 1).cast(IntegerType))

  private val segments =
    Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ptypes = Seq("LARGE", "SMALL", "ECONOMY", "STANDARD", "MEDIUM", "PROMO")
  private val adjs = Seq("large", "small", "hot", "cold", "blue", "red", "dim", "shiny")
  private val nouns = Seq("ring", "bolt", "gear", "cog", "pin", "cap", "rod", "nut")
  private val etypes = Seq("view", "click", "purchase", "signup", "error")
  private val langs = Seq("es", "fr", "de", "zh")
  private val vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Row counts per scale factor (sf0.1 measured × sf/0.1). */
  private[graft] def counts(sf: Double): Map[String, Long] = {
    val k = sf / 0.1
    def n(base: Long) = math.max(1L, math.round(base * k))
    Map(
      "customer" -> n(15000), "supplier" -> n(1000), "part" -> n(20000),
      "orders" -> n(150000), "lineitem" -> n(600000), "events" -> n(100000),
      "documents" -> n(5000), "embeddings" -> n(2000), "users" -> n(1500))
  }

  /** Vocabulary-growth mode (Heaps'-law corpus): instead of the fixed
    * 31-word vocabulary, documents draw from V(n) = max(31, ⌈2·√n_docs⌉)
    * distinct words — Heaps' law V ∝ N^β with β = 0.5, the empirical
    * exponent range for natural-language corpora — with a mild Zipf
    * head (rank k = 1 + ⌊V·u²⌋ ⇒ p(k) ∝ k^-1/2, so the top word is
    * ~1/(2√V) of tokens, not 1/31 of them). Everything else — planted
    * duplicate structure, lengths, langs, sources, all other tables —
    * is byte-identical logic, so the fixed-vocab and Heaps corpora
    * differ ONLY in shingle-space density. Purpose: SCALE.md §3 argues
    * the 92.7× candidate-pair growth measured sf0.1→sf1 is an artifact
    * of the fixed vocabulary saturating the trigram space (~31³); this
    * mode makes that claim measurable instead of asserted. */
  def generate(spark: SparkSession, outDir: String, sf: Double,
      heapsVocab: Boolean = false): Unit = {
    import spark.implicits._
    val n = counts(sf)
    val id = col("id")
    // generation runs wide; the final write coalesces to ONE part file
    def range(rows: Long): DataFrame =
      spark.range(0, rows, 1,
        math.max(spark.sparkContext.defaultParallelism,
          (rows / 2000000L).toInt + 1)).toDF()
    // the driver corpus stores each table as a single parquet FILE named
    // `<table>.parquet` (TESTDATA.md) and the streaming sources match on
    // exactly that leaf name via pathGlobFilter — a directory of part
    // files would read as an EMPTY stream, so reproduce the single-file
    // convention: write to a tmp dir, move the lone part file into place
    def write(df: DataFrame, name: String): Unit = {
      import org.apache.hadoop.fs.Path
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(s"$outDir/_tmp_$name")
      // 8 MiB row groups: a single-FILE table must still be
      // byte-range-splittable, or every scan of it runs on one task —
      // real large tables always have many row groups per file
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(tmp.toString)
      val part = fs.globStatus(new Path(tmp, "part-*.parquet"))(0).getPath
      val dest = new Path(s"$outDir/$name.parquet")
      fs.delete(dest, true)
      require(fs.rename(part, dest), s"rename $part -> $dest failed")
      fs.delete(tmp, true): Unit
    }

    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")

    write(spark.range(25).select(
      id.cast(IntegerType).as("n_nationkey"),
      format_string("NATION_%d", id).as("n_name"),
      (id % 5).cast(IntegerType).as("n_regionkey")), "nation")

    write(range(n("customer")).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(id, 1, 25).cast(IntegerType).as("c_nationkey"),
      round(lit(-1000.0) + u(id, 2) * 11000.0, 2).as("c_acctbal"),
      pick(id, 3, segments).as("c_mktsegment")), "customer")

    write(range(n("supplier")).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(id, 4, 25).cast(IntegerType).as("s_nationkey"),
      round(lit(-1000.0) + u(id, 5) * 11000.0, 2).as("s_acctbal")), "supplier")

    write(range(n("part")).select(
      id.as("p_partkey"),
      concat(pick(id, 6, adjs), lit(" "), pick(id, 7, nouns)).as("p_name"),
      concat(lit("Brand#"), (h(id, 8, 25) + 1).cast(StringType)).as("p_brand"),
      pick(id, 9, ptypes).as("p_type"),
      (h(id, 10, 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + u(id, 11) * 99.9, 2).as("p_retailprice")), "part")

    write(range(n("orders"))
      .withColumn("dd", h(id, 15, 2405))
      .select(
        id.as("o_orderkey"),
        h(id, 12, n("customer")).as("o_custkey"),
        pick(id, 13, Seq("O", "P", "F")).as("o_orderstatus"),
        round(lit(1000.0) + u(id, 14) * 499000.0, 2).as("o_totalprice"),
        expr("timestampadd(DAY, dd, TIMESTAMP_NTZ'1995-01-01 00:00:00')")
          .as("o_orderdate"),
        pick(id, 16, priorities).as("o_orderpriority")), "orders")

    write(range(n("lineitem"))
      .withColumn("dd", h(id, 59, 2499))
      .select(
        h(id, 50, n("orders")).as("l_orderkey"),
        h(id, 51, n("part")).as("l_partkey"),
        h(id, 52, n("supplier")).as("l_suppkey"),
        (h(id, 53, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (h(id, 54, 50) + 1).cast(DoubleType).as("l_quantity"),
        round(lit(900.0) + u(id, 55) * 104100.0, 2).as("l_extendedprice"),
        (h(id, 56, 11).cast(DoubleType) / 100.0).as("l_discount"),
        (h(id, 57, 9).cast(DoubleType) / 100.0).as("l_tax"),
        pick(id, 58, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 60, Seq("O", "F")).as("l_linestatus"),
        expr("timestampadd(DAY, dd, TIMESTAMP_NTZ'1995-01-02 00:00:00')")
          .as("l_shipdate")), "lineitem")

    write(range(n("events"))
      .withColumn("us", h(id, 40, 30L * 86400L * 1000000L))
      .select(
        id.as("event_id"),
        expr("timestampadd(MICROSECOND, us, TIMESTAMP_NTZ'2024-01-01 00:00:00')")
          .as("ts"),
        h(id, 41, n("users")).as("user_id"),
        pick(id, 42, etypes).as("event_type"),
        round(lit(-50.0) * log(greatest(lit(1.0) - u(id, 43), lit(1e-12))), 2)
          .as("value"),
        format_string("{\"k\": %d}", h(id, 44, 100)).as("props")), "events")

    // documents: planted duplicate STRUCTURE, not just isolated pairs —
    // the near-dup graph operators (assortativity, k-core, clusters)
    // need degree variety at every scale:
    //  - exact-dup PAIRS: doc (625k+624) copies doc (625k+623)
    //  - exact-dup GROUPS of 4: docs (2500k+2497..2499) copy (2500k+2496)
    //  - TRUNCATION near-dups: doc (1000k+999) = doc (1000k+998)'s text
    //    + a 6-word tail (high Jaccard + a q274 prefix-containment pair)
    // The two rules INTENTIONALLY overlap on ids ≡ 4999 (mod 5000):
    // the group-of-four `eff` wins (first `when`), then the tail still
    // appends — so every second group of four is 3 exact copies + 1
    // truncation near-dup of the SAME leader. That mixed cluster (a
    // node with both exact-dup and near-dup edges) is the degree shape
    // the graph family needs; the rules are kept exactly as shipped so
    // every regenerated corpus stays byte-identical to the soaked one.
    val vocabArr = array(vocab.map(lit): _*)
    // Heaps mode: V grows with the corpus; the same (eff, i, 21) hash
    // stream drives the draw, so planted duplicates stay planted
    val heapsV = math.max(31L, math.ceil(2.0 * math.sqrt(
      n("documents").toDouble)).toLong)
    def word(i: Column): Column =
      if (!heapsVocab)
        element_at(vocabArr,
          (pmod(xxhash64(col("eff"), i, lit(21)), lit(vocab.size.toLong)) + 1)
            .cast(IntegerType))
      else {
        // u ∈ [0,1) ⇒ rank 1+⌊V·u²⌋ ∈ [1,V], p(rank k) ∝ k^-1/2
        val u = pmod(xxhash64(col("eff"), i, lit(21)), lit(1000000000L))
          .cast(DoubleType) / 1e9
        concat(lit("w"),
          (lit(1L) + floor(lit(heapsV.toDouble) * u * u)).cast(LongType))
      }
    write(range(n("documents"))
      .withColumn("eff",
        when(id % 2500 >= 2496, id - (id % 2500) + 2496)
          .when(id % 1000 === 999, id - 1)
          .when(id % 625 === 624, id - 1)
          .otherwise(id))
      .withColumn("n_words", h(col("eff"), 20, 91) + 10)
      .withColumn("text", array_join(
        transform(sequence(lit(1L), col("n_words")), i => word(i)), " "))
      .withColumn("text",
        when(id % 1000 === 999,
          concat(col("text"), lit(" the fast scan beats the sort")))
          .otherwise(col("text")))
      .select(
        id.as("doc_id"),
        col("text"),
        when(u(id, 22) < 0.41, lit("en")).otherwise(pick(id, 23, langs)).as("lang"),
        concat(lit("src"), h(id, 24, 20).cast(StringType)).as("source"),
        length(col("text")).cast(LongType).as("n_chars")), "documents")

    // embeddings: 64 iid standard normals (Box–Muller on hash uniforms),
    // normalized to unit length — matches the measured corpus (unit
    // norm, label means ≈ 0, 10 labels)
    write(range(n("embeddings"))
      .withColumn("raw", transform(sequence(lit(1), lit(64)), i =>
        sqrt(lit(-2.0) * log(greatest(
          pmod(xxhash64(id, i, lit(30)), lit(1000000000L)).cast(DoubleType) / 1e9,
          lit(1e-12)))) *
          cos(lit(2.0 * math.Pi) *
            (pmod(xxhash64(id, i, lit(31)), lit(1000000000L)).cast(DoubleType) / 1e9))))
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(
        id.as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast(FloatType)).as("embedding"),
        h(id, 33, 10).cast(IntegerType).as("label")), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DataGen <outDir> <sf> [heaps]")
    val heaps = args.length >= 3 && args(2) == "heaps"
    val spark = graft.GraftSession.forMain("WARN")
    try generate(spark, args(0), args(1).toDouble, heapsVocab = heaps)
    finally spark.stop()
  }
}
