package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access + determinism helpers shared by every operator.
  *
  * Determinism contract (the driver hash-compares our parquet output
  * against DuckDB running `SparkEntry.oracleSql`): all money/measure
  * arithmetic is done in exact DECIMAL and only the final aggregate is
  * cast back to DOUBLE. Both engines then perform the identical
  * exact-decimal computation followed by one identical decimal->double
  * rounding, so results match bit-for-bit — no float-summation-order
  * nondeterminism. Mirrors the numeric-over-lexicographic decision in
  * SURVEY.md §1.2 (reference sorts price as varchar:
  * /root/reference/api/postgres/api.py:22).
  */
object Tables {

  /** All driver-generated tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job. For a
    * single file, Spark infers the schema with a one-task job that reads
    * the file's footer; here the driver reads that footer itself and
    * applies Spark's own one-file rule (`readSchemaFromFooter`: the
    * Spark schema a Spark writer stored in the footer's key-value
    * metadata, else the parquet schema converted under the session's
    * SQL conf, `nanosAsLong` included). The scan then gets the schema
    * up front, as `spark.read.schema(s).parquet(path)`.
    *
    * Nothing is cached: every call reads the footer again, so a table
    * rewritten between two calls is read with its new schema, at the
    * cost of one file open on the driver. A directory (a multi-file
    * table, a partitioned store) keeps Spark's inference, whose file
    * choice and partition discovery this does not repeat. On an object
    * store the driver makes the footer reads the inference task would
    * have made, so the saving there is the task and its scheduling
    * round trip, not the reads. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file =
      try Some(p.getFileSystem(conf).getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file.fold(spark.read.parquet(path)) { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The schema parquet reads a frame of `schema` back with: every
    * field, array element and map value nullable, as Spark marks a file
    * source's columns. A stream over files the engine just wrote from a
    * frame takes this instead of inferring it from the files. */
  def readBack(schema: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    nullable(schema).asInstanceOf[StructType]
  }

  /** A parquet directory the engine wrote from a frame of `schema` (a
    * file sink's output, a state snapshot, a persisted index), read with
    * that schema's [[readBack]] form instead of Spark's inference, which
    * would run a job that reads the files' footers. A partitioned
    * directory lists its partition column last in `schema`, as a read
    * gives it back. */
  def readWritten(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(readBack(schema)).parquet(path)

  /** `df` materialized once: written to `path` (a dir the caller owns,
    * replaced if present) and read back in `spark` by [[readWritten]]
    * with `df`'s schema. Every later consumer scans the files instead of
    * re-running `df`'s lineage, and no later append to a path `df` reads
    * can reach it. */
  def snapshot(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    readWritten(spark, path, df.schema)
  }

  /** Round-robin repartition to the cluster's parallelism. The corpus
    * stores each table as ONE parquet file with ONE row group, which
    * Spark cannot split — so a scan feeding compute-heavy per-row work
    * (hashing, shingling, vector math) would otherwise run on a single
    * core. One tiny shuffle buys full-width execution; on a real
    * cluster the same call is a no-op in spirit (many files → many
    * splits) but still protects against skewed file layouts. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** The incremental split every delta probe and index-seeded stream
    * shares: a row whose id is a multiple of 10 is the new batch (the
    * delta), every other row the already-ingested corpus. */
  def isDelta(id: Column): Column = id % 10 === 0

  /** `events.ts` surfaced as timestamp_ntz regardless of the corpus'
    * physical parquet type. The generator has shipped BOTH encodings
    * across corpus regenerations: TIMESTAMP(NANOS) (which Spark's
    * reader only accepts as raw int64 via
    * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (which arrives as timestamp_ntz natively).
    * Branching on the *observed* schema keeps every events operator
    * running on either corpus; the ns->us truncation matches what
    * DuckDB applies on read, so oracle comparisons agree either way. */
  val tsFromNanos: String = "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"

  /** Adapter from the observed `ts` type to timestamp_ntz. */
  def tsToNtz(dt: DataType): Column = dt match {
    case LongType         => expr(tsFromNanos)          // int64 nanos
    case TimestampNTZType => col("ts")                  // micros, naive
    case _                => col("ts").cast(TimestampNTZType) // micros, UTC-adjusted
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.withColumn("ts", tsToNtz(raw.schema("ts").dataType))
  }

  /** Naive (NTZ) timestamp literal — the corpus stores naive timestamps,
    * which Spark reads as timestamp_ntz; literals must match that type. */
  def tsLit(s: String): Column = lit(s).cast("timestamp_ntz")

  /** Exact 2-dp decimal view of a money/measure double column. Input
    * doubles in the corpus carry <=2 decimals, so the cast is lossless. */
  def d2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Narrow decimal for small factors like (1 - discount), (1 + tax). */
  def d4(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact decimal sum of a 2-dp double column, surfaced as double. */
  def dsum(c: Column): Column = sum(d2(c)).cast(DoubleType)

  /** Exact decimal sum of an already-decimal expression, as double. */
  def dsumExpr(c: Column): Column = sum(c).cast(DoubleType)

  /** Deterministic average: exact decimal sum, one cast to double, then
    * double division — both engines perform the identical IEEE op. */
  def davg(c: Column): Column = sum(d2(c)).cast(DoubleType) / count(lit(1))

  /** Portable 56-bit content hash: the top 14 hex digits of MD5 over the
    * UTF-8 bytes, read as a non-negative BIGINT. Chosen because BOTH
    * engines compute it identically — Spark:
    * `conv(substring(md5(x),1,14),16,10)`; DuckDB:
    * `('0x' || substring(md5(x),1,14))::BIGINT` — so sketch operators
    * built on it (MinHash, SimHash, LSH) stay oracle-checkable.
    * 56 bits also guarantees headroom for modular re-hashing without
    * int64 overflow. */
  def phash(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 14), 16, 10).cast(LongType)

  /** The DuckDB spelling of [[phash]], for oracle SQL interpolation. */
  def phashSql(x: String): String =
    s"(('0x' || substring(md5($x),1,14))::BIGINT)"

  /** [[phash]] folded into the prime field Z_p, p = 1e9+7: values < 2^30,
    * so a*h+b with a,b < 2^30 stays within int64 in both engines. */
  val P: Long = 1000000007L
  def phashMod(c: Column): Column = phash(c) % P
  def phashModSql(x: String): String = s"(${phashSql(x)} % ${P})"
}
