package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, util}
import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, MessageType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, StructType, TimestampNTZType, TimestampType}

/** Typed accessors for the driver-generated parquet tables
  * (TESTDATA.md / FIXTURES.md §2), one file per table, read with
  * DECLARED schemas (inference launches a Spark job per read) checked
  * against the file's footer on the driver, so drift fails loudly
  * instead of reading nulls. Catalyst pushes filters/projections into
  * the scan — verified in RelationalSpec (PushedFilters / ReadSchema).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * accessor indirection is the seam where that swap happens.
  */
object Tables {
  /** What the generator's footers convert to under `Engine.tune`, at
    * every scale factor: time columns are TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), i.e. TIMESTAMP_NTZ; all columns optional. */
  private val ddl = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
  val schemas: Map[String, StructType] = ddl.map { case (t, d) => t -> StructType.fromDDL(d) }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    checked(spark, name, s"$dir/$name.parquet", schemas(name))

  /** `spark.read.schema(declared)` once the footer, converted under the
    * session's parquet confs (not in the memo key), has the declared
    * column names and types; nullability is forced on by file sources. */
  private def checked(spark: SparkSession, name: String, path: String,
      declared: StructType): DataFrame = {
    val file = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer(spark, path).schema)
    def typeOf(s: StructType, c: String) = s.find(_.name == c).map(_.dataType)
    (declared.fieldNames ++ file.fieldNames).distinct
      .map(c => (c, typeOf(file, c), typeOf(declared, c)))
      .find { case (_, x, d) => !x.zip(d).exists((DataType.equalsIgnoreNullability _).tupled) }
      .foreach { case (c, x, d) => throw new IllegalStateException(s"table $name ($path): " +
        s"column $c is ${x.fold("absent")(_.sql)} in the file but declared ${d.fold("absent")(_.sql)}") }
    spark.read.schema(declared).parquet(path)
  }

  /** One footer read per file version (row groups for [[fanout]], schema
    * for the check), memoized on (path, mtime, length) — the stat is the
    * freshness check. Only SUCCESS is stored, so a transient failure
    * retries instead of freezing until the file's mtime changes. */
  private final case class Footer(rowGroups: Long, schema: MessageType)
  private val footers = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Footer]()

  private def footer(spark: SparkSession, st: FileStatus): Footer = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    Option(footers.get(key)).getOrElse {
      val r = ParquetFileReader.open(
        util.HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration))
      val f = try Footer(r.getRowGroups.size().toLong, r.getFileMetaData.getSchema) finally r.close()
      if (footers.size() > 65536) footers.clear() // bound: rotated files
      footers.put(key, f)
      f
    }
  }
  private def footer(spark: SparkSession, path: String): Footer = {
    val p = new Path(path)
    footer(spark, p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
  }

  /** Fan a narrow scan out to the session's parallelism before heavy
    * per-row compute (JSON parse, tokenize + hashing, percentile
    * buffering). The test tables are ONE parquet file with ONE row
    * group each, and Spark's parquet splits are row-group-granular —
    * `files.maxPartitionBytes` can slice the byte range but every slice
    * except the one holding the row-group midpoint produces zero rows,
    * so the whole map phase serializes on a single core (measured 3-10×
    * on the parse/dedup pipelines at sf0.1). A round-robin repartition
    * of the (small) input un-starves it.
    *
    * The probe is metadata-only: `inputFiles`, then one stat + one
    * memoized footer read per file. Scan tasks that CARRY rows number
    * min(rowGroups, byteSplits) per file: a multi-GB single-row-group
    * file yields many empty slices, and one split packs many small row
    * groups. Non-parquet files fall back to byte splits (line-splittable
    * formats do carry rows there). */
  def fanout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    // production file counts exit without per-file I/O: such data is
    // large or maintained by the compaction paths' size-targeted files
    if (files.length >= math.max(1024, target)) return df
    val hconf = spark.sparkContext.hadoopConfiguration
    val maxPB = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    // MANY-tiny-files trap: FilePartition BIN-PACKS small files into
    // ⌈(Σbytes + nFiles·openCost) / maxPartitionBytes⌉ tasks (256 bucket
    // files pack into ~9), so the estimate is min(carried-row splits,
    // bin-packed task count).
    val openCost = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
    var totalBytes = 0L
    val estSplits = files.map { f =>
      val p = new Path(f)
      val status =
        try Some(p.getFileSystem(hconf).getFileStatus(p))
        catch { case _: java.io.IOException => None }
      status match {
        // unreadable file: openCost-only bytes, consistent with its one
        // split (0 bytes would under-count binPacked)
        case None => totalBytes += openCost; 1L
        case Some(st) =>
          totalBytes += st.getLen
          // no footer (non-parquet file, transient error): byteSplits
          val byteSplits = math.max(1L, (st.getLen + maxPB - 1) / maxPB)
          math.min(try footer(spark, st).rowGroups catch { case _: Exception => byteSplits },
            byteSplits)
      }
    }.sum
    val binPacked = math.max(1L,
      (totalBytes + files.length * openCost + maxPB - 1) / maxPB)
    if (math.min(estSplits, binPacked) < target) df.repartition(target) else df
  }

  /** TIMESTAMP_NTZ time columns (TIMESTAMP(MICROS) without
    * isAdjustedToUTC) are rejected by instant functions (`unix_micros`,
    * `unix_timestamp`). The engine pins UTC (Engine.session/tune), so
    * casting NTZ→TIMESTAMP reinterprets the wall-clock as a UTC instant
    * — the same microseconds, as DuckDB reads its naive TIMESTAMP — and
    * keeps every downstream operator on one timestamp type. */
  private def tsUtc(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) return df
    // The cast's zone binds at ANALYSIS time (eager in Dataset
    // construction), so pinning UTC around the fold and RESTORING the
    // caller's zone leaves Cast nodes on UTC without leaking UTC into
    // the caller's own queries.
    val spark = df.sparkSession
    val prior = spark.conf.getOption("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try ntz.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
    finally prior.foreach(z => spark.conf.set("spark.sql.session.timeZone", z))
  }

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = tsUtc(read(spark, dir, "orders"))
  def lineitem(spark: SparkSession, dir: String): DataFrame = tsUtc(read(spark, dir, "lineitem"))
  /** Older fixture generations wrote events.ts as parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects; the
    * footer's `ts` annotation tells them apart. Only that legacy branch
    * sets `nanosAsLong` (no session sets it up front), reads
    * nanos as long and floor-divides to microseconds (`div`: a double
    * roundtrip would lose precision at 1e18 ns), the truncation DuckDB
    * performs. Current fixtures write TIMESTAMP(MICROS) → [[tsUtc]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val f = footer(spark, path)
    val ts = Option.when(f.schema.containsField("ts"))(f.schema.getFieldIndex("ts"))
    val nanos = ts.map(f.schema.getType(_).getLogicalTypeAnnotation).exists {
      case t: LTA.TimestampLogicalTypeAnnotation => t.getUnit == LTA.TimeUnit.NANOS
      case _ => false
    }
    if (!nanos) tsUtc(checked(spark, "events", path, schemas("events")))
    else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val legacy = StructType.fromDDL(ddl("events").replace("TIMESTAMP_NTZ", "BIGINT"))
      checked(spark, "events", path, legacy)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
