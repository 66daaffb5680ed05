package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer.
  *
  * The reference engine reads its tables over JDBC from two MySQL
  * instances (/root/reference/connection.js:1, orchestrator.js:49) and
  * writes with batched INSERTs. Here every table is a columnar source:
  * parquet first (pushdown + pruning for free), with csv/json/jdbc
  * paths for parity. Readers return plain DataFrames so every operator
  * stays declarative and Catalyst-optimizable. Every parquet directory
  * read goes through [[parquet]], which infers a directory's schema
  * once per file listing.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one star-schema table from an sf directory. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The SQLConf keys parquet schema inference reads: footer type
    * mapping, schema merging and summary files, case sensitivity,
    * corrupt-file skipping, and partition-value type inference. */
  private val inferenceConfs: Seq[String] = {
    import org.apache.spark.sql.internal.SQLConf._
    Seq(PARQUET_SCHEMA_MERGING_ENABLED, PARQUET_SCHEMA_RESPECT_SUMMARIES,
      PARQUET_BINARY_AS_STRING, PARQUET_INT96_AS_TIMESTAMP, LEGACY_PARQUET_NANOS_AS_LONG,
      PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
      PARQUET_IGNORE_VARIANT_ANNOTATION, PARQUET_FIELD_ID_READ_ENABLED, IGNORE_CORRUPT_FILES,
      CASE_SENSITIVE, PARTITION_COLUMN_TYPE_INFERENCE, TIMESTAMP_TYPE,
      SESSION_LOCAL_TIMEZONE).map(_.key)
  }

  /** An inferred schema and what it was inferred from. */
  private final case class Inferred(files: Seq[(String, Long, Long)],
                                    confs: Seq[Option[String]], schema: StructType)

  /** One entry per qualified path: the last schema inferred there. */
  private val inferred = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  /** The one parquet directory read. Spark infers a parquet schema
    * with a job that reads a footer; this runs that job once per file
    * listing. The path is listed on the driver (recursively: names,
    * sizes, mtimes); when the listing and the inference confs above
    * equal those of the path's last inference, the read takes that
    * schema and runs no job. Otherwise it infers as `spark.read.parquet`
    * does and keeps the result as the path's only entry. Spark still
    * lists the files on every read, so a rewritten directory
    * (`AtomicSnapshot.publish`, `Compaction.compact`) is never read
    * with a stale file list or schema. A path that lists no file
    * (missing, empty, or a glob) is never cached and fails or resolves
    * exactly as `spark.read.parquet`. Safe to call from concurrent
    * threads. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    // listStatus, not listFiles: on the local filesystem listFiles
    // reads each file's permissions, and Hadoop forks `ls -ld` for that
    def listed(dir: Path): Seq[(String, Long, Long)] = fs.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory) listed(s.getPath)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    }
    val files =
      try Some(listed(p).sorted).filter(_.nonEmpty)
      catch { case _: java.io.FileNotFoundException => None }
    val confs = inferenceConfs.map(spark.conf.getOption)
    val known = for {
      listed <- files
      e <- Option(inferred.get(key)) if e.files == listed && e.confs == confs
    } yield e.schema
    known match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        files match {
          case Some(listed) => inferred.put(key, Inferred(listed, confs, df.schema))
          case None => inferred.remove(key)
        }
        df
    }
  }

  /** events with `ts` normalized to TimestampType, whatever parquet
    * annotation a given testdata generation used:
    *  - TIMESTAMP(NANOS) → Spark reads long nanos
    *    (spark.sql.legacy.parquet.nanosAsLong=true); truncate to
    *    micros — same precision DuckDB keeps, so oracles agree;
    *  - naive TIMESTAMP(MICROS) (isAdjustedToUTC=false) → Spark 4
    *    infers TimestampNTZType by default; cast to TimestampType —
    *    exact under the pinned UTC session timezone (the engine's
    *    builders additionally set
    *    spark.sql.parquet.inferTimestampNTZ.enabled=false so plain
    *    reads get TimestampType straight from the scan). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR, not `div` (truncate-toward-zero): a pre-epoch
        // nanosecond timestamp would otherwise land one microsecond
        // LATE, flipping boundary comparisons — IntMath's pmod-floor
        // convention
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC round-trip — the columnar alternative some warehouses mandate
    * (Hive-era estates); Spark's native vectorized ORC reader keeps
    * pushdown + pruning like parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Line-delimited raw text ingest — the web-crawl / dump shape
    * (one document or record per line, no schema): each line surfaces
    * as `value`, stamped with its source file so downstream curation
    * can key provenance. Splittable and trivially parallel; pair
    * with `documentsFromText` to land the corpus in the `documents`
    * contract. */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("value")
      .withColumn("input_file", org.apache.spark.sql.functions.input_file_name())

  /** Text lines → the `documents` table contract: deterministic ids
    * md5-derived from the (file, line number, content) triple —
    * stable across re-ingests, and UNIQUE even when one file repeats
    * a line (blank lines / boilerplate are common in real crawls; a
    * content-only hash would collapse them into one doc_id and
    * silently break the per-doc uniqueness every downstream
    * aggregation assumes). The separator-joined triple is
    * unambiguous; line_no is a row_number over the file's split order
    * (Hadoop splits are offset-ordered and
    * monotonically_increasing_id is monotone in (partition,
    * position), so the numbering is deterministic for a given file).
    * The per-file window is the landing step's one shuffle; crawl
    * shards are bounded (hundreds of MB), so one file's lines fit a
    * partition — split unsharded multi-GB dumps upstream.
    * source = the input file's basename. */
  def documentsFromText(spark: SparkSession, path: String,
                        lang: String = "und"): DataFrame =
    documentsFromLines(text(spark, path), lang)

  /** The landing transform behind [[documentsFromText]], factored over
    * an already-read (value, input_file) frame so the STREAMING ingest
    * ([[graft.streaming.DocStream]]) can apply it per micro-batch:
    * Spark's file source reads WHOLE files per batch, so the per-file
    * line numbering is batch-local by construction — the window never
    * needs to span micro-batches. */
  private[graft] def documentsFromLines(lines: DataFrame,
                                        lang: String = "und",
                                        passthrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val byFile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("input_file")).orderBy(monotonically_increasing_id())
    lines
      .withColumn("line_no", row_number().over(byFile).cast("long"))
      .select(
        (graft.functions.DetHash.md5Long60Col(
          concat_ws("\u0001", col("input_file"), col("line_no"), col("value"))).as("doc_id") +:
        col("value").as("text") +:
        lit(lang).as("lang") +:
        regexp_extract(col("input_file"), "([^/]+)$", 1).as("source") +:
        length(col("value")).cast("long").as("n_chars") +:
        // extra caller columns carried through the landing transform
        // (the event-time ingest's ts rides here)
        passthrough.map(col)): _*)
  }

  /** XML ingest (Spark 4's native XML source — the export-dump shape
    * many upstream systems emit, including OpenMRS metadata dumps):
    * one row per `rowTag` element, schema inferred or supplied. */
  def xml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.format("xml").option("rowTag", rowTag).load(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw-asset directory source — HOW image/audio/video bytes enter
    * the engine before any mm-block operator sees them. Spark's
    * `binaryFile` source lists the tree in parallel, reads each file
    * once, and pushes `pathGlobFilter` into the LISTING (files that
    * don't match are never opened — at 100 TB of mixed assets that is
    * the difference between scanning one modality and scanning all).
    * Output is the raw-asset frame (asset_id = path, payload = raw
    * bytes, n_bytes, modified_us);
    * [[graft.multimodal.Media.assetsAsMedia]] adapts it to the typed
    * MediaRow contract the mm operators consume. Per-file size is
    * capped by `spark.sql.sources.binaryFile.maxLength`; giant assets
    * should stream through a manifest + ranged reads instead. */
  def binaryDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(col("path").as("asset_id"), col("content").as("payload"),
        col("length").as("n_bytes"),
        unix_micros(col("modificationTime")).as("modified_us"))
  }

  /** Parallel JDBC source spec, the scale-path for the reference's
    * MySQL source (reference connection.js:1, utils.js:161 pages with
    * `LIMIT start,batch` on ONE connection; here N ranges read
    * concurrently so a single connection is never the straw through
    * which 100 TB must pass). The spec is a plain value so the option
    * set is unit-testable without a live database — no MySQL exists in
    * this environment; `load` is exercised only against real DBs. */
  /** Identifier quoting for hand-built SQL and `dbtable` strings,
    * routed through Spark's own per-URL dialect registry
    * (`JdbcDialects.get`): backticks on `jdbc:mysql:` (the
    * reference's engine), ANSI double quotes on Derby and everything
    * else — the same resolution Spark's JDBC connector applies to
    * column identifiers and type mapping at read/write time, so the
    * graft surface never hard-codes one engine's spelling. */
  def quoteIdent(url: String, ident: String): String = {
    DuckDbDialect.ensureRegistered()
    org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(ident)
  }

  final case class JdbcSource(url: String, table: String, partitionColumn: String,
                              lowerBound: Long, upperBound: Long, numPartitions: Int,
                              extraOptions: Map[String, String] = Map.empty,
                              quoted: Boolean = false) {
    def options: Map[String, String] = Map(
      "url" -> url,
      "dbtable" -> (if (quoted) quoteIdent(url, table) else table),
      "partitionColumn" -> partitionColumn,
      "lowerBound" -> lowerBound.toString,
      "upperBound" -> upperBound.toString,
      "numPartitions" -> numPartitions.toString,
      // sane OLAP defaults: big fetch batches, read-only session
      "fetchsize" -> "10000",
      "pushDownPredicate" -> "true"
    ) ++ extraOptions

    def load(spark: SparkSession): DataFrame = {
      DuckDbDialect.ensureRegistered()
      spark.read.format("jdbc").options(options).load()
    }
  }

  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: String, lowerBound: Long, upperBound: Long,
           numPartitions: Int): DataFrame =
    JdbcSource(url, table, partitionColumn, lowerBound, upperBound, numPartitions).load(spark)

  /** Live-JDBC table read with AUTOMATIC range partitioning: the
    * reference reads its MySQL tables by paging one connection
    * (utils.js:161 `LIMIT start,batch`); the Spark-native scale shape
    * is N executors each reading an id range concurrently. Spark's
    * JDBC source needs explicit bounds for that, so this resolves
    * min/max with one driver-side metadata query first (aggregate-
    * sized, the same class of driver work as a file listing) and then
    * issues the partitioned scan through [[JdbcSource]].
    *
    * Column names are lowercased on the way in: case-insensitive
    * engines (Derby, MySQL) surface unquoted identifiers as
    * upper/any-case, and the merge layer joins on exact names.
    * An empty table (null bounds) or a missing partition column falls
    * back to a single-partition read — correct, just not parallel. */
  def jdbcTableAuto(spark: SparkSession, url: String, table: String,
                    partitionColumn: Option[String],
                    numPartitions: Int = 8): DataFrame = {
    DuckDbDialect.ensureRegistered()
    def lowered(df: DataFrame): DataFrame =
      df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)
    // identifiers go into the SQL unquoted FIRST (the reference's
    // spelling: case-insensitive resolution on Derby/MySQL — quoting
    // would pin the config's case against the engine's stored case),
    // and fall back to the url-dialect's quoting when the engine
    // rejects that (reserved-word table names like `order`, quoted
    // mixed-case DDL)
    def bounds(t: String, c: String): Option[(Long, Long)] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT min($c), max($c) FROM $t")
        rs.next()
        val (lo, hi) = (rs.getLong(1), rs.getLong(2))
        if (rs.wasNull()) None else Some((lo, hi))
      } finally conn.close()
    }
    val resolved = partitionColumn.flatMap { c =>
      // the partitionColumn stays PLAIN either way: Spark resolves it
      // against the schema by name and applies the dialect's quoting
      // itself when building the range predicates
      try bounds(table, c).map(b => (table, c, b))
      catch {
        case _: java.sql.SQLException =>
          try bounds(quoteIdent(url, table), quoteIdent(url, c))
            .map(b => (quoteIdent(url, table), c, b))
          catch {
            // a non-numeric partition column (uuid/varchar key) must
            // take the documented single-partition fallback, not
            // abort the read
            case _: java.sql.SQLException => None
          }
      }
    }
    resolved match {
      case Some((t, c, (lo, hi))) =>
        lowered(JdbcSource(url, t, c, lo, math.max(hi, lo + 1), numPartitions).load(spark))
      case None =>
        def plain(t: String) = spark.read.format("jdbc")
          .option("url", url).option("dbtable", t).load()
        lowered(
          // only SQL failures (e.g. a reserved-word table name) earn
          // the quoted retry — driver/auth/network errors propagate
          // with their original cause instead of the quoted attempt's
          try plain(table)
          catch { case _: java.sql.SQLException => plain(quoteIdent(url, table)) })
    }
  }

  /** JDBC sink spec — the "write merged output" path (reference writes
    * batched multi-row INSERTs inside one transaction,
    * utils.js:161/orchestrator.js commit-rollback). Spark-side each
    * partition writes its own batched transaction; `batchsize` sizes
    * the INSERT batches (reference `config.batchSize`), parallelism =
    * the DataFrame's partitions. Unit-testable like [[JdbcSource]]. */
  final case class JdbcSink(url: String, table: String,
                            batchSize: Int = 500, isolationLevel: String = "READ_COMMITTED",
                            truncate: Boolean = false,
                            extraOptions: Map[String, String] = Map.empty,
                            quoted: Boolean = false) {
    def options: Map[String, String] = Map(
      "url" -> url,
      "dbtable" -> (if (quoted) quoteIdent(url, table) else table),
      "batchsize" -> batchSize.toString,
      "isolationLevel" -> isolationLevel,
      "truncate" -> truncate.toString
    ) ++ extraOptions

    def save(df: DataFrame, mode: String = "append"): Unit = {
      DuckDbDialect.ensureRegistered()
      df.write.format("jdbc").mode(mode).options(options).save()
    }
  }

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed managed table — the co-located-join path (SURVEY §5):
    * two tables bucketed+sorted on their join key produce a
    * sort-merge join with NO exchange and NO per-query sort, the
    * biggest single shuffle saving for repeated large-fact joins
    * (e.g. re-running the merge pipeline's obs⋈person joins).
    * Bucket count must match across join sides. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
