package graft.ops

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input readers for the reference's file layouts (SURVEY.md §2.1 S1-S3):
  * fixed schemas, PERMISSIVE parse + explicit validity filters replacing the
  * reference's line-by-line skip logic (common/txsfile.go:84-148). Spark
  * reads `.csv` and `.csv.gz` natively (gz via codec inference); `.zip`
  * archives go through the streaming per-task decoder in [[readTxCsvZip]].
  */
object Sources {

  /** S1: collector transactions CSV — timestamp_ms,hash,raw_tx_hex, no
    * header (FIXTURES.md §A2). */
  val txCsvSchema: StructType = StructType(Seq(
    StructField("timestamp_ms", LongType),
    StructField("hash", StringType),
    StructField("raw_tx_hex", StringType)))

  /** S3: sourcelog CSV — timestamp_ms,hash,source. */
  val sourcelogCsvSchema: StructType = StructType(Seq(
    StructField("timestamp_ms", LongType),
    StructField("hash", StringType),
    StructField("source", StringType)))

  /** S3: trash CSV — timestamp_ms,hash,source,reason,notes. */
  val trashCsvSchema: StructType = StructType(Seq(
    StructField("timestamp_ms", LongType),
    StructField("hash", StringType),
    StructField("source", StringType),
    StructField("reason", StringType),
    StructField("notes", StringType)))

  /** ASCII lowercase for hex text: folds the only upper-case letters a hex
    * string or its `0x` prefix can hold. Spark's `lower` builds ICU's case
    * tables the first time it runs in a JVM, about 0.7 s of a cold start;
    * this fold never reaches them. */
  def lowerHex(c: Column): Column = translate(c, "ABCDEFX", "abcdefx")

  /** P11, the one hash rule (common/sourcelog.go:41-48) for every hash
    * column: the value folded to ASCII lowercase when it is `0x` plus 64
    * hex digits in either case, else null. Where that holds, the fold
    * equals `lower`: no other character lowercases to a hex digit or `x`.
    * `\z`, unlike `$`, admits no trailing line break. The readers below
    * apply it once; [[graft.jobs.Merge.run]] takes their frames as they
    * are. */
  def hexHash(c: Column): Column =
    when(c.rlike("^0[xX][0-9a-fA-F]{64}\\z"), lowerHex(c))

  /** P5: source-name normalization (common/consts.go:27-42): map known
    * provider URIs to their short tags, pass anything else through. */
  def normalizeSource(c: Column): Column =
    when(c.contains("alchemy.com/"), "alchemy")
      .when(c.contains("infura.io/"), "infura")
      .otherwise(c)

  /** F3/P10/P11 row policy: malformed rows are dropped, like the
    * reference's `continue` branches — bad int → null → filtered. */
  def readTxCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(txCsvSchema).option("mode", "PERMISSIVE")
      .csv(paths: _*)
      .withColumn("hash", hexHash(col("hash")))
      .filter(col("timestamp_ms").isNotNull && col("hash").isNotNull &&
        col("raw_tx_hex").isNotNull)

  def readSourcelogCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(sourcelogCsvSchema).option("mode", "PERMISSIVE")
      .csv(paths: _*)
      .withColumn("hash", hexHash(col("hash")))
      .filter(col("timestamp_ms").isNotNull && col("hash").isNotNull &&
        col("source").isNotNull)

  def readTrashCsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(trashCsvSchema).option("mode", "PERMISSIVE")
      .csv(paths: _*)
      .withColumn("hash", hexHash(col("hash")))
      .filter(col("timestamp_ms").isNotNull && col("hash").isNotNull)

  /** J2 input: hashes from previous-day metadata CSVs (column 1;
    * common/txsfile.go:212-239). Headers are skipped by the hash-validity
    * filter itself — positional, like the reference. The fixed two-column
    * schema reads any column count, and spares the job a schema-less read
    * runs to count the first line's columns. A hash listed twice stays
    * twice: the merge's anti-join only tests existence, and a distinct
    * here would cost it a shuffle. */
  def readMetadataHashes(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema("_c0 STRING, _c1 STRING").csv(paths: _*)
      .select(hexHash(col("_c1")).as("hash"))
      .filter(col("hash").isNotNull)

  /** S2: CSV-in-ZIP ingestion (common/txsfile.go:46-68 behavior): iterate
    * the `.csv` members of each `.csv.zip` archive. Spark has no zip codec,
    * so the glob is expanded driver-side (the same FileSystem listing any
    * scan does) and each archive is opened per-task through a STREAMING
    * `ZipInputStream` — one task per archive, matching the reference's
    * per-file iteration, parallel across archives (the daily layout is
    * many hourly zips), and bounded memory: lines flow through a lazy
    * Iterator, so a multi-GB archive never materializes as one byte
    * array (the r1 version buffered whole archives via binaryFile). */
  def readTxCsvZip(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(glob)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).toSeq.sorted
    val lines = spark.createDataset(files)
      .repartition(math.max(files.size, 1))
      .flatMap { pathStr =>
        val path = new org.apache.hadoop.fs.Path(pathStr)
        // default hadoop conf in the task: correct for posix/defaultFS
        // paths; a cluster with custom FS settings would broadcast the
        // driver conf instead
        val raw = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .open(path)
        val zin = new java.util.zip.ZipInputStream(
          new java.io.BufferedInputStream(raw))
        // lazy line iterator across the archive's .csv members; a fresh
        // Reader per member is safe because ZipInputStream bounds reads
        // at the entry boundary, so no buffered bytes cross entries
        new Iterator[String] {
          private var rd: java.io.BufferedReader = null
          private var nxt: String = null
          private var done = false
          private def nextCsvEntry(): Unit = {
            var e = zin.getNextEntry
            while (e != null && (e.isDirectory || !e.getName.endsWith(".csv")))
              e = zin.getNextEntry
            if (e == null) { zin.close(); done = true }
            else rd = new java.io.BufferedReader(
              new java.io.InputStreamReader(zin, "UTF-8"))
          }
          private def advance(): Unit =
            while (nxt == null && !done) {
              if (rd == null) nextCsvEntry()
              else {
                nxt = rd.readLine()
                if (nxt == null) rd = null // member exhausted; next entry
              }
            }
          def hasNext: Boolean = { advance(); nxt != null }
          def next(): String = {
            if (!hasNext) throw new NoSuchElementException
            val r = nxt; nxt = null; r
          }
        }
      }
    val cols = split(col("value"), ",")
    lines.toDF("value")
      .select(
        element_at(cols, 1).cast("long").as("timestamp_ms"),
        hexHash(element_at(cols, 2)).as("hash"),
        element_at(cols, 3).as("raw_tx_hex"))
      .filter(col("timestamp_ms").isNotNull && col("hash").isNotNull &&
        col("raw_tx_hex").isNotNull)
  }

  /** S4: typed parquet archive scan with optional row cap
    * (cmd/analyze/main.go:81-107 MAX semantics). The archive's
    * TIMESTAMP_MILLIS columns come back as epoch-ms longs, the shape all
    * downstream operators use.
    *
    * The data schema comes from [[footerSchema]], read on the driver, and
    * is handed to `spark.read.schema(..)`: `spark.read.parquet(path)` alone
    * infers it with a Spark job on every call, even for one footer.
    * Partition columns (`day=…`) are still inferred from the paths; above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * directories Spark lists them with a job of its own either way. Where
    * no footer schema is found, Spark infers as usual, so a path with no
    * data file fails with Spark's own error. Globs work as in
    * `spark.read.parquet`. */
  def readArchive(spark: SparkSession, path: String, max: Option[Int] = None): DataFrame = {
    val df0 = footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
    val df = df0.schema.fields.foldLeft(df0) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, unix_millis(col(f.name)))
      else d
    }
    max.fold(df)(df.limit)
  }

  /** The data schema Spark's parquet inference gives `path` without schema
    * merging, taken on the driver. Spark reads the footer of the first file
    * in path order among the files directly in each glob match and, where
    * the tree is partitioned, those below its partition (`k=v`)
    * directories; it skips the names it treats as hidden (`_`/`.` prefixes
    * except `_metadata`/`_common_metadata` and `_`-names holding `=`, and
    * `._COPYING_` files). This walks the same tree depth first, siblings
    * sorted so that files come in path order, into partition directories
    * and anything below them, and stops at the first file, so it lists
    * about as many directories as the tree is deep. A tree whose files all
    * sit in non-partition subdirectories gives Spark no file, and none
    * here. Spark would pick a summary file
    * (`_common_metadata`, `_metadata`) over an earlier data file; parquet
    * writers leave them only when asked (`parquet.summary.metadata.level`).
    * Only names below a match are tested, so an archive under a
    * dot-prefixed directory still lists. The schema is Spark's row metadata
    * JSON when the writer left one, else the converted parquet schema. None
    * when merging is on, nothing is listed or the footer cannot be read. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(hadoopConf)
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    // a directory sorts as its leaves' common prefix, its path plus "/"
    def key(st: FileStatus) = st.getPath.toString + (if (st.isDirectory) "/" else "")
    def leaves(p: Path, partitioned: Boolean): Iterator[FileStatus] =
      fs.listStatus(p).filterNot(st => hidden(st.getPath.getName)).sortBy(key).iterator
        .flatMap { st =>
          val inPartition = partitioned || st.getPath.getName.contains("=")
          if (!st.isDirectory) Iterator(st)
          else if (inPartition) leaves(st.getPath, inPartition)
          else Iterator.empty
        }
    Try {
      Option(fs.globStatus(fs.makeQualified(pattern))).toSeq.flatten.sortBy(key).iterator
        .flatMap(st => leaves(st.getPath, partitioned = false)).nextOption()
        .map { st =>
          val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
            new ParquetToSparkSchemaConverter(conf))
        }
    }.toOption.flatten
  }

  /** Fixed schema for JSONL training-corpus documents — same shape as the
    * documents parquet table (doc_id, text, lang, source, n_chars). */
  val documentsJsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Training-corpus JSONL reader (corpora ship as JSON-lines, one doc per
    * line, commonly gzip'd — Spark infers the codec from the extension).
    * Fixed schema, NO inference (a schema-inference pass would read the
    * whole 100 TB corpus twice); malformed lines follow the same
    * drop-don't-fail policy as the CSV readers (F3), with the raw line
    * kept in `_corrupt_record` for a dead-letter side-channel until the
    * caller drops it. Returns only valid rows. */
  def readDocumentsJsonl(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(documentsJsonlSchema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)
      .filter(col("_corrupt_record").isNull &&
        col("doc_id").isNotNull && col("text").isNotNull)
      .drop("_corrupt_record")
}
