package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Table loaders for the driver testdata plus the reference's CSV
  * source/sink surface (SURVEY.md §2.1).
  *
  * Parquet is the primary format (columnar, pushdown- and pruning-friendly;
  * the driver testdata ships as one parquet per table). CSV helpers mirror
  * the reference's header-CSV in/out (reference Lab2ETL.py:62-68) with
  * explicit schemas — no `inferSchema` in production paths, since inference
  * means an extra full scan and nondeterministic typing at 100 TB.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table. Plain `spark.read.parquet` keeps the scan a
    * v1/v2 FileSourceScan with full filter pushdown + column pruning.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark refuses to read
    * as a timestamp; we read it as a long (nanos) via the legacy conf and
    * truncate to microseconds — exactly what DuckDB's parquet reader does
    * (ns → µs TIMESTAMP, floor), so oracle compares stay bit-identical.
    * [[graft.GraftSession.build]] sets the conf up front; the set here
    * covers driver-supplied sessions that never went through it.
    *
    * Loaded frames are memoized per (session, dir, table): a fresh
    * `spark.read.parquet` builds a new InMemoryFileIndex (file listing +
    * footer schema read) every call, which at one-query-per-call harness
    * cadence is pure fixed overhead. Reusing the resolved plan reuses the
    * index; the data path is unchanged (nothing is cached/persisted).
    * The memo is a small LRU (a DataFrame pins its SparkSession, so an
    * unbounded map would keep every session that ever touched it alive
    * for the JVM lifetime); eviction only drops a resolved plan.
    *
    * A new session resolves its own plan, but its schema comes from a
    * footer read on the driver ([[parquet]]), so no read runs a job.
    */
  private val MaxMemo = 64
  private val loaded =
    new graft.BoundedMemo[(SparkSession, String, String), DataFrame](MaxMemo)

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded.getOrCompute((spark, dir, name)) {
      if (name == "events") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = parquet(spark, s"$dir/events.parquet")
        // Schema-adaptive ts normalization — the testdata has shipped
        // both vintages: TIMESTAMP(NANOS) (physical int64, read as long
        // nanos via the legacy conf, truncated to µs like DuckDB does)
        // and native TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ, cast to
        // the session type; session TZ is UTC so the instant matches
        // DuckDB's naive read bit-for-bit). Either way downstream sees
        // one canonical TimestampType `ts`.
        raw.schema("ts").dataType match {
          case LongType =>
            raw.withColumn("ts",
              org.apache.spark.sql.functions.timestamp_micros(
                org.apache.spark.sql.functions.expr("ts DIV 1000")))
          case TimestampType => raw
          case _ =>
            raw.withColumn("ts",
              org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        }
      } else parquet(spark, s"$dir/$name.parquet")
    }

  /** `spark.read.parquet(path)` with its schema DECLARED from a footer
    * read on the driver, so the read runs no footer-schema job. The
    * footer is the one Spark's own inference reads: `_common_metadata`,
    * else `_metadata`, else the first data file; a nested (partitioned)
    * directory is left to that inference. The listing uses `listStatus`:
    * a located status (`listFiles`) reads each file's permission, which
    * without the native Hadoop library forks `ls -ld`. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).toSeq.filter(_.isFile)
        .sortBy(_.getPath.getName)
      else Seq(st)
    def named(n: String) = files.find(_.getPath.getName == n)
    val footer = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find { f => val n = f.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") })
    footer.flatMap(f => org.apache.spark.sql.execution.datasources.parquet
        .footerBridge.schema(spark, Seq(f)))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Input fingerprint of a set of files: each one's name, size and
    * mtime, one per line, in name order. */
  private def inputStamp(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[String]): String =
    files.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f\t${st.getLen}\t${st.getModificationTime}"
    }.mkString("\n")

  /** Bucketed + sorted persistence of a testdata table — the storage-side
    * shuffle eliminator (SCALE.md co-location rule): pay the partitioning
    * shuffle ONCE at ingest, and every downstream join/aggregate on the
    * bucket key reads a scan whose bucket spec (HashPartitioning on the
    * key) already satisfies the operator's required distribution — zero
    * exchanges at query time. The `repartition(nBuckets, key)` before the
    * write yields exactly ONE file per bucket, which keeps the `sortBy`
    * metadata usable (multi-file buckets force a defensive re-sort) and
    * caps the file count at nBuckets per table.
    *
    * Written once per INPUT, not per session or JVM: the layout
    * directory carries a stamp file ([[StampFile]]; its `_` prefix keeps
    * it out of every scan) holding the input fingerprint — the source
    * files' names, sizes and mtimes, the frame's schema DDL, and every
    * layout parameter. A call whose fingerprint matches the stamp reuses
    * the files: it reads the catalog table, or, in a fresh catalog (a new
    * JVM or SparkContext), re-registers them with `CREATE TABLE …
    * CLUSTERED BY … SORTED BY … INTO n BUCKETS LOCATION` — no job runs.
    * Any mismatch (new data, an input touched, a changed schema) drops
    * the table and rewrites it (overwrite — idempotent under retry,
    * reference Lab2ETL.py:85's `overwriteOutput` contract); the stamp is
    * written last, so a crashed write is never reused. Tables are
    * EXTERNAL (written with an explicit path): dropping one never deletes
    * files, only the mismatch path does. Per (session, dir, name) the
    * resolved frame is memoized like [[t]].
    * The table name encodes the source dir so sf0.001/0.01/0.1 runs in
    * one JVM never read each other's buckets. At 100 TB `nBuckets` scales
    * to O(cluster cores) — the knob trades file count against per-bucket
    * sort memory; the plan shape is nBuckets-independent.
    */
  private val bucketMemo = new graft.BoundedMemo[
    (SparkSession, String, String, String, Int, Seq[String]), DataFrame](
    MaxMemo)

  /** Name of the input-fingerprint file in a bucketed layout directory. */
  private[graft] val StampFile = "_graft_input_stamp"

  /** The catalog name of a bucketed layout. It encodes EVERY layout
    * parameter (source dir, bucket column, in-bucket sort, bucket count)
    * so two layouts of one table can never collide — in the memo or in
    * the warehouse. */
  private[graft] def bucketTable(dir: String, name: String, bucketCol: String,
      nBuckets: Int, sortCols: Seq[String]): String =
    ("graft_bkt_" + name + "_" + (bucketCol +: sortCols).mkString("_") +
      s"_${nBuckets}_" + java.lang.Integer.toHexString(dir.hashCode))
      .toLowerCase

  def bucketed(spark: SparkSession, dir: String, name: String,
      bucketCol: String, nBuckets: Int = 8,
      sortCols: Seq[String] = Nil): DataFrame =
    bucketMemo.getOrCompute(
      (spark, dir, name, bucketCol, nBuckets, sortCols)) {
      val tbl = bucketTable(dir, name, bucketCol, nBuckets, sortCols)
      val src = t(spark, dir, name)
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + tbl)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = loc.getFileSystem(conf)
      val stampPath = new org.apache.hadoop.fs.Path(loc, StampFile)
      val sorts = bucketCol +: sortCols
      val stamp = (inputStamp(conf, src.inputFiles.toSeq) +: Seq(
        src.schema.toDDL, s"bucket $bucketCol",
        sorts.mkString("sort ", ",", ""), s"buckets $nBuckets"))
        .mkString("\n")
      val stamped = fs.exists(stampPath) && {
        val in = fs.open(stampPath)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == stamp
        finally in.close()
      }
      if (!stamped) {
        // cross-JVM idempotence: a surviving directory from an earlier
        // run (or layout) is deleted before the write, which would
        // otherwise fail LOCATION_ALREADY_EXISTS in a fresh catalog
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        if (fs.exists(loc)) fs.delete(loc, true)
        src
          .repartition(nBuckets, org.apache.spark.sql.functions.col(bucketCol))
          .write.mode("overwrite")
          .option("path", loc.toString)
          .bucketBy(nBuckets, bucketCol)
          .sortBy(bucketCol, sortCols: _*)
          .saveAsTable(tbl)
        val out = fs.create(stampPath, true)
        try out.write(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } else if (!spark.catalog.tableExists(tbl))
        spark.sql(s"CREATE TABLE $tbl (${src.schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($bucketCol) SORTED BY (${sorts.mkString(", ")}) " +
          s"INTO $nBuckets BUCKETS LOCATION '$loc'")
      spark.table(tbl)
    }

  /** The bucketed layouts the driver surface uses, declared ONCE so the
    * query sites ([[bucketedFor]]) and the bench warmup (which
    * pre-builds them so no timed sample pays the one-time write) read
    * the same parameters and cannot drift.
    */
  val bucketedLayouts: Map[String, (String, Seq[String])] = Map(
    "customer" -> (("c_custkey", Nil)),
    "orders" -> (("o_custkey", Nil)),
    "events" -> (("user_id", Seq("ts"))))

  def bucketedFor(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (key, sorts) = bucketedLayouts(name)
    bucketed(spark, dir, name, key, sortCols = sorts)
  }

  /** Header CSV scan with a declared schema (reference Lab2ETL.py:66-68:
    * `csv.DictReader` keys rows by the header). PERMISSIVE mode keeps
    * malformed rows as nulls so the caller can apply the reference's
    * drop-on-parse-failure semantics (Lab2ETL.py:79-80) with a filter.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** Header CSV sink (reference Lab2ETL.py:62-64 writes header then rows).
    * Overwrite mirrors `arcpy.env.overwriteOutput = True` (Lab2ETL.py:85).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Hive-style partitioned parquet sink: one directory per value of
    * `cols` so a reader filtering on them prunes whole directories
    * before any file I/O (PartitionFilters in the scan, not data
    * filters). The 100 TB layout rule: partition on the LOW-cardinality
    * columns every query filters by (date, lang, source-bucket...),
    * never on high-cardinality keys — 10⁶ tiny directories is its own
    * failure mode. Pruning is pinned in `PartitioningSpec`.
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** JSON-Lines scan with a DECLARED schema — the interchange format
    * training-data pipelines actually ship (one document object per
    * line). The explicit schema matters at scale twice over: it skips
    * Spark's whole-corpus inference pass, and it keeps column pruning
    * effective (a pruned read parses only the requested fields per
    * line). PERMISSIVE keeps malformed lines as null rows, same
    * drop-with-a-filter contract as [[csv]]; pass
    * `columnNameOfCorruptRecord` via the schema if the caller wants to
    * quarantine them instead.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .json(path)

  /** JSON-Lines sink (overwrite, one object per line — `spark.write
    * .json` is JSONL by construction; nulls are dropped per field, the
    * format's idiom).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC scan/sink pair — the columnar alternative when the warehouse
    * side is Hive/Trino-centric. Same predicate-pushdown and
    * column-pruning contract as parquet (SourcesSpec pins the
    * round-trip; ORC pushdown uses its own `searchArgument` machinery
    * but the plan shape is identical).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema of the reference's opt-out extract
    * (FIXTURES.md §1.1; reference GSheetsETL_Lab2.py:16-18).
    */
  val optOutSchema: StructType = StructType(Seq(
    StructField("Timestamp", StringType),
    StructField("Street Address", StringType),
    StructField("Zipcode", StringType)))

  /** TABLE COMPACTION — the small-files maintenance pass every
    * streaming/incremental sink eventually needs (a micro-batch sink
    * leaves one file per batch per partition; scans then pay
    * open/footer cost per tiny file). Rewrites `path` into
    * ceil(bytes / targetBytes) files via a round-robin repartition
    * (even output sizes; no semantic ordering is claimed — callers
    * needing clustered layout sort by their z-order key instead, see
    * `zorder_layout`).
    *
    * SCOPE: one FLAT file directory — for a partitioned table, run it
    * per leaf partition directory (compaction is embarrassingly
    * parallel across partitions). A nested layout is REFUSED, not
    * silently flattened: reading `path` recursively while listing only
    * top-level files would duplicate every nested row into the root.
    *
    * Crash safety: the rewrite stages into a sibling directory, the
    * old files are parked in a backup sibling before the staged files
    * move in, and the backup is dropped last — a crash at any point
    * leaves every row present in `path`, `._compact_backup`, or
    * `._compact_staging` (recover by restoring the backup), never
    * silently lost. The swap itself is not atomic for concurrent
    * READERS; like every file-level compactor, pause readers or layer
    * a manifest (Delta/Iceberg) for read-during-compact.
    * Returns (files_before, files_after).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val dir = new java.io.File(path)
    require(dir.isDirectory, s"compact: $path is not a directory")
    def dataFiles = dir.listFiles((_, n) => n.endsWith(".parquet")).toSeq
    require(!dir.listFiles.exists(f => f.isDirectory &&
      !f.getName.startsWith("._compact_")),
      s"compact: $path has nested directories (partitioned layout) — " +
        "compact each leaf partition directory instead")
    val before = dataFiles.size
    require(before > 0, s"compact: no parquet files in $path")
    val totalBytes = dataFiles.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val staging = new java.io.File(path + "._compact_staging")
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(staging.getPath)
    // park the old files (recoverable), move the staged files in,
    // then drop the backup — no window where the data exists nowhere
    val backup = new java.io.File(path + "._compact_backup")
    backup.mkdirs()
    dataFiles.foreach(f => java.nio.file.Files.move(f.toPath,
      new java.io.File(backup, f.getName).toPath))
    staging.listFiles((_, n) => n.endsWith(".parquet") || n == "_SUCCESS")
      .foreach(f => java.nio.file.Files.move(f.toPath,
        new java.io.File(dir, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    staging.listFiles().foreach(_.delete()); staging.delete()
    backup.listFiles().foreach(_.delete()); backup.delete()
    (before, dataFiles.size)
  }
}
