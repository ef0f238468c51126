package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Source/sink operators (SURVEY.md §2.1 S1-S5, §2.2 K1-K2).
  *
  * Scale notes: explicit schemas skip the CSV inference pass (a full extra
  * read at 100 TB); parquet writes are overwrite-mode full refreshes like
  * the reference (data_preparation.py:196); the partitioned fact write
  * keeps `partitionBy(year, month)` so per-period queries prune partitions
  * at the file-index level.
  */
object Io {

  /** S1 — text-line scan: one row per line, single `value` column. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** S2 — CSV with explicit schema + header (no inference pass). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              sep: String = ","): DataFrame =
    spark.read.schema(schema).option("header", "true").option("sep", sep).csv(path)

  /** S3 — CSV header-only: every column lands as string, cast later.
    * The header is read once per file listing, as [[readParquet]] reads
    * the footer once (keyed on the `spark.sql.csv.*` confs). */
  def readCsvUntyped(spark: SparkSession, path: String): DataFrame =
    inferOnce(spark, "csv", Map("header" -> "true"), path,
      "spark.sql.csv." +: InferenceConf)

  /** S4 — parquet scan (glob ok), schema from footer, inferred once per
    * table. The engine's one way to read an existing parquet table.
    *
    * A plain `spark.read.parquet` runs one Spark job per call just to
    * read a footer. Here the first read of a path infers as usual and
    * keeps the schema with [[listingDigest]] of the table's files. A
    * later read passes the kept schema and takes the digest from the new
    * relation's own file index: when it matches, that frame is returned
    * and no job runs; otherwise the path is re-read with inference and
    * the entry replaced. So a read runs no footer job while the table's
    * file listing is unchanged. The kept schema only applies under the
    * same explicitly set `spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive` and
    * partition-type-inference confs (`nanosAsLong`, for one, turns
    * `events.ts` into a long).
    *
    * Spark writers always create new uuid-named part files, so any Spark
    * rewrite of the table misses. A rewrite by another tool that keeps
    * every file's name, length and mtime is not seen. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    inferOnce(spark, "parquet", Map.empty, path,
      Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.") ++ InferenceConf)

  /** Conf prefixes that change any file format's inferred schema. */
  private val InferenceConf =
    Seq("spark.sql.caseSensitive", "spark.sql.sources.partitionColumnTypeInference.")

  /** What inference returned for one path: for which format, under
    * which confs, over which file listing. */
  private final case class Inferred(format: String, conf: Map[String, String],
                                    listing: String, schema: StructType)

  /** One entry per path, a miss replaces it. Bounded, so a stream that
    * reads a new batch dir per trigger does not grow it forever. */
  private val inferred = new java.util.LinkedHashMap[String, Inferred](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Inferred]): Boolean =
      size() > 1024
  }

  private def inferOnce(spark: SparkSession, format: String, options: Map[String, String],
                        path: String, confPrefixes: Seq[String]): DataFrame = {
    def read(schema: Option[StructType]): DataFrame = {
      val r = spark.read.format(format).options(options)
      schema.fold(r)(s => r.schema(s)).load(path)
    }
    val conf = spark.conf.getAll.filter { case (k, _) => confPrefixes.exists(k.startsWith) }
    val kept = inferred.synchronized(Option(inferred.get(path)))
      .filter(k => k.format == format && k.conf == conf)
    kept.flatMap { k =>
      val df = read(Some(k.schema))
      if (listingDigest(df).contains(k.listing)) Some(df) else None
    }.getOrElse {
      val df = read(None)
      listingDigest(df).foreach { d =>
        inferred.synchronized(inferred.put(path, Inferred(format, conf, d, df.schema)))
      }
      df
    }
  }

  /** SHA-256 of the sorted (path, length, mtime) of every leaf file the
    * frame's file relation listed; None when `df` is not a plain scan of
    * a file table. Keys anything derived from a table's current files. */
  private[graft] def listingDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case LogicalRelation(
          HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        val md = MessageDigest.getInstance("SHA-256")
        index.allFiles()
          .map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}\n")
          .sorted.foreach(line => md.update(line.getBytes(UTF_8)))
        Some(java.util.HexFormat.of().formatHex(md.digest()))
      case _ => None
    }

  /** K1 — full-refresh parquet write. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC scan/write — the other columnar interchange format; same
    * pushdown/pruning/vectorized-read properties as parquet (Spark's
    * native orc reader), so pipelines landing in ORC-based warehouses
    * keep scan-level filtering. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSON-lines scan with explicit schema (no inference pass — at
    * 100 TB schema inference is a full extra read) and write — the
    * interchange format of most raw LLM training dumps. Gzip/zstd
    * codecs apply via `option("compression", ...)` upstream; JSON
    * scans split per-line, so even compressed dumps parallelize per
    * file. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Schema-evolution parquet scan: reconcile files written under
    * DIFFERENT schema versions of the same table (columns added over
    * time) into the union schema, older files reading the new columns
    * as null. A long-lived 100 TB table is never one schema — ingest
    * code evolves mid-table — and the alternative (a backfill rewrite
    * of every historical file on each added column) is exactly the
    * kind of full-table churn a lakehouse exists to avoid. Spark reads
    * each file under its own physical schema, so no rewrite and no
    * per-row penalty; the footer-merge planning cost is why this is a
    * separate entry point instead of the readParquet default. */
  def readParquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Quarantining JSON-lines scan: PERMISSIVE parse with the
    * unparseable line captured in `corrupt_col` (null for clean rows)
    * instead of killing the job (FAILFAST) or silently dropping rows
    * (DROPMALFORMED). Raw web/training dumps at 100 TB ALWAYS carry a
    * malformed tail — truncated uploads, mixed encodings, half-written
    * shards — and the curation contract is to route those rows to a
    * quarantine sink with provenance, not to lose them.
    *
    * USAGE CONTRACT: `cache()` (or otherwise materialize) the returned
    * DataFrame BEFORE splitting on `corrupt_col IS NULL`. Spark's JSON
    * reader raises an AnalysisException for any query whose required
    * schema is ONLY the corrupt-record column (e.g. the quarantine fork
    * after column pruning) — a documented Spark limitation, not a graft
    * one; caching materializes the full schema so both forks are safe. */
  def readJsonlQuarantined(spark: SparkSession, path: String,
                           schema: StructType,
                           corruptCol: String = "corrupt_record"): DataFrame = {
    val full = schema.add(corruptCol, org.apache.spark.sql.types.StringType)
    spark.read
      .schema(full)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** K2 — partitioned full-refresh parquet write (fact tables). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.partitionBy(cols: _*).mode("overwrite").parquet(path)

  /** Incremental partitioned write: with dynamic partition overwrite,
    * only partitions present in `df` are replaced — the daily-batch
    * cadence the reference describes (README.md:116-117) without
    * rewriting the historical fact. At 100 TB this is the difference
    * between touching one day and touching three years. */
  def overwritePartitions(df: DataFrame, path: String, cols: String*): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).mode("overwrite").parquet(path)

  /** S6 — distributed file copy (the reference's s3-dist-cp staging
    * steps, dag_immigration.py:115-153: raw data to compute-local
    * storage before the job, outputs back after). The file list is
    * computed on the driver (cheap — metadata only) and the byte copies
    * fan out across the cluster, one task per file group, preserving
    * the relative tree. Returns the number of files copied.
    *
    * Executors build their Hadoop config from the cluster classpath
    * (core-site.xml et al.) exactly as external dist-cp tools do. */
  def distCp(spark: SparkSession, src: String, dst: String,
             partitions: Int = 32): Long = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileUtil, Path}
    val srcPath = new Path(src)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.getFileStatus(srcPath).getPath.toUri
    val it = fs.listFiles(srcPath, true)
    val rel = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(_.isFile)
      .map(st => base.relativize(st.getPath.toUri).getPath)
      .toVector
    if (rel.nonEmpty) {
      spark.sparkContext
        .parallelize(rel, math.min(partitions, rel.size))
        .foreach { r =>
          val conf = new Configuration()
          val s = new Path(s"$src/$r")
          val d = new Path(s"$dst/$r")
          val sfs = s.getFileSystem(conf)
          val dfs = d.getFileSystem(conf)
          dfs.mkdirs(d.getParent)
          FileUtil.copy(sfs, s, dfs, d, false /*deleteSource*/ ,
            true /*overwrite*/ , conf)
        }
    }
    rel.size.toLong
  }

  /** K3 — generic warehouse-load sink, the engine-side twin of the
    * reference's 11 S3ToRedshiftOperator COPY loads with
    * method="REPLACE" (dag_immigration.py:191-331): overwrite mode
    * drops and reloads the target table, making reruns idempotent
    * exactly like the reference's full-refresh loads.
    *
    * Scale: `numPartitions` caps concurrent connections — an unbounded
    * 1000-executor write would open 1000 sessions against the warehouse;
    * batchsize keeps round trips amortized. The serving warehouse is
    * interchangeable (anything with a JDBC driver on the classpath). */
  def writeJdbc(df: DataFrame, url: String, table: String,
                properties: java.util.Properties = new java.util.Properties(),
                numPartitions: Int = 8, batchSize: Int = 10000): Unit =
    df.write.mode("overwrite")
      .option("numPartitions", numPartitions)
      .option("batchsize", batchSize)
      .jdbc(url, table, properties)

  /** JDBC read-back (round-trip checks, serving-layer queries). */
  def readJdbc(spark: SparkSession, url: String, table: String,
               properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, properties)

  /** Range-clustered layout: range-partition on the sort key so each
    * output file covers a disjoint key interval, then sort within each
    * file. Parquet footer min/max stats become tight, so range
    * predicates skip whole row groups (and all-but-the-matching files)
    * at read time — the data-layout half of partition pruning, for keys
    * too fine-grained to be directory partitions (timestamps, ids).
    * At 100 TB this is the difference between scanning one key range
    * and opening every file in the table. */
  def writeSorted(df: DataFrame, path: String, numFiles: Int,
                  sortCols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed catalog-table write: co-locates join/agg keys so repeated
    * joins on the bucket key need no shuffle at all (the 100 TB answer
    * for fact-to-fact joins that can't broadcast). Requires saveAsTable
    * (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetBytes` each, sized from the directory's ACTUAL on-disk
    * footprint (not a guessed partition count). Incremental ingestion
    * — streaming micro-batches, per-trigger appends, dynamic partition
    * overwrites — accretes files far smaller than a scan likes; at
    * 100 TB the footer-open cost alone dominates a read of a
    * million-file table. Run compaction as the post-ingest maintenance
    * pass.
    *
    * Hive-partitioned layouts are PRESERVED: `col=value` directory
    * levels are detected and the rewrite re-applies `partitionBy` on
    * the same columns (hash-distributed so each task compacts a subset
    * of partitions), so downstream partition-pruned reads and dynamic
    * partition overwrites keep working on the compacted table.
    *
    * Swap protocol: the rewrite stages into `<path>__compact_tmp`,
    * then rename(path → __compact_old), rename(tmp → path), delete old.
    * The two renames are NOT one atomic step — a reader in the gap can
    * see the path briefly absent (retry-on-miss semantics), and a crash
    * in the gap leaves data parked in `__compact_old`. Every rename is
    * return-checked (a false return aborts loudly with the recovery
    * path named), and the NEXT compact() call on the same path repairs
    * a crashed swap first: a stranded `__compact_old` with no live
    * table is restored before anything else runs, so no data is ever
    * more than one rename from recoverable. Returns the output file
    * count. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20): Long = {
    import org.apache.spark.sql.functions.col
    require(targetBytes > 0, "compact: targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    // crash recovery from a previous interrupted swap: table gone but
    // the parked copy present → restore it; table present AND a stale
    // parked copy → the crash hit after the second rename, drop the park
    if (fs.exists(old)) {
      if (!fs.exists(hPath)) {
        if (!fs.rename(old, hPath))
          throw new java.io.IOException(
            s"compact: recovery rename $old -> $hPath failed; data is in $old")
      } else fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)   // stale staging from a crash
    val partCols = hivePartitionColumns(fs, hPath)
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    val reread = spark.read.parquet(path)
    val writer =
      if (partCols.isEmpty) reread.repartition(nFiles.toInt).write
      else reread.repartition(nFiles.toInt, partCols.map(col): _*)
        .write.partitionBy(partCols: _*)
    writer.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(
        s"compact: rename $hPath -> $old failed; table is untouched, staging in $tmp")
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(
        s"compact: rename $tmp -> $hPath failed; ORIGINAL DATA IS IN $old " +
          "(next compact() on this path restores it)")
    fs.delete(old, true)
    nFiles
  }

  /** The `col=value` directory chain under `root`, outermost first —
    * empty for a leaf (unpartitioned) parquet directory. Walks the
    * first partition branch only: Spark writes a uniform depth. */
  private def hivePartitionColumns(fs: org.apache.hadoop.fs.FileSystem,
                                   root: org.apache.hadoop.fs.Path): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = root
    var descend = true
    while (descend) {
      val sub = fs.listStatus(cur)
        .filter(_.isDirectory)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .filter(_.getName.contains("="))
      if (sub.nonEmpty) { names += sub.head.getName.split("=", 2)(0); cur = sub.head }
      else descend = false
    }
    names.toSeq
  }

  /** ~1M distinct values ranked per range bucket: tens of MB of sort
    * working set per task, small enough to never spill. */
  private[io] val ZTargetPerBucket = 1L << 20
  /** Bucket ceiling: bounds the per-bucket (pid, count) driver collect
    * at ~64 KB of longs no matter the key cardinality. */
  private[io] val ZMaxBuckets = 4096

  /** Distributed rank→16-bit-code dictionary for one z-order key (see
    * [[writeZOrdered]]). Returns (codes keyed `__v_c`/`__r_c`, distinct
    * count, the cached range-partitioned relation for the caller to
    * unpersist once the codes are consumed). */
  private[io] def zRankCodes(df: DataFrame, c: String,
                             targetPerBucket: Long = ZTargetPerBucket)
      : (DataFrame, Long, DataFrame) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // cache the distinct dictionary once: the cardinality probe reads
    // it, then the range shuffle re-reads it — the corpus is scanned
    // exactly once either way
    val dv = df.select(col(c)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distinctN = dv.count()
    val buckets = math.min(ZMaxBuckets.toLong,
      math.max(64L, (distinctN + targetPerBucket - 1) / targetPerBucket)).toInt
    // range partition keeps global value order across partition ids;
    // nulls sort first (partition 0), matching nulls-first rank order
    val parted = dv
      .repartitionByRange(buckets, col(c))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded collect: one (pid, count) row per range partition
    val counts = parted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    dv.unpersist(blocking = false)   // parted is materialized now
    val total = counts.map(_._2).sum
    val offsets = counts.scanLeft((0, 0L)) { case ((_, off), (pid, n)) =>
      (pid, off + n)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    val wIn = Window.partitionBy("__pid").orderBy(col(c))
    val denom = math.max(1L, total - 1L).toDouble
    val ranked = parted
      .withColumn("__rk", row_number().over(wIn))
      .join(broadcast(offsetsDf), "__pid")
      .select(col(c).as(s"__v_$c"),
        (((col("__off") + col("__rk") - lit(1L)).cast("double") / denom)
          * 65535).cast("int").as(s"__r_$c"))
    (ranked, total, parted)
  }

  /** Z-order-clustered layout: interleave the bits of two integer sort
    * keys into one Morton code and range-partition + sort on it — rows
    * close in EITHER dimension land in the same files, so parquet
    * min/max stats stay tight on BOTH columns and range predicates on
    * either key skip files. [[writeSorted]] clusters one dimension
    * perfectly and leaves the other shuffled; Z-ordering is the
    * standard multi-dimensional compromise (Databricks OPTIMIZE
    * ZORDER, Iceberg sort orders). Keys are rank-normalized first
    * (exact dense rank over the distinct-value domain → 16-bit codes)
    * so skewed value domains still interleave evenly; the corpus itself
    * only shuffles once for the final range partition.
    *
    * The rank itself is computed distributed, never through a global
    * single-partition window: the distinct values are range-partitioned
    * (global order across partition index), ranked with a
    * per-partition window, and stitched with per-partition row-count
    * offsets. The range-bucket count derives from the key's measured
    * cardinality — ~[[ZTargetPerBucket]] distinct values per bucket,
    * floored at 64 (small dictionaries keep yesterday's parallelism)
    * and capped at [[ZMaxBuckets]] — so a billion-value key fans the
    * rank sort across ~1000 tasks instead of funneling through a fixed
    * 64. The only driver-side state is one row count per range
    * partition (≤ [[ZMaxBuckets]] longs — bounded regardless of corpus
    * size), so the scheme survives z-order keys of any cardinality; a
    * `Window.orderBy` over the distinct set would serialize billions of
    * values through one task at 100 TB.
    *
    * NULL keys are preserved: the rank joins are null-safe (`<=>`), so
    * a NULL in either z-order column ranks as its own group (first, per
    * Spark's nulls-first ordering) instead of being dropped — a layout
    * rewrite must never lose rows. */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
                    colA: String, colB: String): Unit = {
    import org.apache.spark.sql.functions._
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // dictionaries up to ~5M distinct values broadcast comfortably;
    // beyond that fall back to a shuffled join rather than OOM the driver
    val broadcastableDict = 5L * 1000 * 1000
    def hinted(c: String): DataFrame = {
      val (codes, total, cached) = zRankCodes(df, c)
      persisted += cached
      if (total <= broadcastableDict) broadcast(codes) else codes
    }
    val withRanks = df
      .join(hinted(colA), col(colA) <=> col(s"__v_$colA"))
      .join(hinted(colB), col(colB) <=> col(s"__v_$colB"))
    // interleave 16-bit ranks into a 32-bit Morton code
    val z = (0 until 16).map { i =>
      (shiftright(col(s"__r_$colA"), i).bitwiseAND(lit(1)) * lit(1L << (2 * i + 1))) +
        (shiftright(col(s"__r_$colB"), i).bitwiseAND(lit(1)) * lit(1L << (2 * i)))
    }.reduce(_ + _)
    try {
      withRanks.withColumn("__z", z)
        .repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", s"__v_$colA", s"__r_$colA", s"__v_$colB", s"__r_$colB")
        .write.mode("overwrite").parquet(path)
    } finally persisted.foreach(_.unpersist(blocking = false))
  }
}
