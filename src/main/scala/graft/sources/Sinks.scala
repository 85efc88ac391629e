package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Materialized sinks — the write-side half of a pipeline: hive-style
  * partitioned parquet layouts (partition pruning at read time) and
  * bucketed tables (co-located, shuffle-free joins).
  *
  * Scale rationale: at 100 TB the dominant cost of most queries is the
  * scan, and the two levers a layout controls are (a) WHICH directories a
  * filter has to read at all — `partitionBy` turns a predicate on the
  * partition column into directory pruning before any I/O — and (b)
  * whether a recurring join key needs an exchange — `bucketBy` pins both
  * sides' hash-partitioning into the file layout so the join's shuffle
  * happens ONCE at write time and never again. Both are plain open-format
  * parquet, readable by any engine. */
object Sinks {

  /** This process's sink directory, `graft-sink-<pid>` under
    * java.io.tmpdir: two engine processes on one box never write each
    * other's sinks. A shutdown hook deletes it when the JVM exits, never
    * inside a query. */
  lazy val processRoot: java.io.File = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-sink-${ProcessHandle.current().pid()}")
    sys.addShutdownHook(deleteProcessSinks())
    root
  }

  /** Deletes every sink this process wrote. */
  def deleteProcessSinks(): Unit = deleteTree(processRoot)

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Deterministic per-(tag, source-dir) scratch path in [[processRoot]]
    * — re-runs overwrite in place; sf0.01 and sf0.1 runs never collide. */
  def scratchPath(tag: String, srcDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(srcDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"$processRoot/$tag-$h"
  }

  /** Write `df` as parquet partitioned by `partCols` (hive-style
    * `col=value/` directories) and return the sink path. Overwrites. */
  def writePartitioned(df: DataFrame, tag: String, srcDir: String,
                       partCols: String*): String = {
    val path = scratchPath(tag, srcDir)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(path)
    path
  }

  /** Deterministic per-(tag, source-dir) table name in the session
    * catalog's default database. */
  def tableName(tag: String, srcDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(srcDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"graft_${tag}_$h"
  }

  /** Write `df` as a bucketed+sorted parquet table on `bucketCol` and
    * return the table name. Both sides of a recurring join written this
    * way read back hash-partitioned, so the join plans with NO exchange
    * (asserted by the q168 rung). Overwrites. */
  def writeBucketed(df: DataFrame, tag: String, srcDir: String,
                    bucketCol: String, nBuckets: Int): String = {
    val name = tableName(tag, srcDir)
    val spark = df.sparkSession
    // Overwrite only replaces a table the CATALOG knows about; a fresh
    // session with an orphaned warehouse directory from a previous run
    // fails with LOCATION_ALREADY_EXISTS — drop both the entry and the
    // stray location first (this is a scratch table by construction).
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(wh, name.toLowerCase)
    if (loc.exists()) deleteTree(loc)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(name)
    name
  }

  /** Read back a partitioned sink. */
  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Compact a parquet directory to `nFiles` output files (content
    * unchanged). The small-files problem is the slow death of a 100 TB
    * lake — a day of streaming micro-batches leaves thousands of KB-sized
    * files whose open/footer costs dominate the next scan; periodic
    * compaction to scan-sized files is standard table maintenance.
    * Writes to a sibling `-compact` path and returns it (no in-place
    * rewrite: a failed compaction must never take the source with it). */
  def compact(spark: SparkSession, path: String, nFiles: Int): String = {
    val out = s"$path-compact"
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(out)
    out
  }

  /** Count the data files of a parquet directory (driver-side listing). */
  def dataFileCount(path: String): Long = {
    val d = new java.io.File(path)
    if (!d.isDirectory) 0L
    else d.listFiles().count(f => f.getName.endsWith(".parquet"))
  }

  /** Write `df` range-clustered on `rangeCol` into at most `nFiles`
    * files: rows are range-partitioned and sorted so each output file
    * covers a DISJOINT key interval — the open-format stand-in for
    * cluster-by/z-order, making parquet min/max stats actually prune
    * when the table is filtered on `rangeCol`. Returns the sink path. */
  def writeRangeClustered(df: DataFrame, tag: String, srcDir: String,
                          rangeCol: String, nFiles: Int): String = {
    val path = scratchPath(tag, srcDir)
    df.repartitionByRange(nFiles, df.col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
    path
  }
}
