package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness-table access layer.
  *
  * The reference keeps all state in four MySQL tables plus JSON sidecars
  * (itdb.sql:14-114; itdbmetadata.py:107-125) and every query starts from a
  * table scan with a mandatory `User_ID` partition filter. Here the tables
  * are the driver's parquet star schema (TESTDATA.md); each accessor is a
  * plain columnar parquet scan so Catalyst can push filters/projections down
  * into the scan (PushedFilters / ReadSchema) — the Spark-native analogue of
  * MySQL delegating to its storage engine.
  *
  * At 100 TB these reads stay valid: parquet is splittable, the scans carry
  * no driver-side work, and nothing below ever calls collect() on a fact
  * table.
  */
object Tables {
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  /** events.parquet has shipped under three `ts` encodings over time:
    * TIMESTAMP(NANOS) (arrives as nanos-since-epoch LongType under
    * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ), and plain
    * TIMESTAMP. A production events source reads whatever the footer
    * declares — the reference's loader likewise introspects the live
    * schema before loading (itdbloader.py:249-258) — so ingestion
    * branches on the ARRIVED type instead of assuming one encoding.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(read(spark, dir, "events"))

  /** Normalize an events `ts` column to TimestampType regardless of which
    * parquet encoding it arrived as. All engine sessions pin
    * spark.sql.session.timeZone=UTC, so the NTZ→LTZ cast is
    * value-preserving (same wall-clock instant, micros intact).
    */
  private[graft] def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(c).dataType match {
      // integer division: `/` on longs promotes to double, and nano epochs
      // (~1.7e18) exceed double's 2^53 exact range — `div` keeps it exact
      case LongType => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(
        org.apache.spark.sql.types.TimestampType))
      case _ => df // already TIMESTAMP — pass through
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** A table's parquet scan under the schema of its first data file's
    * footer, resolved on the driver (Spark's own conversion, under the
    * session conf — [[footerSchema]]): `spark.read.parquet` would run a
    * schema-inference job per read to get the same schema. A path with
    * no data file of its own (an empty or partitioned directory) keeps
    * Spark's inference.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    footerSchema(spark, p).fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
  }

  /** The schema Spark infers for the parquet file or flat directory `p`,
    * read from one footer by Spark's non-merging rule
    * (`ParquetUtils.inferSchema`): the first data file by name, where
    * names starting with `_` or `.` are not data. None, so Spark infers,
    * when `p` is missing or has a subdirectory or no data file, when it
    * holds a `_metadata`/`_common_metadata` summary (which that rule
    * reads first), or when the session merges parquet schemas.
    */
  private[graft] def footerSchema(spark: SparkSession,
      p: String): Option[org.apache.spark.sql.types.StructType] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = if (fs.exists(path)) fs.listStatus(path).toSeq else Nil
    val names = files.map(_.getPath.getName)
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
        files.exists(_.isDirectory) ||
        names.exists(n => n == "_metadata" || n == "_common_metadata")) None
    else files.filterNot { f =>
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.sortBy(_.getPath.getName).headOption.flatMap(org.apache.spark.sql.execution
      .datasources.parquet.graftbridge.ParquetBridge.footerSchema(spark, _))
  }

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so arbitrary user SQL runs against
    * them — the reference's ad-hoc pass-through surface (sql_to_playlist:58-71,
    * playlistlinks.py:177-184 `--where`) requires a full SQL entry point.
    *
    * Memoized on the LAST dir registered per session — temp views are
    * session-global, so the cache key must be too: after registering dirB,
    * a later call for dirA must re-register (a (session, dir) keyed cache
    * would silently leave dirB's views in place). Skipping only the
    * repeated same-dir call still removes the ~10 parquet footer
    * resolutions that dominated the ad-hoc query when paid per call.
    * `events` registers through the converting accessor so SQL users see a
    * real timestamp, not the raw nanos long.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    // per-session lock: registration does ~10 footer reads, and a global
    // lock would serialize unrelated sessions through that I/O. Both the
    // lock and the last-registered-dir marker live in SessionCache so a
    // stopped session's entries are evicted instead of retained forever.
    val lock = SessionCache.getOrElseUpdate(spark, "registerViewsLock")(new Object)
    lock.synchronized {
      if (!SessionCache.get[String](spark, "registeredDir").contains(dir)) {
        all.foreach { t =>
          val df = if (t == "events") events(spark, dir) else read(spark, dir, t)
          df.createOrReplaceTempView(t)
        }
        SessionCache.put(spark, "registeredDir", dir)
      }
    }
  }
}
