package graft.ingest

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC sink — the reference's MySQL load path (itdbloader.py:202-237):
  * tables load with `REPLACE INTO` (an existing row with the same PK is
  * replaced — last write wins, file order deciding within a load) or
  * `LOAD DATA ... IGNORE` (the existing row is kept — first write wins).
  *
  * Mapped engine-side rather than per-row: read the current table, union
  * with the incoming batch tagged by batch rank, resolve ONE winner per PK
  * through Upsert's deterministic window, and rewrite the table. The merge
  * is a single shuffle on the PK; `arrival` orders rows WITHIN the
  * incoming batch (the engine analogue of MySQL's file order, which a
  * distributed read cannot observe).
  *
  * Safety properties:
  *   - table existence is decided by JDBC METADATA, not by whether a read
  *     throws — a transient connection failure propagates instead of
  *     silently taking the first-load path (which would drop stored rows);
  *   - the merge lands in a STAGING table first, so the final overwrite of
  *     the target never has the target itself in its lineage — an executor
  *     loss mid-write recomputes from staging, not from the half-dropped
  *     target.
  *
  * Scale notes: the rewrite is a full refresh, matching the reference's
  * loader which rebuilds tables per load (itdbloader.py:180-200 drops and
  * recreates). A true in-place upsert at 100 TB would push
  * `INSERT ... ON DUPLICATE KEY UPDATE` batches down per partition — that
  * path is MySQL-specific and untestable against the embedded JDBC targets
  * available here, so the portable staged overwrite is the shipped default.
  */
object JdbcSink {

  /** REPLACE INTO: every incoming row beats the stored row with its PK;
    * within the batch the highest `arrival` wins.
    */
  def replaceInto(spark: SparkSession, df: DataFrame, pk: Seq[String],
      arrival: Column, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    merge(spark, df, pk, arrival, url, table, options, lastWins = true)

  /** LOAD DATA IGNORE: the stored row (if any) keeps its PK; within the
    * batch the lowest `arrival` wins.
    */
  def insertIgnore(spark: SparkSession, df: DataFrame, pk: Seq[String],
      arrival: Column, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    merge(spark, df, pk, arrival, url, table, options, lastWins = false)

  private def props(options: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    options.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Existence via metadata on a real connection: a connection-level
    * failure THROWS here (never misread as "table missing").
    */
  private def withConnection[A](url: String, options: Map[String, String])
      (f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, props(options))
    try f(conn) finally conn.close()
  }

  /** (schema-or-catalog qualifier, stored name) pairs for `table` in the
    * CONNECTION'S CURRENT namespace. getTables treats `_`/`%` as LIKE
    * wildcards — escape them with the engine's search-string escape so
    * "play_list" can't match "playXlist" — and keep only results whose
    * stored name is a case-variant of the requested table.
    *
    * Scoping matters on a real server: with null catalog/schema patterns a
    * same-named table in ANOTHER database would make tableExists true (the
    * merge then reads an unqualified name from the current schema and
    * fails) and dropIfExists could act on the foreign table. The lookup is
    * therefore pinned to getCatalog/getSchema, falling back to null only
    * when the driver can't report them (pre-4.1 drivers throw on
    * getSchema).
    */
  private def storedNames(conn: java.sql.Connection,
      table: String): Seq[(Option[String], String)] = {
    val md = conn.getMetaData
    val esc = md.getSearchStringEscape
    def escaped(t: String): String =
      t.flatMap(c => if (c == '_' || c == '%') s"$esc$c" else c.toString)
    val cat = try Option(conn.getCatalog).filter(_.nonEmpty)
      catch { case NonFatal(_) => None }
    val sch = try Option(conn.getSchema).filter(_.nonEmpty)
      catch { case NonFatal(_) => None }
    Seq(table, table.toUpperCase, table.toLowerCase).distinct.flatMap { t =>
      // schemaPattern is a LIKE pattern too (catalog is an exact match per
      // JDBC) — escape it, or '_' in the current schema name would match
      // sibling schemas and reintroduce the cross-namespace hit
      val rs = md.getTables(cat.orNull, sch.map(escaped).orNull, escaped(t), null)
      val names = Seq.newBuilder[(Option[String], String)]
      try while (rs.next()) {
        // qualify with the STORED namespace (TABLE_SCHEM; MySQL reports the
        // database as TABLE_CAT with a null schema) so DDL below hits the
        // exact table metadata matched
        val qual = Option(rs.getString("TABLE_SCHEM")).filter(_.nonEmpty)
          .orElse(Option(rs.getString("TABLE_CAT")).filter(_.nonEmpty))
        names += ((qual, rs.getString("TABLE_NAME")))
      } finally rs.close()
      names.result()
    }.distinct.filter(_._2.equalsIgnoreCase(table))
  }

  private def tableExists(conn: java.sql.Connection, table: String): Boolean =
    storedNames(conn, table).nonEmpty

  /** Drop using the engine's STORED qualifier+name and quote character —
    * Spark writes quoted (case-preserved) identifiers while unquoted DDL
    * gets case-normalized, so `DROP TABLE name` unquoted can miss the
    * table Spark just created.
    */
  private def dropIfExists(conn: java.sql.Connection, table: String): Unit = {
    val q = conn.getMetaData.getIdentifierQuoteString
    storedNames(conn, table).foreach { case (qual, name) =>
      val target = qual.fold(s"$q$name$q")(s => s"$q$s$q.$q$name$q")
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $target") finally st.close()
    }
  }

  private def merge(spark: SparkSession, df: DataFrame, pk: Seq[String],
      arrival: Column, url: String, table: String,
      options: Map[String, String], lastWins: Boolean): Unit = {
    val p = props(options)
    val exists = withConnection(url, options)(tableExists(_, table))
    val incoming = df.withColumn("__batch", lit(1))
    val all =
      if (exists)
        spark.read.jdbc(url, table, p)
          .select(df.columns.toIndexedSeq.map(col): _*)
          .withColumn("__batch", lit(0))
          .unionByName(incoming)
      else incoming
    // ordering = (batch, arrival): REPLACE ranks incoming above stored and
    // later arrivals above earlier; IGNORE is the same order ascending
    val ord = struct(col("__batch"), arrival)
    val resolved =
      (if (lastWins) Upsert.replaceLastWins(all, pk, ord)
       else Upsert.ignoreFirstWins(all, pk, ord)).drop("__batch")
    // stage, then rewrite the target FROM the staging table: the final
    // write's lineage reads staging, never the mid-overwrite target.
    // Staging is dropped ONLY after the target write succeeds — on failure
    // it is the sole complete copy of the merge (the recovery source).
    val staging = table + "__graft_staging"
    resolved.write.mode(SaveMode.Overwrite).jdbc(url, staging, p)
    try {
      spark.read.jdbc(url, staging, p).write.mode(SaveMode.Overwrite).jdbc(url, table, p)
    } catch {
      case NonFatal(e) =>
        throw new RuntimeException(
          s"target rewrite of '$table' failed; merged rows preserved in staging table '$staging'", e)
    }
    withConnection(url, options)(dropIfExists(_, staging))
  }
}
