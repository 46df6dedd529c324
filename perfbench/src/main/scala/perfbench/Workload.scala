package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A benchmark workload: set-up work, then the same operation list once per
  * pass. Every call goes through the library's public entry points. */
trait Workload {
  /** Session-level set-up timed into setup_s; returns the ms spent reading
    * tables (the `Tables` layer), 0 when the workload reads none. */
  def setup(): Double
  def ops(pass: Int): Seq[Op]
  /** Called with each operation's pass-0 output, outside the timed span. */
  def keep(op: String, output: Any): Unit
  /** Untimed housekeeping after a pass. */
  def afterPass(pass: Int): Unit = ()
  /** Workload-specific per-pass counters for the traced run. */
  def passCounters(pass: Int): Map[String, Double] = Map.empty
  /** Untimed, after the last pass: write the pass-0 outputs the check reads. */
  def verify(): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, out: String): Workload =
    name match {
      case "library_refresh" => new LibraryRefresh(spark, in, out)
      case "curation_batch" => new CurationBatch(spark, in, out)
      case "index_maintenance" => new IndexMaintenance(spark, in, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** The reference lifecycle on one generated iTunes library: load the XML
  * through the plist data source and materialize playlist_stats, then the
  * pages and exports the site is built from, then ad-hoc MySQL-dialect
  * selections. Inputs: IN/library.xml and IN/ops.json (which playlists to
  * page and export, and the SQL text). */
final class LibraryRefresh(spark: SparkSession, in: String, out: String) extends Workload {
  import graft.ItdbPipeline

  private val xml = new File(in, "library.xml").getAbsolutePath
  private val spec = Workload.mapper.readValue(new File(in, "ops.json"), classOf[Map[String, Any]])
  private val pages = spec("pages").asInstanceOf[Seq[String]]
  private val sqls = spec("sql").asInstanceOf[Map[String, String]].toSeq.sortBy(_._1)
  private var lib: ItdbPipeline.Library = _
  private val kept = mutable.LinkedHashMap.empty[String, Any]

  def setup(): Double = 0.0

  private def exportDir(pass: Int): File = {
    val d = new File(out, s"exports/pass$pass")
    d.mkdirs()
    d
  }

  /** An export writes one file; its output is the written file. */
  private def exportOp(name: String, pass: Int, ext: String)(write: String => Unit): Op =
    Op.action(name, "emit") {
      val f = new File(exportDir(pass), s"$name.$ext")
      write(f.getAbsolutePath)
      f.toPath
    }

  def ops(pass: Int): Seq[Op] =
    Seq(
      Op("load", "sources", c => {
        lib = c.phase("build")(ItdbPipeline.loadFiles(spark, Seq(xml)))
        c.builtNs = System.nanoTime()
        c.phase("exec")(lib.playlistStats.collect())
      }),
      Op.frame("library_stats", "itdb")(ItdbPipeline.libraryStats(lib, 1))) ++
    pages.zipWithIndex.flatMap { case (p, i) => Seq(
      Op.frame(s"page_$i", "itdb")(ItdbPipeline.playlistPage(lib, 1, p)),
      exportOp(s"m3u_$i", pass, "m3u")(ItdbPipeline.exportPlaylist(lib, 1, p, _)),
      exportOp(s"html_$i", pass, "html")(ItdbPipeline.exportPlaylistPage(lib, 1, p, _)),
      exportOp(s"script_$i", pass, "applescript")(ItdbPipeline.exportPlaylistScript(lib, 1, p, _)))
    } ++
    sqls.map { case (k, q) =>
      Op.frame(s"sql_$k", "sqlsurface")(graft.sqlsurface.MySqlDialect.sql(spark, q)) }

  def keep(op: String, output: Any): Unit = kept(op) = output match {
    case rows: Array[Row] => rows.map(_.toSeq).toSeq
    case file: Path => Files.readString(file)
  }

  override def passCounters(pass: Int): Map[String, Double] = Map(
    "emit.bytes_written" -> exportDir(pass).listFiles().map(_.length).sum.toDouble,
    "sources.xml_bytes" -> new File(xml).length.toDouble)

  override def afterPass(pass: Int): Unit = {
    // a refresh replaces the previous load: drop its cached aggregate
    if (lib != null) lib.playlistStats.unpersist(blocking = true)
    if (pass > 0) Workload.deleteTree(exportDir(pass).toPath)
  }

  def verify(): Unit =
    Files.writeString(Paths.get(out, "outputs.json"), Workload.mapper.writeValueAsString(kept))
}

/** Fresh byte copies of a table directory, one per pass, under
  * OUT/replica/passN. SessionCache is keyed by directory, so a pass on its
  * own copy starts with empty caches and builds its projections again,
  * while the bytes, and so the oracle answers, stay the same. */
final class Replicas(base: File, out: String) {
  def dir(pass: Int): String = {
    val d = new File(out, s"replica/pass$pass")
    if (!d.exists()) {
      d.mkdirs()
      base.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, new File(d, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    d.getAbsolutePath
  }

  /** Untimed: drop pass `pass`'s copy (never pass 0's, which the set-up
    * read) and make the next pass's. */
  def advance(pass: Int): Unit = {
    if (pass > 0) Workload.deleteTree(new File(out, s"replica/pass$pass").toPath)
    dir(pass + 1)
  }

  /** Set-up: the tables and views of pass 0's copy; returns the ms spent. */
  def setup(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val d = dir(0)
    graft.Tables.all.foreach(t => graft.Tables.read(spark, d, t).schema)
    graft.Tables.registerViews(spark, d)
    (System.nanoTime() - t0) / 1e6
  }
}

/** `SparkEntry.queries` operations. Each is timed from its call to the end
  * of a full `collect()`; the pass-0 results are written, untimed, as
  * parquet next to their `SparkEntry.oracleSql`, the layout the
  * repository's oracle checker reads. */
final class Gates(spark: SparkSession, out: String) {
  private val kept = mutable.LinkedHashMap.empty[String, Array[Row]]
  private val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

  def op(g: String, dir: String, pass: Int): Op = {
    val fn = graft.SparkEntry.queries(g)
    Op(g, Gates.module(g.takeWhile(_.isLetter)), c => {
      val df = c.phase("build")(fn(spark, dir))
      c.builtNs = System.nanoTime()
      if (pass == 0) schemas(g) = df.schema
      c.phase("exec")(df.collect())
    })
  }

  def has(op: String): Boolean = schemas.contains(op)

  def keep(op: String, output: Any): Unit = kept(op) = output.asInstanceOf[Array[Row]]

  def write(): Unit = {
    val dir = new File(out, "results")
    kept.foreach { case (g, rows) =>
      spark.createDataFrame(rows.toSeq.asJava, schemas(g)).coalesce(1)
        .write.mode("overwrite").parquet(new File(dir, g).getAbsolutePath)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => kept.contains(k) }
    dir.mkdirs()
    Files.writeString(new File(dir, "oracle_sql.json").toPath,
      Workload.mapper.writeValueAsString(oracle))
  }
}

object Gates {
  /** The operator module of each gate family the workloads run. */
  val module: Map[String, String] = Map("d" -> "dedup", "s" -> "similarity",
    "t" -> "textanalysis", "m" -> "multimodal", "a" -> "library", "w" -> "library",
    "x" -> "scalars", "e" -> "emit")
}

/** The read-only detection and search gates of the curation families (d, s,
  * t, m) over a generated table set, each pass on its own replica.
  * Inputs: the parquet files under IN/tables and IN/ops.json (the gate
  * names). */
final class CurationBatch(spark: SparkSession, in: String, out: String) extends Workload {
  private val spec = Workload.mapper.readValue(new File(in, "ops.json"), classOf[Map[String, Any]])
  private val names = spec("gates").asInstanceOf[Seq[String]]
  private val replicas = new Replicas(new File(in, "tables"), out)
  private val gates = new Gates(spark, out)

  def setup(): Double = replicas.setup(spark)

  def ops(pass: Int): Seq[Op] = {
    val dir = replicas.dir(pass)
    names.map(gates.op(_, dir, pass))
  }

  def keep(op: String, output: Any): Unit = gates.keep(op, output)

  override def afterPass(pass: Int): Unit = replicas.advance(pass)

  def verify(): Unit = gates.write()
}

/** Writes next to reads, each pass on its own replica and under its own
  * table names (prefix benchN_). A pass builds and saves a near-dup index
  * over the documents minus the held-out shards, streams the shards into it
  * (`EventsStream.runIngestNearDup`), saves the label state and streams the
  * takedown requests through it (`EventsStream.runTakedownStream`, which
  * fans out through `Takedown`), writes, retracts and diffs corpus trees
  * (`CorpusWriter`, through the e1-e3 gates), and runs a slice of the
  * report family, one query per `plans` aggregate (HLL, percentile
  * sketch, top-k) plus a `Tables`-scan aggregate and a scalar roundtrip.
  * Inputs: IN/tables, IN/shards and IN/takedown (parquet) and IN/ops.json
  * (the gate names). */
final class IndexMaintenance(spark: SparkSession, in: String, out: String) extends Workload {
  import graft.operators.Dedup
  import graft.streaming.EventsStream
  import org.apache.spark.sql.functions.col

  private val spec = Workload.mapper.readValue(new File(in, "ops.json"), classOf[Map[String, Any]])
  private val names = spec("gates").asInstanceOf[Seq[String]]
  private val shardDir = new File(in, "shards").getAbsolutePath
  private val takedownDir = new File(in, "takedown").getAbsolutePath
  private val replicas = new Replicas(new File(in, "tables"), out)
  private val gates = new Gates(spark, out)
  private val kept = mutable.Map.empty[String, Array[Row]]
  private val warehouse = new File(out, "warehouse")
  private val corpusTmp = new File(sys.props("java.io.tmpdir"))

  def setup(): Double = replicas.setup(spark)

  private def rows(df: DataFrame, cols: String*): Array[Row] = df.select(cols.map(col): _*).collect()

  def ops(pass: Int): Seq[Op] = {
    val dir = replicas.dir(pass)
    val px = s"bench${pass}_"
    def docs = graft.Tables.documents(spark, dir)
    def shards = spark.read.parquet(shardDir)
    Seq(
      Op.action("index_build", "dedup") {
        val base = docs.join(shards.select("doc_id"), Seq("doc_id"), "left_anti")
        Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(base), px + "ix", buckets = 4)
        rows(spark.table(px + "ix_banded"), "doc_id", "band", "bkey")
      },
      Op.action("ingest_neardup", "streaming")(rows(
        EventsStream.runIngestNearDup(spark, shardDir, px + "ix", name = px + "ing"),
        "id_a", "id_b", "jaccard")),
      Op.action("label_save", "dedup") {
        Dedup.saveLabelState(spark, px + "lab", Dedup.labelStateOf(docs))
        rows(spark.table(px + "lab"), "doc_id", "cluster", "qlen")
      },
      Op.action("takedown_stream", "takedown")(rows(
        EventsStream.runTakedownStream(spark, takedownDir, px + "ix", px + "lab", docs,
          name = px + "td"),
        "doc_id", "cluster", "qlen"))) ++
    names.map(gates.op(_, dir, pass))
  }

  def keep(op: String, output: Any): Unit =
    if (gates.has(op)) gates.keep(op, output)
    else kept(op) = output.asInstanceOf[Array[Row]]

  private def treeBytes(roots: Seq[File]): Double =
    roots.filter(_.exists).flatMap(r => Files.walk(r.toPath).iterator().asScala)
      .filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum

  private def corpusTrees: Seq[File] =
    Option(corpusTmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_corpus_gate_"))

  override def passCounters(pass: Int): Map[String, Double] = {
    val tables = Option(warehouse.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"bench${pass}_"))
    Map(
      "emit.corpus_bytes" -> treeBytes(corpusTrees),
      "warehouse.files" -> tables.flatMap(t => Files.walk(t.toPath).iterator().asScala)
        .count(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toDouble,
      "shards.bytes" -> treeBytes(Seq(new File(shardDir))))
  }

  override def afterPass(pass: Int): Unit = {
    // a pass's tables and corpus trees are not read again
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(s"bench${pass}_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    corpusTrees.foreach(t => Workload.deleteTree(t.toPath))
    replicas.advance(pass)
  }

  /** Untimed: the oracle gates' results, and the streaming identities,
    * whose failures go to checks.json as {op: reason}. Streamed ingest
    * pairs must equal the one-shot `Dedup.deltaNearDups` of all shards
    * against an index of the rest; the label state after the takedown
    * stream must equal the one-shot label state of the corpus without the
    * removed documents. */
  def verify(): Unit = {
    gates.write()
    val dir = replicas.dir(0)
    val docs = graft.Tables.documents(spark, dir)
    val shards = spark.read.parquet(shardDir)
    val removed = spark.read.parquet(takedownDir).select("doc_id")
    val base = docs.join(shards.select("doc_id"), Seq("doc_id"), "left_anti")
    val want = Map(
      "index_build" -> rows(Dedup.buildNearDupIndex(base).banded, "doc_id", "band", "bkey"),
      "ingest_neardup" -> rows(Dedup.deltaNearDups(shards, Dedup.buildNearDupIndex(base)),
        "id_a", "id_b", "jaccard"),
      "label_save" -> rows(Dedup.labelStateOf(docs), "doc_id", "cluster", "qlen"),
      "takedown_stream" -> rows(Dedup.labelStateOf(docs.join(removed, Seq("doc_id"), "left_anti")),
        "doc_id", "cluster", "qlen"))
    val bad: Map[String, String] = want.toSeq.flatMap { case (op, w) =>
      val got = kept.getOrElse(op, Array.empty[Row])
      val (g, ws) = (got.toSet, w.toSet)
      if (g == ws && got.length == g.size) None
      else Some(op -> (s"${got.length} rows, want ${ws.size} (${(ws -- g).size} missing, " +
        s"${(g -- ws).size} unexpected, ${got.length - g.size} duplicated)"))
    }.toMap
    Files.writeString(Paths.get(out, "checks.json"), Workload.mapper.writeValueAsString(bad))
  }
}
