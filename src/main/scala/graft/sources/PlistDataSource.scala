package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import graft.ingest.{ItdbSchema, PlistReader}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftbridge.{Bridge, SerializableHadoopConf}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 plist source (SURVEY §7.3; reference load surface
  * itdbloader.py:96-130): `spark.read.format("plist")` over iTunes Library
  * XML files, one file per input partition — a library is one XML document,
  * so the file is the natural unit of parallelism and N users' libraries
  * load as N parallel tasks with no driver-side parse.
  *
  * Options:
  *   - `element`: tracks (default) | playlists | playlist_tracks
  *   - `userId`:  User_ID of the first file's rows (default 1); the i-th
  *     path, in the order given, gets `userId + i`, so N users' libraries
  *     read together never share a User_ID (their Track_IDs collide)
  *
  * Column pruning is real: the reader materializes ONLY the required
  * fields (the pruned schema flows into PlistReader.rows, which streams
  * the file and skips every other value unparsed), so `select(Name)`
  * never coerces the other ~25 track attributes.
  */
class PlistDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "plist"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PlistDataSource.schemaFor(options.getOrDefault("element", "tracks"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PlistTable(schema)

  override def supportsExternalMetadata(): Boolean = true
}

object PlistDataSource {
  def schemaFor(element: String): StructType = element match {
    case "tracks" => ItdbSchema.tracks
    case "playlists" => ItdbSchema.playlists
    case "playlist_tracks" => ItdbSchema.playlistTracks
    case other => throw new IllegalArgumentException(
      s"unknown plist element '$other' (expected tracks|playlists|playlist_tracks)")
  }

  /** `.load(p)` lands in `path`; `.load(p1, p2, …)` lands in `paths` as a
    * JSON string array — parsed leniently here (quoted segments).
    */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(js)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
    }
    val single = Option(options.get("path")).toSeq
    val all = multi ++ single
    require(all.nonEmpty, "plist source requires a path")
    all
  }
}

class PlistTable(schema: StructType) extends Table with SupportsRead {
  override def name(): String = "plist"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PlistScanBuilder(schema, options)
}

class PlistScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep source field order; drop unrequested fields
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** Accepts the standard comparison/null/string/set filters over top-level
    * columns and evaluates them INSIDE the per-file task, before rows are
    * converted or returned — `select(Name).where(Rating > 80)` materializes
    * only matching tracks. Accepted filters are fully consumed (Spark plans
    * no re-check), so [[PlistFilterEval]] implements exact SQL three-valued
    * semantics; anything it can't guarantee stays a residual for Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(PlistFilterEval.supports(fullSchema, _))
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // the reader must materialize filter-referenced columns even when the
    // projection pruned them; it projects back to `required` post-filter
    val filterCols = pushed.flatMap(_.references).toSet
    val readAll = StructType(fullSchema.fields.filter(f =>
      required.fieldNames.contains(f.name) || filterCols.contains(f.name)))
    PlistScan(
      required, readAll, pushed,
      PlistDataSource.paths(options),
      options.getOrDefault("element", "tracks"),
      options.getOrDefault("userId", "1").toInt,
      new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  }
}

/** Executor-side evaluation of pushed V1 filters over external Rows with
  * exact SQL three-valued logic: `eval` returns None for UNKNOWN (null
  * operands), And/Or combine Kleene-style, and a row is kept only when the
  * conjunction of all pushed filters is definitely TRUE — the same rows a
  * post-scan Filter would keep.
  */
object PlistFilterEval {

  private def comparable(v: Any): Boolean = v match {
    case null => false
    case _: String | _: java.lang.Integer | _: java.lang.Long | _: java.lang.Double |
         _: java.lang.Float | _: java.lang.Short | _: java.lang.Byte |
         _: java.lang.Boolean | _: java.sql.Timestamp | _: java.sql.Date |
         _: java.math.BigDecimal => true
    case _ => false
  }

  def supports(schema: StructType, f: Filter): Boolean = {
    def known(attr: String): Boolean = schema.fieldNames.contains(attr)
    f match {
      case EqualTo(a, v) => known(a) && comparable(v)
      case EqualNullSafe(a, v) => known(a) && (v == null || comparable(v))
      case GreaterThan(a, v) => known(a) && comparable(v)
      case GreaterThanOrEqual(a, v) => known(a) && comparable(v)
      case LessThan(a, v) => known(a) && comparable(v)
      case LessThanOrEqual(a, v) => known(a) && comparable(v)
      case In(a, vs) => known(a) && vs.forall(v => v == null || comparable(v))
      case IsNull(a) => known(a)
      case IsNotNull(a) => known(a)
      case StringStartsWith(a, _) => known(a)
      case StringEndsWith(a, _) => known(a)
      case StringContains(a, _) => known(a)
      case And(l, r) => supports(schema, l) && supports(schema, r)
      case Or(l, r) => supports(schema, l) && supports(schema, r)
      case Not(c) => supports(schema, c)
      case _ => false
    }
  }

  /** Spark orders strings by UTF-8 BYTE order (UTF8String.binaryCompare);
    * Java's String.compareTo orders by UTF-16 code unit, which DISAGREES
    * for non-BMP text (e.g. U+FFFD vs an emoji's surrogate pair). Pushed
    * filters are fully consumed — no post-scan re-check — so the source
    * must reproduce Spark's order exactly.
    */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Both operands share the column's external type (Spark casts literals),
    * so same-class Comparable covers every supported type — except String,
    * which needs Spark's binary order (see [[utf8Compare]]).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: String, y: String) => Some(utf8Compare(x, y))
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      Some(x.asInstanceOf[Comparable[Any]].compareTo(y))
    case (x: java.lang.Number, y: java.lang.Number) =>
      Some(new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString)))
    case _ => None
  }

  def eval(f: Filter, get: String => Any): Option[Boolean] = f match {
    case EqualTo(a, v) => cmp(get(a), v).map(_ == 0)
    case EqualNullSafe(a, v) =>
      val x = get(a)
      if (x == null || v == null) Some(x == null && v == null)
      else cmp(x, v).map(_ == 0)
    case GreaterThan(a, v) => cmp(get(a), v).map(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).map(_ >= 0)
    case LessThan(a, v) => cmp(get(a), v).map(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(a), v).map(_ <= 0)
    case In(a, vs) =>
      val x = get(a)
      if (x == null) None
      else {
        val hits = vs.flatMap(v => cmp(x, v).map(_ == 0))
        if (hits.contains(true)) Some(true)
        // any null in the IN list makes a non-match UNKNOWN, not false
        else if (vs.contains(null) || hits.length < vs.length) None
        else Some(false)
      }
    case IsNull(a) => Some(get(a) == null)
    case IsNotNull(a) => Some(get(a) != null)
    case StringStartsWith(a, p) =>
      Option(get(a)).map(_.asInstanceOf[String].startsWith(p))
    case StringEndsWith(a, s) =>
      Option(get(a)).map(_.asInstanceOf[String].endsWith(s))
    case StringContains(a, s) =>
      Option(get(a)).map(_.asInstanceOf[String].contains(s))
    case And(l, r) => (eval(l, get), eval(r, get)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, get), eval(r, get)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(c) => eval(c, get).map(!_)
    case _ => None // unreachable for supported filters; keep = unknown
  }

  /** keep ⇔ every pushed filter is definitely TRUE. */
  def keeps(filters: Array[Filter], get: String => Any): Boolean =
    filters.forall(f => eval(f, get).contains(true))
}

case class PlistScan(required: StructType, readAll: StructType,
    pushed: Array[Filter], files: Seq[String],
    element: String, userId: Int, conf: SerializableHadoopConf)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.zipWithIndex.map { case (f, i) => PlistFilePartition(f, userId + i) }
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    PlistReaderFactory(required, readAll, pushed, element, conf)
  override def description(): String =
    s"plist element=$element PushedFilters=[${pushed.mkString(", ")}]"
}

/** One library file and the User_ID its rows carry. */
case class PlistFilePartition(path: String, userId: Int) extends InputPartition

case class PlistReaderFactory(required: StructType, readAll: StructType,
    pushed: Array[Filter], element: String,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[PlistFilePartition]
    new PlistPartitionReader(file.path, required, readAll, pushed, element,
      file.userId, conf)
  }
}

class PlistPartitionReader(path: String, required: StructType,
    readAll: StructType, pushed: Array[Filter],
    element: String, userId: Int, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val in = {
    val p = new Path(path)
    p.getFileSystem(conf.value).open(p)
  }
  // lazy: the parse starts in next(), so a malformed file fails on a
  // reader Spark already holds and will close()
  private lazy val rows: Iterator[InternalRow] = {
    val toInternal = Bridge.rowToInternal(required)
    // positions resolved ONCE per partition — the per-row path does only
    // array-indexed gets, no string-keyed lookups or fresh wrappers
    val idx = readAll.fieldNames.zipWithIndex.toMap
    val projIdx: Array[Int] = required.fieldNames.map(idx)
    val boundFilters: Array[(Filter, Map[String, Int])] =
      pushed.map(f => (f, f.references.map(a => a -> idx(a)).toMap))
    PlistReader.rows(in, element, readAll, userId)
      .filter(r => boundFilters.forall { case (f, at) =>
        PlistFilterEval.eval(f, a => r.get(at(a))).contains(true)
      })
      .map { r =>
        val vals = new Array[Any](projIdx.length)
        var i = 0
        while (i < projIdx.length) { vals(i) = r.get(projIdx(i)); i += 1 }
        toInternal(org.apache.spark.sql.Row.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals)))
      }
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
