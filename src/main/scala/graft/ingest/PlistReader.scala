package graft.ingest

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import javax.xml.XMLConstants
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** S1 (SURVEY §2.1): Apple-plist library source. The reference parses the
  * whole `iTunes Music Library.xml` into driver memory with plistlib
  * (itdbloader.py:306-310) and flattens Tracks / Playlists / Playlist Items
  * (itdbloader.py:146-223). Here one streaming StAX pass per element does
  * the flatten: it walks the document once, turns each track or playlist
  * dict into a row as it closes, and skips every subtree the element does
  * not need — the Tracks dict when reading playlists, undeclared keys,
  * pruned columns. Memory is one row (one playlist's item ids for the
  * bridge), whatever the library's size. [[rows]] is the one parser: the
  * plist DataSourceV2 source streams it per file on the executors, and
  * [[load]] is the driver-side convenience over an XML string.
  *
  * Schema tolerance mirrors itdbloader.py:159-178: only keys matching the
  * declared schema are loaded; unmatched keys are counted and reported
  * (missingKeyReport ≅ "Perhaps you should update your itdb.sql?",
  * itdbloader.py:239-247).
  */
object PlistReader {
  import XMLStreamConstants.{END_DOCUMENT, END_ELEMENT, START_ELEMENT}

  /** Untrusted input hardening. Real plists carry a DOCTYPE (the Apple DTD
    * reference), so DTDs can't be refused outright; instead the external
    * DTD is never read (and no external access is allowed should anything
    * try), external entities are never resolved (file:// disclosure — the
    * reference is dropped), and the JDK's entity-expansion limits cap
    * recursive internal entities (billion laughs). `newDefaultFactory` is
    * the JDK's own implementation whatever StAX provider the classpath
    * carries, so these properties mean what they say.
    */
  private def newReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, true)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty("http://java.sun.com/xml/stream/properties/ignore-external-dtd", true)
    f.setProperty(XMLConstants.ACCESS_EXTERNAL_DTD, "")
    f.setProperty(XMLConstants.ACCESS_EXTERNAL_SCHEMA, "")
    f.createXMLStreamReader(in)
  }

  /** Moves to the next START_ELEMENT (true) or END_ELEMENT (false),
    * skipping text, comments and processing instructions between tags.
    */
  private def nextTag(r: XMLStreamReader): Boolean = {
    var ev = r.next()
    while (ev != START_ELEMENT && ev != END_ELEMENT) {
      if (ev == END_DOCUMENT) sys.error("truncated plist document")
      ev = r.next()
    }
    ev == START_ELEMENT
  }

  /** At a START_ELEMENT: moves to its matching END_ELEMENT. */
  private def skip(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) if (nextTag(r)) depth += 1 else depth -= 1
  }

  /** At a `<dict>` start: its keys, each returned with the reader at its
    * value's START_ELEMENT. The consumer must read or skip that value
    * through its END_ELEMENT before asking for the next key; the dict is
    * done (at `</dict>`) when no key is left. Children pair up by
    * position, as key then value; a pair whose first element is not a
    * `<key>`, and a trailing key without a value, are dropped.
    */
  private def keys(r: XMLStreamReader): Iterator[String] = new Iterator[String] {
    private var pending: String = null
    private var open = true
    override def hasNext: Boolean = {
      while (open && pending == null) {
        if (!nextTag(r)) open = false
        else {
          val isKey = r.getLocalName == "key"
          val key = if (isKey) r.getElementText else { skip(r); null }
          if (!nextTag(r)) open = false
          else if (isKey) pending = key
          else skip(r)
        }
      }
      pending != null
    }
    override def next(): String = {
      if (!hasNext) throw new NoSuchElementException("no key left in dict")
      val k = pending
      pending = null
      k
    }
  }

  /** At a scalar value's START_ELEMENT: its value (String | Long | Double |
    * Boolean | Timestamp), ending at its END_ELEMENT. A `<dict>` or
    * `<array>` where a scalar column is declared is skipped as null.
    */
  private def scalar(r: XMLStreamReader): Any = r.getLocalName match {
    case "string" | "data" => r.getElementText
    case "integer" => r.getElementText.trim.toLong
    case "real" => r.getElementText.trim.toDouble
    case "true" => skip(r); true
    case "false" => skip(r); false
    case "date" => // ISO-8601 Zulu, e.g. 2016-01-01T12:00:00Z
      Timestamp.from(java.time.Instant.parse(r.getElementText.trim))
    case "dict" | "array" => skip(r); null
    case other => sys.error(s"unsupported plist tag <$other>")
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, IntegerType) => l.toInt
    case (l: Long, LongType) => l
    case (l: Long, DoubleType) => l.toDouble
    // plist <real> into an integral column (schema tolerance: coerce, don't crash)
    case (d: Double, IntegerType) => d.toInt
    case (d: Double, LongType) => d.toLong
    case (d: Double, DoubleType) => d
    case (b: Boolean, BooleanType) => b
    case (s: String, StringType) => s
    case (t: Timestamp, TimestampType) => t
    case (other, StringType) => other.toString
    case (other, _) => other
  }

  /** Keys seen in the plist but absent from the declared schema, with
    * occurrence counts — the reference's missing-column report.
    */
  val lastUnknownKeys: mutable.Map[String, Long] = mutable.Map.empty

  private def countUnknown(keys: Iterable[String]): Unit =
    lastUnknownKeys.synchronized {
      keys.foreach(k => lastUnknownKeys(k) = lastUnknownKeys.getOrElse(k, 0L) + 1)
    }

  /** Reads one track or playlist dict into a row of `schema`. A field
    * `Foo_Bar` takes the plist key `Foo Bar`, else the key `Foo_Bar`; a
    * repeated key keeps its last value; `User_ID` is always `userId`. Values
    * of keys no field takes are skipped unparsed, and counted as unknown
    * when `trackUnknown` — except `consumedElsewhere`.
    */
  private final class DictRows(schema: StructType, userId: Int,
      consumedElsewhere: Set[String], trackUnknown: Boolean) {
    private val names = schema.fieldNames
    private val byPlistKey = names.zipWithIndex.map { case (n, i) => n.replace('_', ' ') -> i }.toMap
    private val byName = names.zipWithIndex.toMap
    private val userIdAt = names.indexOf("User_ID")

    def read(r: XMLStreamReader): Row = {
      val vals = new Array[Any](names.length)
      val viaPlistKey = new Array[Boolean](names.length)
      val unknown = if (trackUnknown) mutable.Set.empty[String] else null
      keys(r).foreach { k =>
        byPlistKey.get(k) match {
          case Some(i) =>
            vals(i) = coerce(scalar(r), schema(i).dataType); viaPlistKey(i) = true
          case None => byName.get(k) match {
            case Some(i) =>
              val v = coerce(scalar(r), schema(i).dataType)
              if (!viaPlistKey(i)) vals(i) = v
            case None =>
              skip(r)
              if (trackUnknown && !consumedElsewhere(k) &&
                  !names.contains(k.replace(' ', '_'))) unknown += k
          }
        }
      }
      if (trackUnknown) countUnknown(unknown)
      if (userIdAt >= 0) vals(userIdAt) = userId
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }
  }

  /** At a playlist dict's start: (User_ID, Playlist_ID, Track_ID) rows of
    * its items, shaped to `schema` (any subset of those fields).
    */
  private def playlistItemRows(r: XMLStreamReader, schema: StructType,
      userId: Int): Iterator[Row] = {
    var pid: Any = null
    val items = mutable.ArrayBuffer.empty[Int]
    keys(r).foreach {
      case "Playlist ID" => pid = coerce(scalar(r), IntegerType)
      case "Playlist Items" if r.getLocalName == "array" =>
        while (nextTag(r)) {
          if (r.getLocalName != "dict") skip(r)
          else {
            var tid: Any = null
            keys(r).foreach {
              case "Track ID" => tid = coerce(scalar(r), IntegerType)
              case _ => skip(r)
            }
            require(tid != null, s"playlist item without a Track ID in playlist $pid")
            items += tid.asInstanceOf[Int]
          }
        }
      case _ => skip(r)
    }
    require(pid != null, "playlist without a Playlist ID")
    items.iterator.map(tid => Row.fromSeq(schema.fieldNames.toIndexedSeq.map {
      case "User_ID" => userId
      case "Playlist_ID" => pid
      case "Track_ID" => tid
    }))
  }

  /** Streams the rows of one logical element ("tracks" | "playlists" |
    * "playlist_tracks") of a plist document, shaped to `schema` — which may
    * be a PRUNED subset of the full ItdbSchema (the DataSourceV2
    * column-pruning path: unrequested fields are never materialized).
    * `trackUnknown=false` keeps executor-side reads from polluting the
    * driver's unknown-key report. The caller closes `in`.
    */
  def rows(in: InputStream, element: String, schema: StructType, userId: Int,
      trackUnknown: Boolean = false): Iterator[Row] = {
    val (container, readOne): (String, XMLStreamReader => Iterator[Row]) = element match {
      case "tracks" =>
        val dicts = new DictRows(schema, userId, Set.empty, trackUnknown)
        "Tracks" -> (r => Iterator.single(dicts.read(r)))
      case "playlists" =>
        // "Playlist Items" is consumed by the bridge flatten, not a lost key
        val dicts = new DictRows(schema, userId, Set("Playlist Items"), trackUnknown)
        "Playlists" -> (r => Iterator.single(dicts.read(r)))
      case "playlist_tracks" =>
        "Playlists" -> (r => playlistItemRows(r, schema, userId))
      case other => throw new IllegalArgumentException(
        s"unknown plist element '$other' (expected tracks|playlists|playlist_tracks)")
    }
    val r = newReader(in)
    // to the START of the root dict's value under `container`, if any
    def seek(): Boolean =
      nextTag(r) && nextTag(r) && r.getLocalName == "dict" && // <plist><dict>
        keys(r).exists(k => k == container || { skip(r); false })
    if (!seek()) { r.close(); Iterator.empty }
    else new Iterator[Row] {
      // Tracks is a dict of id → track dict; Playlists an array of dicts
      private val keyed = r.getLocalName == "dict"
      private var batch: Iterator[Row] = Iterator.empty
      private var open = true
      private def advance(): Unit =
        while (open && !batch.hasNext) {
          if (!nextTag(r)) { open = false; r.close() }
          else if (keyed && r.getLocalName == "key") r.getElementText
          else if (r.getLocalName == "dict") batch = readOne(r)
          else skip(r)
        }
      override def hasNext: Boolean = { advance(); batch.hasNext }
      override def next(): Row = { advance(); batch.next() }
    }
  }

  /** Full library load: plist XML → (tracks, playlists, playlist_tracks).
    * The reference's per-playlist items loop (itdbloader.py:215-220) is the
    * playlist_tracks flatten.
    */
  def load(spark: SparkSession, xml: String, userId: Int = 1):
      (DataFrame, DataFrame, DataFrame) = {
    lastUnknownKeys.clear()
    val bytes = xml.getBytes(StandardCharsets.UTF_8)
    import scala.jdk.CollectionConverters._
    def df(element: String, schema: StructType) =
      spark.createDataFrame(rows(new ByteArrayInputStream(bytes), element, schema,
        userId, trackUnknown = true).toVector.asJava, schema)
    (df("tracks", ItdbSchema.tracks),
      df("playlists", ItdbSchema.playlists),
      df("playlist_tracks", ItdbSchema.playlistTracks))
  }

  /** A12 companion (itdbloader.py:239-247): the unknown-key report of the
    * most recent load, as a DataFrame.
    */
  def missingKeyReport(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("key", StringType),
      StructField("n", LongType)))
    val rows = lastUnknownKeys.toSeq.sortBy(_._1).map { case (k, n) => Row(k, n) }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Ingest-side width profiler (A12, itdbloader.py:170-178): max observed
    * string length per column — one aggregation pass over all columns.
    */
  def profileWidths(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val aggs = stringCols.map(c => max(length(col(c))).cast("long").as(s"len_$c"))
    df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }
}
