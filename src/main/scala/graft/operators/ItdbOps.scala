package graft.operators

import graft.functions.Exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's operators in their LITERAL itdb shape — parameterized by
  * the itdb-schema DataFrames (ingest.ItdbSchema) rather than the harness
  * tables, so unit fixtures can exercise the exact reference semantics
  * (FIXTURES.md §A). The harness-phrased twins live in Library/Scalars.
  */
object ItdbOps {

  /** X1 (itdb2html.py:268-271): star bucket from Rating, NULL → 0. */
  def stars(rating: Column): Column = Exprs.stars(rating)

  /** A6 (itdbloader.py:260-293): per-playlist star histogram — ALL playlists
    * in one join + one aggregation (the reference loops one query per
    * playlist; same results, N+1 queries collapsed to a single shuffle).
    * Output matches playlist_stats (Rating = stars*20, itdbloader.py:292).
    */
  def playlistStats(tracks: DataFrame, playlistTracks: DataFrame): DataFrame =
    tracks.select(col("User_ID"), col("Track_ID"), stars(col("Rating")).as("s"))
      .join(playlistTracks, Seq("User_ID", "Track_ID"))
      .groupBy(col("User_ID"), col("Playlist_ID"),
        Exprs.ratingFromStars(col("s")).cast("int").as("Rating"))
      .agg(count(lit(1)).as("Count"))

  /** A3 (itdb2html.py:388-398): library-wide ratings histogram. */
  def starsHistogram(tracks: DataFrame, userId: Int): DataFrame =
    tracks.filter(col("User_ID") === userId)
      .groupBy(stars(col("Rating")).as("Stars"))
      .agg(count(lit(1)).as("n"))

  /** A4/A5 (itdb2html.py:264-308): grouped star histogram by a dimension
    * (Genre/Artist/Album), null group → ''.
    */
  def groupedHistogram(tracks: DataFrame, userId: Int, dim: String): DataFrame =
    tracks.filter(col("User_ID") === userId)
      .groupBy(coalesce(col(dim), lit("")).as("grp"), stars(col("Rating")).as("Stars"))
      .agg(count(lit(1)).as("n"))

  /** A9+A10 (itdb2html.py:74-110 Grouping): pivot to 6 star buckets and the
    * gated weighted-mean quality, per dimension value.
    */
  def qualityByGroup(tracks: DataFrame, userId: Int, dim: String): DataFrame = {
    val st = stars(col("Rating"))
    val p = tracks.filter(col("User_ID") === userId)
      .groupBy(coalesce(col(dim), lit("")).as("grp"))
      .agg(
        count(when(st === 0, 1)).as("s0"), count(when(st === 1, 1)).as("s1"),
        count(when(st === 2, 1)).as("s2"), count(when(st === 3, 1)).as("s3"),
        count(when(st === 4, 1)).as("s4"), count(when(st === 5, 1)).as("s5"))
    p.withColumn("quality",
      Exprs.quality(col("s0"), col("s1"), col("s2"), col("s3"), col("s4"), col("s5")))
  }

  /** O4 (itdb2html.py:445-458 `shrink`): keep the top-k "best quality"
    * groups among the 2k smallest — sort by total asc → truncate 2k →
    * sort by quality desc → truncate k, ties pinned by group name.
    */
  def shrink(groups: DataFrame, k: Int): DataFrame =
    groups
      .withColumn("total",
        col("s0") + col("s1") + col("s2") + col("s3") + col("s4") + col("s5"))
      .orderBy(col("total").asc, col("grp")).limit(2 * k)
      .orderBy(col("quality").desc, col("grp")).limit(k)

  /** J5 (playlistlinks.py:153-162): one-level folder expansion — children of
    * the named folder playlist.
    */
  def folderChildren(playlists: DataFrame, userId: Int, folderName: String): DataFrame = {
    val p = playlists.filter(col("User_ID") === userId)
    val parents = p.filter(col("Name") === folderName)
      .select(col("Playlist_Persistent_ID").as("ppid"))
    p.join(parents, p("Parent_Persistent_ID") === parents("ppid"))
      .select(col("Playlist_ID"), col("Name"))
  }

  /** J4/F8 (itdbmetadata.py:128-133): video tracks with no ffprobe sidecar —
    * NOT IN as a left anti join.
    */
  def tracksWithoutFfprobe(tracks: DataFrame, ffprobe: DataFrame): DataFrame =
    tracks.filter(col("TV_Show") === true || col("Movie") === true)
      .join(ffprobe.select(col("Persistent_ID")), Seq("Persistent_ID"), "left_anti")

  /** S7 (itdbmetadata.py:170-176): explode an ffprobe JSON doc into one row
    * per stream with its index — posexplode over the parsed array.
    */
  def explodeStreams(ffprobe: DataFrame): DataFrame = {
    val streamsSchema = org.apache.spark.sql.types.DataType.fromDDL(
      "STRUCT<streams: ARRAY<STRUCT<`index`: INT, codec_type: STRING, height: INT, width: INT>>>")
    // each stream row re-serialized to JSON text — the reference stores the
    // json fragment per row (itdbmetadata.py:173-176)
    ffprobe
      .select(col("Persistent_ID"),
        posexplode(from_json(col("ffprobe"), streamsSchema).getField("streams")))
      .select(col("Persistent_ID"), col("pos").as("stream_index"),
        to_json(col("col")).as("stream"))
  }

  /** X16 (itdbmetadata.py:7): wildcard JSON path `$.streams[*].codec_type` —
    * typed parse + transform instead of string-path extraction.
    */
  def codecTypes(ffprobe: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "STRUCT<streams: ARRAY<STRUCT<codec_type: STRING>>>")
    ffprobe.select(col("Persistent_ID"),
      transform(from_json(col("ffprobe"), schema).getField("streams"),
        s => s.getField("codec_type")).as("codec_types"))
  }

  /** A13/X17 (itdbmetadata.py:10-11): max stream height per video, HAVING
    * below a threshold — low-res video report.
    */
  def lowResVideos(streams: DataFrame, maxHeight: Int = 720): DataFrame =
    streams
      .groupBy(col("Persistent_ID"))
      .agg(max(get_json_object(col("stream"), "$.height").cast("int")).as("max_height"))
      .filter(col("max_height").isNotNull && col("max_height") < maxHeight)

  /** J7/U1 (orphaned_files:66-121): both-direction set difference of library
    * locations vs filesystem paths, compared case-insensitively after URL
    * decoding and prefix stripping — missing files and orphan files.
    */
  def orphansAndMissing(libraryLocations: DataFrame, fsPaths: DataFrame): DataFrame = {
    def norm(c: Column): Column =
      lower(url_decode(regexp_replace(c, "^file://(localhost)?", "")))
    val lib = libraryLocations.select(norm(col("location")).as("path")).distinct()
    val fs = fsPaths.select(lower(col("path")).as("path")).distinct()
    val missing = lib.join(fs, Seq("path"), "left_anti")
      .select(lit("missing").as("side"), col("path"))
    val orphans = fs.join(lib, Seq("path"), "left_anti")
      .select(lit("orphan").as("side"), col("path"))
    missing.unionByName(orphans)
  }

  /** O5/O6/X19 (playlistlinks.py:186-221): export numbering — deterministic
    * shuffle (portable hash of the track key), 3-digit sequence prefix, and
    * the %(Genre)s/%(Artist)s-%(Name)s link-path projection. Output is
    * (Track_ID, link_path) followed by the other columns of `tracks`.
    */
  def numberedLinkPaths(tracks: DataFrame, seed: String, startAt: Int = 1): DataFrame = {
    val shuffleKey = md5(concat(lit(seed), col("Track_ID").cast("string")))
    // global ordering is inherent to the export (one numbered sequence per
    // playlist); inputs are single-playlist sized, so the one-task window
    // is the correct plan here, not a scale hazard
    val w = Window.orderBy(shuffleKey)
    tracks
      .withColumn("seq", row_number().over(w) + lit(startAt - 1))
      .select(col("Track_ID") +:
        format_string("%03d-%s/%s-%s",
          col("seq"),
          Exprs.sanitizeFilename(coalesce(col("Genre"), lit(""))),
          Exprs.sanitizeFilename(coalesce(col("Artist"), lit(""))),
          Exprs.sanitizeFilename(col("Name"))).as("link_path") +:
        tracks.columns.toSeq.filter(_ != "Track_ID").map(tracks(_)): _*)
  }

  /** Register the itdb tables as temp views for the ad-hoc SQL surface
    * (§2.11) — `spark.sql("SELECT ... FROM tracks WHERE ...")`.
    */
  def registerItdbViews(tracks: DataFrame, playlists: DataFrame,
      playlistTracks: DataFrame): Unit = {
    tracks.createOrReplaceTempView("tracks")
    playlists.createOrReplaceTempView("playlists")
    playlistTracks.createOrReplaceTempView("playlist_tracks")
  }
}
