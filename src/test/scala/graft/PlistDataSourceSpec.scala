package graft

import org.apache.spark.sql.functions._

/** DataSourceV2 plist source: `spark.read.format("plist")` — file-per-task
  * parallelism, pruned-column materialization, element selection.
  */
class PlistDataSourceSpec extends SparkSuite {
  import spark.implicits._

  private lazy val fixtureFile: String = {
    val xml = new PlistReaderSpec().fixtureXml
    val f = java.nio.file.Files.createTempFile("graft_lib", ".xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    f.toString
  }

  test("tracks element: short name registered, rows typed, userId stamped") {
    val df = spark.read.format("plist").option("userId", "7").load(fixtureFile)
    val rows = df.orderBy("Track_ID").collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[String]("Name") == "Søng Ñame")
    assert(rows.head.getAs[Boolean]("Compilation"))
    assert(rows.forall(_.getAs[Int]("User_ID") == 7))
  }

  test("playlist_tracks element: bridge rows flattened from Playlist Items") {
    val df = spark.read.format("plist")
      .option("element", "playlist_tracks").load(fixtureFile)
    val got = df.collect().map(r =>
      (r.getAs[Int]("Playlist_ID"), r.getAs[Int]("Track_ID"))).toSet
    assert(got == Set((7, 101), (7, 102)))
  }

  test("column pruning reaches the reader: scan schema carries only selected fields") {
    val df = spark.read.format("plist").load(fixtureFile).select("Name")
    assert(df.collect().map(_.getString(0)).toSet == Set("Søng Ñame", "No Rating"))
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("Name"))
  }

  test("two files -> two input partitions (file is the unit of parallelism)") {
    val df = spark.read.format("plist").load(fixtureFile, fixtureFile)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 4)
    // each file is one user's library: the i-th path gets User_ID 1 + i
    val perUser = df.groupBy("User_ID").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perUser == Map(1 -> 2L, 2 -> 2L), s"User_IDs per file: $perUser")
    // so the (User_ID, Track_ID) join never multiplies across users: each
    // user's playlist stats equal the one-file read's
    def stats(paths: String*) = graft.operators.ItdbOps.playlistStats(
        spark.read.format("plist").load(paths: _*),
        spark.read.format("plist").option("element", "playlist_tracks")
          .load(paths: _*))
      .collect().map(r => (r.getAs[Int]("User_ID"), r.getAs[Int]("Playlist_ID"),
        r.getAs[Int]("Rating"), r.getAs[Long]("Count"))).toSet
    val one = stats(fixtureFile)
    val two = stats(fixtureFile, fixtureFile)
    assert(two.filter(_._1 == 1) == one, s"user 1 counts: $two vs $one")
    assert(two.filter(_._1 == 2).map(r => r.copy(_1 = 1)) == one,
      s"user 2 counts: $two vs $one")
  }

  test("filter pushdown: predicate consumed by the scan, no post-scan Filter") {
    val df = spark.read.format("plist").load(fixtureFile)
      .filter(col("Rating") > 50).select("Name")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Søng Ñame"))
    val plan = df.queryExecution.executedPlan
    // the comparison is fully consumed at the source; only the implicit
    // IsNotNull could remain — no FilterExec re-checking Rating > 50
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("GreaterThan(Rating,50)"),
      scans.head.scan.description())
    assert(!plan.toString.contains("GreaterThan(Rating, 50) AND"), plan.toString.take(800))
    // and the filter column was NOT added to the output schema
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("Name"))
  }

  test("filter pushdown: three-valued semantics match Spark's post-scan filtering") {
    // track 102 has NULL Rating/Artist — every predicate shape must keep
    // exactly the rows a post-scan Filter keeps (null → dropped, NOT of
    // null → dropped, IsNull → kept)
    val plain = spark.read.format("plist").load(fixtureFile)
    def viaSource(c: org.apache.spark.sql.Column): Set[Int] =
      plain.filter(c).select("Track_ID").collect().map(_.getInt(0)).toSet
    assert(viaSource(col("Rating") > 50) == Set(101))
    assert(viaSource(!(col("Rating") > 50)) == Set.empty)
    assert(viaSource(col("Rating").isNull) == Set(102))
    assert(viaSource(col("Rating").isNotNull && col("Artist") === "Artist A") == Set(101))
    assert(viaSource(col("Name").startsWith("No") || col("Rating") >= 100) == Set(101, 102))
    assert(viaSource(col("Name").contains("Rating")) == Set(102))
    assert(viaSource(col("Track_ID").isin(101, 102, 999)) == Set(101, 102))
    assert(viaSource(col("Rating") <=> lit(null)) == Set(102))
  }

  test("filter pushdown: string ranges follow Spark's UTF-8 binary order on non-BMP text") {
    // U+FFFD (EF BF BD in UTF-8) sorts BELOW U+1F600 (F0 9F 98 80) in
    // Spark's byte order, but ABOVE it in Java's UTF-16 compareTo — a
    // comparator using compareTo would return different rows pushed-down
    // than not (pushed filters are fully consumed, nothing re-checks)
    val emoji = new String(Character.toChars(0x1F600))
    val xml =
      s"""<?xml version="1.0"?><plist version="1.0"><dict>
         | <key>Tracks</key><dict>
         |  <key>1</key><dict><key>Track ID</key><integer>1</integer>
         |   <key>Name</key><string>�song</string></dict>
         |  <key>2</key><dict><key>Track ID</key><integer>2</integer>
         |   <key>Name</key><string>${emoji}song</string></dict>
         | </dict>
         |</dict></plist>""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_utf8", ".xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    val src = spark.read.format("plist").load(f.toString)
    // Spark's own semantics for each predicate, evaluated WITHOUT pushdown
    // (plain in-memory DataFrame) — the source must return identical rows
    val rows = src.select("Track_ID", "Name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    for (pred <- Seq(col("Name") > emoji, col("Name") < emoji,
        col("Name") >= s"${emoji}song", col("Name") <= "�song")) {
      val viaPushdown = src.filter(pred)
        .select("Track_ID").collect().map(_.getInt(0)).toSet
      val sparkSemantics = rows.toDF("Track_ID", "Name").filter(pred)
        .select("Track_ID").collect().map(_.getInt(0)).toSet
      assert(viaPushdown == sparkSemantics,
        s"pushdown order diverged from Spark semantics for $pred: " +
          s"pushed=$viaPushdown spark=$sparkSemantics")
    }
    assert(rows.size == 2)
  }

  test("equivalence with the driver-side loader") {
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtureFile)), "UTF-8")
    val (tracks, _, bridge) = graft.ingest.PlistReader.load(spark, xml, userId = 1)
    val v2tracks = spark.read.format("plist").load(fixtureFile)
    assert(v2tracks.orderBy("Track_ID").collect().toSeq ==
      tracks.orderBy("Track_ID").collect().toSeq)
    val v2bridge = spark.read.format("plist")
      .option("element", "playlist_tracks").load(fixtureFile)
    assert(v2bridge.orderBy("Track_ID").collect().toSeq ==
      bridge.orderBy("Track_ID").collect().toSeq)
  }
}
