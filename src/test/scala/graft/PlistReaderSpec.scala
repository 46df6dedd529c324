package graft

import java.nio.file.Files

import graft.ingest.PlistReader

class PlistReaderSpec extends SparkSuite {

  val fixtureXml: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<!DOCTYPE plist PUBLIC "-//Apple//DTD PLIST 1.0//EN" "http://www.apple.com/DTDs/PropertyList-1.0.dtd">
      |<plist version="1.0"><dict>
      | <key>Tracks</key><dict>
      |  <key>101</key><dict>
      |   <key>Track ID</key><integer>101</integer>
      |   <key>Name</key><string>Søng Ñame</string>
      |   <key>Artist</key><string>Artist A</string>
      |   <key>Genre</key><string>Rock</string>
      |   <key>Rating</key><integer>100</integer>
      |   <key>Date Added</key><date>2016-01-02T03:04:05Z</date>
      |   <key>Compilation</key><true/>
      |   <key>Mystery Key</key><string>not in schema</string>
      |  </dict>
      |  <key>102</key><dict>
      |   <key>Track ID</key><integer>102</integer>
      |   <key>Name</key><string>No Rating</string>
      |  </dict>
      | </dict>
      | <key>Playlists</key><array>
      |  <dict>
      |   <key>Playlist ID</key><integer>7</integer>
      |   <key>Name</key><string>Mix</string>
      |   <key>Playlist Persistent ID</key><string>P007</string>
      |   <key>Playlist Items</key><array>
      |    <dict><key>Track ID</key><integer>101</integer></dict>
      |    <dict><key>Track ID</key><integer>102</integer></dict>
      |   </array>
      |  </dict>
      |  <dict>
      |   <key>Playlist ID</key><integer>8</integer>
      |   <key>Name</key><string>Empty</string>
      |   <key>Playlist Persistent ID</key><string>P008</string>
      |  </dict>
      | </array>
      |</dict></plist>""".stripMargin

  test("S1 plist load: tracks/playlists/bridge with types, dates, non-ASCII") {
    val (tracks, playlists, bridge) = PlistReader.load(spark, fixtureXml, userId = 1)
    assert(tracks.count() == 2)
    assert(playlists.count() == 2)
    assert(bridge.count() == 2) // empty playlist contributes no bridge rows

    val t101 = tracks.filter(tracks("Track_ID") === 101).collect().head
    assert(t101.getAs[String]("Name") == "Søng Ñame")
    assert(t101.getAs[Boolean]("Compilation"))
    assert(t101.getAs[java.sql.Timestamp]("Date_Added").toInstant ==
      java.time.Instant.parse("2016-01-02T03:04:05Z"))
    // smoke-count parity with README.md:59 (num_tracks / num_playlists)
    assert(tracks.select("User_ID").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("A12 unknown-key report + width profile (itdbloader.py:170-178,239-247)") {
    val (tracks, _, _) = PlistReader.load(spark, fixtureXml)
    val unknown = PlistReader.missingKeyReport(spark).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(unknown == Map("Mystery Key" -> 1L))

    val widths = PlistReader.profileWidths(tracks).collect().head
    assert(widths.getAs[Long]("len_Name") == "Søng Ñame".length)
  }

  test("schema tolerance: <real> coerces into integral columns (no crash)") {
    val xml =
      """<?xml version="1.0"?><plist version="1.0"><dict>
        | <key>Tracks</key><dict>
        |  <key>7</key><dict>
        |   <key>Track ID</key><integer>7</integer>
        |   <key>Name</key><string>RealRating</string>
        |   <key>Rating</key><real>80.0</real>
        |   <key>Size</key><real>12345.0</real>
        |  </dict>
        | </dict>
        |</dict></plist>""".stripMargin
    val (tracks, _, _) = PlistReader.load(spark, xml)
    val row = tracks.collect().head
    assert(row.getAs[Int]("Rating") == 80)
    assert(row.getAs[Long]("Size") == 12345L)
  }

  test("null-rating track buckets to 0 stars end to end") {
    val (tracks, _, _) = PlistReader.load(spark, fixtureXml)
    val hist = graft.operators.ItdbOps.starsHistogram(tracks, 1)
      .orderBy("Stars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((0L, 1L), (5L, 1L)))
  }

  private def oneTrack(doctype: String, name: String): String =
    s"""<?xml version="1.0"?>
       |$doctype
       |<plist version="1.0"><dict>
       | <key>Tracks</key><dict>
       |  <key>1</key><dict><key>Track ID</key><integer>1</integer>
       |   <key>Name</key><string>$name</string></dict>
       | </dict>
       |</dict></plist>""".stripMargin

  /** Track names of one document, through the driver loader and through
    * the plist data source. */
  private def namesBothWays(xml: String): Seq[Seq[String]] = {
    val f = Files.createTempFile("graft_hardening", ".xml")
    Files.writeString(f, xml)
    Seq(PlistReader.load(spark, xml)._1,
        spark.read.format("plist").load(f.toString))
      .map(_.select("Name").collect().map(_.getString(0)).toSeq)
  }

  test("hardening: an external general entity naming a local file is not expanded") {
    val secret = Files.createTempFile("graft_xxe", ".txt")
    Files.writeString(secret, "TOPSECRET-xxe")
    val xml = oneTrack(
      s"""<!DOCTYPE plist [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""", "a&xxe;b")
    // the reference is dropped, not resolved: the file's text never arrives
    assert(namesBothWays(xml) == Seq(Seq("ab"), Seq("ab")))
  }

  test("hardening: the DOCTYPE's external DTD is never read (Apple's URL parses offline)") {
    // a DTD that fails the parse if it is read at all
    val dtd = Files.createTempFile("graft_plist", ".dtd")
    Files.writeString(dtd, "<!ELEMENT oops")
    for (systemId <- Seq(dtd.toUri.toString,
        "http://www.apple.com/DTDs/PropertyList-1.0.dtd")) {
      val xml = oneTrack(
        s"""<!DOCTYPE plist PUBLIC "-//Apple//DTD PLIST 1.0//EN" "$systemId">""", "Søng")
      assert(namesBothWays(xml) == Seq(Seq("Søng"), Seq("Søng")), systemId)
    }
  }

  test("a malformed file fails the data-source read and leaves no open handle") {
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd to list open files")
    def openOn(f: java.nio.file.Path): Int = {
      val ls = Files.list(fds)
      try ls.toArray.count { fd =>
        try Files.readSymbolicLink(fd.asInstanceOf[java.nio.file.Path]) == f
        catch { case _: java.io.IOException => false } // closed while listed
      } finally ls.close()
    }
    // padded so the parse fails long before the end of the input (at its
    // end the XML parser closes the stream itself)
    val xml = oneTrack("", "Cut").replace("</plist>", s"<!--${"x" * (1 << 20)}-->\n</plist>")
    // a bad end tag in the root dict's first key (fails while the
    // container is sought) and inside the track (fails mid-stream)
    for (key <- Seq("<key>Tracks</key>", "<key>Name</key>")) {
      val f = Files.createTempFile("graft_malformed", ".xml").toRealPath()
      Files.writeString(f, xml.replace(key, key.replace("</key>", "</kex>")))
      val ctl = Files.newInputStream(f) // the check sees an open handle
      try assert(openOn(f) == 1) finally ctl.close()
      intercept[Exception](spark.read.format("plist").load(f.toString).collect())
      assert(openOn(f) == 0, key)
    }
  }
}
