package graft

import graft.sqlsurface.MySqlDialect
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import java.nio.file.Files
import scala.collection.mutable

class PipelineSpec extends SparkSuite {

  val xml: String =
    """<?xml version="1.0"?><plist version="1.0"><dict>
      | <key>Tracks</key><dict>
      |  <key>1</key><dict><key>Track ID</key><integer>1</integer><key>Name</key><string>Alpha</string>
      |    <key>Artist</key><string>Ann</string><key>Album</key><string>One</string>
      |    <key>Genre</key><string>Rock</string><key>Rating</key><integer>100</integer>
      |    <key>Persistent ID</key><string>AAAA0001</string>
      |    <key>Location</key><string>file://localhost/m/alpha.mp3</string></dict>
      |  <key>2</key><dict><key>Track ID</key><integer>2</integer><key>Name</key><string>Beta</string>
      |    <key>Artist</key><string>Bob</string><key>Album</key><string>One</string>
      |    <key>Genre</key><string>Rock</string><key>Rating</key><integer>60</integer>
      |    <key>Persistent ID</key><string>AAAA0002</string>
      |    <key>Location</key><string>file://localhost/m/beta.mp3</string></dict>
      |  <key>3</key><dict><key>Track ID</key><integer>3</integer><key>Name</key><string>Gamma</string>
      |    <key>Artist</key><string>Ann</string><key>Album</key><string>Two</string></dict>
      | </dict>
      | <key>Playlists</key><array>
      |  <dict><key>Playlist ID</key><integer>7</integer><key>Name</key><string>Mix</string>
      |   <key>Playlist Persistent ID</key><string>P007</string>
      |   <key>Playlist Items</key><array>
      |    <dict><key>Track ID</key><integer>1</integer></dict>
      |    <dict><key>Track ID</key><integer>2</integer></dict>
      |    <dict><key>Track ID</key><integer>3</integer></dict>
      |   </array></dict>
      | </array>
      |</dict></plist>""".stripMargin

  test("golden end-to-end: load -> stats -> playlist page -> m3u export (SURVEY §3)") {
    val lib = ItdbPipeline.load(spark, xml)
    // README.md:59 smoke counts
    val stats = ItdbPipeline.libraryStats(lib, 1).collect().head
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == (3L, 2L, 2L))

    // materialized aggregate matches the literal expectation
    val page = ItdbPipeline.playlistPage(lib, 1, "Mix")
      .orderBy("Stars").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(page == Seq((0L, 1L), (3L, 1L), (5L, 1L))) // null->0, 60->3, 100->5

    // ad-hoc SQL over the registered views, incl. the materialized stats
    val viaSql = spark.sql(
      "SELECT sum(Count) AS total FROM playlist_stats WHERE Playlist_ID = 7")
      .collect().head.getLong(0)
    assert(viaSql == 3L)

    // m3u export: ordered, numbered, only tracks with locations
    val m3u = Files.createTempFile("pipeline", ".m3u").toString
    ItdbPipeline.exportPlaylist(lib, 1, "Mix", m3u)
    val lines = Files.readString(java.nio.file.Paths.get(m3u)).trim.split("\n").toSeq
    assert(lines.head == "#EXTM3U")
    assert(lines.count(_.startsWith("#ITDBFILE:")) == 2) // Gamma has no Location

    // S11: same selection rendered as the HTML page
    val html = Files.createTempFile("graft", ".html").toString
    ItdbPipeline.exportPlaylistPage(lib, 1, "Mix", html)
    val htmlOut = Files.readString(java.nio.file.Paths.get(html))
    assert(htmlOut.contains("<title>Mix</title>"))
    assert(htmlOut.contains("<th>All Tracks</th><td>3</td>"))

    // S12: same selection as the Music.app AppleScript artifact
    val scpt = Files.createTempFile("graft", ".applescript").toString
    ItdbPipeline.exportPlaylistScript(lib, 1, "Mix", scpt)
    val script = Files.readString(java.nio.file.Paths.get(scpt))
    assert(script.contains("make new user playlist with properties {name:\"Mix\"}"))
    // Gamma has no Persistent ID -> cannot be located in Music.app, skipped
    assert(script.linesIterator.count(_.contains("duplicate (first track")) == 2)
    assert(script.contains("\"AAAA0001\"") && script.contains("\"AAAA0002\""))
  }

  test("loadFiles (DSv2 source) assembles the same library as the driver load") {
    val f = Files.createTempFile("graft_lib", ".xml")
    Files.writeString(f, xml)
    val a = ItdbPipeline.load(spark, xml)
    val b = ItdbPipeline.loadFiles(spark, Seq(f.toString))
    assert(b.tracks.orderBy("Track_ID").collect().toSeq ==
      a.tracks.orderBy("Track_ID").collect().toSeq)
    assert(b.playlistStats.orderBy("Playlist_ID", "Rating").collect().toSeq ==
      a.playlistStats.orderBy("Playlist_ID", "Rating").collect().toSeq)
  }

  /** Plist scans a plan runs itself — those inside a cached relation are
    * served from memory once the cache is filled. */
  private def plistScansOutsideCache(p: SparkPlan): Int = p match {
    case _: InMemoryTableScanExec => 0
    case a: AdaptiveSparkPlanExec => plistScansOutsideCache(a.executedPlan)
    case q: QueryStageExec => plistScansOutsideCache(q.plan)
    case s: BatchScanExec if s.scan.isInstanceOf[graft.sources.PlistScan] => 1
    case other => (other.children ++ other.subqueries).map(plistScansOutsideCache).sum
  }

  test("loadFiles is the only XML read: pages, exports and SQL read the persisted frames") {
    val f = Files.createTempFile("graft_lib", ".xml")
    Files.writeString(f, xml)
    val lib = ItdbPipeline.loadFiles(spark, Seq(f.toString))
    // the load filled the element caches itself
    val cm = spark.sharedState.cacheManager
    Seq(lib.tracks, lib.playlists, lib.playlistTracks).foreach { df =>
      assert(cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).exists(
        _.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded))
    }
    lib.playlistStats.collect()

    val plans = mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ItdbPipeline.playlistPage(lib, 1, "Mix").collect()
      val out = Files.createTempDirectory("graft_exports")
      ItdbPipeline.exportPlaylist(lib, 1, "Mix", out.resolve("mix.m3u").toString)
      ItdbPipeline.exportPlaylistPage(lib, 1, "Mix", out.resolve("mix.html").toString)
      ItdbPipeline.exportPlaylistScript(lib, 1, "Mix", out.resolve("mix.scpt").toString)
      MySqlDialect.sql(spark, "SELECT p.Name, t.Name FROM playlists p " +
        "JOIN playlist_tracks pt ON p.Playlist_ID = pt.Playlist_ID " +
        "JOIN tracks t ON t.Track_ID = pt.Track_ID WHERE t.Genre REGEXP 'rock'").collect()
      // listener events arrive in order: once this marker is seen, every
      // plan above has been
      spark.range(1).toDF("end_marker").collect()
      eventually(timeout(Span(30, Seconds))) {
        assert(plans.synchronized(plans.exists(_.output.map(_.name) == Seq("end_marker"))))
      }
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= 6)
    plans.foreach(p => assert(plistScansOutsideCache(p) == 0, p.toString))
    // and the check sees a scan that does read the file
    assert(plistScansOutsideCache(spark.read.format("plist").load(f.toString)
      .queryExecution.executedPlan) == 1)
  }

  test("a reload returns the rewritten file's rows and releases the first load's caches") {
    val f = Files.createTempFile("graft_lib", ".xml")
    Files.writeString(f, xml)
    def names(df: DataFrame) = df.select("Name").collect().map(_.getString(0)).toSet
    def stats(lib: ItdbPipeline.Library) = lib.playlistStats.collect()
      .map(r => (r.getAs[Int]("Rating"), r.getAs[Long]("Count"))).toSet
    val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
    val first = ItdbPipeline.loadFiles(spark, Seq(f.toString))
    assert(stats(first) == Set((0, 1L), (60, 1L), (100, 1L)))
    val firstRdds = spark.sparkContext.getPersistentRDDs.keySet -- persisted0
    assert(firstRdds.size == 4) // tracks, playlists, playlist_tracks, playlist_stats

    Files.writeString(f, xml.replace("Alpha", "Alef")
      .replace("<integer>60</integer>", "<integer>80</integer>"))
    // the first Library is a snapshot of the file as it was loaded
    assert(names(first.tracks) == Set("Alpha", "Beta", "Gamma"))

    val second = ItdbPipeline.loadFiles(spark, Seq(f.toString))
    assert(names(second.tracks) == Set("Alef", "Beta", "Gamma"))
    assert(stats(second) == Set((0, 1L), (80, 1L), (100, 1L)))
    assert(names(spark.sql("SELECT Name FROM tracks")) == Set("Alef", "Beta", "Gamma"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(firstRdds).isEmpty)
    // the snapshot lasts until the next load: the first Library now reads
    // the new rows
    assert(names(first.tracks) == Set("Alef", "Beta", "Gamma"))
  }

  test("MySQL dialect translation: REGEXP BINARY, bare REGEXP, LIKE collation") {
    assert(MySqlDialect.translate("SELECT * FROM t WHERE name REGEXP BINARY '^[a-z]+$'") ==
      "SELECT * FROM t WHERE name RLIKE '^[a-z]+$'")
    assert(MySqlDialect.translate("SELECT * FROM t WHERE name REGEXP 'abc'") ==
      "SELECT * FROM t WHERE name RLIKE '(?i)abc'")
    assert(MySqlDialect.translate("WHERE a LIKE 'x%' AND b RLIKE 'y'") ==
      "WHERE a ILIKE 'x%' AND b RLIKE 'y'")
    assert(MySqlDialect.translate("WHERE a LIKE 'x%'", caseInsensitiveLike = false)
      .contains("LIKE"))

    // the README.md:144-147 example runs end to end after translation
    val lib = ItdbPipeline.load(spark, xml)
    val got = MySqlDialect.sql(spark,
      "SELECT Name FROM tracks WHERE Name REGEXP BINARY '^[A-Z][a-z]+$' AND Genre REGEXP 'rock'")
    assert(got.count() == 2) // CI genre match; CS name match
  }

  test("extensions: dot_product available in SQL via GraftExtensions") {
    // the shared suite session predates extension injection; register the
    // same builder path directly
    graft.plans.VectorExprs.register(spark)
    val got = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(got == 11.0)
  }

  test("extensions: simhash64 and word_shingles available in SQL") {
    graft.plans.GraftExtensions.register(spark)
    val sh = spark.sql("SELECT simhash64(array('a', 'b')) AS s").collect().head.getLong(0)
    // value-identical to the Column API over the same tokens
    val viaColumn = spark.range(1)
      .select(graft.plans.SimHashExpr.simhash64(array(lit("a"), lit("b"))).as("s"))
      .collect().head.getLong(0)
    assert(sh == viaColumn && sh != 0L)
    val grams = spark.sql("SELECT word_shingles('x y z', 2) AS g")
      .collect().head.getSeq[String](0)
    assert(grams == Seq("x y", "y z"))
    // k validation: non-positive k fails at plan time with the builder's
    // message (Spark wraps builder exceptions in SparkException)
    val err = intercept[Exception](
      spark.sql("SELECT word_shingles('x y', 0)").collect())
    assert(err.getMessage.contains("k must be positive") ||
      Option(err.getCause).exists(_.getMessage.contains("k must be positive")))
    // a Long literal past Int range must fail, not wrap (8589934593 = 2^33+1
    // would toInt to 1 and silently pass the k<=0 guard)
    val wide = intercept[Exception](
      spark.sql("SELECT word_shingles('x y', 8589934593)").collect())
    assert(wide.getMessage.contains("k out of int range") ||
      Option(wide.getCause).exists(_.getMessage.contains("k out of int range")))
    // arity and input-type validation fire at plan time on BOTH
    // registration paths (shared builders + ExpectsInputTypes)
    val arity = intercept[Exception](
      spark.sql("SELECT simhash64(array('a'), array('b'))").collect())
    assert(arity.getMessage.contains("takes 1 argument") ||
      Option(arity.getCause).exists(_.getMessage.contains("takes 1 argument")))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT simhash64('not an array')").collect())
  }

  test("curation pipeline: stage funnel telescopes, invariants hold, corpus reads back pruned") {
    val dir = sf("sf0.001")
    val out = Files.createTempDirectory("graft_curation_out").toString
    val (kept, r) = CurationPipeline.run(spark, dir, out)

    // the funnel telescopes exactly: every document is accounted for by
    // exactly one stage's drop count or the kept total
    assert(r.nDocs - r.nQuarantined - r.nExactDupDropped - r.nNearDupDropped -
      r.nQualityDropped - r.nCapDropped == r.nKept)
    assert(kept.count() == r.nKept && r.nKept > 0)

    // stage 1 == the d10 screen protecting the WHOLE held-out slice
    // (val + test, bucket >= 250 — the pipeline's scope, wider than the
    // d10 gate's test-only valUpTo=253 default)
    assert(r.nQuarantined ==
      graft.operators.Dedup.crossSplitContamination(spark, dir, valUpTo = 250).count())

    // independent invariants over the kept set (not a replay of the
    // pipeline — each is a property the composition must deliver):
    val keptRows = kept.collect()
    // no two kept docs are byte-identical
    val texts = keptRows.map(_.getAs[String]("text"))
    assert(texts.distinct.length == texts.length)
    // every kept doc passes the t3 quality keep rule
    val qualityKeep = graft.operators.TextAnalysis.qualityScore(spark, dir)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    keptRows.foreach(row => assert(qualityKeep(row.getAs[Long]("doc_id"))))
    // no source exceeds the cap
    keptRows.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      assert(rows.length <= 20)
    }
    // no two kept docs are near-duplicates: EXACT pairwise 3-shingle
    // jaccard < threshold for every kept pair (driver-computed,
    // independent of the LSH/cluster machinery — a >= 0.8 pair the
    // pipeline kept would mean the canonical stage failed)
    val shingleSets = keptRows.map { row =>
      val toks = row.getAs[String]("text").trim.split("\\s+")
      row.getAs[Long]("doc_id") ->
        (if (toks.length < 3) Set(toks.mkString(" "))
         else toks.sliding(3).map(_.mkString(" ")).toSet)
    }
    for (i <- shingleSets.indices; j <- (i + 1) until shingleSets.length) {
      val (a, b) = (shingleSets(i)._2, shingleSets(j)._2)
      val jac = (a intersect b).size.toDouble / (a union b).size
      assert(jac < 0.8,
        s"kept docs ${shingleSets(i)._1} and ${shingleSets(j)._1} are near-dups (j=$jac)")
    }

    // the written corpus reads back: same rows, split derived from the
    // shared t9 bucket, and the split predicate prunes partitions
    val back = spark.read.parquet(out)
    assert(back.count() == r.nKept)
    val bucketOf = keptRows.map { row =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(row.getAs[Long]("doc_id").toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      def hv(c: Char): Int = if (c >= 'a') c - 87 else c - '0'
      row.getAs[Long]("doc_id") -> (hv(h.charAt(0)) * 16 + hv(h.charAt(1)))
    }.toMap
    back.select("doc_id", "split").collect().foreach { row =>
      val b = bucketOf(row.getLong(0))
      val expect = if (b < 250) "train" else if (b < 253) "val" else "test"
      assert(row.getString(1) == expect)
    }
    val plan = {
      val st = back.filter(col("split") === "train")
      st.count()
      st.queryExecution.executedPlan.toString
    }
    assert(plan.contains("split") && !plan.contains("PushedFilters: [IsNotNull(split)"),
      "split predicate should resolve via partition pruning, not a data filter")
  }

  test("curation pipeline with packing: the funnel telescopes through placements and manifest") {
    val dir = sf("sf0.001")
    val out = Files.createTempDirectory("graft_curation_pack_out").toString
    val sl = 64L // small enough that curated docs straddle sequence cuts
    val (kept, placements, manifest, pr) =
      CurationPipeline.runWithPacking(spark, dir, out, seqLen = sl.toInt)
    try {
      // the funnel CONTINUES: every kept doc places exactly once
      assert(pr.nPlaced == pr.curation.nKept)
      val pRows = placements.collect()
      assert(pRows.map(_.getAs[Long]("doc_id")).toSet ==
        kept.select("doc_id").collect().map(_.getLong(0)).toSet)
      // token conservation and the sequence-count arithmetic
      assert(pr.nTokens == pRows.map(_.getAs[Long]("n_tokens")).sum)
      assert(pr.nSequences == (pr.nTokens + sl - 1) / sl)
      assert(pRows.map(_.getAs[Long]("seq_last")).max == pr.nSequences - 1)
      // placements ARE the prefix-sum packing of the kept set in doc_id
      // order — reconstructed doc by doc
      var cum = 0L
      pRows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("seq_first") == cum / sl)
        assert(r.getAs[Long]("seq_offset") == cum % sl)
        cum += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("seq_last") == (cum - 1) / sl)
      }
      assert(cum == pr.nTokens)
      assert(pRows.exists(r => r.getAs[Long]("seq_first") != r.getAs[Long]("seq_last")),
        "fixture must straddle sequence cuts")
      // manifest telescopes both ways: per doc the slices sum to its
      // token count; per sequence every slot is filled (full seqLen
      // except the final partial)
      val mRows = manifest.collect()
      def sliceLen(s: org.apache.spark.sql.Row) =
        s.getAs[Long]("tok_until") - s.getAs[Long]("tok_from")
      val byDoc = mRows.groupBy(_.getAs[Long]("doc_id"))
      pRows.foreach { r =>
        assert(byDoc(r.getAs[Long]("doc_id")).map(sliceLen).sum ==
          r.getAs[Long]("n_tokens"))
      }
      mRows.groupBy(_.getAs[Long]("seq_id")).foreach { case (sid, slices) =>
        val tot = slices.map(sliceLen).sum
        if (sid < pr.nSequences - 1) assert(tot == sl, s"sequence $sid not full: $tot")
        else assert(tot == pr.nTokens - (pr.nSequences - 1) * sl)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("curation pipeline with mixture: sampled prefix exact, replica/token conservation, contiguous replica stream") {
    val dir = sf("sf0.001")
    val out = Files.createTempDirectory("graft_curation_mix_out").toString
    val sl = 64L
    val mixW = Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)
    val epochW = Map("en" -> 230, "de" -> 150, "es" -> 100, "fr" -> 100,
      "zh" -> 75)
    val total = 3000L // small enough that budgets bind at sf0.001
    val (kept, placements, mr) = CurationPipeline.runWithMixture(
      spark, dir, out, mixWeightsPct = mixW, mixTotalTokens = total,
      epochWeightsPct = epochW, seqLen = sl.toInt)
    try {
      // sampled set == the greedy md5-order budget prefix of the KEPT
      // corpus, recomputed independently per lang
      val keptToks = kept.collect().map { r =>
        val t = Option(r.getAs[String]("text")).getOrElse("")
        (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
          t.trim.split("\\s+").count(_.nonEmpty).toLong)
      }
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expectSample = mixW.toSeq.flatMap { case (lang, pct) =>
        val budget = total * pct / 100
        var cum = 0L
        keptToks.toSeq.filter(_._2 == lang)
          .sortBy(d => (md5hex(d._1.toString), d._1))
          .flatMap { case (id, _, n) =>
            val keep = cum < budget
            if (keep) cum += n
            if (keep) Some(id) else None
          }
      }.toSet
      assert(mr.nSampled == expectSample.size)
      // budgets must BIND (some kept docs not sampled) or the stage is
      // vacuous at this fixture
      assert(expectSample.size < keptToks.length,
        "fixture must leave the budgets binding")
      // replica conservation: placements = Σ n_epochs over the sample,
      // each replica carrying its doc's token count
      val pRows = placements.collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("seq_first"),
          r.getAs[Long]("seq_offset")))
      // the epoch coin recomputed independently: floor(w) + 1 iff the
      // first four hex digits of md5('epoch:'||id) fall under the
      // fraction in 1/65536 units (a w<100 lang can drop to 0 epochs)
      val langOf = keptToks.map(d => d._1 -> d._2).toMap
      def epochsOf(id: Long): Long = {
        val w = epochW(langOf(id))
        val f16 = java.lang.Long.parseLong(md5hex(s"epoch:$id").take(4), 16)
        w / 100 + (if (f16 * 100 < (w % 100).toLong * 65536) 1L else 0L)
      }
      val nTokOf = keptToks.map(d => d._1 -> d._3).toMap
      assert(pRows.map(_._1).toSet == expectSample.filter(id =>
        nTokOf(id) > 0 && epochsOf(id) > 0))
      assert(mr.nReplicas == pRows.length)
      pRows.groupBy(_._1).foreach { case (id, rows) =>
        assert(rows.length == epochsOf(id), s"doc $id replica count drifted")
      }
      pRows.foreach { case (id, e, n, _, _) =>
        assert(n == nTokOf(id), s"doc $id replica token count drifted")
        assert(e >= 0 && e < 8)
      }
      assert(mr.nTokens == pRows.map(_._3).sum)
      assert(mr.nSequences == (mr.nTokens + sl - 1) / sl)
      // the replica stream is contiguous in (doc_id, epoch) order
      var cum = 0L
      pRows.sortBy(p => p._1 * 8 + p._2).foreach { case (_, _, n, first, off) =>
        assert(first * sl + off == cum, "replica stream not contiguous")
        cum += n
      }
      // at least one doc actually upsampled past one epoch (en w=2.3)
      assert(pRows.groupBy(_._1).exists(_._2.length >= 2),
        "fixture must exercise multi-epoch replication")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("curation pipeline with ALLOCATED mixture: Hamilton budgets sum to the total exactly and drive the same greedy prefix") {
    val dir = sf("sf0.001")
    val out = Files.createTempDirectory("graft_curation_amix_out").toString
    val total = 3000L // small enough that budgets bind at sf0.001
    val (kept, budgets, placements, mr) =
      CurationPipeline.runWithAllocatedMixture(spark, dir, out,
        mixTotalTokens = total, seqLen = 64)
    try {
      val keptToks = kept.collect().map { r =>
        val t = Option(r.getAs[String]("text")).getOrElse("")
        (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
          t.trim.split("\\s+").count(_.nonEmpty).toLong)
      }
      val bRows = budgets.collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[Long]("budget")).toMap
      // Σ alloc == B EXACTLY — the Hamilton identity the percentage form
      // can't give (floor(B·pct/100) undershoots)
      assert(bRows.values.sum == total, s"budgets ${bRows} don't sum to $total")
      // the allocation equals an independent largest-remainder recompute
      // over the kept corpus's per-lang token masses
      val masses = keptToks.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val tot = masses.values.sum
      val base = masses.view.mapValues(m => total * m / tot).toMap
      val rem = masses.map { case (l, m) => l -> (total * m) % tot }
      val short = (total - base.values.sum).toInt
      val topUp = rem.toSeq.sortBy { case (l, r) => (-r, l) }
        .take(short).map(_._1).toSet
      val expectAlloc = base.map { case (l, b) =>
        l -> (b + (if (topUp(l)) 1L else 0L)) }
      assert(bRows == expectAlloc, s"$bRows != $expectAlloc")
      // the sample is the greedy md5-order prefix against THOSE budgets
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expectSample = bRows.toSeq.flatMap { case (lang, budget) =>
        var cum = 0L
        keptToks.toSeq.filter(_._2 == lang)
          .sortBy(d => (md5hex(d._1.toString), d._1))
          .flatMap { case (id, _, n) =>
            val keep = cum < budget
            if (keep) cum += n
            if (keep) Some(id) else None
          }
      }.toSet
      assert(mr.nSampled == expectSample.size)
      assert(expectSample.size < keptToks.length,
        "fixture must leave the budgets binding")
      // the tail telescopes (full replica arithmetic is the mixture
      // test's job — here pin the placement set derives from THIS sample)
      val placedIds = placements.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(placedIds.subsetOf(expectSample))
      assert(mr.nSequences == (mr.nTokens + 63) / 64)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("IVF ANN: planted clone found via its cluster") {
    val dir = sf("sf0.001")
    val ivf = graft.operators.Similarity.ivfTopK(spark, dir, nProbes = 3, k = 3)
    assert(ivf.count() > 0)
    // every probe returns at most k rows with rn dense from 1
    val byProbe = ivf.collect().groupBy(_.getLong(0))
    byProbe.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to rows.length))
    }
  }
}
