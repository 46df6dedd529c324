package graft

import graft.emit.{Html, MusicAppPlaylist}

/** S11 (HTML page) + S12 (Music.app playlist script) presentation sinks. */
class EmitSinksSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tracks = Seq(
    ("Søng <b>Ñame</b>", "Artist & Co", 100),
    ("Plain", "Nobody", 60),
    ("Unrated", "Nobody", 0)).toDF("name", "artist", "rating")

  test("S11 html page: title + histogram + escaped rows (itdb2html.py:324-350)") {
    val page = Html.trackListPage("Rock & Roll", tracks, extraCols = Seq("artist"))
    assert(page.contains("<title>Rock &amp; Roll</title>"))
    assert(page.contains("Søng &lt;b&gt;Ñame&lt;/b&gt;"))   // escaped, not raw
    assert(!page.contains("<b>Ñame</b>"))
    assert(page.contains("Artist &amp; Co"))
    assert(page.contains("<th>All Tracks</th><td>3</td>")) // total
    assert(page.contains("★★★★★</th><td>1</td>"))           // rating 100 -> 5 stars
    assert(page.contains("★★★☆☆</th><td>1</td>"))           // rating 60 -> 3 stars
    assert(page.contains("☆☆☆☆☆</th><td>1</td>"))           // rating 0
  }

  test("S12 playlist script: ordered adds, quoted names (sql_to_playlist:42-55)") {
    val df = Seq("PID1", "PID\"2", "PID3").toDF("Persistent_ID")
    val s = MusicAppPlaylist.fromQuery("My \"Best\" Mix", df)
    assert(s.startsWith("tell application \"Music\""))
    assert(s.contains("make new user playlist with properties {name:\"My \\\"Best\\\" Mix\"}"))
    // all ids present, in row order, with quote escaping
    val i1 = s.indexOf("\"PID1\"")
    val i2 = s.indexOf("\"PID\\\"2\"")
    val i3 = s.indexOf("\"PID3\"")
    assert(i1 >= 0 && i2 > i1 && i3 > i2)
    assert(s.trim.endsWith("end tell"))
  }

  test("corpus writer: split/lang partition tree, stable shards, lossless round-trip") {
    val dir = sf("sf0.001")
    val out = java.nio.file.Files.createTempDirectory("corpus_out").toString
    try {
      val docs = Tables.documents(spark, dir)
      graft.emit.CorpusWriter.write(docs, out, nShards = 4)
      // hive-style partition tree with the trainer's selection predicates
      val splits = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("split="))
      assert(splits.contains("split=train"), splits.toSeq.toString)
      assert(new java.io.File(s"$out/split=train").listFiles()
        .exists(_.getName.startsWith("lang=")))
      // lossless: every document comes back exactly once with its columns
      val back = spark.read.parquet(out)
      assert(back.count() == docs.count())
      val origIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == origIds)
      // shard assignment is deterministic (id-hash): two layouts agree
      val l1 = graft.emit.CorpusWriter.shardedLayout(docs, 4)
        .select("doc_id", "split", "shard").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      val l2 = graft.emit.CorpusWriter.shardedLayout(docs, 4)
        .select("doc_id", "split", "shard").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(l1 == l2)
      assert(l1.map(_._3).forall(s => s >= 0 && s < 4))
      // split matches the t9 assigner — ONE definition, two consumers
      val t9 = graft.operators.TextAnalysis.splitAssign(spark, dir)
        .groupBy("split").agg(org.apache.spark.sql.functions.sum("n_docs").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val mine = l1.groupBy(_._2).map { case (s, rs) => s -> rs.size.toLong }
      assert(mine == t9)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("corpus retract: partition-scoped rewrite removes rows, untouched partition files byte-identical") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val out = java.nio.file.Files.createTempDirectory("corpus_rm").toString
    try {
      // doc_id NOT leading: the retract's using-column join moves it to
      // the front, which the footer-order check below must see through
      val docs = Tables.documents(spark, dir).select("text", "lang",
        "source", "n_chars", "doc_id")
      graft.emit.CorpusWriter.write(docs, out, nShards = 4)
      val before = spark.read.parquet(out)
        .select("doc_id", "split", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      // take down every doc of ONE (split, lang) partition's first two
      // ids plus one id from a second partition — several partitions must
      // survive untouched
      val byPart = before.groupBy(p => (p._2, p._3))
      val parts = byPart.keys.toSeq.sorted
      assert(parts.size >= 3, s"fixture needs >= 3 partitions, got $parts")
      val victims = (byPart(parts.head).map(_._1).sorted.take(2) ++
        byPart(parts(1)).map(_._1).sorted.take(1)).toSeq
      // snapshot untouched partitions' file bytes
      def fileState(p: (String, String)): Map[String, Long] = {
        val d = new java.io.File(s"$out/split=${p._1}/lang=${p._2}")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val untouchedParts = parts.drop(2)
      val snapBefore = untouchedParts.map(p => p -> fileState(p)).toMap
      val n = graft.emit.CorpusWriter.retract(docs, out, victims.toDF("doc_id"))
      assert(n == victims.size, s"removed $n of ${victims.size}")
      // removed ids gone, everything else intact
      val after = spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(victims.forall(v => !after.contains(v)))
      assert(after == before.map(_._1).toSet -- victims)
      // untouched partitions: same files, same mtimes — never rewritten
      untouchedParts.foreach(p =>
        assert(fileState(p) == snapBefore(p), s"partition $p was rewritten"))
      // rewritten files keep the untouched files' physical column order
      // (parquet footer schema, not the reader's merged schema)
      def footerColumns(p: (String, String)): Set[Seq[String]] = {
        import scala.jdk.CollectionConverters._
        fileState(p).keySet.map { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(s"$out/split=${p._1}/lang=${p._2}/$f"),
              spark.sparkContext.hadoopConfiguration))
          try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSeq
          finally reader.close()
        }
      }
      val untouchedOrder = untouchedParts.flatMap(footerColumns).toSet
      assert(untouchedOrder.size == 1, s"untouched footers disagree: $untouchedOrder")
      val rewritten = parts.take(2).filter(p =>
        new java.io.File(s"$out/split=${p._1}/lang=${p._2}").exists)
      assert(rewritten.nonEmpty, "fixture needs a rewritten, non-empty partition")
      rewritten.foreach(p => assert(footerColumns(p) == untouchedOrder,
        s"rewritten partition $p changed column order"))
      // retract EVERY doc of one partition: its directory must vanish
      val wipe = byPart(parts(1)).map(_._1).toSeq
      graft.emit.CorpusWriter.retract(docs, out, wipe.toDF("doc_id"))
      assert(!new java.io.File(s"$out/split=${parts(1)._1}/lang=${parts(1)._2}").exists,
        "emptied partition directory must be deleted")
      assert(spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet == before.map(_._1).toSet -- victims -- wipe)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("corpus retract: escaped partition values (space/colon) still delete emptied dirs (r11 ADVICE)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("corpus_esc").toString
    try {
      // partition values Spark percent-encodes in directory names — the
      // emptied-dir delete must build paths the same way the writer did
      val df = Seq(
        (1L, "a", "train", "pt%BR"),
        (2L, "b", "train", "pt%BR"),
        (3L, "c", "train", "zh:Hant"),
        (4L, "d", "train", "en"))
        .toDF("doc_id", "text", "split", "lang")
      df.write.mode("overwrite").partitionBy("split", "lang").parquet(out)
      assert(new java.io.File(s"$out/split=train/lang=pt%25BR").exists,
        "fixture must exercise the escaped layout")
      val n = graft.emit.CorpusWriter.retract(df, out,
        Seq(1L, 2L, 3L).toDF("doc_id"))
      assert(n == 3L)
      assert(!new java.io.File(s"$out/split=train/lang=pt%25BR").exists,
        "emptied escaped-value directory must be deleted")
      assert(!new java.io.File(s"$out/split=train/lang=zh%3AHant").exists,
        "emptied colon-value directory must be deleted")
      assert(spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(4L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("t7 repetition: planted repetitive doc scores high on top ratios") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    Seq(
      (1L, "spam spam spam spam spam ham", "en", "s", 1L),
      (2L, "one two three four five six", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.repetition(spark, dir)
      .orderBy("doc_id").collect()
    val spam = got(0)
    assert(spam.getAs[Long]("n_tokens") == 6L)
    assert(spam.getAs[Double]("top_token_ratio") == 0.8333)  // 5/6 spam
    assert(spam.getAs[Double]("top_bigram_ratio") == 0.8)    // "spam spam" 4/5
    assert(spam.getAs[Double]("distinct_ratio") == 0.3333)   // 2/6
    val clean = got(1)
    assert(clean.getAs[Double]("distinct_ratio") == 1.0)
    assert(clean.getAs[Double]("top_token_ratio") == 0.1667) // 1/6
  }
}
