package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import graft.operators.Scalars
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("streaming delta near-dup == batch delta (vs-indexed pairs) on a replayed shard") {
    // base corpus: noise + doc 10 (the planted match target); shard: doc
    // 20 near-dups doc 10, docs 21/22 are noise. The shard parquet is
    // written TWICE into the stream dir — a replay — and the id-pair
    // dedup state must collapse both the replay and multi-band matches.
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    val docs = (0L to 9L).map(i => (i, noise(i), "en", "s", 1L)) :+
      ((10L, baseText, "en", "s", 1L))
    val base = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val shard = Seq(
      (20L, baseText.replace("base30", "EDITED"), "en", "s", 1L),
      (21L, noise(21L), "en", "s", 1L),
      (22L, noise(22L), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_shard").toString
    shard.coalesce(1).write.mode("append").parquet(shardDir)
    shard.coalesce(1).write.mode("append").parquet(shardDir) // the replay
    val index = graft.operators.Dedup.buildNearDupIndex(base)
    val streamed = EventsStream
      .runDeltaNearDupToCompletion(spark, shardDir, index, "delta_neardup_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch reference: deltaNearDups restricted to vs-indexed pairs (the
    // streaming topology's scope; shard-internal pairs settle at upsert)
    val batch = graft.operators.Dedup.deltaNearDups(shard, index)
      .filter(col("new_a") =!= col("new_b"))
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.exists(p => p._1 == 10L && p._2 == 20L)) // the planted pair
    assert(streamed.size == batch.size) // replay produced no duplicates
  }

  test("continuous ingest: per-batch delta + index append == one-shot delta, replay-idempotent, index converges") {
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs((0L to 9L).map(i => (i, noise(i))) :+ ((10L, baseText)))
    // shard A arrives first, shard B second (near-dups 10 AND 20 — the
    // cross-batch pair exists only because A's append preceded B), then
    // A's CONTENT is re-delivered as a third file (at-least-once)
    // doc 30 carries doc 20's exact text: the (20, 30) pair is then
    // jaccard 1.0 with identical signatures — a GUARANTEED band hit —
    // and (10, 30) has exactly (10, 20)'s known-banded relationship
    val shardA = docs(Seq((20L, baseText.replace("base30", "EDITED")), (21L, noise(21L))))
    val shardB = docs(Seq((30L, baseText.replace("base30", "EDITED")), (31L, noise(31L))))
    val shardDir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    shardA.coalesce(1).write.mode("append").parquet(shardDir)
    shardB.coalesce(1).write.mode("append").parquet(shardDir)
    shardA.coalesce(1).write.mode("append").parquet(shardDir) // replayed content
    Seq("_banded", "_shingles", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ndingest$s"))
    graft.operators.Dedup.saveNearDupIndex(
      graft.operators.Dedup.buildNearDupIndex(base), "ndingest", buckets = 4)
    try {
      val emitted = EventsStream
        .runIngestNearDup(spark, shardDir, "ndingest", name = "ingest_test")
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // zero duplicate emissions despite the replayed file
      assert(emitted.length == emitted.toSet.size)
      // identity: union of per-batch emissions == the one-shot batch
      // delta of all new docs against the STARTING index (flags dropped —
      // the ingest sees 20 as already-indexed by the time 30 arrives)
      val oneShot = graft.operators.Dedup
        .deltaNearDups(shardA.unionByName(shardB),
          graft.operators.Dedup.buildNearDupIndex(base))
        .select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(emitted.toSet == oneShot)
      assert(emitted.toSet.exists(p => p._1 == 10L && p._2 == 20L))
      assert(emitted.toSet.exists(p => p._1 == 10L && p._2 == 30L))
      // the cross-batch pair: 30 found 20 through the index, not a self-join
      assert(emitted.toSet.exists(p => p._1 == 20L && p._2 == 30L))
      // the index converged to the full corpus (same rows as a fresh build)
      def bandedSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "band", "bkey").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(bandedSet(IndexFamily.load(spark, IndexFamily.NearDup, "ndingest", Fleet).banded) ==
        bandedSet(graft.operators.Dedup.buildNearDupIndex(
          base.unionByName(shardA).unionByName(shardB)).banded))
    } finally {
      Seq("_banded", "_shingles", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS ndingest$s"))
      spark.sql("DROP TABLE IF EXISTS ingest_test_pairs")
    }
  }

  test("continuous curation: streamed label state == one-shot clustering; updates log replays to same state") {
    import graft.operators.Dedup
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs((0L to 9L).map(i => (i, noise(i))) :+ ((10L, baseText)))
    // shard A merges with indexed doc 10 (cross-batch via the index);
    // shard B's doc 30 merges with A's doc 20 — a merge of a cluster
    // CREATED BY THE STREAM itself, not just the base; then A's content
    // replays (at-least-once → must be a no-op)
    val shardA = docs(Seq((20L, baseText.replace("base30", "EDITED")), (21L, noise(21L))))
    val shardB = docs(Seq((30L, baseText.replace("base30", "EDITED")), (31L, noise(31L))))
    val shardDir = java.nio.file.Files.createTempDirectory("graft_curation").toString
    shardA.coalesce(1).write.mode("append").parquet(shardDir)
    shardB.coalesce(1).write.mode("append").parquet(shardDir)
    shardA.coalesce(1).write.mode("append").parquet(shardDir) // replay
    Seq("ndcur_banded", "ndcur_shingles", "ndcur_meta", "cur_labels",
      "cur_labels__gen", "cur_label_updates").foreach(t =>
      Dedup.dropTableAndLocation(spark, t))
    Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(base), "ndcur", buckets = 4)
    Dedup.saveLabelState(spark, "cur_labels", Dedup.labelStateOf(base))
    try {
      def stateSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cluster", "qlen").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val streamed = stateSet(EventsStream.runIngestCuration(
        spark, shardDir, "ndcur", name = "cur"))
      val oneShot = stateSet(Dedup.labelStateOf(
        base.unionByName(shardA).unionByName(shardB)))
      assert(streamed == oneShot)
      // the planted chain actually merged: 10, 20, 30 share one cluster
      val byId = streamed.map(s => s._1 -> s._2).toMap
      assert(byId(20L) == byId(10L) && byId(30L) == byId(10L))
      // canonical (d19b window) identity rides the label identity
      val canonStream = Dedup.canonicalOfLabelState(spark.table("cur_labels"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      val canonFull = Dedup.canonicalOfLabelState(Dedup.labelStateOf(
        base.unionByName(shardA).unionByName(shardB)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      assert(canonStream == canonFull)
      // the append-only updates log alone reconstructs the state:
      // base state + latest-wins replay of changed slices
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("batch_id").desc)
      val latest = spark.table("cur_label_updates")
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1).drop("rn", "batch_id")
      val replayed = stateSet(Dedup.labelStateOf(base)
        .join(latest.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(latest))
      assert(replayed == streamed)
      // the log is delta-sized: only new/re-labeled rows, never a full
      // table rewrite (base has 11 docs; A and B add 2 each; only doc 10
      // of the base may re-label — so <= 6 update rows)
      assert(spark.table("cur_label_updates").count() <= 6)
    } finally {
      Seq("ndcur_banded", "ndcur_shingles", "ndcur_meta", "cur_labels",
        "cur_labels__gen", "cur_label_updates").foreach(t =>
        Dedup.dropTableAndLocation(spark, t))
    }
  }

  test("continuous retraction: streamed takedowns == one-shot over corpus minus removed; replay is a no-op") {
    import graft.operators.Dedup
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // 5 bridges 10 and 20 (two disjoint 2-token edits — removing 5 must
    // SPLIT the cluster); 30/31 an untouched pair; 40 a singleton that
    // is itself taken down in the second batch
    val corpus = Seq(
      (5L, baseText),
      (10L, baseText.replace("base10 base11", "XX YY")),
      (20L, baseText.replace("base50 base51", "XX YY")),
      (30L, noise(30) + " " + baseText.take(120)),
      (31L, noise(30) + " " + baseText.take(120) + " zz"),
      (40L, noise(40)))
      .map { case (i, t) => (i, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tdDir = java.nio.file.Files.createTempDirectory("graft_takedown").toString
    Seq(5L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
    Seq(40L, 5L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir) // 5 replays
    Seq("ndtd_banded", "ndtd_shingles", "ndtd_meta", "ndtd_tombstones",
      "td_labels", "td_labels__gen", "td_log").foreach(t =>
      Dedup.dropTableAndLocation(spark, t))
    Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(corpus), "ndtd", buckets = 4)
    Dedup.saveLabelState(spark, "td_labels", Dedup.labelStateOf(corpus))
    try {
      def stateSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cluster", "qlen").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val streamed = stateSet(EventsStream.runTakedownStream(
        spark, tdDir, "ndtd", "td_labels", corpus, name = "td"))
      val survivors = corpus.filter(!col("doc_id").isin(5L, 40L))
      assert(streamed == stateSet(Dedup.labelStateOf(survivors)))
      // the split happened: 10 and 20 are now their own clusters
      val byId = streamed.map(s => s._1 -> s._2).toMap
      assert(byId(10L) == 10L && byId(20L) == 20L)
      assert(!byId.contains(5L) && !byId.contains(40L))
      // the index serves minus the takedowns: no pair partner is removed
      // probe 90 is 1 token from survivor 10 (j ~0.90) and 2 tokens from
      // the REMOVED 5 (j ~0.87 — it WOULD have paired before the takedown)
      val pairs = Dedup.deltaNearDups(
        Seq((90L, baseText.replace("base10 base11", "XX ZZ"), "en", "s", 1L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        IndexFamily.load(spark, IndexFamily.NearDup, "ndtd", Fleet))
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), s"removed doc paired: $pairs")
      assert(pairs.contains((10L, 90L)), s"survivor must still pair: $pairs")
      // a FULL replay of the takedown stream is a no-op (fresh run, same
      // files; the log anti-join and idempotent ops both protect it)
      val replayed = stateSet(EventsStream.runTakedownStream(
        spark, tdDir, "ndtd", "td_labels", corpus, name = "td"))
      assert(replayed == streamed)
      spark.catalog.refreshTable("td_log")
      // replay-dedup is BATCH-scoped (r11 ADVICE): the second batch's
      // request for 5 is a FRESH request (applied as a no-op, logged), so
      // the log holds one row per APPLIED REQUEST — 3 — and the full
      // replay appended nothing
      assert(spark.table("td_log").count() == 3,
        s"log must hold one row per applied request: ${spark.table("td_log").collect().toSeq}")
      // re-ingest 5 (compact turns the tombstones physical, the append
      // re-adds clean rows), then a NEW takedown request for 5: log-wide
      // dedup would swallow it forever; batch-scoped dedup must take 5
      // down again
      IndexFamily.compact(spark, IndexFamily.NearDup, "ndtd", Fleet)
      IndexFamily.appendPayload(spark, IndexFamily.NearDup,
          "ndtd", Fleet, corpus.filter(col("doc_id") === 5L))
      val probe90 = Seq((90L, baseText.replace("base10 base11", "XX ZZ"), "en", "s", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      def pairSet() = Dedup.deltaNearDups(probe90, IndexFamily.load(spark, IndexFamily.NearDup,
          "ndtd", Fleet))
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet().exists(p => p._1 == 5L || p._2 == 5L),
        "re-ingested doc must serve again before the new takedown")
      Seq(5L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
      val after = stateSet(EventsStream.runTakedownStream(
        spark, tdDir, "ndtd", "td_labels", corpus, name = "td"))
      assert(after == streamed, "label state must be unchanged (5 never re-labeled)")
      assert(!pairSet().exists(p => p._1 == 5L || p._2 == 5L),
        "the NEW takedown request for a re-ingested doc must go through")
      spark.catalog.refreshTable("td_log")
      assert(spark.table("td_log").count() == 4)
    } finally {
      Seq("ndtd_banded", "ndtd_shingles", "ndtd_meta", "ndtd_tombstones",
        "td_labels", "td_labels__gen", "td_log").foreach(t =>
        Dedup.dropTableAndLocation(spark, t))
    }
  }

  test("ingest loop clears the takedown log: a re-ingested doc counts in later sketch rebuilds") {
    import graft.operators.{Dedup, Takedown}
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // 0,2,4 en / 1,3,5 de — the takedowns hit en so the en cell rebuilds
    val docs = (0L to 5L).map(i =>
        (i, noise(i), if (i % 2 == 0) "en" else "de", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val sk = "sil_sk"; val log = "sil_log"
    val all = Seq(sk, s"${sk}__gen", log, s"${log}__gen", "ndsil_banded",
      "ndsil_shingles", "ndsil_meta", "ndsil_tombstones", "sil_pairs")
    all.foreach(t => Dedup.dropTableAndLocation(spark, t))
    docs.groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
      .write.saveAsTable(sk)
    val targets = Takedown.Targets(indexes = Seq(IndexFamily.NearDup -> "ndsil"),
      sketchCellsTable = Some(sk), documents = Some(docs))
    def cellMap() = { spark.catalog.refreshTable(sk)
      spark.table(sk).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap }
    def expect(retained: org.apache.spark.sql.DataFrame) =
      retained.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap
    val shardDir = java.nio.file.Files.createTempDirectory("graft_sil").toString
    try {
      // base index over everything except 2, then take 2 down
      Dedup.saveNearDupIndex(
        Dedup.buildNearDupIndex(docs.filter(col("doc_id") =!= 2L)),
        "ndsil", buckets = 4)
      assert(Takedown(spark, Seq(2L).toDF("doc_id"), targets, log) == 1L)
      assert(cellMap() == expect(docs.filter(col("doc_id") =!= 2L)))
      // doc 2 re-arrives THROUGH THE INGEST LOOP — the per-batch core
      // must clear its log row alongside the index append (no manual
      // clearTakedownLog call anywhere in this scenario)
      docs.filter(col("doc_id") === 2L).coalesce(1)
        .write.mode("append").parquet(shardDir)
      EventsStream.runIngestNearDup(spark, shardDir, "ndsil",
        name = "sil", takedownLog = log)
      spark.catalog.refreshTable(log)
      assert(spark.table(log).count() == 0,
        "ingest loop did not clear the re-ingested doc's takedown-log row")
      // a LATER takedown of doc 4 rebuilds the en cell — doc 2 must count
      assert(Takedown(spark, Seq(4L).toDF("doc_id"), targets, log,
        batchId = 1L) == 1L)
      assert(cellMap() == expect(docs.filter(col("doc_id") =!= 4L)),
        "re-ingested doc 2 missing from the rebuilt en cell")
    } finally {
      all.foreach(t => Dedup.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(shardDir))
    }
  }

  test("curation screen: contaminated docs quarantined at ingest, exactly once; clean state == one-shot over clean docs") {
    import graft.operators.Dedup
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs((0L to 9L).map(i => (i, noise(i))) :+ ((10L, baseText)))
    // the protected benchmark slice: 10 words -> 3 distinct 8-grams
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val st = Dedup.evalGramState(docs(Seq((900L, evalText))))
    // shard A: doc 20 near-dups indexed doc 10 (clean, must still merge);
    // doc 22 embeds the benchmark verbatim (contaminated — must never
    // reach pairs, labels, or the index). Shard B extends the stream-made
    // cluster; shard A then REPLAYS (at-least-once → quarantine must not
    // grow a duplicate row)
    val contam = evalText + " " + noise(22L)
    val shardA = docs(Seq((20L, baseText.replace("base30", "EDITED")), (22L, contam)))
    val shardB = docs(Seq((30L, baseText.replace("base30", "EDITED")), (31L, noise(31L))))
    val shardDir = java.nio.file.Files.createTempDirectory("graft_screen").toString
    shardA.coalesce(1).write.mode("append").parquet(shardDir)
    shardB.coalesce(1).write.mode("append").parquet(shardDir)
    shardA.coalesce(1).write.mode("append").parquet(shardDir) // replay
    Seq("ndscr_banded", "ndscr_shingles", "ndscr_meta", "scr_labels",
      "scr_labels__gen", "scr_label_updates", "scr_quarantine").foreach(t =>
      Dedup.dropTableAndLocation(spark, t))
    Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(base), "ndscr", buckets = 4)
    Dedup.saveLabelState(spark, "scr_labels", Dedup.labelStateOf(base))
    try {
      def stateSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "cluster", "qlen").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val streamed = stateSet(EventsStream.runIngestCuration(
        spark, shardDir, "ndscr", name = "scr", screen = Some(st)))
      // quarantine: exactly ONE row for doc 22 despite the replayed
      // shard, carrying the same stats the batch screen computes
      val q = spark.table("scr_quarantine")
        .select("doc_id", "n_shared", "n_shingles", "shared_frac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(q.length == 1 && q.head._1 == 22L)
      val batchScreen = Dedup.screenContamination(shardA, st.bloom, st.grams)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(q.toSet == batchScreen.toSet)
      assert(q.head._2 == 3L) // all 3 benchmark grams found in the doc
      // the clean pipeline is unaffected: label state == one-shot
      // clustering of base ∪ the CLEAN shard docs only
      val clean = shardA.filter(col("doc_id") =!= 22L).unionByName(shardB)
      assert(streamed == stateSet(Dedup.labelStateOf(base.unionByName(clean))))
      // the merge chain still happened (10, 20, 30 one cluster)
      val byId = streamed.map(s => s._1 -> s._2).toMap
      assert(byId(20L) == byId(10L) && byId(30L) == byId(10L))
      // the contaminated doc never entered the persisted index
      assert(IndexFamily.load(spark, IndexFamily.NearDup, "ndscr", Fleet).shingles
        .filter(col("doc_id") === 22L).isEmpty)
      assert(!streamed.exists(_._1 == 22L))
    } finally {
      Seq("ndscr_banded", "ndscr_shingles", "ndscr_meta", "scr_labels",
        "scr_labels__gen", "scr_label_updates", "scr_quarantine").foreach(t =>
        Dedup.dropTableAndLocation(spark, t))
    }
  }

  test("streaming sketch cells: replayed shard converges to the one-shot sketch (merge idempotence)") {
    import spark.implicits._
    val base = 1704067200000000L // 2024-01-01T00:00:00Z micros
    val dayUs = 86400L * 1000 * 1000
    def evs(ids: Range, ty: String, dayOff: Int) = ids.map(i =>
      (i.toLong + dayOff * 10000L, base + dayOff * dayUs + i * 1000L,
        i.toLong % 101, ty, 1.0, "{}"))
    // shard B overlaps shard A's users on the SAME (type, day) cell, and
    // shard A replays wholesale — both must converge by register max
    val shardA = evs(0 until 300, "click", 0) ++ evs(0 until 200, "view", 1)
    val shardB = evs(100 until 400, "click", 0)
    def frame(rows: Seq[(Long, Long, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros(col("ts")))
    val shardDir = java.nio.file.Files.createTempDirectory("graft_skcells").toString
    frame(shardA).coalesce(1).write.mode("append").parquet(shardDir)
    frame(shardB).coalesce(1).write.mode("append").parquet(shardDir)
    frame(shardA).coalesce(1).write.mode("append").parquet(shardDir) // replay
    graft.operators.Dedup.dropTableAndLocation(spark, "skcells_test")
    try {
      val rolled = EventsStream.runIngestSketches(spark, shardDir, "skcells_test")
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      // one-shot batch twin over A ∪ B (the replay must NOT count)
      val oneShot = frame(shardA).unionByName(frame(shardB))
        .select(col("event_type"), unix_micros(col("ts")).as("us"), col("user_id"))
        .select(col("event_type"), expr(s"us div ${dayUs}L").as("day"), col("user_id"))
        .groupBy(col("event_type"), col("day"))
        .agg(graft.plans.HllAgg.hllSketch(col("user_id")).as("sk"))
        .collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          graft.plans.HllAgg.estimate(r.getAs[Array[Byte]]("sk")))).toMap
      assert(rolled == oneShot && rolled.size == 2)
      // the cell table holds MORE cells than groups (replay + per-batch
      // appends) — convergence came from the merge algebra, not dedup
      assert(spark.table("skcells_test").count() > rolled.size)
      // estimates are sane: 101 distinct users per cell at this size
      rolled.values.foreach(v => assert(math.abs(v - 101.0) / 101.0 < 0.1, s"est=$v"))
    } finally graft.operators.Dedup.dropTableAndLocation(spark, "skcells_test")
  }

  test("streaming simhash delta == batch delta (vs-indexed pairs) on a replayed shard") {
    val baseText = (1 to 60).map(i => s"base$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    val base = ((0L to 9L).map(i => (i, noise(i), "en", "s", 1L)) :+
      ((10L, baseText, "en", "s", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // doc 20 is an EXACT copy of indexed doc 10 (hamming 0 — guaranteed
    // band hit at any radius); 21 is noise
    val shard = Seq(
      (20L, baseText, "en", "s", 1L),
      (21L, noise(21L), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_shshard").toString
    shard.coalesce(1).write.mode("append").parquet(shardDir)
    shard.coalesce(1).write.mode("append").parquet(shardDir) // replay
    val index = graft.operators.Dedup.buildSimHashIndex(
      graft.operators.Dedup.simhash64Of(base))
    val streamed = EventsStream
      .runDeltaSimhashToCompletion(spark, shardDir, index, name = "delta_simhash_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.operators.Dedup
      .deltaSimhashPairs(graft.operators.Dedup.simhash64Of(shard), index)
      .filter(col("new_a") =!= col("new_b"))
      .select("id_a", "id_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch)
    assert(streamed.contains((10L, 20L, 0)))
  }

  test("streaming embedding delta == batch delta (vs-indexed pairs) on a replayed shard") {
    import graft.functions.Exprs.{doubleVector, l2Norm}
    def vec(seed: Int) = (0 until 64).map(d => math.sin(seed * 64 + d).toFloat).toArray
    def prepare(df: org.apache.spark.sql.DataFrame) =
      df.select(col("label"), col("vec_id"), doubleVector(col("embedding")).as("v"))
        .withColumn("n", l2Norm(col("v")))
    // base: 10 distinct vectors; shard: vec 20 clones vec 5 (same label —
    // the blocking key), vec 21 is noise; shard parquet written TWICE (a
    // replay the id-pair dedup state must collapse)
    val base = (0L to 9L).map(i => (i, vec(i.toInt), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val shard = Seq((20L, vec(5), (5 % 3)), (21L, vec(21), 0))
      .toDF("vec_id", "embedding", "label")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_evshard").toString
    shard.coalesce(1).write.mode("append").parquet(shardDir)
    shard.coalesce(1).write.mode("append").parquet(shardDir) // the replay
    val index = graft.operators.Dedup.buildEmbIndex(prepare(base))
    val streamed = EventsStream
      .runDeltaEmbeddingToCompletion(spark, shardDir, index,
        threshold = 0.999, name = "delta_embedding_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup
      .deltaEmbeddingPairs(prepare(shard), index, threshold = 0.999)
      .filter(col("new_a") =!= col("new_b"))
      .select("id_a", "id_b", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.exists(p => p._1 == 5L && p._2 == 20L && p._3 == 1.0))
  }

  test("streaming SemDeDup: per-batch re-curation == one-shot curation under the frozen base model") {
    import graft.operators.{Dedup, Similarity}
    import graft.functions.Exprs.{doubleVector, l2Norm}
    def vec(seed: Int) = (0 until 64).map(d => math.sin(seed * 64 + d).toFloat).toArray
    def prepare(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), doubleVector(col("embedding")).as("v"))
        .withColumn("n", l2Norm(col("v")))
    val base = (0L to 9L).map(i => (i, vec(i.toInt), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    // shard A: 20 clones base vec 5 (a cross-batch group through the
    // index); shard B: 30 clones it AGAIN (extends the stream-made
    // group); then A replays (must be a no-op)
    val shardA = Seq((20L, vec(5), 2), (21L, vec(21), 0))
      .toDF("vec_id", "embedding", "label")
    val shardB = Seq((30L, vec(5), 2)).toDF("vec_id", "embedding", "label")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_semstr").toString
    shardA.coalesce(1).write.mode("append").parquet(shardDir)
    shardB.coalesce(1).write.mode("append").parquet(shardDir)
    shardA.coalesce(1).write.mode("append").parquet(shardDir) // replay
    val tables = (for (n <- Seq("semstr", "semstr1");
        s <- Seq("_vectors", "_centroids", "_meta", "_pqbook")) yield n + s) ++
      Seq("semcur_test", "semcur_test__gen")
    tables.foreach(Dedup.dropTableAndLocation(spark, _))
    try {
      def curSet(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "cl", "grp", "n_members", "ccos", "keep").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getBoolean(5))).toSet
      Similarity.saveAnnIndex(spark, "semstr", prepare(base),
        buckets = 4, kClusters = 2)
      val idx0 = Similarity.loadAnnIndex(spark, "semstr")
      Dedup.saveBucketedTable(
        Dedup.semDedupOf(
          idx0.vectors.select(col("vec_id"), col("v"), col("n"), col("cl")),
          idx0.centroids, 0.999),
        "semcur_test", 8, Seq("cl"))
      val fin = curSet(EventsStream.runIngestSemDedup(
        spark, shardDir, "semstr", "semcur_test", threshold = 0.999))
      // one-shot twin: same base build + ONE append of A ∪ B under the
      // same frozen model, then one curation pass over everything
      Similarity.saveAnnIndex(spark, "semstr1", prepare(base),
        buckets = 4, kClusters = 2)
      Similarity.appendAnnIndex(spark, "semstr1",
        prepare(shardA.unionByName(shardB)))
      val idx1 = Similarity.loadAnnIndex(spark, "semstr1")
      val oneShot = curSet(Dedup.semDedupOf(
        idx1.vectors.select(col("vec_id"), col("v"), col("n"), col("cl")),
        idx1.centroids, 0.999))
      assert(fin == oneShot)
      // the cross-batch semantic group exists and keeps exactly one member
      val byId = fin.map(t => t._1 -> (t._3, t._6)).toMap
      assert(byId(20L)._1 == byId(5L)._1 && byId(30L)._1 == byId(5L)._1)
      assert(Seq(5L, 20L, 30L).count(id => byId(id)._2) == 1)
      // singletons keep themselves
      assert(byId(21L)._2)
    } finally tables.foreach(Dedup.dropTableAndLocation(spark, _))
  }

  test("streaming ANN ingest: per-batch appends under the frozen model == one-shot append, replay-idempotent") {
    import graft.operators.{Dedup, Similarity}
    import graft.functions.Exprs.{doubleVector, l2Norm}
    def vec(seed: Int) = (0 until 64).map(d => math.sin(seed * 64 + d).toFloat).toArray
    def prepare(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), doubleVector(col("embedding")).as("v"))
        .withColumn("n", l2Norm(col("v")))
    val base = (0L to 9L).map(i => (i, vec(i.toInt), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    // shard A: vec 20 clones vec 5 + one noise vector; shard B arrives
    // later; then A REPLAYS (at-least-once → the vec_id anti-join must
    // collapse it)
    val shardA = Seq((20L, vec(5), 2), (21L, vec(21), 0))
      .toDF("vec_id", "embedding", "label")
    val shardB = Seq((30L, vec(7), 1)).toDF("vec_id", "embedding", "label")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_annstr").toString
    shardA.coalesce(1).write.mode("append").parquet(shardDir)
    shardB.coalesce(1).write.mode("append").parquet(shardDir)
    shardA.coalesce(1).write.mode("append").parquet(shardDir) // the replay
    val tables = for (n <- Seq("annstr", "annstr1"); s <- Seq("_vectors", "_centroids", "_meta", "_pqbook"))
      yield n + s
    tables.foreach(Dedup.dropTableAndLocation(spark, _))
    try {
      Similarity.saveAnnIndex(spark, "annstr", prepare(base),
        buckets = 4, kClusters = 2)
      EventsStream.runIngestAnnIndex(spark, shardDir, "annstr")
      // one-shot twin: same base build + a SINGLE append of A ∪ B — the
      // frozen model makes the append a pure per-row function, so any
      // batching must land on identical serving rows
      Similarity.saveAnnIndex(spark, "annstr1", prepare(base),
        buckets = 4, kClusters = 2)
      Similarity.appendAnnIndex(spark, "annstr1",
        prepare(shardA.unionByName(shardB)))
      def rowSet(t: String) = spark.table(t)
        .select(col("vec_id"), col("qv"), col("cl"), col("bucket")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2), r.getLong(3))).toSet
      assert(rowSet("annstr_vectors") == rowSet("annstr1_vectors"))
      // the replayed shard collapsed: 10 base + 3 appended, no duplicates
      assert(spark.table("annstr_vectors").count() == 13)
      // and the streamed-in clone is immediately searchable: probe 5's
      // rank-1 quantized hit is vec 20
      val idx = Similarity.loadAnnIndex(spark, "annstr")
      val hits = Similarity.quantizedTopKIndexed(idx, nProbes = 6, k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((5L, 20L)), s"clone not searchable: $hits")
    } finally tables.foreach(Dedup.dropTableAndLocation(spark, _))
  }

  test("streaming hourly agg over replayed events == batch rollup (§2.12)") {
    val dir = sf("sf0.001")
    val streamed = EventsStream.runToCompletion(spark, dir, "events_hourly_test")
      .select(col("hour").cast("string").as("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

    val batch = Scalars.hourlyRollup(spark, dir)
      .select("hour", "event_type", "n").orderBy("hour", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup: one row per event_id, watermark-bounded state") {
    // the global-exactness assertion holds because the fixture is ONE file
    // replayed as one AvailableNow micro-batch; across batches the
    // guarantee is bounded by the watermark delay (see dedupedEvents doc)
    val dir = sf("sf0.001")
    val deduped = EventsStream.runDedupToCompletion(spark, dir, "events_dedup_test")
    val total = graft.Tables.events(spark, dir).count()
    val distinctIds = graft.Tables.events(spark, dir)
      .select("event_id").distinct().count()
    assert(deduped.count() == distinctIds)
    assert(deduped.select("event_id").distinct().count() == distinctIds)
    assert(total >= distinctIds)
  }

  test("session windows: builtin session_window under watermark, sane bounds") {
    val dir = sf("sf0.001")
    val q = EventsStream.sessionAgg(spark, dir).writeStream
      .outputMode("complete").format("memory").queryName("events_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sessions = spark.table("events_sessions").collect()
    assert(sessions.nonEmpty)
    sessions.foreach { r =>
      assert(!r.getAs[java.sql.Timestamp]("session_start")
        .after(r.getAs[java.sql.Timestamp]("session_end")))
      assert(r.getAs[Long]("n_events") >= 1)
    }
    // per-user event totals across sessions == raw counts
    val perUser = sessions.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_events")).sum).toMap
    val raw = graft.Tables.events(spark, dir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perUser == raw)
  }

  test("mapGroupsWithState running totals == batch aggregation") {
    val dir = sf("sf0.001")
    val state = EventsStream.statefulTotals(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toMap
    val batch = graft.Tables.events(spark, dir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == batch)
  }

  test("flatMapGroupsWithState sessionization: interval-merge state, watermark-final emission") {
    // Spark 4.1 relocated MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.TimedEvent
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // offset from epoch 0: an event whose time equals the initial watermark
    // (0) is dropped as late by the stateful operator
    def ts(minutes: Long) = new java.sql.Timestamp((1000 + minutes) * 60000L)
    val input = MemoryStream[TimedEvent]
    val q = EventsStream.sessionizeFlat(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("flat_sessions")
      .start()
    def collected(): Set[(Long, Long, Long, Long)] = spark.table("flat_sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000 - 1000,
        r.getTimestamp(2).getTime / 60000 - 1000, r.getLong(3))).toSet
    try {
      // batch 1: user 1 has two pending sessions (gap > 30 min between
      // them), user 2 one. NOTHING is final yet — the watermark has not
      // passed any session's end + gap, so nothing may be emitted (an
      // out-of-order event could still merge or bridge)
      input.addData(TimedEvent(1L, ts(0)), TimedEvent(1L, ts(5)),
        TimedEvent(1L, ts(60)), TimedEvent(2L, ts(10)))
      q.processAllAvailable()
      assert(collected().isEmpty, collected().toString)
      // batch 2: an OUT-OF-ORDER (but admissible) event at minute 20
      // bridges user 1's would-be-separate event into the first session?
      // no — 20 is within 30 of 5 but 60-20=40 > 30, so it extends the
      // first session to [0,20] and the two sessions stay distinct
      input.addData(TimedEvent(1L, ts(20)))
      q.processAllAvailable()
      assert(collected().isEmpty, collected().toString)
      // batch 3: a far-future event advances the watermark (1 h delay)
      // past every pending session's end + gap; the following batch's
      // timeout/merge pass emits them as FINAL
      input.addData(TimedEvent(3L, ts(600)))
      q.processAllAvailable()
      input.addData(TimedEvent(3L, ts(601)))
      q.processAllAvailable()
      val closed = collected()
      assert(closed.contains((1L, 0L, 20L, 3L)), closed.toString)
      assert(closed.contains((1L, 60L, 60L, 1L)), closed.toString)
      assert(closed.contains((2L, 10L, 10L, 1L)), closed.toString)
    } finally q.stop()
  }

  test("batch w7 sessionize == flatMapGroupsWithState sessionize on finalized sessions") {
    // the two implementations state the SAME gap semantics (new session iff
    // inter-event gap > 30 min) through different machinery — one keyed
    // window pass vs interval-merge state + watermark-final emission. The
    // streaming form can only ever emit sessions the final watermark
    // (max event time - 1 h) has passed, so the batch side is filtered to
    // the same finality horizon before comparing row-for-row.
    val dir = sf("sf0.001")
    import graft.streaming.EventsStream.TimedEvent
    import spark.implicits._
    val src = EventsStream.eventSource(spark, dir)
      .select(col("user_id"), col("ts")).as[TimedEvent]
    val q = EventsStream.sessionizeFlat(src)
      .writeStream.outputMode("append").format("memory")
      .queryName("flat_sessions_eq")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("flat_sessions_eq")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet

    val gapMs = 30L * 60 * 1000
    // PRECONDITION for comparing a µs-granular batch to the ms-granular
    // stream (TimedEvent carries ts.getTime): no consecutive-event gap may
    // sit within 1 ms of the session boundary, else floor-to-ms and exact-µs
    // disagree on the split decision and the comparison is ill-posed
    val boundaryStraddlers = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .filter(abs(col("gap_us") - gapMs * 1000L) <= 1000L)
      .count()
    assert(boundaryStraddlers == 0,
      s"$boundaryStraddlers inter-event gaps within 1ms of the session boundary — " +
        "ms-truncated and µs session splits would diverge on this data")
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    val wmMs = maxUs / 1000 - 3600L * 1000 // the query's final watermark
    // `div`: INTEGER floor like the stream's getTime truncation — a
    // fractional `/` would put sub-ms session ends on the wrong side of
    // the horizon the stream decides with floored integers
    val batch = graft.operators.Library.sessionize(spark, dir)
      .filter(expr("end_us div 1000") + gapMs <= wmMs)
      .select(col("user_id"),
        expr("start_us div 1000").as("start_ms"),
        expr("end_us div 1000").as("end_ms"),
        col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, {
      val onlyS = streamed -- batch
      val onlyB = batch -- streamed
      s"stream-only: ${onlyS.take(5)}; batch-only: ${onlyB.take(5)}"
    })
    assert(streamed.size > 100) // the horizon leaves a substantive overlap
  }

  test("stream-stream interval join == batch join (clicks x prior views within reach)") {
    val dir = sf("sf0.001")
    val streamed = EventsStream.runJoinToCompletion(spark, dir, "events_join_test")
      .select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = Tables.events(spark, dir)
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("click_ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("view_ts"))
    val batch = c.join(v,
        expr("c_user = v_user AND view_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts"))
      .select("click_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // sf0.001 contains at least one in-reach pair
  }

  test("streaming estate sync: diff chain A->B->C lands every family at gen C; full replays converge") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val cw = graft.emit.CorpusWriter
    val base60 = (1 to 60).map(i => s"t$i").mkString(" ")
    val chainB = (1 to 60).map(i => s"u$i").mkString(" ")
    val vocab60 = (1 to 60).map(i => s"v$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docsOf(m: Map[Long, String], langs: Map[Long, String] = Map.empty) =
      m.toSeq.sortBy(_._1)
        .map { case (i, t) => (i, t,
          langs.getOrElse(i, if (i % 2 == 0) "en" else "de"), "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // gen A: bridge cluster {9,13,11}, stable pair {6,7}, 14/15 at
    // jaccard 0.5, singletons 1/16
    val aT = Map(1L -> noise(1), 6L -> base60, 7L -> s"$base60 extra",
      9L -> chainB.replace("u10 ", "X1 ").replace("u20 ", "X2 "),
      11L -> chainB.replace("u40 ", "Y1 "), 13L -> chainB,
      14L -> "alpha beta gamma", 15L -> "alpha beta gamma v2",
      16L -> vocab60)
    // A->B: remove the bridge 13 (split), add 18 (twin of 16), amend 14
    // (re-pairs with 15)
    val bT = aT - 13L + (18L -> vocab60) + (14L -> "alpha beta gamma v2")
    // B->C: remove 7 (the stable pair shrinks), add 20 (singleton),
    // change 9 to 11's text (the split halves re-pair), and flip 15's
    // LANG de->fr with the text untouched — a metadata-only generation
    // change the diff must still flag (the aggregate classes follow it:
    // the 'de' cell loses 15, a 'fr' cell appears)
    val cT = bT - 7L + (20L -> noise(20)) + (9L -> bT(11L))
    val cLangs = Map(15L -> "fr")
    val root = java.nio.file.Files.createTempDirectory("graft_esync").toString
    Seq(("a", aT, Map.empty[Long, String]), ("b", bT, Map.empty[Long, String]),
      ("c", cT, cLangs)).foreach { case (g, m, ls) =>
      cw.write(docsOf(m, ls), s"$root/$g") }
    val cur = s"$root/current"
    val diffDir = s"$root/diffs"
    new java.io.File(diffDir).mkdirs()
    def publish(gen: String, m: Map[Long, String], prev: String,
        diffName: String, langs: Map[Long, String] = Map.empty): Unit = {
      cw.write(docsOf(m, langs), cur)
      val tmp = s"$root/tmp_$diffName"
      cw.corpusDiff(spark, s"$root/$prev", s"$root/$gen")
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$diffDir/$diffName.parquet"))
    }
    val (nd, lab, sk) = ("esstr_nd", "esstr_lab", "esstr_sk")
    val (ann, annp) = ("esstr_ann", "esstr_annp")
    val sim = graft.operators.Similarity
    val all = Seq(s"${nd}_banded", s"${nd}_shingles", s"${nd}_meta",
      s"${nd}_tombstones", lab, s"${lab}__gen", sk, s"${sk}__gen",
      annp, s"${annp}_tombstones") ++
      (sim.annTableSuffixes :+ "_tombstones").map(s => s"$ann$s")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    // synthetic 64-dim vectors as a PURE FUNCTION of the doc id, so the
    // per-batch targetsOf can derive the vector payload from whatever
    // corpus tree it just read (the production shape: vectors keyed by
    // the same id space as the corpus)
    def vecsOf(docs: org.apache.spark.sql.DataFrame) = docs
      .select(col("doc_id").as("vec_id"))
      .withColumn("label", pmod(col("vec_id"), lit(3)).cast("int"))
      .withColumn("v", expr(
        "transform(sequence(0, 63), d -> cast(pmod(vec_id * (d + 3) + d * d, 17) as double) / 4.0 - 2.0)"))
      .withColumn("n", expr(
        "sqrt(aggregate(v, cast(0 as double), (a, x) -> a + x * x))"))
    def targetsOf(docs: org.apache.spark.sql.DataFrame) =
      ops.EstateSyncTargets(indexes = Seq((IndexFamily.NearDup, nd, docs)),
        labels = Some(lab),
        sketchCells = Some((sk, docs)),
        annStore = Some((ann, vecsOf(docs))),
        annPart = Some((annp, vecsOf(docs))))
    def canon(df: org.apache.spark.sql.DataFrame) =
      ops.canonicalOfLabelState(df).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSeq
    def cellsNow(): Map[String, Seq[Byte]] = {
      spark.catalog.refreshTable(sk)
      spark.table(sk).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    }
    def freshCells(docs: org.apache.spark.sql.DataFrame) =
      docs.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
    def indexIds(): Set[Long] = {
      spark.catalog.refreshTable(s"${nd}_shingles")
      IndexFamily.load(spark, IndexFamily.NearDup, nd, Fleet).shingles
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    // served k-NN as a value set: (probe_id, neighbor_id, cos, rn) —
    // the exact tier reads only (vec_id, v, n), so the synced store
    // (quantized under the frozen gen-A model) must serve IDENTICALLY
    // to a recompute over the generation's own vectors
    def served(vectors: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      sim.bruteForceTopKIndexed(
          sim.AnnIndex(vectors, Array.empty, 1.0, 0, 0, Array.empty),
          nProbes = 10, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    def servedPart(store: org.apache.spark.sql.DataFrame,
        labelEq: Int): Set[(Long, Long, Double, Int)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("neighbor_id"))
      val probes = store.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("n").as("pn"))
      store.filter(col("label") === labelEq)
        .select(col("vec_id").as("neighbor_id"), col("v"), col("n"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", round(graft.functions.Exprs.dotProduct(col("pv"), col("v")) /
          (col("pn") * col("n")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("neighbor_id"), col("cos"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    }
    def assertGen(m: Map[Long, String], tag: String,
        langs: Map[Long, String] = Map.empty): Unit = {
      assert(indexIds() == m.keySet, s"$tag: index membership wrong")
      // set-based membership hides DUPLICATES (a stale tombstone-list
      // read lets a replayed re-append double-insert — round 16): the
      // shingle table must hold exactly one row per doc
      val dups = IndexFamily.load(spark, IndexFamily.NearDup, nd, Fleet).shingles
        .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(dups == 0, s"$tag: $dups docs have duplicated shingle rows")
      spark.catalog.refreshTable(lab)
      assert(canon(spark.table(lab)) == canon(ops.labelStateOf(docsOf(m, langs))),
        s"$tag: labels != recompute")
      assert(cellsNow() == freshCells(docsOf(m, langs)),
        s"$tag: cells != recompute")
      // the VECTOR arms: synced store membership + served exact k-NN ==
      // recomputes over the generation's own vectors
      spark.catalog.refreshTable(s"${ann}_vectors")
      val fresh = vecsOf(docsOf(m, langs)).localCheckpoint()
      val syncedStore = sim.loadAnnIndex(spark, ann).vectors
      assert(syncedStore.select("vec_id").collect().map(_.getLong(0)).toSet ==
        m.keySet, s"$tag: ann store membership wrong")
      assert(served(syncedStore) == served(fresh),
        s"$tag: ann store served k-NN != recompute")
      spark.catalog.refreshTable(annp)
      val partStore = sim.loadPartitionedAnnStore(spark, annp)
      assert(partStore.select("vec_id").collect().map(_.getLong(0)).toSet ==
        m.keySet, s"$tag: partitioned store membership wrong")
      assert(servedPart(partStore, labelEq = 1) == servedPart(fresh, labelEq = 1),
        s"$tag: partitioned store served k-NN != recompute")
    }
    try {
      ops.saveNearDupIndex(ops.buildNearDupIndex(docsOf(aT)), nd)
      ops.saveLabelState(spark, lab, ops.labelStateOf(docsOf(aT)))
      docsOf(aT).groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
        .write.saveAsTable(sk)
      // the vector stores start at gen A too (model trains on gen A and
      // stays frozen — appends quantize under it, the s9 contract)
      sim.saveAnnIndex(spark, ann, vecsOf(docsOf(aT)))
      sim.savePartitionedAnnStore(spark, annp, vecsOf(docsOf(aT)))
      // publish gen B, stream the first diff
      publish("b", bT, "a", "d1")
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf)
      assertGen(bT, "after A->B")
      // publish gen C; the new run REPLAYS d1 (fresh checkpoint) before
      // d2 — sequencing AND replay convergence in one pass
      publish("c", cT, "b", "d2", cLangs)
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf)
      assertGen(cT, "after A->B->C with d1 replayed", cLangs)
      // the hard label cases landed
      spark.catalog.refreshTable(lab)
      val cl = spark.table(lab).select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!cl.contains(7L) && !cl.contains(13L), s"removed docs labeled: $cl")
      assert(cl(9L) == cl(11L), s"gen-C re-pair of the split halves missing: $cl")
      assert(cl(16L) == cl(18L), s"gen-B addition not merged: $cl")
      assert(cl(14L) == cl(15L), s"gen-B amendment not re-paired: $cl")
      // a full third replay of BOTH diffs is a no-op at the value level
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf)
      assertGen(cT, "after wholesale replay", cLangs)
    } finally {
      all.foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("tenant streaming estate sync: the synced tenant follows the diff chain A->B->C; the other tenant never moves; full replay converges") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val cw = graft.emit.CorpusWriter
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def textOf(id: Long, gen: String): String = gen match {
      case "a" => noise(id)
      case "b" => if (id == 10L) noise(id) + " v2" else noise(id)
      case _ => if (id == 10L) noise(id) + " v2"
        else if (id == 2L) noise(id) + " v3" else noise(id)
    }
    def idsOf(gen: String): Seq[Long] = gen match {
      case "a" => (0L to 19L)
      case "b" => (0L to 21L).filterNot(i => i == 4L || i == 5L)
      case _ => (0L to 23L).filterNot(i => Set(4L, 5L, 6L, 9L).contains(i))
    }
    def docsOf(gen: String) = idsOf(gen)
      .map(i => (i, textOf(i, gen), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft_tesync").toString
    Seq("a", "b", "c").foreach(g => cw.write(docsOf(g), s"$root/$g"))
    val cur = s"$root/current"
    val diffDir = s"$root/diffs"
    new java.io.File(diffDir).mkdirs()
    def publish(gen: String, prev: String, diffName: String): Unit = {
      cw.write(docsOf(gen), cur)
      val tmp = s"$root/tmp_$diffName"
      cw.corpusDiff(spark, s"$root/$prev", s"$root/$gen")
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$diffDir/$diffName.parquet"))
    }
    val (nd, sk) = ("tstr_nd", "tstr_sk")
    val all = Seq(s"${nd}_banded", s"${nd}_shingles", s"${nd}_tombstones", sk)
    all.foreach { t =>
      ops.dropTableAndLocation(spark, t)
      ops.dropTenantCompactionTemps(spark, t, 2)
    }
    def targetsOf(docs: org.apache.spark.sql.DataFrame) =
      ops.TenantEstateSyncTargets(indexes = Seq((IndexFamily.NearDup, nd, docs)),
        sketchCells = Some((sk, docs)))
    def sortedCols(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*)
    // the synced tenant's shingles must equal a from-scratch build over
    // the generation's OWN slice (tombstone filtering reorders columns
    // via usingColumns — compare name-sorted)
    def assertSlice(tn: Int, gen: String, tag: String): Unit = {
      spark.catalog.refreshTable(s"${nd}_shingles")
      spark.catalog.refreshTable(s"${nd}_banded")
      val got = sortedCols(IndexFamily.load(spark, IndexFamily.NearDup, nd, Tenant(tn, 2)).shingles)
      val want = sortedCols(ops.shingleTableOf(
        docsOf(gen).filter(pmod(col("doc_id"), lit(2)) === tn)))
      val onlyGot = got.exceptAll(want).take(5)
      val onlyWant = want.exceptAll(got).take(5)
      assert(onlyGot.isEmpty && onlyWant.isEmpty,
        s"$tag: tenant-$tn shingles != gen-$gen recompute:" +
          s"\n only-got=${onlyGot.mkString("; ")}" +
          s"\n only-want=${onlyWant.mkString("; ")}")
      spark.catalog.refreshTable(sk)
      val cells = ops.loadTenantSketchCells(spark, sk, tn).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val fresh = docsOf(gen).filter(pmod(col("doc_id"), lit(2)) === tn)
        .groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(cells == fresh, s"$tag: tenant-$tn cells != gen-$gen recompute")
    }
    try {
      IndexFamily.save(spark, IndexFamily.NearDup,
          nd, Tenant(0, 2), ops.shingleTableOf(docsOf("a")))
      ops.saveTenantSketchCells(spark, sk, docsOf("a"), 2)
      publish("b", "a", "d1")
      graft.streaming.EventsStream.runTenantEstateSyncStream(spark, diffDir,
        cur, 0, 2, targetsOf)
      assertSlice(0, "b", "after A->B")
      assertSlice(1, "a", "after A->B")
      publish("c", "b", "d2")
      // fresh run (no checkpoint): REPLAYS d1 against the gen-C payload
      // before d2 — sequencing AND replay convergence in one pass
      graft.streaming.EventsStream.runTenantEstateSyncStream(spark, diffDir,
        cur, 0, 2, targetsOf)
      assertSlice(0, "c", "after A->B->C with d1 replayed")
      assertSlice(1, "a", "after A->B->C with d1 replayed")
      // a full third replay of BOTH diffs is a no-op at the value level
      graft.streaming.EventsStream.runTenantEstateSyncStream(spark, diffDir,
        cur, 0, 2, targetsOf)
      assertSlice(0, "c", "after wholesale replay")
      assertSlice(1, "a", "after wholesale replay")
    } finally {
      all.foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("streaming estate sync with checkpointLocation: a restart resumes from the last committed diff, not a full history replay") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val cw = graft.emit.CorpusWriter
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docsOf(ids: Seq[Long]) = ids.sorted
      .map(i => (i, noise(i), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val aIds = (1L to 8L)
    val bIds = aIds.filterNot(_ == 3L) :+ 9L   // A->B: remove 3, add 9
    val cIds = bIds.filterNot(_ == 5L) :+ 10L  // B->C: remove 5, add 10
    val root = java.nio.file.Files.createTempDirectory("graft_esck").toString
    Seq(("a", aIds), ("b", bIds), ("c", cIds)).foreach { case (g, ids) =>
      cw.write(docsOf(ids), s"$root/$g") }
    val cur = s"$root/current"
    val diffDir = s"$root/diffs"
    val ckpt = s"$root/ckpt"
    new java.io.File(diffDir).mkdirs()
    def publish(gen: String, ids: Seq[Long], prev: String, diffName: String): Unit = {
      cw.write(docsOf(ids), cur)
      val tmp = s"$root/tmp_$diffName"
      cw.corpusDiff(spark, s"$root/$prev", s"$root/$gen")
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$diffDir/$diffName.parquet"))
    }
    val nd = "esck_nd"
    val all = Seq(s"${nd}_banded", s"${nd}_shingles", s"${nd}_meta",
      s"${nd}_tombstones")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    // targetsOf fires once per MICRO-BATCH — counting its calls is the
    // direct observable separating resume-from-checkpoint (1 new batch)
    // from the default full-history replay (all diffs again)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    def targetsOf(docs: org.apache.spark.sql.DataFrame) = {
      batches.incrementAndGet()
      ops.EstateSyncTargets(indexes = Seq((IndexFamily.NearDup, nd, docs)))
    }
    def indexIds(): Set[Long] = {
      spark.catalog.refreshTable(s"${nd}_shingles")
      IndexFamily.load(spark, IndexFamily.NearDup, nd, Fleet).shingles
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    try {
      ops.saveNearDupIndex(ops.buildNearDupIndex(docsOf(aIds)), nd)
      publish("b", bIds, "a", "d1")
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf, checkpointLocation = Some(ckpt))
      assert(batches.get() == 1 && indexIds() == bIds.toSet,
        s"first run: batches=${batches.get()}, ids=${indexIds()}")
      publish("c", cIds, "b", "d2")
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf, checkpointLocation = Some(ckpt))
      // RESUME: only d2 processed — one new micro-batch, not a replay
      assert(batches.get() == 2,
        s"checkpointed restart replayed history: ${batches.get()} batches total")
      assert(indexIds() == cIds.toSet, s"ids=${indexIds()}")
      // control: the default (no checkpoint) replays BOTH diffs and
      // still converges to the same state (the documented contract)
      graft.streaming.EventsStream.runEstateSyncStream(spark, diffDir, cur,
        targetsOf)
      assert(batches.get() == 4,
        s"uncheckpointed run must replay the whole history: ${batches.get()}")
      assert(indexIds() == cIds.toSet, "wholesale replay diverged")
    } finally {
      all.foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("streaming SpaceSaving sketch == batch sketch (exact regime)") {
    val dir = sf("sf0.001")
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getString(0), e.getLong(1), e.getLong(2)))
    }.toMap
    val streamed = toMap(EventsStream.heavyHitterSketch(spark, dir).collect())
    val batch = toMap(Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.plans.SpaceSavingAgg
        .spaceSavingTopK(col("user_id").cast("string"), 256).as("sk"))
      .collect())
    // capacity > distinct users -> exact sketch -> deterministic rendering
    // must agree row for row despite the state-store round-trip
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.values.exists(_.nonEmpty))
  }

  test("streaming reband loop: ingest trips the monitor, final generation == batch lifecycle's; replay is a no-op") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    // base = the d43 audit slice (natural corpus); shard = the planted
    // miss pairs whose ARRIVAL trips the per-batch monitor
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.splitBucket(col("doc_id")) < 64)
      .select(col("doc_id"), col("text"), col("lang"))
      .localCheckpoint()
    val probes = Dedup.minhashProbeDocs(spark)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_reband").toString
    probes.withColumn("source", lit("s")).withColumn("n_chars", lit(1L))
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_shingles").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    dropAll("rbl_stream"); dropAll("rbl_ref")
    try {
      Dedup.initMinhashRebandState(spark, "rbl_stream", base)
      // sanity: the serving generation starts at the 3×3 default
      assert(spark.table("rbl_stream_meta").head().getAs[Int]("bands") == 3)
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.minhashReband,
        EventsStream.Fleet("rbl_stream"))
      // the batch reference: the d43 lifecycle one-shot over base ∪ shard
      Dedup.minhashRebandLifecycle(spark, "rbl_ref",
        base.unionByName(probes), threshold = 0.8, target = 0.95)
      def banded(t: String) = spark.table(t)
        .select("doc_id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      def metaRow(t: String) = {
        val m = spark.table(t).head()
        (m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
      }
      // the monitor tripped and the action landed: 9×1, equal to the
      // batch lifecycle's final generation row for row
      assert(metaRow("rbl_stream_meta") == ((9, 1)))
      assert(metaRow("rbl_ref_meta") == metaRow("rbl_stream_meta"))
      val afterFirst = banded("rbl_stream_banded")
      assert(afterFirst == banded("rbl_ref_banded"))
      assert(afterFirst.nonEmpty)
      // replay: the same shard content re-delivered (fresh stream over
      // the same dir) anti-joins to empty — a state no-op
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.minhashReband,
        EventsStream.Fleet("rbl_stream"))
      assert(banded("rbl_stream_banded") == afterFirst)
      assert(metaRow("rbl_stream_meta") == ((9, 1)))
    } finally {
      dropAll("rbl_stream"); dropAll("rbl_ref")
    }
  }

  test("streaming winnow retune loop: short-doc shard trips the detection monitor, final generation == batch lifecycle's; replay is a no-op") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    // base = the d55b audit slice; shard = the planted short-doc miss
    // pairs whose ARRIVAL trips the per-batch detection monitor
    val base = Tables.documents(spark, dir)
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.splitBucket(col("doc_id")) < 64)
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val probes = Dedup.winnowProbeDocs(spark)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_wrt").toString
    probes.withColumn("lang", lit("xx")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(1L))
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_docs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    dropAll("wrl_stream"); dropAll("wrl_ref")
    try {
      Dedup.initWinnowRetuneState(spark, "wrl_stream", base)
      assert(spark.table("wrl_stream_meta").head().getAs[Int]("winnow") == 4)
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.winnowRetune,
        EventsStream.Fleet("wrl_stream"))
      // the batch reference: the d55b lifecycle one-shot over base ∪ shard
      Dedup.winnowRetuneLifecycle(spark, "wrl_ref",
        base.unionByName(probes), target = 0.95)
      def fps(t: String) = spark.table(t).select("doc_id", "d").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def metaWinnow(t: String) = spark.table(t).head().getAs[Int]("winnow")
      assert(metaWinnow("wrl_stream_meta") == 2) // the monitor tripped
      assert(metaWinnow("wrl_ref_meta") == 2)
      val afterFirst = fps("wrl_stream_banded")
      assert(afterFirst == fps("wrl_ref_banded"))
      assert(afterFirst.nonEmpty)
      // replay: re-delivered shard anti-joins to empty — a state no-op
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.winnowRetune,
        EventsStream.Fleet("wrl_stream"))
      assert(fps("wrl_stream_banded") == afterFirst)
      assert(metaWinnow("wrl_stream_meta") == 2)
    } finally {
      dropAll("wrl_stream"); dropAll("wrl_ref")
    }
  }

  test("tenant streaming winnow retune loop: only the shard's tenant trips and retunes; the other tenant's generation never moves") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    def tenantBase(tn: Int) = Tables.documents(spark, dir)
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.splitBucket(col("doc_id")) < 64 &&
        pmod(col("doc_id"), lit(2)) === tn)
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    // the shard carries ONLY tenant 1's planted short-doc misses (odd
    // negative ids — the d61 probe layout)
    val probes = Dedup.tenantWinnowProbeDocs(spark, 1)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_twrt").toString
    probes.withColumn("lang", lit("xx")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(1L))
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_docs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("twrl_t0", "twrl_t1", "twrl_ref1").foreach(dropAll)
    try {
      Dedup.initWinnowRetuneState(spark, "twrl_t0", tenantBase(0))
      Dedup.initWinnowRetuneState(spark, "twrl_t1", tenantBase(1))
      def fps(t: String) = spark.table(t).select("doc_id", "d").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def metaWinnow(t: String) = spark.table(t).head().getAs[Int]("winnow")
      val t0Init = fps("twrl_t0_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.winnowRetune,
        EventsStream.Tenants("twrl"))
      // tenant 1 tripped on its planted short-doc misses and retuned to
      // winnow 2, equal to its own per-tenant batch lifecycle (the d18
      // shared-oracle pattern — d61's oracle already gates the lifecycle)
      Dedup.winnowRetuneLifecycle(spark, "twrl_ref1",
        tenantBase(1).unionByName(probes), target = 0.95)
      assert(metaWinnow("twrl_t1_meta") == 2)
      assert(fps("twrl_t1_banded") == fps("twrl_ref1_banded"))
      assert(fps("twrl_t1_banded").nonEmpty)
      // tenant 0's generation NEVER moved: same winnow, same rows
      assert(metaWinnow("twrl_t0_meta") == 4)
      assert(fps("twrl_t0_banded") == t0Init)
      // replay: a re-delivered shard is a state no-op for BOTH tenants
      val t1After = fps("twrl_t1_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.winnowRetune,
        EventsStream.Tenants("twrl"))
      assert(fps("twrl_t1_banded") == t1After)
      assert(fps("twrl_t0_banded") == t0Init)
      assert(metaWinnow("twrl_t1_meta") == 2)
    } finally {
      Seq("twrl_t0", "twrl_t1", "twrl_ref1").foreach(dropAll)
    }
  }

  test("streaming simhash reband loop: ingest trips the d28 monitor, final generation == batch lifecycle's; replay is a no-op") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint()
    val allSigs = Dedup.simhash64Of(docs).localCheckpoint()
    // base = ids < 400; the holdout's ARRIVAL trips the monitor
    // NATURALLY: the full fleet at 4 bands / radius 5 measures 0.9048
    // (38/42) at sf0.001 — below the 0.95 target, no planted probes
    val shardDir = java.nio.file.Files.createTempDirectory("graft_shrb").toString
    docs.filter(col("doc_id") >= 400)
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("shrb_stream", "shrb_ref").foreach(dropAll)
    try {
      Dedup.initSimhashRebandState(spark, "shrb_stream",
        allSigs.filter(col("doc_id") < 400))
      assert(spark.table("shrb_stream_meta").head().getAs[Int]("bands") == 4)
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.simhashReband,
        EventsStream.Fleet("shrb_stream"), auditFilter = Some(lit(true)))
      // the batch reference: the d32 lifecycle one-shot over all sigs
      Dedup.simhashRebandLifecycle(spark, "shrb_ref", allSigs,
        radius = 5, target = 0.95)
      def banded(t: String) = spark.table(t)
        .select("doc_id", "simhash", "b", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      def metaBands(t: String) = spark.table(t).head().getAs[Int]("bands")
      assert(metaBands("shrb_stream_meta") == 8) // the monitor tripped
      assert(metaBands("shrb_ref_meta") == 8)
      val afterFirst = banded("shrb_stream_banded")
      assert(afterFirst == banded("shrb_ref_banded"))
      assert(afterFirst.nonEmpty)
      // replay: re-delivered shard anti-joins to empty — a state no-op
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.simhashReband,
        EventsStream.Fleet("shrb_stream"), auditFilter = Some(lit(true)))
      assert(banded("shrb_stream_banded") == afterFirst)
      assert(metaBands("shrb_stream_meta") == 8)
    } finally {
      Seq("shrb_stream", "shrb_ref").foreach(dropAll)
    }
  }

  test("tenant streaming simhash reband loop: only the shard's tenant trips (the d62 natural skew) and rebands; the other tenant never moves") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint()
    val allSigs = Dedup.simhash64Of(docs).localCheckpoint()
    def tenantSigs(tn: Int) =
      allSigs.filter(pmod(col("doc_id"), lit(2)) === tn)
    // the shard carries ONLY tenant 1's holdout docs; tenant 1's slice
    // trips NATURALLY (d62's localization: 0.8182 at sf0.001) while
    // tenant 0 measures 1.0 at radius 5
    val shardDir = java.nio.file.Files.createTempDirectory("graft_tshrb").toString
    docs.filter(pmod(col("doc_id"), lit(2)) === 1 && col("doc_id") >= 400)
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("tshrb_t0", "tshrb_t1", "tshrb_ref1").foreach(dropAll)
    try {
      Dedup.initSimhashRebandState(spark, "tshrb_t0", tenantSigs(0))
      Dedup.initSimhashRebandState(spark, "tshrb_t1",
        tenantSigs(1).filter(col("doc_id") < 400))
      def banded(t: String) = spark.table(t)
        .select("doc_id", "simhash", "b", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      def metaBands(t: String) = spark.table(t).head().getAs[Int]("bands")
      val t0Init = banded("tshrb_t0_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.simhashReband,
        EventsStream.Tenants("tshrb"), auditFilter = Some(lit(true)))
      // tenant 1 tripped naturally and rebanded to the radius-exact
      // 8x8 tier, equal to its own per-tenant batch lifecycle
      Dedup.simhashRebandLifecycle(spark, "tshrb_ref1", tenantSigs(1),
        radius = 5, target = 0.95)
      assert(metaBands("tshrb_t1_meta") == 8)
      assert(banded("tshrb_t1_banded") == banded("tshrb_ref1_banded"))
      assert(banded("tshrb_t1_banded").nonEmpty)
      // tenant 0's generation NEVER moved: same banding, same rows
      assert(metaBands("tshrb_t0_meta") == 4)
      assert(banded("tshrb_t0_banded") == t0Init)
      // replay: a re-delivered shard is a state no-op for BOTH tenants
      val t1After = banded("tshrb_t1_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.simhashReband,
        EventsStream.Tenants("tshrb"), auditFilter = Some(lit(true)))
      assert(banded("tshrb_t1_banded") == t1After)
      assert(banded("tshrb_t0_banded") == t0Init)
      assert(metaBands("tshrb_t1_meta") == 8)
    } finally {
      Seq("tshrb_t0", "tshrb_t1", "tshrb_ref1").foreach(dropAll)
    }
  }

  test("streaming ANN rebucket loop: ingest trips the recall monitor, final generation == batch lifecycle's; replay is a no-op") {
    import graft.operators.{Dedup, Similarity}
    val dir = sf("sf0.001")
    val all = Similarity.preparedEmbeddings(spark, dir)
      .select(col("vec_id"), col("v"), col("n")).localCheckpoint()
    // base = the corpus minus a holdout; the holdout's ARRIVAL trips
    // the per-batch monitor NATURALLY (the 3-plane bucket tier at
    // sf0.001 measures well under the 0.3 target — no planted probes)
    val base = all.filter(col("vec_id") < 400)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_arb").toString
    Tables.read(spark, dir, "embeddings")
      .filter(col("vec_id") >= 400)
      .select("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_vecs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("arb_stream", "arb_ref").foreach(dropAll)
    try {
      Similarity.initAnnRebucketState(spark, "arb_stream", base)
      assert(spark.table("arb_stream_meta").head().getAs[Int]("planes") == 3)
      // audit = the whole retained corpus: makes the stream's monitor
      // read exactly the lifecycle's measure (the spec's identity is
      // about final STATE; the bounded-audit dial is exercised by the
      // loop's defaults in production)
      // target 0.5: the FLEET corpus at sf0.001 measures 0.40 at
      // planes 3 (trips) and 0.76 at planes 1 (clears) — the per-
      // tenant slices sit lower (0.16/0.20), which is what the tenant
      // twin exercises at the default 0.3
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.annRebucket(target = 0.5),
        EventsStream.Fleet("arb_stream"), auditFilter = Some(lit(true)))
      Similarity.annRebucketLifecycle(spark, "arb_ref", all,
        nProbes = 5, k = 5, planes0 = 3, planes1 = 1, target = 0.5)
      def buckets(t: String) = spark.table(t)
        .select(col("vec_id"), col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def metaPlanes(t: String) = spark.table(t).head().getAs[Int]("planes")
      assert(metaPlanes("arb_stream_meta") == 1) // the monitor tripped
      assert(metaPlanes("arb_ref_meta") == 1)
      val afterFirst = buckets("arb_stream_banded")
      assert(afterFirst == buckets("arb_ref_banded"))
      assert(afterFirst.nonEmpty)
      // replay: re-delivered shard anti-joins to empty — a state no-op
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.annRebucket(target = 0.5),
        EventsStream.Fleet("arb_stream"), auditFilter = Some(lit(true)))
      assert(buckets("arb_stream_banded") == afterFirst)
      assert(metaPlanes("arb_stream_meta") == 1)
    } finally {
      Seq("arb_stream", "arb_ref").foreach(dropAll)
    }
  }

  test("tenant streaming ANN rebucket loop: only the shard's tenant trips and re-buckets; the other tenant's generation never moves") {
    import graft.operators.{Dedup, Similarity}
    val dir = sf("sf0.001")
    def tenantVecs(tn: Int) = Similarity.preparedEmbeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2)) === tn)
      .select(col("vec_id"), col("v"), col("n")).localCheckpoint()
    val t1 = tenantVecs(1)
    // the shard carries ONLY tenant 1's holdout vectors
    val shardDir = java.nio.file.Files.createTempDirectory("graft_tarb").toString
    Tables.read(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(2)) === 1 && col("vec_id") >= 400)
      .select("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_vecs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("tarb_t0", "tarb_t1", "tarb_ref1").foreach(dropAll)
    try {
      Similarity.initAnnRebucketState(spark, "tarb_t0", tenantVecs(0))
      Similarity.initAnnRebucketState(spark, "tarb_t1",
        t1.filter(col("vec_id") < 400))
      def buckets(t: String) = spark.table(t)
        .select(col("vec_id"), col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def metaPlanes(t: String) = spark.table(t).head().getAs[Int]("planes")
      val t0Init = buckets("tarb_t0_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.annRebucket(),
        EventsStream.Tenants("tarb"), auditFilter = Some(lit(true)))
      // tenant 1 tripped naturally and re-bucketed to planes 1, equal
      // to its own per-tenant batch lifecycle (the d18 shared-oracle
      // pattern — s23's oracle gates the lifecycle)
      Similarity.annRebucketLifecycle(spark, "tarb_ref1", t1,
        nProbes = 5, k = 5, planes0 = 3, planes1 = 1, target = 0.3)
      assert(metaPlanes("tarb_t1_meta") == 1)
      assert(buckets("tarb_t1_banded") == buckets("tarb_ref1_banded"))
      assert(buckets("tarb_t1_banded").nonEmpty)
      // tenant 0's generation NEVER moved: same planes, same rows
      assert(metaPlanes("tarb_t0_meta") == 3)
      assert(buckets("tarb_t0_banded") == t0Init)
      // replay: a re-delivered shard is a state no-op for BOTH tenants
      val t1After = buckets("tarb_t1_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.annRebucket(),
        EventsStream.Tenants("tarb"), auditFilter = Some(lit(true)))
      assert(buckets("tarb_t1_banded") == t1After)
      assert(buckets("tarb_t0_banded") == t0Init)
      assert(metaPlanes("tarb_t1_meta") == 1)
    } finally {
      Seq("tarb_t0", "tarb_t1", "tarb_ref1").foreach(dropAll)
    }
  }

  test("streaming SRP reband loop: ingest trips the banded-recall monitor, final generation == batch lifecycle's; replay is a no-op") {
    import graft.operators.{Dedup, Similarity}
    val dir = sf("sf0.001")
    val all = Similarity.preparedEmbeddings(spark, dir)
      .select(col("vec_id"), col("v"), col("n"))
      .withColumn("label", lit(0)).localCheckpoint()
    // base = the corpus minus a holdout; the holdout's ARRIVAL trips
    // the monitor NATURALLY: 4×2 OR-amplified SRP at cos 0.3 sits near
    // the closed form's ~0.83 — below the loop's 0.9 default target —
    // and 8 bands near ~0.97 (no planted probes)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_srb").toString
    Tables.read(spark, dir, "embeddings")
      .filter(col("vec_id") >= 400)
      .select("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_vecs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("srb_stream", "srb_ref").foreach(dropAll)
    try {
      Dedup.initSrpRebandState(spark, "srb_stream",
        all.filter(col("vec_id") < 400))
      assert(spark.table("srb_stream_meta").head().getAs[Int]("bands") == 4)
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.srpReband,
        EventsStream.Fleet("srb_stream"), auditFilter = Some(lit(true)))
      // the batch reference: the d41 lifecycle one-shot over all vecs
      Dedup.srpRebandLifecycle(spark, "srb_ref", all, df => df,
        threshold = 0.3, target = 0.9)
      def banded(t: String) = spark.table(t)
        .select(col("label").cast("long"), col("vec_id"), col("band"),
          col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      def metaBands(t: String) = spark.table(t).head().getAs[Int]("bands")
      assert(metaBands("srb_stream_meta") == 8) // the monitor tripped
      assert(metaBands("srb_ref_meta") == 8)
      val afterFirst = banded("srb_stream_banded")
      assert(afterFirst == banded("srb_ref_banded"))
      assert(afterFirst.nonEmpty)
      // replay: re-delivered shard anti-joins to empty — a state no-op
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.srpReband,
        EventsStream.Fleet("srb_stream"), auditFilter = Some(lit(true)))
      assert(banded("srb_stream_banded") == afterFirst)
      assert(metaBands("srb_stream_meta") == 8)
    } finally {
      Seq("srb_stream", "srb_ref").foreach(dropAll)
    }
  }

  test("tenant streaming SRP reband loop at T=8: skewed batches touch a subset of tenants; touched == their batch lifecycles, untouched pinned") {
    import graft.operators.{Dedup, Similarity}
    val dir = sf("sf0.001")
    val all = Similarity.preparedEmbeddings(spark, dir)
      .select(col("vec_id"), col("v"), col("n"))
      .withColumn("label", lit(0)).localCheckpoint()
    def tenantVecs(tn: Int) =
      all.filter(pmod(col("vec_id"), lit(8)) === tn)
    // TWO shard files (maxFilesPerTrigger=1 ⇒ two micro-batches), each
    // carrying a DIFFERENT tenant subset — per-batch, most of the 8
    // tenants are absent, which is exactly the touched-tenant fan-out
    // the loop optimizes (and what the round-19 verdict asked to pin:
    // the per-batch touched-set under T=8 skew)
    val raw = Tables.read(spark, dir, "embeddings")
      .select("vec_id", "embedding", "label")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_tsrb8").toString
    raw.filter(pmod(col("vec_id"), lit(8)) === 1 && col("vec_id") >= 400)
      .coalesce(1).write.mode("append").parquet(shardDir)
    raw.filter(pmod(col("vec_id"), lit(8)).isin(3, 5) &&
        col("vec_id") >= 400)
      .coalesce(1).write.mode("append").parquet(shardDir)
    val touched = Seq(1, 3, 5)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_vecs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    (0 until 8).foreach(tn => dropAll(s"tsrb8_t$tn"))
    touched.foreach(tn => dropAll(s"tsrb8_ref$tn"))
    try {
      (0 until 8).foreach { tn =>
        val base = if (touched.contains(tn))
          tenantVecs(tn).filter(col("vec_id") < 400)
        else tenantVecs(tn)
        Dedup.initSrpRebandState(spark, s"tsrb8_t$tn", base)
      }
      def banded(t: String) = spark.table(t)
        .select(col("label").cast("long"), col("vec_id"), col("band"),
          col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      def metaBands(t: String) = spark.table(t).head().getAs[Int]("bands")
      val untouchedInit =
        (0 until 8).filterNot(touched.contains)
          .map(tn => tn -> banded(s"tsrb8_t${tn}_banded")).toMap
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.srpReband,
        EventsStream.Tenants("tsrb8", n = 8), auditFilter = Some(lit(true)))
      // every touched tenant's final state == its own batch lifecycle
      // (whether or not its slice tripped — equality, not a fixed
      // banding, is the contract)
      touched.foreach { tn =>
        Dedup.srpRebandLifecycle(spark, s"tsrb8_ref$tn", tenantVecs(tn),
          df => df, threshold = 0.3, target = 0.9)
        assert(metaBands(s"tsrb8_t${tn}_meta") ==
          metaBands(s"tsrb8_ref${tn}_meta"))
        assert(banded(s"tsrb8_t${tn}_banded") ==
          banded(s"tsrb8_ref${tn}_banded"))
        assert(banded(s"tsrb8_t${tn}_banded").nonEmpty)
      }
      // at least one touched tenant REBANDED — the spec is not vacuous
      assert(touched.exists(tn => metaBands(s"tsrb8_t${tn}_meta") == 8))
      // untouched tenants: same banding, same rows — never opened
      untouchedInit.foreach { case (tn, rows) =>
        assert(metaBands(s"tsrb8_t${tn}_meta") == 4)
        assert(banded(s"tsrb8_t${tn}_banded") == rows)
      }
      // replay: both shards re-deliver, state a no-op for ALL tenants
      val after = touched.map(tn => tn -> banded(s"tsrb8_t${tn}_banded"))
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.srpReband,
        EventsStream.Tenants("tsrb8", n = 8), auditFilter = Some(lit(true)))
      after.foreach { case (tn, rows) =>
        assert(banded(s"tsrb8_t${tn}_banded") == rows) }
      untouchedInit.foreach { case (tn, rows) =>
        assert(banded(s"tsrb8_t${tn}_banded") == rows) }
    } finally {
      (0 until 8).foreach(tn => dropAll(s"tsrb8_t$tn"))
      touched.foreach(tn => dropAll(s"tsrb8_ref$tn"))
    }
  }

  test("streaming SemDeDup reband loop: frozen-model labels ride the state; final generation == the d42-twin lifecycle; replay is a no-op") {
    import graft.operators.{Dedup, Similarity}
    val dir = sf("sf0.001")
    val model = Similarity.kmeansModel(spark, dir)
    val all = Similarity.preparedEmbeddings(spark, dir)
      .select(col("vec_id"), col("v"), col("n"))
      .withColumn("label", Similarity.assignExpr(model))
      .localCheckpoint()
    val shardDir = java.nio.file.Files.createTempDirectory("graft_sdrb").toString
    Tables.read(spark, dir, "embeddings")
      .filter(col("vec_id") >= 400)
      .select("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_vecs").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("sdrb_stream", "sdrb_ref").foreach(dropAll)
    try {
      Dedup.initSrpRebandState(spark, "sdrb_stream",
        all.filter(col("vec_id") < 400))
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.semDedupReband(model),
        EventsStream.Fleet("sdrb_stream"), auditFilter = Some(lit(true)))
      // the batch reference: the d42 lifecycle one-shot over all vecs
      // under the SAME frozen labels — ingest must not move centroids
      Dedup.srpRebandLifecycle(spark, "sdrb_ref", all, df => df,
        threshold = 0.3, target = 0.9)
      def banded(t: String) = spark.table(t)
        .select(col("label").cast("long"), col("vec_id"), col("band"),
          col("bucket").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
      def metaBands(t: String) = spark.table(t).head().getAs[Int]("bands")
      assert(metaBands("sdrb_stream_meta") == metaBands("sdrb_ref_meta"))
      val afterFirst = banded("sdrb_stream_banded")
      assert(afterFirst == banded("sdrb_ref_banded"))
      assert(afterFirst.nonEmpty)
      // the labels in the persisted state are the MODEL'S, not lit(0):
      // the within-cluster blocking is real, not vacuous
      assert(afterFirst.map(_._1).toSet.size > 1)
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.semDedupReband(model),
        EventsStream.Fleet("sdrb_stream"), auditFilter = Some(lit(true)))
      assert(banded("sdrb_stream_banded") == afterFirst)
    } finally {
      Seq("sdrb_stream", "sdrb_ref").foreach(dropAll)
    }
  }

  test("reband-state append heals a crash between the banded and shingle appends (per-table idempotence)") {
    import graft.operators.Dedup
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en") }.toDF("doc_id", "text", "lang")
    val base = docs(Seq((1L, (1 to 20).map(i => s"b$i").mkString(" "))))
    val fresh = docs(Seq(
      (10L, (1 to 20).map(i => s"x$i").mkString(" ")),
      (11L, (1 to 20).map(i => s"y$i").mkString(" "))))
    def dropAll(): Unit =
      Seq("_banded", "_meta", "_shingles").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"rblcrash$s")
        Dedup.dropTableAndLocation(spark, s"rblcrash__gen$s")
      }
    dropAll()
    try {
      Dedup.initMinhashRebandState(spark, "rblcrash", base)
      val newSh = Dedup.shingleTableOf(fresh).localCheckpoint()
      // stage the crash: the banded append landed, the shingle append
      // (the old idempotence marker) did not
      val m = spark.table("rblcrash_meta").head()
      Dedup.saveBucketedTable(
        Dedup.bandedKeys(newSh, m.getAs[Int]("bands"),
          m.getAs[Int]("rows_per_band")),
        "rblcrash_banded", m.getAs[Int]("buckets"), Seq("band", "bkey"),
        append = true)
      // the redelivered batch re-runs the append — per-table anti-joins
      // must skip the landed banded rows and land the missing shingles
      Dedup.appendMinhashRebandState(spark, "rblcrash", newSh)
      spark.catalog.refreshTable("rblcrash_banded")
      spark.catalog.refreshTable("rblcrash_shingles")
      val dup = spark.table("rblcrash_banded")
        .groupBy("doc_id", "band", "bkey").count()
        .filter(col("count") > 1)
      assert(dup.isEmpty, "duplicate banded rows after healed replay")
      assert(spark.table("rblcrash_shingles").count() == 3)
      assert(spark.table("rblcrash_banded")
        .select("doc_id").distinct().count() == 3)
    } finally dropAll()
  }

  test("tenant streaming reband loop: only the shard's tenant trips and rebands; the other tenant's generation never moves") {
    import graft.operators.Dedup
    val dir = sf("sf0.001")
    def tenantBase(tn: Int) = Tables.documents(spark, dir)
      .filter(col("text").isNotNull &&
        graft.operators.TextAnalysis.splitBucket(col("doc_id")) < 64 &&
        pmod(col("doc_id"), lit(2)) === tn)
      .select(col("doc_id"), col("text"), col("lang"))
      .localCheckpoint()
    // the shard carries ONLY tenant 1's planted misses (odd negative
    // ids — the d57 probe layout)
    val probes = Dedup.tenantRebandProbeDocs(spark, 1)
    val shardDir = java.nio.file.Files.createTempDirectory("graft_trb").toString
    probes.withColumn("source", lit("s")).withColumn("n_chars", lit(1L))
      .coalesce(1).write.mode("append").parquet(shardDir)
    def dropAll(n: String): Unit =
      Seq("_banded", "_meta", "_shingles").foreach { s =>
        Dedup.dropTableAndLocation(spark, s"$n$s")
        Dedup.dropTableAndLocation(spark, s"${n}__gen$s")
      }
    Seq("trbl_t0", "trbl_t1", "trbl_ref1").foreach(dropAll)
    try {
      Dedup.initMinhashRebandState(spark, "trbl_t0", tenantBase(0))
      Dedup.initMinhashRebandState(spark, "trbl_t1", tenantBase(1))
      def banded(t: String) = spark.table(t)
        .select("doc_id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      def metaRow(t: String) = {
        val m = spark.table(t).head()
        (m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
      }
      val t0Init = banded("trbl_t0_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.minhashReband,
        EventsStream.Tenants("trbl"))
      // tenant 1 tripped on its planted misses and rebanded to 9x1,
      // equal to its own per-tenant batch lifecycle
      Dedup.minhashRebandLifecycle(spark, "trbl_ref1",
        tenantBase(1).unionByName(probes), threshold = 0.8, target = 0.95)
      assert(metaRow("trbl_t1_meta") == ((9, 1)))
      assert(banded("trbl_t1_banded") == banded("trbl_ref1_banded"))
      // tenant 0's generation NEVER moved: same banding, same rows
      assert(metaRow("trbl_t0_meta") == ((3, 3)))
      assert(banded("trbl_t0_banded") == t0Init)
      // replay: a re-delivered shard is a state no-op for BOTH tenants
      val t1After = banded("trbl_t1_banded")
      EventsStream.runMonitorLoop(spark, shardDir,
        EventsStream.MonitorFamily.minhashReband,
        EventsStream.Tenants("trbl"))
      assert(banded("trbl_t1_banded") == t1After)
      assert(banded("trbl_t0_banded") == t0Init)
      assert(metaRow("trbl_t1_meta") == ((9, 1)))
    } finally {
      Seq("trbl_t0", "trbl_t1", "trbl_ref1").foreach(dropAll)
    }
  }
}
