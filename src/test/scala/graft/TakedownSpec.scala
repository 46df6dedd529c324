package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The unified takedown facade: ONE apply propagates a deletion list to
  * every registered state class, each state then VALUE-equals its
  * independent recompute over corpus ∖ removed, a replayed apply is a
  * global no-op, and a later batch with a fresh id goes through.
  */
class TakedownSpec extends SparkSuite {

  private val ops = graft.operators.Dedup
  private val sim = graft.operators.Similarity
  private val td = graft.operators.Takedown

  private def allTables(nm: Map[String, String], log: String): Seq[String] =
    nm.values.toSeq.flatMap(n => Seq(n, s"${n}_banded", s"${n}_shingles",
      s"${n}_meta", s"${n}_tombstones", s"${n}_fp", s"${n}_df", s"${n}_sets",
      s"${n}_vectors", s"${n}_centroids", s"${n}_pqbook", s"${n}__gen")) :+ log

  test("unified takedown: every state class retracted by one apply; replay is a global no-op") {
    import spark.implicits._
    val baseText = (1 to 60).map(i => s"w$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // 10/11 a near-dup cluster (the takedown of 11 re-labels it); 4 a
    // noise doc whose (lang, source) group and lang cell must shrink;
    // langs/sources alternate so the aggregate has several groups
    val docs = ((0L to 9L).map(i =>
        (i, noise(i), if (i % 2 == 0) "en" else "de", s"s${i % 3}", 1L)) ++ Seq(
        (10L, baseText, "en", "s0", 1L),
        (11L, baseText.replace("w45", "ALT"), "en", "s1", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.1)
    val e = (0L to 11L).map { id =>
      val v = basis((id % 64).toInt)
      (id, -1, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "label", "v", "n").localCheckpoint()

    val nm = Map("nd" -> "tds_nd", "sh" -> "tds_sh", "emb" -> "tds_emb",
      "ct" -> "tds_ct", "ann" -> "tds_ann", "lab" -> "tds_lab",
      "st" -> "tds_st", "sk" -> "tds_sk")
    val log = "tds_log"
    val corpusPath = java.nio.file.Files.createTempDirectory("tds_corpus").toString + "/tree"
    allTables(nm, log).foreach(t => ops.dropTableAndLocation(spark, t))
    ops.saveNearDupIndex(ops.buildNearDupIndex(docs), nm("nd"), buckets = 4)
    IndexFamily.save(spark, IndexFamily.SimHash, nm("sh"), Fleet, 
      docs.select(col("doc_id"), lit(0L).as("simhash")), buckets = 4)
    IndexFamily.save(spark, IndexFamily.Emb, nm("emb"), Fleet, e, buckets = 4)
    IndexFamily.save(spark, IndexFamily.Contain,
        nm("ct"), Fleet, ops.containmentSelection(docs, 8, 4), buckets = 4)
    sim.saveAnnIndex(spark, nm("ann"), e, buckets = 2)
    ops.saveLabelState(spark, nm("lab"), ops.labelStateOf(docs))
    docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .write.saveAsTable(nm("st"))
    docs.groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
      .write.saveAsTable(nm("sk"))
    graft.emit.CorpusWriter.write(docs, corpusPath)
    val targets = td.Targets(
      indexes = Seq(IndexFamily.NearDup -> nm("nd"), IndexFamily.SimHash -> nm("sh"),
        IndexFamily.Emb -> nm("emb"), IndexFamily.Contain -> nm("ct")),
      annIndex = Some(nm("ann")), labelTable = Some(nm("lab")),
      docStatsTable = Some(nm("st")), sketchCellsTable = Some(nm("sk")),
      corpusPath = Some(corpusPath), documents = Some(docs))

    def idsIn(df: DataFrame, key: String = "doc_id"): Set[Long] =
      df.select(col(key)).distinct().collect().map(_.getLong(0)).toSet
    def statsMap() = spark.table(nm("st")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def cellMap() = spark.table(nm("sk")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap
    def labelSet() = spark.table(nm("lab")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    try {
      val removed = Seq(4L, 11L)
      val applied = td(spark, removed.toDF("doc_id"), targets, log)
      assert(applied == 2L)
      val live = (0L to 10L).toSet - 4L
      val retained = docs.filter(!col("doc_id").isin(removed: _*))

      // every id-keyed state serves exactly the retained ids
      assert(idsIn(IndexFamily.load(spark, IndexFamily.NearDup, nm("nd"), Fleet).shingles) == live)
      assert(idsIn(IndexFamily.load(spark, IndexFamily.SimHash, nm("sh"), Fleet).banded) == live)
      assert(idsIn(IndexFamily.load(spark, IndexFamily.Emb,
          nm("emb"), Fleet).vectors, "vec_id") == live)
      assert(idsIn(IndexFamily.load(spark, IndexFamily.Contain, nm("ct"), Fleet).sets) == live)
      assert(idsIn(sim.loadAnnIndex(spark, nm("ann")).vectors, "vec_id") == live)
      assert(idsIn(spark.read.parquet(corpusPath)) == live)
      // value-level: labels == one-shot recompute over corpus ∖ removed
      assert(labelSet() == ops.labelStateOf(retained).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
      // value-level: subtracted aggregate == recompute over retained
      assert(statsMap() == retained.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
      // byte-level: rebuilt cells == from-scratch build over retained
      assert(cellMap() == retained.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap)
      spark.catalog.refreshTable(log)
      assert(idsIn(spark.table(log)) == removed.toSet)

      // REPLAY (same batch id): zero applied, every state bit-unchanged
      val statsBefore = statsMap(); val cellsBefore = cellMap()
      val labelsBefore = labelSet()
      val corpusMtimes = new java.io.File(corpusPath).listFiles().flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty).map(f =>
          f.getPath -> f.lastModified())).toMap
      assert(td(spark, removed.toDF("doc_id"), targets, log) == 0L)
      assert(statsMap() == statsBefore && cellMap() == cellsBefore &&
        labelSet() == labelsBefore)
      assert(new java.io.File(corpusPath).listFiles().flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty).map(f =>
          f.getPath -> f.lastModified())).toMap == corpusMtimes,
        "replay rewrote corpus partitions")
      spark.catalog.refreshTable(log)
      assert(spark.table(log).count() == 2, "replay must not re-log")

      // a LATER batch with a fresh id goes through (batch-scoped dedup)
      assert(td(spark, Seq(7L).toDF("doc_id"), targets, log, batchId = 1L) == 1L)
      assert(idsIn(IndexFamily.load(spark, IndexFamily.NearDup,
          nm("nd"), Fleet).shingles) == live - 7L)
      assert(idsIn(spark.read.parquet(corpusPath)) == live - 7L)
      spark.catalog.refreshTable(log)
      assert(idsIn(spark.table(log)) == Set(4L, 7L, 11L))
    } finally {
      allTables(nm, log).foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(corpusPath).getParentFile)
    }
  }

  test("tenant-scoped takedown: one applyTenant fans four families + the s20 store physical; other tenant's files and ids untouched; replay no-op; foreign ids dropped") {
    import spark.implicits._
    // four small tenant-partitioned estates over docs/vecs 0..19,
    // tenant = parity
    val sh = (0L to 19L).map(i =>
        (i, "en", Seq(s"a$i", s"b$i", "common")))
      .toDF("doc_id", "lang", "sh").localCheckpoint()
    val sigs = (0L to 19L).map(i => (i, 0x1111L * (i % 7) + (i << 3)))
      .toDF("doc_id", "simhash").localCheckpoint()
    def mkv(id: Long) = {
      val v = Array.tabulate(64)(i => math.sin(id * 64 + i) + 1.0)
      (id, (id % 3).toInt, v, math.sqrt(v.map(x => x * x).sum))
    }
    val e = (0L to 19L).map(mkv).toDF("vec_id", "label", "v", "n")
      .localCheckpoint()
    val sel = (0L to 19L).map { id =>
      val fps = Seq(s"g${id % 5}", s"h${id % 3}")
      (id, fps, fps :+ s"u$id")
    }.toDF("doc_id", "fps", "dall").localCheckpoint()
    val nm = Map("nd" -> "tdt2_nd", "sh" -> "tdt2_sh", "emb" -> "tdt2_em",
      "ct" -> "tdt2_ct", "ann" -> "tdt2_an")
    val log = "tdt2_log"
    val tables = Seq(s"${nm("nd")}_banded", s"${nm("nd")}_shingles",
      s"${nm("sh")}_banded", s"${nm("emb")}_banded", s"${nm("emb")}_vectors",
      s"${nm("ct")}_fp", s"${nm("ct")}_df", s"${nm("ct")}_sets", nm("ann"))
    val all = tables.flatMap(t => Seq(t, s"${t}__tcomp")) ++
      nm.values.map(n => s"${n}_tombstones") :+ log
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.NearDup, nm("nd"), Tenant(0, 2), sh)
    IndexFamily.save(spark, IndexFamily.SimHash, nm("sh"), Tenant(0, 2), sigs)
    IndexFamily.save(spark, IndexFamily.Emb, nm("emb"), Tenant(0, 2), e)
    IndexFamily.save(spark, IndexFamily.Contain, nm("ct"), Tenant(0, 2), sel)
    graft.operators.Similarity.saveTenantAnnStore(spark, nm("ann"), e, 2)
    val targets = td.TenantTargets(indexes = Seq(IndexFamily.NearDup -> nm("nd"),
      IndexFamily.SimHash -> nm("sh"), IndexFamily.Emb -> nm("emb"),
      IndexFamily.Contain -> nm("ct")), tenantAnnStore = Some(nm("ann")))
    // recursive: the s20 store nests label=… dirs under tenant=…
    def mtimes(table: String, tenant: Int): Map[String, Long] = {
      def walk(f: java.io.File, prefix: String): Seq[(String, Long)] =
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap { c =>
          if (c.isDirectory) walk(c, s"$prefix${c.getName}/")
          else if (c.getName.endsWith(".parquet"))
            Seq(s"$prefix${c.getName}" -> c.lastModified())
          else Nil
        }
      walk(new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
        s"tenant=$tenant"), "").toMap
    }
    def served(tenant: Int): Seq[Set[Long]] = Seq(
      IndexFamily.load(spark, IndexFamily.NearDup, nm("nd"), Tenant(tenant, 2)).shingles,
      IndexFamily.load(spark, IndexFamily.SimHash, nm("sh"), Tenant(tenant, 2)).banded,
      IndexFamily.load(spark, IndexFamily.Emb, nm("emb"), Tenant(tenant, 2)).vectors
        .withColumnRenamed("vec_id", "doc_id"),
      IndexFamily.load(spark, IndexFamily.Contain, nm("ct"), Tenant(tenant, 2)).sets,
      graft.operators.Similarity.loadTenantAnnStore(spark, nm("ann"), tenant)
        .withColumnRenamed("vec_id", "doc_id")
    ).map(_.select("doc_id").distinct().collect().map(_.getLong(0)).toSet)
    try {
      val t0 = (0L to 19L by 2).toSet
      val t1 = (1L to 19L by 2).toSet
      val t1Before = tables.map(t => t -> mtimes(t, 1)).toMap
      // the list includes tenant-1's id 5 — it must be DROPPED, not fanned
      assert(td.applyTenant(spark, Seq(4L, 6L, 5L).toDF("doc_id"),
        tenant = 0, nTenants = 2, targets, log) == 2L)
      assert(served(0).forall(_ == t0 -- Set(4L, 6L)))
      assert(served(1).forall(_ == t1), "tenant-1 ids changed (5 must NOT be taken down)")
      tables.foreach { t =>
        assert(mtimes(t, 1) == t1Before(t),
          s"tenant-1 files rewrote in $t during tenant-0 takedown")
      }
      // physical: no pending tombstone rows survive the compaction
      nm.values.foreach { n =>
        if (spark.catalog.tableExists(s"${n}_tombstones")) {
          spark.catalog.refreshTable(s"${n}_tombstones")
          assert(spark.table(s"${n}_tombstones").isEmpty,
            s"$n tombstones not cleared by the compaction")
        }
      }
      // replay of the same batch is a no-op, down to tenant-0 mtimes
      val t0After = tables.map(t => t -> mtimes(t, 0)).toMap
      assert(td.applyTenant(spark, Seq(4L, 6L, 5L).toDF("doc_id"),
        tenant = 0, nTenants = 2, targets, log) == 0L)
      tables.foreach(t => assert(mtimes(t, 0) == t0After(t),
        s"replayed takedown rewrote $t"))
      // a LATER batch with a fresh tenant-0 id goes through
      assert(td.applyTenant(spark, Seq(8L).toDF("doc_id"),
        tenant = 0, nTenants = 2, targets, log, batchId = 1L) == 1L)
      assert(served(0).forall(_ == t0 -- Set(4L, 6L, 8L)))
      assert(served(1).forall(_ == t1))
      spark.catalog.refreshTable(log)
      assert(spark.table(log).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(4L, 6L, 8L))
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("tenant labels + sketch cells: one applyTenant re-labels and rebuilds ONLY the tenant's partition; values == fresh build over live slice; plans prune") {
    import spark.implicits._
    val baseText = (1 to 60).map(i => s"w$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // tenant = parity; docs 0/2/4 (tenant 0) form a near-dup cluster —
    // taking down 4 must SPLIT-proof re-label {0,2}; 6 is a singleton
    // whose 'de' cell shrinks; tenant 1 has its own cluster 1/3 that
    // must not move
    val docs = (0L to 19L).map { i =>
      val text = i match {
        case 0L => baseText
        case 2L => baseText.replace("w45", "ALT")
        case 4L => baseText.replace("w30", "EDITED")
        case 1L => baseText.replace("w12", "OTHER")
        case 3L => baseText.replace("w13", "THIRD")
        case _ => noise(i)
      }
      (i, text, if (i % 4 < 2) "en" else "de", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val (lab, sk, log) = ("tdt3_lab", "tdt3_sk", "tdt3_log")
    def reset() = Seq(lab, sk, log).foreach { t =>
      ops.dropTableAndLocation(spark, t)
      ops.dropTenantCompactionTemps(spark, t, 2)
    }
    def mtimes(table: String, tenant: Int): Map[String, Long] = {
      def walk(f: java.io.File, prefix: String): Seq[(String, Long)] =
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap { c =>
          if (c.isDirectory) walk(c, s"$prefix${c.getName}/")
          else if (c.getName.endsWith(".parquet"))
            Seq(s"$prefix${c.getName}" -> c.lastModified())
          else Nil
        }
      walk(new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
        s"tenant=$tenant"), "").toMap
    }
    def labelsOf(t: Int): Map[Long, Long] =
      ops.loadTenantLabelState(spark, lab, t)
        .select("doc_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cellsOf(t: Int): Map[String, Seq[Byte]] =
      ops.loadTenantSketchCells(spark, sk, t)
        .select("lang", "sk").collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    def freshCells(live: DataFrame): Map[String, Seq[Byte]] =
      live.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
    reset()
    try {
      ops.saveTenantLabelState(spark, lab, docs, 2)
      ops.saveTenantSketchCells(spark, sk, docs, 2)
      // tenant isolation at build time: each tenant's clusters computed
      // over its own slice (0/2/4 one cluster, 1/3 another — parity
      // keeps them apart even though all five texts are near-dups)
      assert(labelsOf(0).view.filterKeys(Set(0L, 2L, 4L)).values.toSet == Set(0L))
      assert(labelsOf(1).view.filterKeys(Set(1L, 3L)).values.toSet == Set(1L))
      val lab1Before = labelsOf(1)
      val cells1Before = cellsOf(1)
      val mtLabBefore = mtimes(lab, 1)
      val mtSkBefore = mtimes(sk, 1)
      val n = td.applyTenant(spark, Seq(4L, 6L).toDF("doc_id"),
        tenant = 0, nTenants = 2,
        td.TenantTargets(labelTable = Some(lab), sketchCellsTable = Some(sk),
          documents = Some(docs)),
        log)
      assert(n == 2L)
      // tenant-0 labels: removed gone, the touched cluster re-labeled
      // over survivors ({0,2} still pair), untouched singletons intact
      val l0 = labelsOf(0)
      assert(!l0.contains(4L) && !l0.contains(6L), s"removed doc still labeled: $l0")
      assert(l0(0L) == 0L && l0(2L) == 0L, s"surviving cluster lost: $l0")
      assert(l0(8L) == 8L, s"untouched singleton moved: $l0")
      // tenant-0 cells: BYTE-identical to a fresh build over the live slice
      val live0 = docs.filter(col("doc_id") % 2 === 0 &&
        !col("doc_id").isin(4L, 6L))
      assert(cellsOf(0) == freshCells(live0),
        "tenant-0 cells != fresh build over live slice")
      // tenant-1 untouched: same values, same FILES (mtime-pinned)
      assert(labelsOf(1) == lab1Before, "tenant-1 labels changed")
      assert(cellsOf(1) == cells1Before, "tenant-1 cells changed")
      assert(mtimes(lab, 1) == mtLabBefore, "tenant-1 label files rewrote")
      assert(mtimes(sk, 1) == mtSkBefore, "tenant-1 cell files rewrote")
      // the tenant-sliced reads prune at PLANNING time (PartitionFilters)
      Seq(ops.loadTenantLabelState(spark, lab, 0),
          ops.loadTenantSketchCells(spark, sk, 0)).foreach { df =>
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(out)(df.explain("formatted"))
        val pf = out.toString.linesIterator
          .filter(_.contains("PartitionFilters")).toSeq
        assert(pf.nonEmpty && pf.exists(l => l.contains("tenant") && l.contains("= 0")),
          s"tenant predicate not in PartitionFilters:\n${out.toString.take(2000)}")
      }
    } finally reset()
  }

  test("full-estate takedown STREAM: facade targets maintained per micro-batch; replay no-op") {
    import spark.implicits._
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    val docs = (0L to 11L).map(i =>
        (i, noise(i), if (i % 2 == 0) "en" else "de", s"s${i % 3}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val nm = Map("nd" -> "tdst_nd", "st" -> "tdst_st", "sk" -> "tdst_sk")
    val log = "tdst_log"
    val corpusPath = java.nio.file.Files.createTempDirectory("tdst_corpus").toString + "/tree"
    val tdDir = java.nio.file.Files.createTempDirectory("tdst_reqs").toString
    allTables(nm, log).foreach(t => ops.dropTableAndLocation(spark, t))
    ops.saveNearDupIndex(ops.buildNearDupIndex(docs), nm("nd"), buckets = 4)
    docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .write.saveAsTable(nm("st"))
    docs.groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
      .write.saveAsTable(nm("sk"))
    graft.emit.CorpusWriter.write(docs, corpusPath)
    val targets = td.Targets(
      indexes = Seq(IndexFamily.NearDup -> nm("nd")), docStatsTable = Some(nm("st")),
      sketchCellsTable = Some(nm("sk")), corpusPath = Some(corpusPath),
      documents = Some(docs))
    // two takedown request files → two micro-batches
    Seq(2L, 5L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
    Seq(8L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
    try {
      val logT = graft.streaming.EventsStream.runTakedownStreamTargets(
        spark, tdDir, targets, name = "tdst")
      assert(logT == log)
      val retained = docs.filter(!col("doc_id").isin(2L, 5L, 8L))
      // every registered class equals its recompute over corpus ∖ removed
      assert(IndexFamily.load(spark, IndexFamily.NearDup, nm("nd"), Fleet).shingles
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
        (0L to 11L).toSet -- Set(2L, 5L, 8L))
      def statsMap() = spark.table(nm("st")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(statsMap() == retained.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
      def cellMap() = spark.table(nm("sk")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap
      assert(cellMap() == retained.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap)
      assert(spark.read.parquet(corpusPath).select("doc_id").collect()
        .map(_.getLong(0)).toSet == (0L to 11L).toSet -- Set(2L, 5L, 8L))
      spark.catalog.refreshTable(log)
      assert(spark.table(log).select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(2L, 5L, 8L))
      // replay of the whole stream (fresh run, same files): global no-op
      val statsBefore = statsMap(); val cellsBefore = cellMap()
      graft.streaming.EventsStream.runTakedownStreamTargets(
        spark, tdDir, targets, name = "tdst")
      assert(statsMap() == statsBefore && cellMap() == cellsBefore)
      spark.catalog.refreshTable(log)
      assert(spark.table(log).count() == 3, "replay must not re-log")
    } finally {
      allTables(nm, log).foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(corpusPath).getParentFile)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tdDir))
    }
  }

  test("tenant takedown STREAM: applyTenant per micro-batch; physical, isolated, replay no-op") {
    import spark.implicits._
    val sh = (0L to 19L).map(i =>
        (i, "en", Seq(s"a$i", s"b$i", "common")))
      .toDF("doc_id", "lang", "sh").localCheckpoint()
    val sel = (0L to 19L).map { id =>
      val fps = Seq(s"g${id % 5}", s"h${id % 3}")
      (id, fps, fps :+ s"u$id")
    }.toDF("doc_id", "fps", "dall").localCheckpoint()
    val nm = Map("nd" -> "tdts_nd", "ct" -> "tdts_ct")
    val log = "tdts_log"
    val tables = Seq(s"${nm("nd")}_banded", s"${nm("nd")}_shingles",
      s"${nm("ct")}_fp", s"${nm("ct")}_df", s"${nm("ct")}_sets")
    val all = tables.flatMap(t => Seq(t, s"${t}__tcomp")) ++
      nm.values.map(n => s"${n}_tombstones") :+ log
    val tdDir = java.nio.file.Files.createTempDirectory("tdts_reqs").toString
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.NearDup, nm("nd"), Tenant(0, 2), sh)
    IndexFamily.save(spark, IndexFamily.Contain, nm("ct"), Tenant(0, 2), sel)
    val targets = td.TenantTargets(indexes = Seq(IndexFamily.NearDup -> nm("nd"),
      IndexFamily.Contain -> nm("ct")))
    def mtimes(table: String, tenant: Int): Map[String, Long] = {
      val d = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
        s"tenant=$tenant")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def served(tenant: Int): Seq[Set[Long]] = Seq(
      IndexFamily.load(spark, IndexFamily.NearDup, nm("nd"), Tenant(tenant, 2)).shingles,
      IndexFamily.load(spark, IndexFamily.Contain, nm("ct"), Tenant(tenant, 2)).sets
    ).map(_.select("doc_id").distinct().collect().map(_.getLong(0)).toSet)
    // two request files → two micro-batches; 5 is tenant-1 (must drop)
    Seq(4L, 5L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
    Seq(8L).toDF("doc_id").coalesce(1).write.mode("append").parquet(tdDir)
    try {
      val t0 = (0L to 19L by 2).toSet
      val t1 = (1L to 19L by 2).toSet
      val t1Before = tables.map(t => t -> mtimes(t, 1)).toMap
      assert(graft.streaming.EventsStream.runTenantTakedownStream(
        spark, tdDir, tenant = 0, nTenants = 2, targets, name = "tdts") == log)
      assert(served(0).forall(_ == t0 -- Set(4L, 8L)))
      assert(served(1).forall(_ == t1), "tenant-1 ids changed through the stream")
      tables.foreach(t => assert(mtimes(t, 1) == t1Before(t),
        s"tenant-1 files rewrote in $t during the tenant-0 stream"))
      spark.catalog.refreshTable(log)
      assert(spark.table(log).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(4L, 8L), "log must hold only tenant-0 ids")
      // replay of the whole stream: no-op down to tenant-0 mtimes
      val t0After = tables.map(t => t -> mtimes(t, 0)).toMap
      graft.streaming.EventsStream.runTenantTakedownStream(
        spark, tdDir, tenant = 0, nTenants = 2, targets, name = "tdts")
      tables.foreach(t => assert(mtimes(t, 0) == t0After(t),
        s"replayed stream rewrote $t"))
      spark.catalog.refreshTable(log)
      assert(spark.table(log).count() == 2, "replay must not re-log")
    } finally {
      all.foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tdDir))
    }
  }

  test("re-ingest clears the takedown log: later sketch rebuilds count the doc again") {
    import spark.implicits._
    // 0,2,4 en / 1,3,5 de — takedowns hit en so the en cell rebuilds
    val docs = (0L to 5L).map(i =>
        (i, s"d$i words here", if (i % 2 == 0) "en" else "de", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val sk = "tdr_sk"; val log = "tdr_log"
    Seq(sk, s"${sk}__gen", log, s"${log}__gen").foreach(t =>
      ops.dropTableAndLocation(spark, t))
    docs.groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
      .write.saveAsTable(sk)
    val targets = td.Targets(sketchCellsTable = Some(sk), documents = Some(docs))
    def cellMap() = spark.table(sk).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap
    def expect(retained: DataFrame) = retained.groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk").toSeq).toMap
    try {
      assert(td(spark, Seq(2L).toDF("doc_id"), targets, log) == 1L)
      assert(cellMap() == expect(docs.filter(col("doc_id") =!= 2L)))
      // doc 2 re-ingested: without the log clear, every later rebuild of
      // "en" would permanently exclude it (the cumulative-log subtraction)
      td.clearTakedownLog(spark, Seq(2L).toDF("doc_id"), log)
      spark.catalog.refreshTable(log)
      assert(spark.table(log).count() == 0)
      // a later takedown of doc 4 rebuilds the en cell — doc 2 must count
      assert(td(spark, Seq(4L).toDF("doc_id"), targets, log, batchId = 1L) == 1L)
      assert(cellMap() == expect(docs.filter(col("doc_id") =!= 4L)),
        "re-ingested doc 2 missing from the rebuilt en cell")
      spark.catalog.refreshTable(log)
      assert(spark.table(log).select("doc_id").collect()
        .map(_.getLong(0)).toSet == Set(4L))
    } finally {
      Seq(sk, s"${sk}__gen", log, s"${log}__gen").foreach(t =>
        ops.dropTableAndLocation(spark, t))
    }
  }

  test("streaming packing == batch packing; replay is a no-op; placements never move") {
    import spark.implicits._
    def mkDocs(ids: Seq[Long]) = ids.map(i =>
        (i, (1 to (5 + (i % 7)).toInt).map(j => s"w${i}_$j").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shardDir = java.nio.file.Files.createTempDirectory("pack_stream").toString
    // three batches with MONOTONE ids (the packing contract)
    mkDocs(0L to 4L).coalesce(1).write.mode("append").parquet(shardDir)
    Thread.sleep(1100) // file-source ordering is mtime-based
    mkDocs(5L to 8L).coalesce(1).write.mode("append").parquet(shardDir)
    Thread.sleep(1100)
    mkDocs(9L to 12L).coalesce(1).write.mode("append").parquet(shardDir)
    Seq("pks_state", "pks_state__gen", "pks_placements").foreach(t =>
      ops.dropTableAndLocation(spark, t))
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "n_tokens", "seq_first", "seq_last", "seq_offset")
          .collect().map(_.toSeq).toSet
      val streamed = rows(graft.streaming.EventsStream.runPackingStream(
        spark, shardDir, name = "pks", seqLen = 16))
      // == the batch recompute over the union (seqLen 16 so docs straddle)
      val docsDir = java.nio.file.Files.createTempDirectory("pack_batch").toString
      mkDocs(0L to 12L).coalesce(1).write.parquet(s"$docsDir/out")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$docsDir/out"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$docsDir/documents.parquet"))
      val batch = rows(graft.operators.TextAnalysis.packSequences(
        spark, docsDir, seqLen = 16))
      assert(streamed == batch, "streamed placements != batch recompute")
      assert(streamed.exists(r => r(2) != r(3)), "fixture must straddle cuts")
      // replay: fresh run over the same files — placements bit-identical,
      // state unmoved
      val st1 = spark.table("pks_state").collect().map(_.toSeq).toSeq
      val replayed = rows(graft.streaming.EventsStream.runPackingStream(
        spark, shardDir, name = "pks", seqLen = 16))
      assert(replayed == streamed)
      spark.catalog.refreshTable("pks_state")
      assert(spark.table("pks_state").collect().map(_.toSeq).toSeq == st1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(docsDir))
    } finally {
      Seq("pks_state", "pks_state__gen", "pks_placements").foreach(t =>
        ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(shardDir))
    }
  }

  test("streaming UPSAMPLED packing == one-shot packUpsampledOf; replay is a no-op") {
    import spark.implicits._
    val wp = Map("en" -> 230, "de" -> 140)
    def mkDocs(ids: Seq[Long]) = ids.map(i =>
        (i, (1 to (5 + (i % 7)).toInt).map(j => s"w${i}_$j").mkString(" "),
          if (i % 2 == 0) "en" else "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shardDir = java.nio.file.Files.createTempDirectory("upack_stream").toString
    mkDocs(0L to 4L).coalesce(1).write.mode("append").parquet(shardDir)
    Thread.sleep(1100)
    mkDocs(5L to 8L).coalesce(1).write.mode("append").parquet(shardDir)
    Thread.sleep(1100)
    mkDocs(9L to 12L).coalesce(1).write.mode("append").parquet(shardDir)
    val tables = Seq("upks_state", "upks_state__gen", "upks_placements")
    tables.foreach(t => ops.dropTableAndLocation(spark, t))
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "epoch", "n_tokens", "seq_first", "seq_last",
          "seq_offset").collect().map(_.toSeq).toSet
      val streamed = rows(graft.streaming.EventsStream.runPackingStream(
        spark, shardDir, name = "upks", seqLen = 16,
        epochWeightsPct = Some(wp)))
      // == the one-shot upsample -> pack over the union of all shards
      val allToks = mkDocs(0L to 12L).select(col("doc_id"), col("lang"),
        size(graft.functions.Exprs.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      val batch = rows(graft.operators.TextAnalysis.packUpsampledOf(
        allToks, seqLen = 16, chunkDocs = 7, wp))
      assert(streamed == batch, "streamed upsampled placements != one-shot")
      // multi-epoch replication actually exercised (en weight 2.3)
      assert(streamed.groupBy(_.head).exists(_._2.size >= 2),
        "fixture must replicate some doc past one epoch")
      // replay: fresh run over the same files — bit-identical, state unmoved
      val st1 = spark.table("upks_state").collect().map(_.toSeq).toSeq
      val replayed = rows(graft.streaming.EventsStream.runPackingStream(
        spark, shardDir, name = "upks", seqLen = 16,
        epochWeightsPct = Some(wp)))
      assert(replayed == streamed)
      spark.catalog.refreshTable("upks_state")
      assert(spark.table("upks_state").collect().map(_.toSeq).toSeq == st1)
    } finally {
      tables.foreach(t => ops.dropTableAndLocation(spark, t))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(shardDir))
    }
  }
}
