package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TENANT-SCOPED diff-driven estate sync (round-16): one tenant's slice
  * of a corpus diff fans across that tenant's partitions of all five
  * tenant-partitioned families (d31 near-dup, d33 simhash, d34
  * embedding, d35 containment, s20 two-level ANN store) — and ONLY
  * that tenant's: the other tenant's files never move (mtime-pinned),
  * its pending tombstones survive, and it keeps serving its old
  * generation exactly. Convergence is proven by frame equality against
  * FROM-SCRATCH builds: synced tenant 0 == a fresh gen-B build's
  * tenant 0, untouched tenant 1 == a fresh gen-A build's tenant 1.
  */
class TenantEstateSyncSpec extends SparkSuite {

  private val ops = graft.operators.Dedup
  private val sim = graft.operators.Similarity

  // ---- two-generation synthetic corpus, tenants by doc_id parity ----
  // gen A: docs 0-19. gen B: drop 4 (t0) and 5 (t1); amend 10 (t0) and
  // 7 (t1); add 20 (t0) and 21 (t1). The sync runs for TENANT 0 ALONE,
  // so only the even-id changes may land.
  private def noise(id: Long) = (1 to 40).map(j =>
    s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
  private def textOf(id: Long, gen: String): String =
    if (gen == "b" && (id == 10L || id == 7L)) noise(id) + " amended v2"
    else noise(id)
  // doc 10 (t0, changed) ALSO moves lang en->xx in gen B — the
  // metadata side of a change the cells arm must follow on BOTH sides
  // (prev_lang drains 'en' of 10, a fresh 'xx' cell appears)
  private def langOf(id: Long, gen: String): String =
    if (gen == "b" && id == 10L) "xx" else "en"
  private def docsOf(gen: String): DataFrame = {
    import spark.implicits._
    val ids = if (gen == "a") (0L to 19L) else (0L to 21L).filterNot(i => i == 4L || i == 5L)
    ids.map(i => (i, textOf(i, gen), langOf(i, gen), "s")).toDF("doc_id", "text", "lang", "source")
  }
  private def diffDf(): DataFrame = {
    import spark.implicits._
    // (doc_id, status, lang, prev_lang) — the corpusDiff contract: lang
    // is the CURRENT (gen-B-coalesced) one, prev_lang the gen-A one
    // (null for added)
    Seq((4L, "removed", "en", Some("en")), (5L, "removed", "en", Some("en")),
      (10L, "changed", "xx", Some("en")), (7L, "changed", "en", Some("en")),
      (20L, "added", "en", None), (21L, "added", "en", None))
      .toDF("doc_id", "status", "lang", "prev_lang")
  }
  // deterministic synthetic vectors keyed like the docs (vec_id =
  // doc_id); 64-dim — the embBandedOf default plane family's dimension
  private def vecsOf(gen: String): DataFrame = {
    import spark.implicits._
    docsOf(gen).select("doc_id").as[Long].collect().sorted.toSeq.map { i =>
      val v = (0 until 64).map(d =>
        ((scala.util.hashing.MurmurHash3.productHash((i, d, if (gen == "b" && i == 10L) 1 else 0)) % 100) / 50.0))
      (i, (i % 3).toInt, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "label", "v", "n")
  }

  private def mtimes(table: String, tenant: Int): Map[String, Long] = {
    val d = new java.io.File(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
      s"tenant=$tenant")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    if (!d.exists) Map.empty
    else walk(d).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def assertSameRows(a0: DataFrame, b0: DataFrame, what: String): Unit = {
    // normalize column ORDER before the positional exceptAll: a serving
    // path with a (possibly empty) tombstone table anti-joins through
    // usingColumns, which moves the key column to the front — same
    // values, reordered schema (downstream engine code selects by name)
    assert(a0.columns.sorted.sameElements(b0.columns.sorted),
      s"$what column sets differ: ${a0.columns.mkString(",")} vs ${b0.columns.mkString(",")}")
    val a = a0.select(a0.columns.sorted.map(col): _*)
    val b = b0.select(b0.columns.sorted.map(col): _*)
    val onlyA = a.exceptAll(b).take(5)
    val onlyB = b.exceptAll(a).take(5)
    assert(onlyA.isEmpty && onlyB.isEmpty,
      s"$what differs:\n only-synced=${onlyA.mkString("; ")}" +
        s"\n only-fresh=${onlyB.mkString("; ")}")
  }

  test("tenant estate sync: tenant 0 converges to gen B in all seven state classes; tenant 1 mtime-pinned, serves gen A, keeps its pending tombstone") {
    import spark.implicits._
    val genA = docsOf("a").localCheckpoint()
    val genB = docsOf("b").localCheckpoint()
    val eA = vecsOf("a").localCheckpoint()
    val eB = vecsOf("b").localCheckpoint()
    val selA = ops.containmentSelection(genA, 4, 2).localCheckpoint()
    val selB = ops.containmentSelection(genB, 4, 2).localCheckpoint()
    val diff = diffDf()

    // three copies per family: s_ = gen A then SYNCED (tenant 0),
    // fb_ = fresh gen-B build, fa_ = fresh gen-A build (never touched)
    val names = for (p <- Seq("s", "fb", "fa");
        f <- Seq("nd", "sh", "em", "ct", "an", "lb", "sk"))
      yield s"tes_${p}_$f"
    val allTables = names.flatMap(n => Seq(n, s"${n}_banded", s"${n}_shingles",
      s"${n}_tombstones", s"${n}_fp", s"${n}_df", s"${n}_sets", s"${n}_vectors",
      s"${n}_meta"))
    allTables.foreach { t =>
      ops.dropTableAndLocation(spark, t)
      ops.dropTenantCompactionTemps(spark, t, 2)
    }
    try {
      def buildAll(p: String, docs: DataFrame, e: DataFrame, sel: DataFrame): Unit = {
        IndexFamily.save(spark, IndexFamily.NearDup,
            s"tes_${p}_nd", Tenant(0, 2), ops.shingleTableOf(docs))
        IndexFamily.save(spark, IndexFamily.SimHash,
            s"tes_${p}_sh", Tenant(0, 2), ops.simhash64Of(docs))
        IndexFamily.save(spark, IndexFamily.Emb, s"tes_${p}_em", Tenant(0, 2), e)
        IndexFamily.save(spark, IndexFamily.Contain,
            s"tes_${p}_ct", Tenant(0, 2), sel, params = Map("w" -> 4, "winnow" -> 2))
        sim.saveTenantAnnStore(spark, s"tes_${p}_an", e, 2)
        ops.saveTenantLabelState(spark, s"tes_${p}_lb", docs, 2)
        ops.saveTenantSketchCells(spark, s"tes_${p}_sk", docs, 2)
      }
      buildAll("s", genA, eA, selA)
      buildAll("fb", genB, eB, selB)
      buildAll("fa", genA, eA, selA)

      // a PENDING tenant-1 takedown planted before the sync: it must
      // survive (the sync's tenant-0 compaction may not clear it)
      IndexFamily.remove(spark, IndexFamily.NearDup, "tes_s_nd", Seq(9L).toDF("doc_id"))

      val pinned = Seq("tes_s_nd_banded", "tes_s_nd_shingles", "tes_s_sh_banded",
        "tes_s_em_banded", "tes_s_em_vectors", "tes_s_ct_fp", "tes_s_ct_df",
        "tes_s_ct_sets", "tes_s_an", "tes_s_lb", "tes_s_sk")
      val t1Before = pinned.map(t => t -> mtimes(t, 1)).toMap
      assert(t1Before.values.forall(_.nonEmpty), "fixture built no tenant-1 files")

      // ONE call fans tenant 0's whole estate (all seven state classes)
      def rewrites(t: String): Long =
        Option(ops.tenantRewriteCounts.get(t)).map(_.longValue).getOrElse(0L)
      val lbRewritesBefore = rewrites("tes_s_lb")
      ops.syncTenantEstateWithDiff(spark, diff, 0, 2,
        ops.TenantEstateSyncTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_s_nd", genB),
            (IndexFamily.SimHash, "tes_s_sh", genB),
            (IndexFamily.Emb, "tes_s_em", eB),
            (IndexFamily.Contain, "tes_s_ct", genB)),
          annStore = Some(("tes_s_an", eB)),
          labels = Some("tes_s_lb"),
          sketchCells = Some(("tes_s_sk", genB))))
      // the diff carries BOTH gone (4, 10) and came (10, 20) rows for
      // tenant 0, yet the labels partition rewrites exactly ONCE — the
      // retract result feeds the merge in memory (round-16 ask #4)
      assert(rewrites("tes_s_lb") == lbRewritesBefore + 1,
        s"labels arm rewrote the tenant partition ${rewrites("tes_s_lb") - lbRewritesBefore}x for one both-sided diff")

      // tenant 1: no file moved, anywhere
      pinned.foreach(t => assert(mtimes(t, 1) == t1Before(t),
        s"tenant-1 files of $t moved during tenant-0 sync"))
      // ... and the pending tenant-1 tombstone survived
      spark.catalog.refreshTable("tes_s_nd_tombstones")
      assert(spark.table("tes_s_nd_tombstones").collect().map(_.getLong(0)).toSet == Set(9L),
        "tenant-1's pending tombstone was lost by the tenant-0 sync")
      // drop it so the frame-equality comparisons below see the full slice
      ops.clearTombstones(spark, "tes_s_nd_tombstones", Seq(9L).toDF("doc_id"), "doc_id")

      // tenant 0 == fresh gen-B build; tenant 1 == fresh gen-A build
      def ndHalves(p: String, tn: Int) = {
        val i = IndexFamily.load(spark, IndexFamily.NearDup, s"tes_${p}_nd", Tenant(tn, 2))
        Seq("nd banded" -> i.banded, "nd shingles" -> i.shingles)
      }
      def shHalves(p: String, tn: Int) =
        Seq("sh banded" -> IndexFamily.load(spark, IndexFamily.SimHash,
            s"tes_${p}_sh", Tenant(tn, 2)).banded)
      def emHalves(p: String, tn: Int) = {
        val i = IndexFamily.load(spark, IndexFamily.Emb, s"tes_${p}_em", Tenant(tn, 2))
        Seq("em banded" -> i.banded, "em vectors" -> i.vectors)
      }
      def ctHalves(p: String, tn: Int) = {
        val i = IndexFamily.load(spark, IndexFamily.Contain, s"tes_${p}_ct", Tenant(tn, 2))
        Seq("ct fp" -> i.fp, "ct df" -> i.dfTab, "ct sets" -> i.sets)
      }
      def anHalves(p: String, tn: Int) =
        Seq("ann store" -> sim.loadTenantAnnStore(spark, s"tes_${p}_an", tn))
      def halves(p: String, tn: Int) =
        ndHalves(p, tn) ++ shHalves(p, tn) ++ emHalves(p, tn) ++
          ctHalves(p, tn) ++ anHalves(p, tn)
      // the two AGGREGATE state classes (labels, cells): same
      // three-copy equality, byte-level for the HLL cells
      def cellsOf(p: String, tn: Int): Map[String, Seq[Byte]] = {
        spark.catalog.refreshTable(s"tes_${p}_sk")
        ops.loadTenantSketchCells(spark, s"tes_${p}_sk", tn).collect()
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      }
      def assertAggregates(tag: String): Unit = {
        Seq("s", "fb", "fa").foreach(p => spark.catalog.refreshTable(s"tes_${p}_lb"))
        assertSameRows(ops.loadTenantLabelState(spark, "tes_s_lb", 0),
          ops.loadTenantLabelState(spark, "tes_fb_lb", 0),
          s"$tag tenant-0 labels vs fresh gen-B")
        assertSameRows(ops.loadTenantLabelState(spark, "tes_s_lb", 1),
          ops.loadTenantLabelState(spark, "tes_fa_lb", 1),
          s"$tag tenant-1 labels vs fresh gen-A")
        assert(cellsOf("s", 0) == cellsOf("fb", 0), s"$tag tenant-0 cells != fresh gen-B")
        assert(cellsOf("s", 1) == cellsOf("fa", 1), s"$tag tenant-1 cells != fresh gen-A")
        // the planted lang move landed: tenant 0 serves an 'xx' cell
        // (doc 10's gen-B lang), tenant 1 never grows one
        assert(cellsOf("s", 0).contains("xx"), s"$tag tenant-0 lost the moved-lang cell")
        assert(!cellsOf("s", 1).contains("xx"), s"$tag lang move leaked into tenant 1")
      }
      halves("s", 0).zip(halves("fb", 0)).foreach { case ((what, a), (_, b)) =>
        assertSameRows(a, b, s"tenant-0 $what vs fresh gen-B") }
      halves("s", 1).zip(halves("fa", 1)).foreach { case ((what, a), (_, b)) =>
        assertSameRows(a, b, s"tenant-1 $what vs fresh gen-A") }
      assertAggregates("first sync")

      // replay idempotence UNDER THE STREAMING CONTRACT: a replayed diff
      // arrives with added→changed (runEstateSyncStream's mapping), so
      // every arm is delete-then-insert — a raw `added` replay would
      // double-insert by design (same as the fleet syncEstateWithDiff)
      val replayDiff = diff.withColumn("status",
        when(col("status") === "added", "changed").otherwise(col("status")))
      ops.syncTenantEstateWithDiff(spark, replayDiff, 0, 2,
        ops.TenantEstateSyncTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_s_nd", genB),
            (IndexFamily.SimHash, "tes_s_sh", genB),
            (IndexFamily.Emb, "tes_s_em", eB),
            (IndexFamily.Contain, "tes_s_ct", genB)),
          annStore = Some(("tes_s_an", eB)),
          labels = Some("tes_s_lb"),
          sketchCells = Some(("tes_s_sk", genB))))
      halves("s", 0).zip(halves("fb", 0)).foreach { case ((what, a), (_, b)) =>
        assertSameRows(a, b, s"replayed tenant-0 $what vs fresh gen-B") }
      halves("s", 1).zip(halves("fa", 1)).foreach { case ((what, a), (_, b)) =>
        assertSameRows(a, b, s"replayed tenant-1 $what vs fresh gen-A") }
      assertAggregates("replay")
    } finally allTables.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("tenant estate sync: an empty tenant diff slice is a no-op (no tombstone churn, no partition rewrite)") {
    import spark.implicits._
    val genA = docsOf("a").localCheckpoint()
    val t1OnlyDiff = Seq((5L, "removed"), (7L, "changed"), (21L, "added"))
      .toDF("doc_id", "status")
    val tables = Seq("tes_noop_nd", "tes_noop_nd_banded", "tes_noop_nd_shingles",
      "tes_noop_nd_tombstones")
    tables.foreach(t => ops.dropTableAndLocation(spark, t))
    try {
      IndexFamily.save(spark, IndexFamily.NearDup,
          "tes_noop_nd", Tenant(0, 2), ops.shingleTableOf(genA))
      val before = (mtimes("tes_noop_nd_banded", 0), mtimes("tes_noop_nd_shingles", 0))
      // every diff row is tenant 1's — syncing tenant 0 must do nothing
      ops.syncTenantEstateWithDiff(spark, t1OnlyDiff, 0, 2,
        ops.TenantEstateSyncTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_noop_nd", genA))))
      assert((mtimes("tes_noop_nd_banded", 0), mtimes("tes_noop_nd_shingles", 0)) == before,
        "tenant-0 files rewrote on an empty tenant diff slice")
      assert(!spark.catalog.tableExists("tes_noop_nd_tombstones"),
        "an empty tenant diff slice created a tombstone table")
    } finally tables.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("tenant meta: a NONSTANDARD banding saved once drives sync, load, and compact — no constant drift; a tenant-count mismatch refuses") {
    import spark.implicits._
    val genA = docsOf("a").localCheckpoint()
    val genB = docsOf("b").localCheckpoint()
    val diff = diffDf()
    val tables = Seq("tes_meta_nd", "tes_meta_fb")
      .flatMap(n => Seq(s"${n}_banded", s"${n}_shingles", s"${n}_meta",
        s"${n}_tombstones"))
    tables.foreach { t =>
      ops.dropTableAndLocation(spark, t)
      ops.dropTenantCompactionTemps(spark, t, 2)
    }
    try {
      // save with banding NOBODY hardcodes anywhere: 2 bands x 2 rows,
      // 4 buckets — if any sync/load/compact site still used the old
      // (3, 3, 8) constants, the synced slice could not equal a fresh
      // same-banding build (appended band keys would hash differently)
      IndexFamily.save(spark, IndexFamily.NearDup,
          "tes_meta_nd", Tenant(0, 2), ops.shingleTableOf(genA), buckets = 4, params = Map("bands" -> 2, "rows_per_band" -> 2))
      IndexFamily.save(spark, IndexFamily.NearDup,
          "tes_meta_fb", Tenant(0, 2), ops.shingleTableOf(genB), buckets = 4, params = Map("bands" -> 2, "rows_per_band" -> 2))
      ops.syncTenantEstateWithDiff(spark, diff, 0, 2,
        ops.TenantEstateSyncTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_meta_nd", genB))))
      val synced = IndexFamily.load(spark, IndexFamily.NearDup, "tes_meta_nd", Tenant(0, 2))
      val fresh = IndexFamily.load(spark, IndexFamily.NearDup, "tes_meta_fb", Tenant(0, 2))
      assert(synced.bands == 2 && synced.rowsPerBand == 2,
        "loadTenantNearDupIndex ignored the saved meta banding")
      assertSameRows(synced.banded, fresh.banded,
        "nonstandard-banding synced banded vs fresh gen-B")
      assertSameRows(synced.shingles, fresh.shingles,
        "nonstandard-banding synced shingles vs fresh gen-B")
      // the appended generation respects the 4-bucket layout: no banded
      // file exceeds the saved bucket count within the tenant partition
      val t0Files = mtimes("tes_meta_nd_banded", 0).keys
        .map(f => new java.io.File(f).getName).toSet
      val bucketIds = t0Files.map(_.split("_")(1).take(5))
      assert(bucketIds.forall(b => b < "00004"),
        s"appended banded files escaped the saved 4-bucket layout: $t0Files")
      // nTenants drift refuses outright instead of silently reassigning
      val ex = intercept[IllegalArgumentException] {
        ops.syncTenantEstateWithDiff(spark, diff, 0, 3,
          ops.TenantEstateSyncTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_meta_nd", genB))))
      }
      assert(ex.getMessage.contains("n_tenants"),
        s"unexpected refusal message: ${ex.getMessage}")
    } finally tables.foreach { t =>
      ops.dropTableAndLocation(spark, t)
      ops.dropTenantCompactionTemps(spark, t, 2)
    }
  }

  test("fleet estate sync: an added-only diff skips remove+compact — member files and meta untouched — and still equals the recompute") {
    import spark.implicits._
    val genA = docsOf("a").localCheckpoint()
    val added = docsOf("b").filter(col("doc_id") >= 20L).localCheckpoint()
    val diff = Seq((20L, "added", "en"), (21L, "added", "en"))
      .toDF("doc_id", "status", "lang")
    val names = Seq("tes_add_s", "tes_add_f")
    val tables = names.flatMap(n => Seq(s"${n}_banded", s"${n}_shingles",
      s"${n}_meta", s"${n}_tombstones", s"${n}_banded__compact",
      s"${n}_shingles__compact"))
    tables.foreach(t => ops.dropTableAndLocation(spark, t))
    // every file under a table's location with its mtime
    def files(table: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    try {
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_add_s", Fleet,
        ops.shingleTableOf(genA))
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_add_f", Fleet,
        ops.shingleTableOf(genA.unionByName(added)))
      val members = Seq("tes_add_s_banded", "tes_add_s_shingles")
      val before = (members :+ "tes_add_s_meta").map(t => t -> files(t)).toMap
      assert(before.values.forall(_.nonEmpty), "fixture wrote no files")
      ops.syncEstateWithDiff(spark, diff, ops.EstateSyncTargets(
        indexes = Seq((IndexFamily.NearDup, "tes_add_s", docsOf("b")))))
      // the append adds bucket files; no existing file is rewritten
      members.foreach { t =>
        val after = files(t)
        assert(before(t).forall { case (f, m) => after.get(f).contains(m) },
          s"$t: an existing member file was rewritten or dropped")
        assert(after.size > before(t).size, s"$t: the added rows were not appended")
      }
      assert(files("tes_add_s_meta") == before("tes_add_s_meta"),
        "the meta table was rewritten")
      val synced = IndexFamily.load(spark, IndexFamily.NearDup, "tes_add_s", Fleet)
      val fresh = IndexFamily.load(spark, IndexFamily.NearDup, "tes_add_f", Fleet)
      assertSameRows(synced.banded, fresh.banded, "added-only synced banded vs recompute")
      assertSameRows(synced.shingles, fresh.shingles,
        "added-only synced shingles vs recompute")
    } finally tables.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("estate sync: an added-only diff re-adding a taken-down doc serves only its new rows, fleet and tenant scope") {
    import spark.implicits._
    val genA = docsOf("a").localCheckpoint()
    // doc 10 (tenant 0) is taken down without compaction, then comes
    // back with its gen-B text in a diff that has only an 'added' row
    val readded = docsOf("b").filter(col("doc_id") === 10L).localCheckpoint()
    val recompute = genA.filter(col("doc_id") =!= 10L).unionByName(readded)
    val diff = Seq((10L, "added", "xx")).toDF("doc_id", "status", "lang")
    val ids = Seq(10L).toDF("doc_id")
    val names = Seq("tes_re_s", "tes_re_f", "tes_re_ts", "tes_re_tf")
    val tables = names.flatMap(n => Seq(s"${n}_banded", s"${n}_shingles",
      s"${n}_meta", s"${n}_tombstones", s"${n}_banded__compact",
      s"${n}_shingles__compact")) ++ Seq("tes_re_log", "tes_re_tlog")
    tables.foreach(t => ops.dropTableAndLocation(spark, t))
    try {
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_re_s", Fleet,
        ops.shingleTableOf(genA))
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_re_f", Fleet,
        ops.shingleTableOf(recompute))
      graft.operators.Takedown.apply(spark, ids, graft.operators.Takedown.Targets(
        indexes = Seq((IndexFamily.NearDup, "tes_re_s"))), logTable = "tes_re_log")
      ops.syncEstateWithDiff(spark, diff, ops.EstateSyncTargets(
        indexes = Seq((IndexFamily.NearDup, "tes_re_s", docsOf("b")))))
      val synced = IndexFamily.load(spark, IndexFamily.NearDup, "tes_re_s", Fleet)
      val fresh = IndexFamily.load(spark, IndexFamily.NearDup, "tes_re_f", Fleet)
      assertSameRows(synced.banded, fresh.banded, "fleet re-added banded vs recompute")
      assertSameRows(synced.shingles, fresh.shingles, "fleet re-added shingles vs recompute")

      val scope = Tenant(0, 2)
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_re_ts", scope,
        ops.shingleTableOf(genA))
      IndexFamily.save(spark, IndexFamily.NearDup, "tes_re_tf", scope,
        ops.shingleTableOf(recompute))
      graft.operators.Takedown.applyTenant(spark, ids, 0, 2,
        graft.operators.Takedown.TenantTargets(
          indexes = Seq((IndexFamily.NearDup, "tes_re_ts")), compact = false),
        logTable = "tes_re_tlog")
      ops.syncTenantEstateWithDiff(spark, diff, 0, 2, ops.TenantEstateSyncTargets(
        indexes = Seq((IndexFamily.NearDup, "tes_re_ts", docsOf("b")))))
      val tSynced = IndexFamily.load(spark, IndexFamily.NearDup, "tes_re_ts", scope)
      val tFresh = IndexFamily.load(spark, IndexFamily.NearDup, "tes_re_tf", scope)
      assertSameRows(tSynced.banded, tFresh.banded, "tenant re-added banded vs recompute")
      assertSameRows(tSynced.shingles, tFresh.shingles,
        "tenant re-added shingles vs recompute")
    } finally tables.foreach(t => ops.dropTableAndLocation(spark, t))
  }
}
