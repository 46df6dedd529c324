package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The UNIFIED takedown — one deletion list fans out to every registered
  * class of persisted state with a single apply-then-log audit table.
  * The reference's dedup flow exists to delete files
  * (dupes/dedup.py:133-171); at pipeline scale a compliance deletion
  * must reach every place a document's bytes or derived state live, and
  * doing it per-store invites the one store somebody forgot. This
  * facade is the deletion analogue of CurationPipeline: each state
  * class keeps its own retraction semantics (round-11's per-class
  * rules), the facade contributes orchestration, replay-safe
  * bookkeeping, and the audit record.
  *
  * Per-class semantics (unchanged, just fanned out):
  *   - indexes (near-dup, simhash, embedding, containment, ANN store,
  *     the s18 label-partitioned vector store): TOMBSTONE — served
  *     filtered immediately, physical at compaction;
  *   - label/canonical state: touched clusters RE-LABEL (splits
  *     included) via [[Dedup.removeFromLabelState]], folded in by
  *     generation swap;
  *   - materialized aggregates: counts SUBTRACT (abelian), zero-count
  *     groups drop;
  *   - sketch cells: affected cells REBUILD from retained rows
  *     (registers are additive — never subtracted), untouched cells
  *     copy; a cell whose every member is gone disappears;
  *   - corpus tree: partition-scoped rewrite via
  *     [[graft.emit.CorpusWriter.retract]].
  *
  * Replay tolerance is scoped to BATCH IDENTITY (the r11 stream fix):
  * ids already logged with `batch_id >= batchId` are crash-refires and
  * skip; ids logged by earlier batches are COMPLETED takedowns — the
  * doc may have been re-ingested since, and a fresh request must go
  * through. Apply-then-log ordering means the log never claims a
  * takedown that did not happen; every per-class step is idempotent on
  * an already-removed id, so a refire is harmless.
  *
  * [[graft.streaming.EventsStream.runTakedownStream]] uses this as its
  * per-micro-batch core — streaming and batch share one code path.
  */
object Takedown {

  /** The registered state classes one takedown propagates to: `indexes`
    * holds one (family, index table) per deployed index family; any other
    * absent slot ⇒ that class is not deployed. `documents` is the
    * document store the label re-pairing, aggregate subtraction, and
    * sketch rebuild read.
    * CONTRACT: at apply time it must STILL CONTAIN the removed ids' rows
    * (with their lang/source attributes) — the aggregate subtraction
    * semi-joins `documents` against the removal list to compute the
    * per-group decrement, so a store that already purged them makes the
    * subtraction a silent zero and the stats table keeps counting
    * removed docs. Purge the store (or swap in the retracted corpus
    * tree) only AFTER [[Takedown.apply]] returns.
    */
  final case class Targets(
      indexes: Seq[(IndexFamily[_], String)] = Nil,
      annIndex: Option[String] = None,
      partitionedAnnTable: Option[String] = None,
      labelTable: Option[String] = None,
      labelThreshold: Double = 0.8,
      docStatsTable: Option[String] = None,
      sketchCellsTable: Option[String] = None,
      corpusPath: Option[String] = None,
      documents: Option[DataFrame] = None)

  /** Propagate a deletion list to every configured state class, then
    * append the applied ids to `logTable` (doc_id, batch_id). Returns
    * the number of ids actually applied (0 for a pure replay).
    */
  def apply(spark: SparkSession, ids0: DataFrame, targets: Targets,
      logTable: String = "takedown_log", batchId: Long = 0L): Long = {
    // a stale warehouse dir without a catalog entry (prior JVM) would
    // fail the first log append — the appendTombstones gotcha
    if (!spark.catalog.tableExists(logTable))
      Dedup.dropTableAndLocation(spark, logTable)
    val alreadyDone =
      if (spark.catalog.tableExists(logTable)) {
        // a prior batch APPENDED — drop the cached file listing (the
        // relation-cache gotcha) and scope replay-dedup to batch identity
        spark.catalog.refreshTable(logTable)
        spark.table(logTable).filter(col("batch_id") >= batchId)
          .select(col("doc_id"))
      } else ids0.select(col("doc_id")).limit(0)
    val ids = ids0.select(col("doc_id")).distinct()
      .join(alreadyDone, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val n = ids.count()
    if (n == 0) return 0L

    targets.indexes.foreach { case (fam, t) =>
      IndexFamily.remove(spark, fam, t, ids) }
    val vecIds = ids.select(col("doc_id").as("vec_id"))
    targets.annIndex.foreach(Similarity.removeFromAnnIndex(spark, _, vecIds))
    targets.partitionedAnnTable.foreach(
      Similarity.removeFromPartitionedAnnStore(spark, _, vecIds))
    for (lt <- targets.labelTable; docs <- targets.documents) {
      spark.catalog.refreshTable(lt)
      val labels = spark.table(lt).localCheckpoint()
      val relabeled = Dedup.removeFromLabelState(labels, docs, ids,
        targets.labelThreshold).localCheckpoint()
      Dedup.applyLabelRetraction(spark, lt, ids, relabeled)
    }
    for (st <- targets.docStatsTable; docs <- targets.documents)
      retractDocStats(spark, st, docs, ids)
    for (sk <- targets.sketchCellsTable; docs <- targets.documents)
      rebuildSketchCells(spark, sk, docs, ids, logTable)
    targets.corpusPath.foreach(p =>
      graft.emit.CorpusWriter.retract(ids, p, ids))

    ids.withColumn("batch_id", lit(batchId))
      .write.mode("append").saveAsTable(logTable)
    n
  }

  /** The tenant-partitioned state one TENANT-SCOPED takedown propagates
    * to: `indexes` holds (family, table) per deployed index family (the
    * d31/d33/d34/d35 layouts); an absent slot ⇒ not deployed for this
    * estate. `compact` turns the takedown PHYSICAL in the same call: each
    * family's tenant-scoped compaction rewrites only the tenant's
    * partition directories.
    */
  final case class TenantTargets(
      indexes: Seq[(IndexFamily[_], String)] = Nil,
      tenantAnnStore: Option[String] = None,
      labelTable: Option[String] = None,
      labelThreshold: Double = 0.8,
      sketchCellsTable: Option[String] = None,
      documents: Option[DataFrame] = None,
      compact: Boolean = true)

  /** The TENANT-SCOPED takedown — [[apply]]'s counterpart for the
    * tenant-partitioned estate: one tenant's deletion list fans across
    * the d31/d33/d34/d35 index families and (with `compact`) turns
    * physical immediately, while the whole lifecycle touches ONLY the
    * tenant's partition directories — other tenants' files never move
    * and their pending tombstones survive (the tenant-scope
    * [[IndexFamily.compact]] contract, IndexRemoveSpec-pinned). Ids
    * outside the tenant are DROPPED, not fanned: a tenant's takedown
    * request must not reach into another tenant's estate (isolation is
    * the layout's point). Replay bookkeeping mirrors [[apply]] — batch-identity
    * scoped, apply-then-log, the tenant recorded in the log row.
    */
  def applyTenant(spark: SparkSession, ids0: DataFrame, tenant: Int,
      nTenants: Int, targets: TenantTargets,
      logTable: String = "takedown_tenant_log", batchId: Long = 0L): Long = {
    if (!spark.catalog.tableExists(logTable))
      Dedup.dropTableAndLocation(spark, logTable)
    val alreadyDone =
      if (spark.catalog.tableExists(logTable)) {
        spark.catalog.refreshTable(logTable)
        spark.table(logTable).filter(col("batch_id") >= batchId)
          .select(col("doc_id"))
      } else ids0.select(col("doc_id")).limit(0)
    val ids = ids0.select(col("doc_id")).distinct()
      .filter(pmod(col("doc_id"), lit(nTenants)) === tenant)
      .join(alreadyDone, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val n = ids.count()
    if (n == 0) return 0L

    targets.indexes.foreach { case (fam, t) =>
      IndexFamily.remove(spark, fam, t, ids)
      if (targets.compact)
        IndexFamily.compact(spark, fam, t, IndexFamily.Tenant(tenant, nTenants))
    }
    // the s20 two-level (tenant, label) vector store: tombstone, then
    // tenant-scoped label-subtree compaction — the serving surface the
    // round-13 estate left outside the facade (the s18/td1 gap one
    // level up)
    targets.tenantAnnStore.foreach { t =>
      Similarity.removeFromPartitionedAnnStore(spark, t,
        ids.select(col("doc_id").as("vec_id")))
      if (targets.compact)
        Similarity.compactTenantAnnStore(spark, t, tenant, nTenants)
    }
    // the two AGGREGATE state classes, tenant-partitioned (round-15):
    // labels re-label the tenant's touched clusters only, cells
    // re-aggregate the tenant's affected langs only — both rewrite one
    // tenant partition, never the fleet
    for (lt <- targets.labelTable; docs <- targets.documents)
      Dedup.retractTenantLabelState(spark, lt, docs, ids, tenant, nTenants,
        targets.labelThreshold)
    for (sk <- targets.sketchCellsTable; docs <- targets.documents)
      Dedup.rebuildTenantSketchCells(spark, sk, docs, ids, tenant, nTenants,
        logTable)

    ids.withColumn("tenant", lit(tenant))
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").saveAsTable(logTable)
    n
  }

  /** The RE-INGEST hook — the facade-level [[Dedup.clearTombstones]]
    * analogue: a document re-ingested after a completed takedown must
    * drop out of the cumulative removal record, or every later sketch-
    * cell rebuild of its lang permanently excludes it (the log is
    * subtracted wholesale there — see [[rebuildSketchCells]]). The
    * per-index paths do NOT need this (their tombstones clear on
    * re-append, and replay-dedup is batch-scoped already); only the
    * log-reading rebuild does. Call it from the ingest path alongside
    * the per-index re-appends. Idempotent; a missing log is a no-op.
    */
  def clearTakedownLog(spark: SparkSession, ids: DataFrame,
      logTable: String = "takedown_log"): Unit =
    if (spark.catalog.tableExists(logTable)) {
      spark.catalog.refreshTable(logTable)
      val tmp = s"${logTable}__gen"
      Dedup.recoverGenerationSwap(spark, logTable, tmp)
      Dedup.dropTableAndLocation(spark, tmp)
      val batch = ids.select(col("doc_id")).distinct().localCheckpoint()
      // ingest hot path: most micro-batches re-ingest nothing that was
      // ever taken down — skip the whole-log generation swap unless a
      // log row actually matches (one broadcast semi-join probe)
      val touched = !spark.table(logTable)
        .join(broadcast(batch), Seq("doc_id"), "left_semi")
        .isEmpty
      if (touched) {
        spark.table(logTable)
          .join(broadcast(batch), Seq("doc_id"), "left_anti")
          .write.saveAsTable(tmp)
        Dedup.dropTableAndLocation(spark, logTable)
        spark.sql(s"ALTER TABLE $tmp RENAME TO $logTable")
        spark.catalog.refreshTable(logTable)
      }
    }

  /** Subtractive maintenance of a (lang, source, n) materialized doc
    * aggregate — the i7 identity: stats(base ∖ removed) = stats(base) ⊖
    * stats(removed slice); groups reaching zero drop. Group-count-sized
    * generation swap, never a corpus rescan.
    */
  private def retractDocStats(spark: SparkSession, table: String,
      docs: DataFrame, ids: DataFrame): Unit = {
    val rm = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_rm"))
      .localCheckpoint()
    val tmp = s"${table}__gen"
    Dedup.recoverGenerationSwap(spark, table, tmp)
    Dedup.dropTableAndLocation(spark, tmp)
    spark.table(table)
      .join(broadcast(rm), Seq("lang", "source"), "left_outer")
      .select(col("lang"), col("source"),
        (col("n") - coalesce(col("n_rm"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .write.saveAsTable(tmp)
    Dedup.dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
  }

  /** Rebuild-only maintenance of a (lang, sk) HLL cell table over
    * doc_id — the a2d rule: registers are additive, so the AFFECTED
    * cells (langs of the removed docs) re-aggregate from retained rows
    * while untouched cells copy byte-identically; a lang whose every doc
    * is gone loses its cell. Retained = documents ∖ (takedown log ∪ the
    * current batch) — the log IS the cumulative removal record, which
    * is why a re-ingest MUST clear its ids from the log
    * ([[clearTakedownLog]]) or the doc stays excluded from every later
    * rebuild of its lang.
    */
  private def rebuildSketchCells(spark: SparkSession, table: String,
      docs: DataFrame, ids: DataFrame, logTable: String): Unit = {
    val removedAll =
      (if (spark.catalog.tableExists(logTable))
        spark.table(logTable).select(col("doc_id")) else ids.limit(0))
        .unionByName(ids).distinct().localCheckpoint()
    val retained = docs.join(broadcast(removedAll), Seq("doc_id"), "left_anti")
    val affected = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("lang")).distinct().localCheckpoint()
    val rebuilt = retained.join(broadcast(affected), Seq("lang"), "left_semi")
      .groupBy(col("lang"))
      .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
    val tmp = s"${table}__gen"
    Dedup.recoverGenerationSwap(spark, table, tmp)
    Dedup.dropTableAndLocation(spark, tmp)
    spark.table(table)
      .join(broadcast(affected), Seq("lang"), "left_anti")
      .unionByName(rebuilt)
      .write.saveAsTable(tmp)
    Dedup.dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
  }

  // ---- the td1 gate -----------------------------------------------------

  /** One (state, n_live, n_refs) row per registered class, read from the
    * REAL post-takedown persisted state: `n_live` = ids (or cells/
    * groups) still served, `n_refs` = rows still referencing a logged-
    * removed id (stale cells / groups for the aggregate classes) — the
    * facade contract is every `n_refs` = 0 and every `n_live` equal to
    * the oracle's recompute over corpus ∖ removed.
    */
  // one-scan id/group censuses (round 21): both counts off a single pass
  // over the state table — see Dedup.idCensusRow / groupCensusRow
  private def idRow(state: String, df: DataFrame, key: String,
      removed: DataFrame): DataFrame =
    Dedup.idCensusRow(state, df, key, removed)

  /** The log census in one scan: n_live = distinct logged ids, n_refs =
    * logged rows outside the expected class (equal to the historical
    * distinct-count × filter-count pair; ids are non-null).
    */
  private def logRow(logged: DataFrame, offClass: Column): DataFrame =
    logged.agg(countDistinct(col("doc_id")).as("n_live"),
        count(when(offClass, lit(1))).as("n_refs"))
      .select(lit("takedown_log").as("state"), col("n_live"), col("n_refs"))

  /** TD1 — the unified-takedown gate: build EVERY state class over the
    * full corpus (session-cached ingest-side work, the d22 convention),
    * run ONE [[Takedown.apply]] for the doc_id ≡ 4 (mod 9) class, and
    * emit the per-state census above. The oracle recomputes each
    * `n_live` over documents/embeddings ∖ removed and asserts every
    * `n_refs` is zero, so a takedown that missed any registered state —
    * or removed too much — fails the gate. The replay no-op and the
    * per-class value-level identities live in TakedownSpec and the
    * per-family gates (d22–d27, s13, i7, a2d, e2).
    */
  def unifiedTakedownGate(spark: SparkSession, dir: String): DataFrame = {
    val h = f"${dir.hashCode & 0xffffffffL}%x"
    val (log, names) = graft.SessionCache.getOrElseUpdate(spark,
        ("takedownUnified", dir)) {
      val docs = Tables.documents(spark, dir)
      val e = Similarity.preparedEmbeddings(spark, dir)
        .select("vec_id", "label", "v", "n")
      val nm = IndexFamily.all.map(f => f.short -> s"td_${f.short}_$h").toMap ++
        Map("ann" -> s"td_ann_$h", "annp" -> s"td_annp_$h",
          "lab" -> s"td_lab_$h", "st" -> s"td_st_$h", "sk" -> s"td_sk_$h")
      val logT = s"td_log_$h"
      val corpusPath = new java.io.File(sys.props("java.io.tmpdir"),
        f"graft_td_corpus_${ProcessHandle.current().pid()}_$h").getAbsolutePath
      // fresh state every session: the gate measures one full lifecycle
      (nm.values.toSeq.flatMap(n => Dedup.estateTableSuffixes.map(n + _)) :+ logT)
        .foreach(t => Dedup.dropTableAndLocation(spark, t))
      IndexFamily.all.foreach(f => IndexFamily.save(spark, f, nm(f.short),
        IndexFamily.Fleet, f.cachedInput(spark, dir)))
      Similarity.saveAnnIndex(spark, nm("ann"), e)
      Similarity.savePartitionedAnnStore(spark, nm("annp"), e)
      Dedup.saveLabelState(spark, nm("lab"), Dedup.labelStateOf(docs))
      docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
        .write.saveAsTable(nm("st"))
      docs.groupBy(col("lang"))
        .agg(graft.plans.HllAgg.hllSketch(col("doc_id")).as("sk"))
        .write.saveAsTable(nm("sk"))
      graft.emit.CorpusWriter.write(docs, corpusPath)
      Takedown(spark,
        docs.filter(col("doc_id") % 9 === 4).select(col("doc_id")),
        Targets(
          indexes = IndexFamily.all.map(f => (f, nm(f.short))),
          annIndex = Some(nm("ann")),
          partitionedAnnTable = Some(nm("annp")), labelTable = Some(nm("lab")),
          docStatsTable = Some(nm("st")), sketchCellsTable = Some(nm("sk")),
          corpusPath = Some(corpusPath), documents = Some(docs)),
        logT)
      (logT, nm + ("corpus" -> corpusPath))
    }.asInstanceOf[(String, Map[String, String])]

    spark.catalog.refreshTable(log)
    val logged = spark.table(log).select(col("doc_id")).localCheckpoint()
    val loggedVec = logged.select(col("doc_id").as("vec_id"))
    val docs = Tables.documents(spark, dir)
    val liveGroups = docs.join(broadcast(logged), Seq("doc_id"), "left_anti")
    def census(state: String, df: DataFrame, key: String) =
      idRow(state, df, key, if (key == "vec_id") loggedVec else logged)
    val ann = Similarity.loadAnnIndex(spark, names("ann")).vectors
    val annp = Similarity.loadPartitionedAnnStore(spark, names("annp"))
    val lab = spark.table(names("lab"))
    val st = spark.table(names("st"))
    val sk = spark.table(names("sk"))
    val corpus = spark.read.parquet(names("corpus"))
    IndexFamily.all.map(f => census(s"${f.tag}_index",
        IndexFamily.served(spark, f, names(f.short), IndexFamily.Fleet), f.idCol))
      .reduce(_ unionByName _)
      .unionByName(census("ann_part_store", annp, "vec_id"))
      .unionByName(census("ann_store", ann, "vec_id"))
      .unionByName(census("corpus_tree", corpus, "doc_id"))
      .unionByName(Dedup.groupCensusRow("doc_stats", st, sum(col("n")),
        liveGroups.select(col("lang"), col("source")).distinct(),
        Seq("lang", "source")))
      .unionByName(census("labels", lab, "doc_id"))
      .unionByName(Dedup.groupCensusRow("sketch_cells", sk, count(lit(1)),
        liveGroups.select(col("lang")).distinct(), Seq("lang")))
      .unionByName(logRow(logged, col("doc_id") % 9 =!= 4))
  }

  // ---- the td2 gate -----------------------------------------------------

  /** TD2 — the tenant-scoped takedown gate: build ALL FOUR
    * tenant-partitioned index families PLUS the s20 two-level (tenant,
    * label) vector store over the full corpus (two tenants,
    * session-cached), run ONE [[applyTenant]] for tenant 0's
    * doc_id ≡ 4 (mod 9) class WITH compaction (the takedown lands
    * physical), and emit a per-family census of
    * (state, n_live, n_other, n_refs):
    *   - `n_live`  = ids the tenant's slice still serves — the oracle's
    *     recompute over the tenant's corpus ∖ removed;
    *   - `n_other` = ids the OTHER tenant's slice serves — must equal
    *     that tenant's FULL count (the isolation half: a takedown
    *     against tenant 0 touches nothing of tenant 1's — the census
    *     proves the row-level half; the mtime-level half is
    *     TakedownSpec's);
    *   - `n_refs`  = rows still referencing a removed id — 0, and since
    *     compaction ran, by physical absence, not tombstone filtering.
    * The embedding census reads the VECTORS half and the containment
    * census the SETS half (the verification payloads — if a removed
    * id's payload survived, it could still verify a candidate).
    */
  def tenantTakedownGate(spark: SparkSession, dir: String, tenant: Int = 0,
      nTenants: Int = 2): DataFrame = {
    val h = f"${dir.hashCode & 0xffffffffL}%x"
    val names = graft.SessionCache.getOrElseUpdate(spark,
        ("takedownTenant", dir, tenant, nTenants)) {
      val docs = Tables.documents(spark, dir)
      val e = Similarity.preparedEmbeddings(spark, dir)
        .select("vec_id", "label", "v", "n")
      val nm = IndexFamily.all.map(f => f.short -> s"td2_${f.short}_$h").toMap ++
        Map("ann" -> s"td2_an_$h", "lab" -> s"td2_lab_$h", "sk" -> s"td2_sk_$h")
      val logT = s"td2_log_$h"
      // the s20 store and the two aggregate state classes are their own
      // (partitioned, unsuffixed) tables
      Seq("ann", "lab", "sk").foreach { k =>
        Dedup.dropTableAndLocation(spark, nm(k))
        Dedup.dropTenantCompactionTemps(spark, nm(k), nTenants)
      }
      // fresh state every session: the gate measures one full lifecycle
      Dedup.dropTableAndLocation(spark, logT)
      // a fresh tenant save drops stale tombstones and compaction temps
      IndexFamily.all.foreach(f => IndexFamily.save(spark, f, nm(f.short),
        IndexFamily.Tenant(tenant, nTenants), f.cachedInput(spark, dir)))
      Similarity.saveTenantAnnStore(spark, nm("ann"), e, nTenants)
      Dedup.saveTenantLabelState(spark, nm("lab"), docs, nTenants)
      Dedup.saveTenantSketchCells(spark, nm("sk"), docs, nTenants)
      applyTenant(spark,
        docs.filter(col("doc_id") % 9 === 4).select(col("doc_id")),
        tenant, nTenants,
        TenantTargets(indexes = IndexFamily.all.map(f => (f, nm(f.short))),
          tenantAnnStore = Some(nm("ann")),
          labelTable = Some(nm("lab")), sketchCellsTable = Some(nm("sk")),
          documents = Some(docs)),
        logT)
      nm + ("log" -> logT)
    }.asInstanceOf[Map[String, String]]

    spark.catalog.refreshTable(names("log"))
    val logged = spark.table(names("log")).select(col("doc_id"))
      .localCheckpoint()
    val other = (tenant + 1) % nTenants
    // one-scan live+refs census per family (idCensusRow); the other
    // tenant's count is its own partition-pruned scan by design (tenant
    // slices are separate partition subtrees — the isolation being
    // proved), collapsed to a single countDistinct pass
    def census(state: String, slice: Int => DataFrame,
        key: String): DataFrame = {
      val rm = if (key == "vec_id")
        logged.select(col("doc_id").as("vec_id")) else logged
      idRow(state, slice(tenant), key, rm)
        .crossJoin(slice(other)
          .agg(countDistinct(col(key)).as("n_other")))
        .select(col("state"), col("n_live"), col("n_other"), col("n_refs"))
    }
    IndexFamily.all.map(f => census(s"${f.tag}_index",
        t => IndexFamily.served(spark, f, names(f.short),
          IndexFamily.Tenant(t, nTenants)), f.idCol))
      .reduce(_ unionByName _)
      .unionByName(census("ann_tenant_store",
        t => Similarity.loadTenantAnnStore(spark, names("ann"), t),
        "vec_id"))
      .unionByName(census("labels",
        t => Dedup.loadTenantLabelState(spark, names("lab"), t),
        "doc_id"))
      .unionByName {
        // cells aren't id-keyed: n_refs counts STALE cells — langs with
        // no live doc left in the tenant (the td1 sketch_cells rule)
        def cells(t: Int) = Dedup.loadTenantSketchCells(spark, names("sk"), t)
        val liveLangs = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(nTenants)) === tenant)
          .join(broadcast(logged), Seq("doc_id"), "left_anti")
          .select(col("lang")).distinct()
        Dedup.groupCensusRow("sketch_cells", cells(tenant), count(lit(1)),
            liveLangs, Seq("lang"))
          .crossJoin(cells(other).agg(count(lit(1)).as("n_other")))
          .select(col("state"), col("n_live"), col("n_other"), col("n_refs"))
      }
      .unionByName(logRow(logged, col("doc_id") % 9 =!= 4 ||
          pmod(col("doc_id"), lit(nTenants)) =!= tenant)
        .select(col("state"), col("n_live"), lit(0L).as("n_other"),
          col("n_refs")))
      .orderBy("state")
  }
}
