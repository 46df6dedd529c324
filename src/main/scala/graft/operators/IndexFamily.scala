package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted dedup-index family, declared by what differs between the
  * four (near-dup, simhash, embedding, containment): the member tables
  * with their bucket keys and the rows each derives from the family
  * input, the meta fields, the id column, the session-cached corpus input
  * and the family's delta join. Everything else — the save / load /
  * remove / append / compact lifecycle at fleet or tenant scope — is ONE
  * engine over this value ([[IndexFamily$]]), so the "reuse prior state"
  * contract (a delta join against the persisted index instead of a
  * recompute) is written once for every family.
  *
  * @param tag     the family's name in gate tables and census rows
  * @param short   its short name in tenant gate tables and estate maps
  * @param idCol   `doc_id` or `vec_id` — the tombstone and tenancy key
  * @param params  the family's meta fields with their defaults, written
  *                to `<name>_meta` ahead of `buckets` (and `n_tenants`)
  * @param members the id-keyed member tables, in the index value's order;
  *                the LAST one is the verification payload a census counts
  * @param counts  containment's per-digest `_df` aggregate, the one
  *                derived member (see [[IndexFamily.CountMember]])
  * @param input   payload (documents, or prepared vectors for the
  *                embedding family) → family input, under the saved meta
  * @param index   served member frames (members, then counts) → the
  *                index value; the meta is read only if a family needs it
  * @param parts   the index value → its frames, in the same order
  * @param cachedInput the session-shared corpus-wide family input
  * @param delta   a shard's family input × the index → its delta pairs,
  *                every verify dial a constant of the family
  */
final case class IndexFamily[I](
    tag: String,
    short: String,
    idCol: String,
    params: Seq[(String, Int)],
    members: Seq[IndexFamily.Member],
    counts: Option[IndexFamily.CountMember],
    input: (DataFrame, IndexFamily.Meta) => DataFrame,
    index: (Seq[DataFrame], () => IndexFamily.Meta) => I,
    parts: I => Seq[DataFrame],
    cachedInput: (SparkSession, String) => DataFrame,
    delta: (DataFrame, I) => DataFrame) {

  /** Every table suffix the family can leave on disk (serving tables,
    * meta and runtime tombstones) — fresh-state gates drop these.
    */
  def tableSuffixes: Seq[String] =
    members.map(_.suffix) ++ counts.map(_.suffix) :+ "_meta" :+ "_tombstones"
}

/** The persisted-index lifecycle engine. Layout, per family and scope:
  *
  *   - each member is `<name><suffix>`, bucketed AND sorted on its keys
  *     (exactly one file per bucket after a save or a compaction, so a
  *     key-joined read needs neither Exchange nor Sort — BucketingSpec);
  *   - at [[IndexFamily.Tenant]] scope every member is additionally
  *     PARTITIONED BY `tenant` = id mod nTenants, so a tenant-scoped read
  *     prunes at planning time (PartitionFilters — PlanSpec) and a
  *     tenant's compaction rewrites only that tenant's directories;
  *   - `<name>_meta` is one row of the family params, `buckets` and, at
  *     tenant scope, `n_tenants`;
  *   - `<name>_tombstones` lists removed ids, absent until a removal.
  *
  * META WINS OVER THE CALLER: appends, compactions and loads read the
  * banding, span and bucket parameters from `<name>_meta`, never from a
  * caller, so no call site can append or rewrite under a different
  * banding or layout than the index was saved with. The meta is read at
  * most once per verb (one small job), and only when the verb needs it.
  *
  * TOMBSTONE SERVING (the takedown half): [[remove]] appends ids to the
  * tombstone table; [[load]] serves every member minus the tombstoned
  * ids through a BROADCAST anti-join, which keeps the bucketed scans'
  * partitioning and ordering (Exchange-free delta joins survive a pending
  * takedown); [[compact]] turns them into a physical delete (the
  * rewritten generation never holds the rows) and clears them;
  * [[append]] of a removed id lifts its tombstone — delete-then-append
  * means the re-added rows win. A verification payload (shingles,
  * vectors, span sets) must not hold two rows of one id, so re-ingesting
  * a NOT-yet-compacted removal compacts first (the sync arms do).
  *
  * THE DERIVED `_df` MEMBER (containment): the per-digest document
  * frequency is an AGGREGATE, so it cannot be anti-joined. It is a LOG of
  * counts: [[save]] writes one row per digest, [[append]] writes the
  * shard's counts as INCREMENT rows (nothing is rewritten), [[load]] sums
  * per digest (bucketed by digest ⇒ Exchange-free) and SUBTRACTS the
  * tombstoned documents' fingerprint counts (counts are abelian — the i7
  * rule; the takedown-sized count broadcasts back onto the df scan), and
  * [[compact]] REBUILDS it from the compacted fingerprints (an aggregate
  * under retraction rebuilds from retained rows — the a2d rule — which
  * also collapses the increments back to one row per digest). The df cap
  * therefore always evaluates over index ∖ removed exactly. At tenant
  * scope the rows are per (tenant, digest): each tenant's cap counts its
  * own corpus only.
  *
  * CRASH SAFETY: a fleet compaction is a generation swap per member
  * ([[Dedup.compactBucketedTable]] / [[Dedup.recoverGenerationSwap]]); a
  * tenant compaction swaps one partition directory per member through
  * [[Dedup.rewriteTenantPartition]]'s marker protocol, and the tenant's
  * tombstones clear only after every member landed, so re-running an
  * interrupted compaction finishes it (the df rebuild always reads the
  * surviving fingerprint generation).
  */
object IndexFamily {

  type Meta = Map[String, Int]

  /** Where a verb acts: the whole (unpartitioned) index, or one tenant
    * of an nTenants-partitioned index. [[save]] at `Tenant(_, n)` writes
    * every tenant's partition; the other verbs touch tenant `tenant` only.
    */
  sealed trait Scope
  case object Fleet extends Scope
  final case class Tenant(tenant: Int, nTenants: Int) extends Scope

  /** An id-keyed member table: its suffix, bucket keys, and its rows
    * derived from the family input under the meta.
    */
  final case class Member(suffix: String, keys: Seq[String],
      rows: (DataFrame, Meta) => DataFrame)

  /** A derived-aggregate member: (key, n) counts of member `of`'s rows. */
  final case class CountMember(suffix: String, of: String, key: String)

  val NearDup: IndexFamily[Dedup.NearDupIndex] = IndexFamily(
    "neardup", "nd", "doc_id",
    params = Seq("bands" -> 3, "rows_per_band" -> 3),
    members = Seq(
      Member("_banded", Seq("band", "bkey"),
        (sh, m) => Dedup.bandedKeys(sh, m("bands"), m("rows_per_band"))),
      Member("_shingles", Seq("doc_id"), (sh, _) => sh)),
    counts = None,
    input = (docs, _) => Dedup.shingleTableOf(docs),
    index = (f, m) => Dedup.NearDupIndex(f(0), f(1), m()("bands"),
      m()("rows_per_band")),
    parts = i => Seq(i.banded, i.shingles),
    cachedInput = (spark, dir) => Dedup.persistedShingleTable(spark, dir),
    delta = (sh, i) => Dedup.deltaNearDupsFromShingles(sh, i, 0.8))

  // the 4x16-bit banding is intrinsic to the 64-bit signature — only the
  // physical layout rides the meta
  val SimHash: IndexFamily[Dedup.SimHashIndex] = IndexFamily(
    "simhash", "sh", "doc_id",
    params = Nil,
    members = Seq(Member("_banded", Seq("b", "chunk"),
      (sigs, _) => Dedup.simhashBanded(sigs))),
    counts = None,
    input = (docs, _) => Dedup.simhash64Of(docs),
    index = (f, _) => Dedup.SimHashIndex(f(0)),
    parts = i => Seq(i.banded),
    cachedInput = (spark, dir) => Dedup.simhash64Cached(spark, dir),
    delta = (sigs, i) => Dedup.deltaSimhashPairs(sigs, i, 3))

  val Emb: IndexFamily[Dedup.EmbIndex] = IndexFamily(
    "emb", "em", "vec_id",
    params = Seq("bands" -> 4, "planes_per_band" -> 2),
    members = Seq(
      Member("_banded", Seq("label", "band", "bucket"),
        (e, m) => Dedup.embBandedOf(e, m("bands"), m("planes_per_band"))),
      Member("_vectors", Seq("vec_id"),
        (e, _) => e.select("label", "vec_id", "v", "n"))),
    counts = None,
    input = (vecs, _) => vecs,
    index = (f, _) => Dedup.EmbIndex(f(0), f(1)),
    parts = i => Seq(i.banded, i.vectors),
    cachedInput = (spark, dir) => Similarity.preparedEmbeddings(spark, dir),
    delta = (e, i) => Dedup.deltaEmbeddingPairs(e, i, 0.35))

  // the input is the winnowed selection (doc_id, fps, dall); it feeds the
  // fingerprint explode, the df counts and the span sets, so a derived
  // one is checkpointed (the PERF.md §1 re-evaluation trap)
  val Contain: IndexFamily[Dedup.ContainIndex] = IndexFamily(
    "contain", "cn", "doc_id",
    params = Seq("w" -> 8, "winnow" -> 4),
    members = Seq(
      Member("_fp", Seq("d"),
        (sel, _) => sel.select(col("doc_id"), explode(col("fps")).as("d"))),
      Member("_sets", Seq("doc_id"),
        (sel, _) => sel.select(col("doc_id"), col("dall")))),
    counts = Some(CountMember("_df", of = "_fp", key = "d")),
    input = (docs, m) =>
      Dedup.containmentSelection(docs, m("w"), m("winnow")).localCheckpoint(),
    index = (f, _) => Dedup.ContainIndex(f(0), f(2), f(1)),
    parts = i => Seq(i.fp, i.sets, i.dfTab),
    cachedInput = (spark, dir) => Dedup.containmentSelCached(spark, dir, 8, 4),
    delta = (sel, i) => Dedup.deltaContainmentFromSelection(sel, i, 2, 64, 0.9))

  val all: Seq[IndexFamily[_]] = Seq(NearDup, SimHash, Emb, Contain)

  /** The saved meta row as a map (one small job). */
  def meta(spark: SparkSession, name: String): Meta = {
    val r = spark.table(s"${name}_meta").head()
    r.schema.fieldNames.map(f => f -> r.getAs[Int](f)).toMap
  }

  private def tenantCol(fam: IndexFamily[_], nTenants: Int) =
    pmod(col(fam.idCol), lit(nTenants))

  /** The rows a scope acts on: every row, or the tenant's (id mod n). */
  def inScope(fam: IndexFamily[_], scope: Scope): Column = scope match {
    case Fleet => lit(true)
    case Tenant(t, n) => tenantCol(fam, n) === t
  }

  /** Every member's rows in the scope's layout — a tenant column at
    * tenant scope — the count member last.
    */
  private def layout(fam: IndexFamily[_], scope: Scope,
      rows: Seq[DataFrame]): Seq[DataFrame] = {
    val laid = scope match {
      case Fleet => rows
      case Tenant(_, n) => rows.map(_.withColumn("tenant", tenantCol(fam, n)))
    }
    laid ++ fam.counts.map(c => countRows(c,
      laid(fam.members.indexWhere(_.suffix == c.of)), byTenant = scope != Fleet))
  }

  /** (key, n) counts of a count member's source rows (per tenant, with
    * the tenant column last, in the partitioned layout).
    */
  private def countRows(c: CountMember, src: DataFrame,
      byTenant: Boolean): DataFrame =
    if (byTenant) src.groupBy(col(c.key), col("tenant"))
      .agg(count(lit(1)).as("n")).select(col(c.key), col("n"), col("tenant"))
    else src.groupBy(col(c.key)).agg(count(lit(1)).as("n"))

  private def keysOf(fam: IndexFamily[_]): Seq[(String, Seq[String])] =
    fam.members.map(m => (m.suffix, m.keys)) ++
      fam.counts.map(c => (c.suffix, Seq(c.key)))

  /** Save a fresh index over a family input: every member as a bucketed
    * table (tenant-partitioned at tenant scope) and the meta row — the
    * family params (`params` overrides their defaults), then `buckets`,
    * then `n_tenants` at tenant scope. A save starts a new generation: a
    * prior generation's pending tombstones and crashed-compaction temps
    * are dropped (stale tombstones would hide rows of the fresh index; a
    * registered stale temp would be swapped in over it).
    */
  def save[I](spark: SparkSession, fam: IndexFamily[I], name: String,
      scope: Scope, input: DataFrame, buckets: Int = 8,
      params: Meta = Map.empty): Unit = {
    val fields = fam.params.map { case (k, d) => k -> params.getOrElse(k, d) }
    saveParts(spark, fam, name, scope,
      fam.members.map(_.rows(input, fields.toMap)), fields, buckets)
  }

  /** [[save]] over already-derived member rows (members order). */
  private[graft] def saveParts(spark: SparkSession, fam: IndexFamily[_],
      name: String, scope: Scope, rows: Seq[DataFrame],
      fields: Seq[(String, Int)], buckets: Int): Unit = {
    Dedup.dropTableAndLocation(spark, s"${name}_tombstones")
    keysOf(fam).foreach { case (sfx, _) => scope match {
      case Fleet => Dedup.dropTableAndLocation(spark, s"$name${sfx}__compact")
      case Tenant(_, n) => Dedup.dropTenantCompactionTemps(spark, s"$name$sfx", n)
    }}
    keysOf(fam).zip(layout(fam, scope, rows)).foreach {
      case ((sfx, keys), df) =>
        Dedup.saveBucketedTable(df, s"$name$sfx", buckets, keys,
          byTenant = scope != Fleet)
    }
    Dedup.saveMeta(spark, name, (fields :+ ("buckets" -> buckets)) ++
      (scope match {
        case Fleet => Nil
        case Tenant(_, n) => Seq("n_tenants" -> n)
      }))
  }

  /** The served index: every member minus the tombstoned ids (the count
    * member summed and tombstone-subtracted), one tenant's partitions at
    * tenant scope. `saved` is the index's meta when the caller already
    * read it (as in [[appendPayload]]).
    */
  def load[I](spark: SparkSession, fam: IndexFamily[I], name: String,
      scope: Scope, saved: Option[Meta] = None): I = {
    val ts = Dedup.tombstoneTable(spark, s"${name}_tombstones")
    def raw(sfx: String) = scope match {
      case Fleet => spark.table(s"$name$sfx")
      case Tenant(t, _) =>
        spark.table(s"$name$sfx").filter(col("tenant") === t).drop("tenant")
    }
    val served = fam.members.map(m =>
      Dedup.minusTombstones(raw(m.suffix), ts, fam.idCol))
    val counted = fam.counts.map { c =>
      val total = raw(c.suffix).groupBy(col(c.key)).agg(sum(col("n")).as("n"))
      ts.fold(total) { t =>
        val rm = raw(c.of)
          .join(broadcast(t.select(col(fam.idCol))), Seq(fam.idCol), "left_semi")
          .groupBy(col(c.key)).agg(count(lit(1)).as("n_rm"))
        total.join(broadcast(rm), Seq(c.key), "left_outer")
          .select(col(c.key), (col("n") - coalesce(col("n_rm"), lit(0L))).as("n"))
          .filter(col("n") > 0)
      }
    }
    lazy val m = saved.getOrElse(meta(spark, name))
    fam.index(served ++ counted, () => m)
  }

  /** The served verification member the census gates count (the last). */
  def served[I](spark: SparkSession, fam: IndexFamily[I], name: String,
      scope: Scope): DataFrame =
    fam.parts(load(spark, fam, name, scope))(fam.members.size - 1)

  /** Tombstone ids — the frame's `fam.idCol` column, else its `doc_id`
    * (doc and vector ids share one id space, so a takedown or diff list
    * of doc ids removes vectors too); a frame with neither fails.
    * Tombstones are id-keyed, so removal is layout-agnostic.
    */
  def remove(spark: SparkSession, fam: IndexFamily[_], name: String,
      ids: DataFrame): Unit = {
    val id = if (ids.columns.contains(fam.idCol)) fam.idCol else "doc_id"
    Dedup.appendTombstones(spark, s"${name}_tombstones",
      ids.select(col(id).as(fam.idCol)), fam.idCol)
  }

  /** Append a shard's family input into a saved index: bucket-spec-
    * matched INSERT INTO for every member (at tenant scope, the tenant's
    * rows as extra bucket files inside its partition; rows of other
    * tenants are dropped), the count member as increment rows, and the
    * appended ids' tombstones lift. Nothing existing is rewritten; each
    * append costs one more file per bucket, and a multi-file bucket no
    * longer reports its sort order (delta joins re-sort, no shuffle)
    * until [[compact]] restores the one-file invariant — the LSM shape.
    * Ids must be new (or removed and compacted) — the upsert contract.
    */
  def append[I](spark: SparkSession, fam: IndexFamily[I], name: String,
      scope: Scope, input: DataFrame, saved: Option[Meta] = None): Unit = {
    val m = saved.getOrElse(meta(spark, name))
    val rows = if (scope == Fleet) input else input.filter(inScope(fam, scope))
    keysOf(fam).zip(layout(fam, scope, fam.members.map(_.rows(rows, m)))).foreach {
      case ((sfx, keys), df) =>
        Dedup.saveBucketedTable(df, s"$name$sfx", m("buckets"), keys,
          append = true, byTenant = scope != Fleet)
    }
    Dedup.clearTombstones(spark, s"${name}_tombstones",
      rows.select(col(fam.idCol)), fam.idCol)
  }

  /** [[append]] from a payload (documents, or vectors for the embedding
    * family): the family input is derived under the saved meta, read once.
    */
  def appendPayload[I](spark: SparkSession, fam: IndexFamily[I],
      name: String, scope: Scope, payload: DataFrame,
      saved: Option[Meta] = None): Unit = {
    val m = saved.getOrElse(meta(spark, name))
    append(spark, fam, name, scope, fam.input(payload, m), Some(m))
  }

  /** `payload` restricted to the ids of a doc_id frame. */
  def restrict(fam: IndexFamily[_], payload: DataFrame,
      ids: DataFrame): DataFrame =
    payload.join(ids.select(col("doc_id").as(fam.idCol)), Seq(fam.idCol),
      "left_semi")

  /** Restore one file per bucket and make pending takedowns physical.
    * Fleet: every member rewrites as a generation swap minus the
    * tombstones, the count member rebuilds from the compacted source, and
    * the tombstone table drops. Tenant: only when tombstones exist, the
    * tenant's partition of every member rewrites minus the TENANT's
    * tombstoned ids (other tenants' files never move), the count
    * partition rebuilds, and only the tenant's tombstone rows clear (a
    * takedown against tenant A must not lose tenant B's pending ones).
    */
  def compact[I](spark: SparkSession, fam: IndexFamily[I], name: String,
      scope: Scope, saved: Option[Meta] = None): Unit = {
    val bk = saved.getOrElse(meta(spark, name))("buckets")
    val id = fam.idCol
    // localCheckpoint: no member rewrite re-reads catalog state mid-swap
    val ts = Dedup.tombstoneTable(spark, s"${name}_tombstones")
      .map(_.select(col(id)).localCheckpoint())
    scope match {
      case Fleet =>
        fam.members.foreach(m => Dedup.compactBucketedTable(spark,
          s"$name${m.suffix}", bk, m.keys, ts.map((_, id))))
        fam.counts.foreach(c => Dedup.swapGeneration(spark, s"$name${c.suffix}",
          bk, Seq(c.key), countRows(c, spark.table(s"$name${c.of}"), byTenant = false)))
        if (ts.isDefined) Dedup.dropTableAndLocation(spark, s"${name}_tombstones")
      case Tenant(t, _) => ts.foreach { all =>
        val mine = all.filter(inScope(fam, scope)).localCheckpoint()
        fam.members.foreach(m => Dedup.compactTenantPartition(spark,
          s"$name${m.suffix}", t, bk, m.keys, Some((mine, id))))
        fam.counts.foreach(c => Dedup.rewriteTenantPartition(spark,
          s"$name${c.suffix}", t, bk, Seq(c.key),
          countRows(c, spark.table(s"$name${c.of}").filter(col("tenant") === t),
            byTenant = false)))
        Dedup.clearTombstones(spark, s"${name}_tombstones", mine, id)
      }
    }
  }
}
