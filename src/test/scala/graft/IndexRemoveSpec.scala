package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RETRACTION lifecycle (round-11): tombstone-served removal, physical
  * delete at compaction, delete-then-append idempotence — for both the
  * near-dup shingle/band index and the ANN vector store. The contract:
  * a removed id appears in NO pair/search result through either serving
  * path, and re-appending it fully restores it.
  */
class IndexRemoveSpec extends SparkSuite {

  private def pairSet(df: DataFrame) =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("near-dup index: remove tombstones now, deletes at compact, append resurrects") {
    import spark.implicits._
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // docs 10 and 11 are both near-dups of the shard doc 20
    val base = ((0L to 9L).map(i => (i, noise(i), "en", "s", 1L)) ++ Seq(
      (10L, baseText, "en", "s", 1L),
      (11L, baseText.replace("tok45", "ALT"), "en", "s", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shard = Seq((20L, baseText.replace("tok30", "EDITED"), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Seq("_banded", "_shingles", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS rmidx$s"))
    val ops = graft.operators.Dedup
    ops.saveNearDupIndex(ops.buildNearDupIndex(base), "rmidx", buckets = 4)
    try {
      // baseline: both planted near-dups pair with the shard doc
      val before = pairSet(ops.deltaNearDups(shard, IndexFamily.load(spark, IndexFamily.NearDup,
          "rmidx", Fleet)))
      assert(before.contains((10L, 20L)) && before.contains((11L, 20L)))

      // 1. TOMBSTONE serving: removing 10 hides it immediately (no rewrite)
      IndexFamily.remove(spark, IndexFamily.NearDup, "rmidx", Seq(10L).toDF("doc_id"))
      val afterRm = pairSet(ops.deltaNearDups(shard, IndexFamily.load(spark, IndexFamily.NearDup,
          "rmidx", Fleet)))
      assert(!afterRm.exists(p => p._1 == 10L || p._2 == 10L), s"10 still paired: $afterRm")
      assert(afterRm.contains((11L, 20L)), "unrelated doc must survive the takedown")

      // 2. COMPACT = physical delete: the raw table no longer holds doc 10,
      // the tombstone list is gone, and serving is unchanged
      IndexFamily.compact(spark, IndexFamily.NearDup, "rmidx", Fleet)
      assert(!spark.catalog.tableExists("rmidx_tombstones"))
      assert(spark.table("rmidx_shingles").filter(col("doc_id") === 10L).isEmpty)
      assert(spark.table("rmidx_banded").filter(col("doc_id") === 10L).isEmpty)
      val afterCompact = pairSet(ops.deltaNearDups(shard, IndexFamily.load(spark, IndexFamily.NearDup,
          "rmidx", Fleet)))
      assert(afterCompact == afterRm)

      // 3. delete-then-append idempotence: tombstone 11, then re-append it
      // — the append lifts the tombstone and 11 is fully restored
      IndexFamily.remove(spark, IndexFamily.NearDup, "rmidx", Seq(11L).toDF("doc_id"))
      assert(!pairSet(ops.deltaNearDups(shard, IndexFamily.load(spark, IndexFamily.NearDup,
          "rmidx", Fleet)))
        .contains((11L, 20L)))
      IndexFamily.appendPayload(spark, IndexFamily.NearDup,
          "rmidx", Fleet, base.filter(col("doc_id") === 11L))
      assert(spark.table("rmidx_tombstones").isEmpty,
        "re-appending the only tombstoned id must clear the list")
      val restored = pairSet(ops.deltaNearDups(shard, IndexFamily.load(spark, IndexFamily.NearDup,
          "rmidx", Fleet)))
      assert(restored.contains((11L, 20L)), s"11 not restored: $restored")
    } finally {
      Seq("_banded", "_shingles", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS rmidx$s"))
    }
  }

  test("simhash index: remove tombstones now, deletes at compact, append resurrects") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val sig0 = 0x0123456789abcdefL
    // noise chunks land in 0x1000..0x4FFF — disjoint from sig0's four
    // 16-bit chunks, so noise docs never band with the planted near-dups
    def noiseSig(i: Long) = ((0x1000L + i) << 48) | ((0x2000L + i) << 32) |
      ((0x3000L + i) << 16) | (0x4000L + i)
    val base = ((0L to 9L).map(i => (i, noiseSig(i))) ++
      Seq((10L, sig0), (11L, sig0 ^ 1L))).toDF("doc_id", "simhash")
    val shard = Seq((20L, sig0 ^ 2L)).toDF("doc_id", "simhash")
    Seq("_banded", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS rmsh$s"))
    IndexFamily.save(spark, IndexFamily.SimHash, "rmsh", Fleet, base, buckets = 4)
    def pairs() = pairSet(ops.deltaSimhashPairs(shard, IndexFamily.load(spark, IndexFamily.SimHash,
        "rmsh", Fleet)))
    try {
      assert(pairs() == Set((10L, 20L), (11L, 20L)))
      // tombstone-served removal
      IndexFamily.remove(spark, IndexFamily.SimHash, "rmsh", Seq(10L).toDF("doc_id"))
      assert(pairs() == Set((11L, 20L)), "tombstoned signature still pairing")
      // compact = physical delete + cleared tombstones
      IndexFamily.compact(spark, IndexFamily.SimHash, "rmsh", Fleet)
      assert(!spark.catalog.tableExists("rmsh_tombstones"))
      assert(spark.table("rmsh_banded").filter(col("doc_id") === 10L).isEmpty)
      assert(pairs() == Set((11L, 20L)))
      // delete-then-append: the re-added signature wins
      IndexFamily.remove(spark, IndexFamily.SimHash, "rmsh", Seq(11L).toDF("doc_id"))
      assert(pairs().isEmpty)
      IndexFamily.append(spark, IndexFamily.SimHash,
          "rmsh", Fleet, base.filter(col("doc_id") === 11L))
      assert(spark.table("rmsh_tombstones").isEmpty,
        "re-appending the only tombstoned id must clear the list")
      assert(pairs() == Set((11L, 20L)), "re-appended signature not restored")
    } finally {
      Seq("_banded", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS rmsh$s"))
    }
  }

  test("embedding index: remove filters banded AND vectors, compact deletes, append resurrects") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // noise = unit basis vectors (pairwise cos 0, cos 1/8 vs the planted
    // flat vector); 10/11 near-identical to the shard vector 20
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    def flat(bump: Int) = Array.tabulate(64)(j => if (j == bump) 1.1 else 1.0)
    def withNorm(id: Long, v: Array[Double]) =
      (id, -1, v, math.sqrt(v.map(x => x * x).sum))
    val base = ((0 to 9).map(i => withNorm(i.toLong, basis(i))) ++
      Seq(withNorm(10L, flat(63)), withNorm(11L, flat(0))))
      .toDF("vec_id", "label", "v", "n")
    val shard = Seq(withNorm(20L, flat(1))).toDF("vec_id", "label", "v", "n")
    Seq("_banded", "_vectors", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS rmemb$s"))
    IndexFamily.save(spark, IndexFamily.Emb, "rmemb", Fleet, base, buckets = 4)
    def pairs() = pairSet(
      ops.deltaEmbeddingPairs(shard, IndexFamily.load(spark, IndexFamily.Emb,
          "rmemb", Fleet), threshold = 0.8))
    try {
      assert(pairs() == Set((10L, 20L), (11L, 20L)))
      // tombstone-served removal (banded AND vectors filtered)
      IndexFamily.remove(spark, IndexFamily.Emb, "rmemb", Seq(10L).toDF("vec_id"))
      assert(pairs() == Set((11L, 20L)), "tombstoned vector still pairing")
      // compact = physical delete from BOTH tables + cleared tombstones
      IndexFamily.compact(spark, IndexFamily.Emb, "rmemb", Fleet)
      assert(!spark.catalog.tableExists("rmemb_tombstones"))
      assert(spark.table("rmemb_banded").filter(col("vec_id") === 10L).isEmpty)
      assert(spark.table("rmemb_vectors").filter(col("vec_id") === 10L).isEmpty)
      assert(pairs() == Set((11L, 20L)))
      // delete-then-append (compact first: the vectors table is a
      // verification payload — the documented re-ingestion contract)
      IndexFamily.remove(spark, IndexFamily.Emb, "rmemb", Seq(11L).toDF("vec_id"))
      assert(pairs().isEmpty)
      IndexFamily.compact(spark, IndexFamily.Emb, "rmemb", Fleet)
      IndexFamily.append(spark, IndexFamily.Emb, "rmemb", Fleet, base.filter(col("vec_id") === 11L))
      assert(pairs() == Set((11L, 20L)), "re-appended vector not restored")
    } finally {
      Seq("_banded", "_vectors", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS rmemb$s"))
    }
  }

  test("containment index: removal re-opens the df cap (count subtraction), compact rebuilds df") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val passage = (1 to 60).map(i => s"tok$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // 10 and 11 are IDENTICAL copies of the passage the shard doc 20 also
    // carries: every shared digest has df = 3, so at dfCap = 2 the cap
    // suppresses ALL pairs — until a removal drops df to 2. This pins the
    // family's distinctive retraction stake: the df table must shrink
    // with the takedown (subtraction while tombstoned, rebuild at
    // compaction), not just the candidate legs.
    val base = docs((0L to 9L).map(i => (i, noise(i))) ++
      Seq((10L, passage), (11L, passage)))
    val shardSel = docs(Seq((20L, passage)))
    Seq("_fp", "_df", "_sets", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS rmct$s"))
    IndexFamily.save(spark, IndexFamily.Contain,
        "rmct", Fleet, ops.containmentSelection(base, 8, 4), buckets = 4)
    def pairs() = pairSet(ops.deltaContainment(shardSel,
      IndexFamily.load(spark, IndexFamily.Contain, "rmct", Fleet), dfCap = 2))
    try {
      assert(pairs().isEmpty, "df cap must suppress the df=3 digests")
      // tombstone-served removal: df counts subtract, the cap re-opens
      IndexFamily.remove(spark, IndexFamily.Contain, "rmct", Seq(10L).toDF("doc_id"))
      assert(pairs() == Set((11L, 20L)),
        "load-time df subtraction must re-admit the now-df=2 digests")
      // compact = physical delete + df REBUILT from surviving fingerprints
      IndexFamily.compact(spark, IndexFamily.Contain, "rmct", Fleet)
      assert(!spark.catalog.tableExists("rmct_tombstones"))
      assert(spark.table("rmct_fp").filter(col("doc_id") === 10L).isEmpty)
      assert(spark.table("rmct_sets").filter(col("doc_id") === 10L).isEmpty)
      assert(spark.table("rmct_df").agg(sum(col("n"))).head.getLong(0) ==
        spark.table("rmct_fp").count(), "df rebuild out of sync with fp")
      assert(pairs() == Set((11L, 20L)))
      // delete-then-append (compact first — sets is a verification
      // payload, same contract as the embedding family)
      IndexFamily.remove(spark, IndexFamily.Contain, "rmct", Seq(11L).toDF("doc_id"))
      assert(pairs().isEmpty)
      IndexFamily.compact(spark, IndexFamily.Contain, "rmct", Fleet)
      IndexFamily.appendPayload(spark, IndexFamily.Contain,
          "rmct", Fleet, base.filter(col("doc_id") === 11L))
      assert(pairs() == Set((11L, 20L)), "re-appended doc not restored")
    } finally {
      Seq("_fp", "_df", "_sets", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS rmct$s"))
    }
  }

  test("label-state retraction: removing a bridge doc SPLITS its component") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    def edit2(at: Int) =
      baseText.replace(s"tok$at tok${at + 1}", "XX YY")
    def noise(id: Long) = (1 to 40).map(j =>
      s"m${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // 5 = the BRIDGE (smallest id, so the old cluster label is ITS id);
    // 10 and 20 are near-dups of 5 but not of each other (two disjoint
    // 2-token edits); 30/31 an untouched near-dup pair; 40 a singleton
    val docs = Seq(
      (5L, baseText), (10L, edit2(10)), (20L, edit2(50)),
      (30L, noise(30) + " " + baseText.take(120)),
      (31L, noise(30) + " " + baseText.take(120) + " zz"),
      (40L, noise(40))).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val full = ops.labelStateOf(docs)
    def lab(st: org.apache.spark.sql.DataFrame) =
      st.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = lab(full)
    assert(before(5L) == 5L && before(10L) == 5L && before(20L) == 5L,
      s"fixture chain not formed: $before")
    assert(before(30L) == before(31L) && before(30L) != 5L)

    // retract the bridge: {5,10,20} must split into {10}, {20} with NEW
    // min-member labels; 30/31 untouched; 40 untouched
    val removed = Seq(5L).toDF("doc_id")
    val relabeled = ops.removeFromLabelState(full, docs, removed)
    val after = lab(relabeled)
    assert(after == Map(10L -> 10L, 20L -> 20L), s"split wrong: $after")

    // the persisted store folds deletes + relabels via generation swap
    spark.sql("DROP TABLE IF EXISTS rml_state")
    ops.saveLabelState(spark, "rml_state", full)
    ops.applyLabelRetraction(spark, "rml_state", removed, relabeled)
    try {
      val stored = lab(spark.table("rml_state"))
      assert(!stored.contains(5L), "removed doc still in the store")
      assert(stored == lab(ops.labelStateOf(
        docs.filter(col("doc_id") =!= 5L))), "store != full recompute over corpus minus removed")
      // canonical survivors over the post-retraction state: both split
      // halves survive (each its own cluster)
      val keep = ops.canonicalOfLabelState(spark.table("rml_state"))
        .filter(col("keep")).collect().map(_.getLong(0)).toSet
      assert(keep.contains(10L) && keep.contains(20L))
    } finally spark.sql("DROP TABLE IF EXISTS rml_state")
  }

  test("a2d: rebuilt sketch cells byte-equal a from-scratch build over retained events") {
    val dir = sf("sf0.001")
    // force the rebuilt generation
    graft.operators.Library.sketchRollupRetracted(spark, dir).collect()
    val table = f"user_sketches_rm_${dir.hashCode & 0xffffffffL}%x"
    def cellMap(df: DataFrame) =
      df.collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
        r.getAs[Array[Byte]]("sk").toSeq).toMap
    val rebuilt = cellMap(spark.table(table))
    val fresh = cellMap(Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(13)) =!= 5)
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 86400000000L").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(graft.plans.HllAgg.hllSketch(col("user_id")).as("sk")))
    assert(rebuilt == fresh, "rebuilt plane != from-scratch build over retained corpus")
    assert(rebuilt.nonEmpty)
    // the takedown genuinely touched cells: the retracted plane differs
    // from the pre-takedown one somewhere
    val before = cellMap(spark.table(f"user_sketches_${dir.hashCode & 0xffffffffL}%x"))
    assert(before != rebuilt)
  }

  test("ANN retrain: drift trigger cleared; retrained index == one-shot training; recovery idempotent") {
    import spark.implicits._
    val ops = graft.operators.Similarity
    def vec(id: Long, scale: Double): Array[Double] =
      Array.tabulate(64)(i => scale * (math.sin(id * 64 + i) +
        (if (i == (id % 64).toInt) 2.0 else 0.0)))
    def rows(ids: Seq[Long], scale: Double) = ids.map { id =>
      val v = vec(id, scale)
      (id, -1, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "label", "v", "n")
    val tables = Seq("_vectors", "_centroids", "_pqbook", "_meta", "_tombstones")
    (tables.map(s => s"rtann$s") ++ tables.map(s => s"rtann__gen$s") ++
      tables.map(s => s"rtfull$s"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // base on 0..7 at scale 1; append 8..11 at scale 3 → over the
      // frozen scale, the measured drift trigger must trip
      ops.saveAnnIndex(spark, "rtann", rows(0L to 7L, 1.0), buckets = 2)
      ops.appendAnnIndex(spark, "rtann", rows(8L to 11L, 3.0))
      val drift = ops.annIndexDrift(ops.loadAnnIndex(spark, "rtann")).head()
      assert(drift.getAs[Boolean]("retrain") && drift.getAs[Long]("n_overscale") == 4L)
      ops.retrainAnnIndex(spark, "rtann")
      // the trigger clears: the new scale covers every vector
      val after = ops.annIndexDrift(ops.loadAnnIndex(spark, "rtann")).head()
      assert(!after.getAs[Boolean]("retrain") && after.getAs[Long]("n_overscale") == 0L)
      // determinism: the retrained index answers exactly like one trained
      // on the full corpus in one shot
      val full = rows(0L to 7L, 1.0).unionByName(rows(8L to 11L, 3.0))
      ops.saveAnnIndex(spark, "rtfull", full, buckets = 2)
      def res(name: String) = ops.quantizedTopKIndexed(
        ops.loadAnnIndex(spark, name), nProbes = 2, k = 5)
        .collect().map(_.toSeq).toSet
      assert(res("rtann") == res("rtfull"), "retrain != one-shot training")
      // recovery is an idempotent no-op after a completed retrain
      ops.recoverAnnRetrain(spark, "rtann")
      assert(res("rtann") == res("rtfull"))
    } finally {
      (tables.map(s => s"rtann$s") ++ tables.map(s => s"rtann__gen$s") ++
        tables.map(s => s"rtfull$s"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("ANN index: removed vectors unsearchable, compact deletes, append resurrects") {
    import spark.implicits._
    val ops = graft.operators.Similarity
    // 12 deterministic 64-dim vectors; ids 0-1 are probes
    def vec(id: Long): Array[Double] =
      Array.tabulate(64)(i => math.sin(id * 64 + i) + (if (i == (id % 64).toInt) 2.0 else 0.0))
    val e = (0L to 11L).map(id => (id, -1, vec(id),
        math.sqrt(vec(id).map(x => x * x).sum)))
      .toDF("vec_id", "label", "v", "n")
    Seq("_vectors", "_centroids", "_pqbook", "_meta", "_tombstones").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS rmann$s"))
    ops.saveAnnIndex(spark, "rmann", e, buckets = 2)
    def neighbors(): Set[Long] =
      ops.bruteForceTopKIndexed(ops.loadAnnIndex(spark, "rmann"), nProbes = 2, k = 20)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
    try {
      assert(neighbors().contains(7L))

      // tombstone-served removal
      ops.removeFromAnnIndex(spark, "rmann", Seq(7L).toDF("vec_id"))
      assert(!neighbors().contains(7L), "tombstoned vector still searchable")
      assert(neighbors().contains(8L))

      // compact = physical delete + cleared tombstones
      ops.compactAnnIndex(spark, "rmann")
      assert(!spark.catalog.tableExists("rmann_tombstones"))
      assert(spark.table("rmann_vectors").filter(col("vec_id") === 7L).isEmpty)
      assert(!neighbors().contains(7L))

      // delete-then-append: the re-added vector wins
      ops.removeFromAnnIndex(spark, "rmann", Seq(8L).toDF("vec_id"))
      assert(!neighbors().contains(8L))
      ops.appendAnnIndex(spark, "rmann", e.filter(col("vec_id") === 8L))
      assert(spark.table("rmann_tombstones").isEmpty)
      assert(neighbors().contains(8L), "re-appended vector not searchable")
    } finally {
      Seq("_vectors", "_centroids", "_pqbook", "_meta", "_tombstones").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS rmann$s"))
    }
  }

  test("d33c tenant compaction: physical delete rewrites ONLY the tenant's partition; other tenant's files and tombstones survive") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // two tenants by doc_id parity; distinct signatures
    val sigs = (0L to 19L).map(i => (i, 0x1111L * (i % 7) + (i << 3)))
      .toDF("doc_id", "simhash")
    val name = "tshc"
    val all = Seq(s"${name}_banded", s"${name}_banded__tcomp", s"${name}_tombstones")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.SimHash, name, Tenant(0, 2), sigs, buckets = 4)
    def mtimes(tenant: Int): Map[String, Long] = {
      val d = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          s"${name}_banded").toUri.getPath, s"tenant=$tenant")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def servedIds(tenant: Int): Set[Long] =
      IndexFamily.load(spark, IndexFamily.SimHash, name, Tenant(tenant, 2)).banded
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    try {
      val t1Before = mtimes(1)
      assert(t1Before.nonEmpty)
      // tombstone tenant-0 docs 4,6 AND tenant-1 doc 5 (pending)
      IndexFamily.remove(spark, IndexFamily.SimHash, name, Seq(4L, 6L, 5L).toDF("doc_id"))
      assert(servedIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L))
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // compact TENANT 0 only
      IndexFamily.compact(spark, IndexFamily.SimHash, name, Tenant(0, 2))
      // tenant 0: physically gone (served without any tombstone rows)
      spark.catalog.refreshTable(s"${name}_banded")
      assert(spark.table(s"${name}_banded").filter(col("tenant") === 0)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
        (0L to 19L by 2).toSet -- Set(4L, 6L),
        "tenant-0 compaction left removed rows on disk")
      // tenant 1: file mtimes UNTOUCHED, pending tombstone 5 survives
      assert(mtimes(1) == t1Before, "tenant-1 files rewrote during tenant-0 compaction")
      spark.catalog.refreshTable(s"${name}_tombstones")
      assert(spark.table(s"${name}_tombstones").collect()
        .map(_.getLong(0)).toSet == Set(5L),
        "tenant-1's pending tombstone was lost")
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // emptying compaction: tombstone ALL remaining tenant-0 docs — the
      // partition directory itself must disappear
      IndexFamily.remove(spark, IndexFamily.SimHash,
          name, ((0L to 19L by 2).filterNot(Set(4L, 6L))).toDF("doc_id"))
      IndexFamily.compact(spark, IndexFamily.SimHash, name, Tenant(0, 2))
      val t0Dir = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          s"${name}_banded").toUri.getPath, "tenant=0")
      assert(!t0Dir.exists, "emptied tenant partition directory survived")
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("d34c tenant emb compaction: physical delete rewrites ONLY the tenant's partitions (both tables); other tenant untouched") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // two tenants by vec_id parity; deterministic distinct vectors
    def mk(id: Long) = {
      val v = Array.tabulate(64)(i => math.sin(id * 64 + i) + 1.0)
      (id, 0, v, math.sqrt(v.map(x => x * x).sum))
    }
    val e = (0L to 19L).map(mk).toDF("vec_id", "label", "v", "n")
    val name = "temc"
    val all = Seq(s"${name}_banded", s"${name}_vectors",
      s"${name}_banded__tcomp", s"${name}_vectors__tcomp", s"${name}_tombstones")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.Emb, name, Tenant(0, 2), e, buckets = 4)
    def mtimes(table: String, tenant: Int): Map[String, Long] = {
      val d = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
        s"tenant=$tenant")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def servedIds(tenant: Int): Set[Long] = {
      val idx = IndexFamily.load(spark, IndexFamily.Emb, name, Tenant(tenant, 2))
      val fromVecs = idx.vectors.select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val fromBanded = idx.banded.select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(fromVecs == fromBanded, "banded and vectors serve different id sets")
      fromVecs
    }
    try {
      val t1Before = (mtimes(s"${name}_banded", 1), mtimes(s"${name}_vectors", 1))
      assert(t1Before._1.nonEmpty && t1Before._2.nonEmpty)
      // tombstone tenant-0 vecs 4,6 AND tenant-1 vec 5 (pending)
      IndexFamily.remove(spark, IndexFamily.Emb, name, Seq(4L, 6L, 5L).toDF("vec_id"))
      assert(servedIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L))
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // compact TENANT 0 only — both tables
      IndexFamily.compact(spark, IndexFamily.Emb, name, Tenant(0, 2))
      Seq(s"${name}_banded", s"${name}_vectors").foreach { t =>
        spark.catalog.refreshTable(t)
        assert(spark.table(t).filter(col("tenant") === 0)
          .select("vec_id").distinct().collect().map(_.getLong(0)).toSet ==
          (0L to 19L by 2).toSet -- Set(4L, 6L),
          s"tenant-0 compaction left removed rows on disk in $t")
      }
      // tenant 1: file mtimes UNTOUCHED in both tables, tombstone 5 pends
      assert(mtimes(s"${name}_banded", 1) == t1Before._1,
        "tenant-1 banded files rewrote during tenant-0 compaction")
      assert(mtimes(s"${name}_vectors", 1) == t1Before._2,
        "tenant-1 vector files rewrote during tenant-0 compaction")
      spark.catalog.refreshTable(s"${name}_tombstones")
      assert(spark.table(s"${name}_tombstones").collect()
        .map(_.getLong(0)).toSet == Set(5L),
        "tenant-1's pending tombstone was lost")
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // emptying compaction: both tenant-0 partition dirs must disappear
      IndexFamily.remove(spark, IndexFamily.Emb,
          name, ((0L to 19L by 2).filterNot(Set(4L, 6L))).toDF("vec_id"))
      IndexFamily.compact(spark, IndexFamily.Emb, name, Tenant(0, 2))
      Seq(s"${name}_banded", s"${name}_vectors").foreach { t =>
        val d = new java.io.File(
          new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), t).toUri.getPath,
          "tenant=0")
        assert(!d.exists, s"emptied tenant partition directory survived in $t")
      }
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("d35c tenant contain compaction: only the tenant's three partitions rewrite; df REBUILDS from compacted fingerprints") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // two tenants by doc_id parity; digests shared across docs so the
    // df table has real counts to rebuild
    val sel = (0L to 19L).map { id =>
      val fps = Seq(s"g${id % 5}", s"h${id % 3}")
      (id, fps, fps :+ s"u$id")
    }.toDF("doc_id", "fps", "dall")
    val name = "tcnc"
    val halves = Seq("fp", "df", "sets")
    val all = halves.map(h => s"${name}_$h") ++
      halves.map(h => s"${name}_${h}__tcomp") :+ s"${name}_tombstones"
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.Contain, name, Tenant(0, 2), sel)
    def mtimes(table: String, tenant: Int): Map[String, Long] = {
      val d = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath,
        s"tenant=$tenant")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def servedIds(tenant: Int): Set[Long] = {
      val idx = IndexFamily.load(spark, IndexFamily.Contain, name, Tenant(tenant, 2))
      val fromFp = idx.fp.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      val fromSets = idx.sets.select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(fromFp == fromSets, "fp and sets serve different id sets")
      fromFp
    }
    // the served df table must equal a from-scratch count over the
    // served fingerprint rows — the i7 subtraction / a2d rebuild contract
    def dfMatchesFp(tenant: Int): Unit = {
      val idx = IndexFamily.load(spark, IndexFamily.Contain, name, Tenant(tenant, 2))
      val served = idx.dfTab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = idx.fp.groupBy(col("d")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == expect, s"tenant-$tenant df table drifted from fingerprints")
    }
    try {
      val t1Before = halves.map(h => mtimes(s"${name}_$h", 1))
      assert(t1Before.forall(_.nonEmpty))
      // tombstone tenant-0 docs 4,6 AND tenant-1 doc 5 (pending)
      IndexFamily.remove(spark, IndexFamily.Contain, name, Seq(4L, 6L, 5L).toDF("doc_id"))
      assert(servedIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L))
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      dfMatchesFp(0); dfMatchesFp(1)
      // compact TENANT 0 only — all three halves
      IndexFamily.compact(spark, IndexFamily.Contain, name, Tenant(0, 2))
      // tenant 0: physically gone from fp/sets; df partition holds the
      // rebuilt counts (one row per digest, no tombstone correction)
      Seq(s"${name}_fp", s"${name}_sets").foreach { t =>
        spark.catalog.refreshTable(t)
        assert(spark.table(t).filter(col("tenant") === 0)
          .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
          (0L to 19L by 2).toSet -- Set(4L, 6L),
          s"tenant-0 compaction left removed rows on disk in $t")
      }
      spark.catalog.refreshTable(s"${name}_df")
      val dfDisk = spark.table(s"${name}_df").filter(col("tenant") === 0)
        .select("d", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fpDisk = spark.table(s"${name}_fp").filter(col("tenant") === 0)
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfDisk == fpDisk, "compacted df partition != rebuild from compacted fp")
      dfMatchesFp(0)
      // tenant 1: mtimes UNTOUCHED on all three tables, tombstone 5 pends
      halves.zip(t1Before).foreach { case (h, before) =>
        assert(mtimes(s"${name}_$h", 1) == before,
          s"tenant-1 $h files rewrote during tenant-0 compaction")
      }
      spark.catalog.refreshTable(s"${name}_tombstones")
      assert(spark.table(s"${name}_tombstones").collect()
        .map(_.getLong(0)).toSet == Set(5L),
        "tenant-1's pending tombstone was lost")
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      dfMatchesFp(1)
      // emptying compaction: all three tenant-0 partition dirs disappear
      IndexFamily.remove(spark, IndexFamily.Contain,
          name, ((0L to 19L by 2).filterNot(Set(4L, 6L))).toDF("doc_id"))
      IndexFamily.compact(spark, IndexFamily.Contain, name, Tenant(0, 2))
      halves.foreach { h =>
        val d = new java.io.File(
          new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"),
            s"${name}_$h").toUri.getPath, "tenant=0")
        assert(!d.exists, s"emptied tenant partition directory survived in ${name}_$h")
      }
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("every index family x scope: removal serves a rebuild, compaction keeps it (other tenant untouched), re-append restores the full build") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // 20 ids per family; tenants by id parity; 4, 6 are tenant 0's and 9
    // tenant 1's (at tenant-0 scope it stays pending throughout)
    val docs = (0L until 20L).map(i => (i,
        Seq(i % 4, i % 4 + 1, i % 4 + 2, i % 4 + 3).map(j => s"w$j").mkString(" ") + s" u$i",
        "en")).toDF("doc_id", "text", "lang")
    def vec(id: Long) = {
      val v = Array.tabulate(64)(j => math.sin(id * 64 + j) + 1.0)
      (id, (id % 2).toInt, v, math.sqrt(v.map(x => x * x).sum))
    }
    val inputs: Map[String, DataFrame] = Map(
      "neardup" -> ops.shingleTableOf(docs),
      "simhash" -> ops.simhash64Of(docs),
      "emb" -> (0L until 20L).map(vec).toDF("vec_id", "label", "v", "n"),
      "contain" -> (0L until 20L).map { id =>
        val fps = Seq(s"g${id % 5}", s"h${id % 3}")
        (id, fps, fps :+ s"u$id")
      }.toDF("doc_id", "fps", "dall")).map { case (k, df) => k -> df.localCheckpoint() }
    val removed = Seq(4L, 6L, 9L)
    def rows(parts: Seq[DataFrame]): Seq[Seq[String]] = parts.map(df =>
      df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq)
    def warehouse(t: String) = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t).toUri.getPath
    def mtimes(t: String): Map[String, Long] =
      Option(new java.io.File(warehouse(t), "tenant=1").listFiles())
        .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
    def lifecycle[I](fam: IndexFamily[I], scope: IndexFamily.Scope): Unit = {
      val input = inputs(fam.tag)
      val name = s"lc_${fam.short}_${if (scope == Fleet) "f" else "t"}"
      val tables = fam.tableSuffixes.map(name + _)
      // the in-memory build over a set of ids, restricted to the scope
      def build(ids: Seq[Long]): Seq[Seq[String]] = {
        val in = input.filter(col(fam.idCol).isin(ids: _*) &&
          IndexFamily.inScope(fam, scope))
        val parts = fam.members.map(_.rows(in, fam.params.toMap))
        rows(parts ++ fam.counts.map(c =>
          parts(fam.members.indexWhere(_.suffix == c.of))
            .groupBy(col(c.key)).agg(count(lit(1)).as("n"))))
      }
      def served() = rows(fam.parts(IndexFamily.load(spark, fam, name, scope)))
      val all = 0L until 20L
      val kept = build(all.filterNot(removed.contains))
      try {
        IndexFamily.save(spark, fam, name, scope, input, buckets = 2)
        IndexFamily.remove(spark, fam, name, removed.toDF("doc_id"))
        assert(served() == kept, s"$name: removal != rebuild")
        val other = tables.map(t => t -> mtimes(t)).toMap
        IndexFamily.compact(spark, fam, name, scope)
        assert(served() == kept, s"$name: compaction changed the served rows")
        if (scope != Fleet) tables.filterNot(_.endsWith("_meta"))
          .filterNot(_.endsWith("_tombstones")).foreach { t =>
            assert(other(t).nonEmpty && mtimes(t) == other(t),
              s"$t: the other tenant's files moved")
          }
        IndexFamily.append(spark, fam, name, scope,
          input.filter(col(fam.idCol).isin(removed: _*)))
        assert(served() == build(all), s"$name: re-append != full build")
      } finally tables.foreach { t =>
        ops.dropTableAndLocation(spark, t)
        ops.dropTenantCompactionTemps(spark, t, 2)
      }
    }
    for (fam <- IndexFamily.all; scope <- Seq(Fleet, Tenant(0, 2)))
      lifecycle(fam, scope)
  }

  test("remove tombstones the family's id column by name, else doc_id; a frame with neither fails") {
    import spark.implicits._
    val ts = "rmcol_tombstones"
    def tombstoned() = spark.table(ts).as[Long].collect().toSet
    graft.operators.Dedup.dropTableAndLocation(spark, ts)
    try {
      IndexFamily.remove(spark, IndexFamily.Emb, "rmcol", Seq((7, 2L)).toDF("label", "vec_id"))
      assert(tombstoned() == Set(2L))
      IndexFamily.remove(spark, IndexFamily.Emb, "rmcol", Seq((7, 3L)).toDF("label", "doc_id"))
      assert(tombstoned() == Set(2L, 3L))
      intercept[org.apache.spark.sql.AnalysisException](
        IndexFamily.remove(spark, IndexFamily.Emb, "rmcol", Seq((7, 4L)).toDF("label", "id")))
      assert(tombstoned() == Set(2L, 3L))
    } finally graft.operators.Dedup.dropTableAndLocation(spark, ts)
  }

  test("d36 diff-driven sync exercises all three classes: removed gone, added pairs, changed pairs only under amended text") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // ids chosen so splitBucket(id) < 200 for indexed docs and >= 200 for
    // shard docs, hitting each diff class exactly:
    //   4  removed  (id % 9 == 4)        | 18 added  (id % 13 == 5)
    //   14 changed  (id % 11 == 3)       | 1  stable
    //   0, 2, 3, 5 shard (bucket >= 200)
    val cOrig = "alpha beta gamma delta"
    val docs = Seq(
      (4L, "red green blue cyan magenta", "en"),     // removed: pairs shard 0 pre-sync only
      (18L, "one two three four five six", "en"),    // added: pairs shard 2
      (14L, cOrig, "en"),                            // changed: ' v2' amended in gen B
      (1L, "lorem ipsum dolor sit amet", "en"),      // stable: pairs shard 5
      (0L, "red green blue cyan magenta", "en"),     // shard partner of the REMOVED doc
      (2L, "one two three four five six", "en"),     // shard partner of the ADDED doc
      (3L, s"$cOrig v2", "en"),                      // shard partner of the AMENDED text
      (5L, "lorem ipsum dolor sit amet", "en"))      // shard partner of the stable doc
      .map { case (i, t, l) => (i, t, l, "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("d36fix").toString
    docs.coalesce(1).write.parquet(s"$root/out")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/out"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$root/documents.parquet"))
    try {
      val pairs = ops.diffSyncedGate(spark, root, IndexFamily.NearDup)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // ADDED doc serves: its identical-text shard partner pairs
      assert(pairs.contains((2L, 18L)), s"added doc not indexed: $pairs")
      // STABLE doc still serves
      assert(pairs.contains((1L, 5L)), s"stable doc lost: $pairs")
      // REMOVED doc is gone: its identical-text shard partner finds nothing
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
        s"removed doc still serving: $pairs")
      // CHANGED doc serves its AMENDED shingles: pairs the ' v2' shard
      // text (jaccard 1 post-amendment; the ORIGINAL text's jaccard vs
      // the amended index entry is 3/7 < 0.8, so a stale unamended row
      // would flip this assertion set)
      assert(pairs.contains((3L, 14L)), s"changed doc not re-indexed with amended text: $pairs")
      assert(pairs == Set((2L, 18L), (1L, 5L), (3L, 14L)), s"unexpected pairs: $pairs")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("d41/d42 srp reband loop: a planted 4-band evader trips the trigger; the 8-band swap clears it") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // searched offline against the real md5 plane family: cos(u,v) =
    // 0.5105 ≥ 0.3, u and v DISAGREE on all four 2-plane band buckets
    // (bands 0–3) and AGREE on at least one of bands 4–7 — so the pair
    // is exact, invisible to the 4-band tier, and caught by the 8-band
    // one. The planted-recall arithmetic below re-proves all of it.
    val u = Array(0.62, 0.308, -0.222, 2.316, 1.507, -1.399, -0.4, 0.428,
      0.783, -1.348, -2.256, -1.906, -0.071, -0.103, 0.345, -0.77, -1.224,
      -2.023, 0.329, 0.37, 0.993, 0.791, -0.191, 1.349, -0.136, -0.661,
      -0.521, -0.585, -2.166, 0.156, 0.25, -0.362, -0.714, 0.372, 1.717,
      0.038, -0.508, -0.591, -0.07, -1.265, -0.125, 0.061, 1.845, 0.943,
      1.034, -0.713, 0.67, -1.139, 0.312, 0.419, -0.766, 1.999, 0.567,
      -1.903, 0.553, -0.407, 0.001, 0.466, 0.391, -2.039, -1.158, 0.773,
      1.301, 1.903)
    val v = Array(1.874, -1.578, 0.532, -0.355, 2.2, -0.554, -1.19, 1.944,
      0.978, -2.349, -0.991, -1.67, 0.055, -0.452, 1.357, -1.633, -0.404,
      0.429, -0.522, 0.383, 0.718, -0.151, 0.446, 0.825, -0.877, 1.134,
      0.387, -0.464, -1.732, -0.581, 1.184, -0.324, -0.002, 0.048, 1.468,
      -0.078, 0.37, -0.481, 0.667, -0.124, -0.168, -0.697, 0.215, -0.111,
      -0.268, 0.344, 0.329, 0.708, 2.109, 0.251, -1.737, 0.775, 0.248,
      -2.312, 0.091, 0.02, -0.39, -0.397, -0.43, 0.397, -0.773, -0.28,
      0.399, 1.858)
    def norm(x: Array[Double]) = math.sqrt(x.map(a => a * a).sum)
    // duplicating each vector makes exact = 6 pairs: the two identical
    // pairs are caught by ANY banding, the four (u,v) cross pairs only
    // by the 8-band one — phase-0 recall 2/6 trips, phase-1 hits 1.0
    val e = Seq((0L, u), (1L, u), (2L, v), (3L, v))
      .map { case (i, x) => (i, 0, x, norm(x)) }
      .toDF("vec_id", "label", "v", "n")
    val name = "srprb"
    def reset() = Seq("_banded", "_meta").foreach { s =>
      ops.dropTableAndLocation(spark, s"$name$s")
      ops.dropTableAndLocation(spark, s"${name}__gen$s")
    }
    reset()
    try {
      val out = ops.srpRebandLifecycle(spark, name, e, df => df, 0.3, 0.9)
        .orderBy("phase").collect()
      val (p0, p1) = (out(0), out(1))
      assert(p0.getAs[Long]("bands") == 4L)
      assert(p0.getAs[Long]("n_exact") == 6L, s"exact side: $p0")
      assert(p0.getAs[Long]("n_caught") == 2L,
        s"planted 4-band evasion did not evade: $p0")
      assert(p0.getAs[Boolean]("triggered"), "trigger did not trip")
      assert(p1.getAs[Long]("bands") == 8L, "action did not swap generations")
      assert(p1.getAs[Double]("recall") == 1.0,
        s"re-band did not clear the miss: $p1")
      assert(!p1.getAs[Boolean]("triggered"), "trigger did not clear")
      // the persisted serving table really is the 8-band generation
      spark.catalog.refreshTable(s"${name}_banded")
      assert(spark.table(s"${name}_banded").select("band").distinct().count() == 8)
      assert(!spark.catalog.tableExists(s"${name}__gen_meta"),
        "generation swap left the __gen tables registered")
    } finally reset()
  }

  test("d32 reband swap crash recovery: a whole __gen generation finishes from any crash window; a meta-less stray discards") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val sigs = (0L to 19L).map(i => (i, 0x2222L * (i % 5) + (i << 2)))
      .toDF("doc_id", "simhash")
    val name = "d32crash"
    val all = Seq(s"${name}_banded", s"${name}_meta",
      s"${name}__gen_banded", s"${name}__gen_meta")
    def reset() = all.foreach(t => ops.dropTableAndLocation(spark, t))
    def bands() = {
      spark.catalog.refreshTable(s"${name}_meta")
      spark.table(s"${name}_meta").head().getAs[Int]("bands")
    }
    def servedBands() = {
      spark.catalog.refreshTable(s"${name}_banded")
      spark.table(s"${name}_banded").select("b").distinct().count()
    }
    reset()
    try {
      // window 1 — crash BETWEEN the two renames: _banded already holds
      // the new 8-band generation, _meta was dropped first, the new meta
      // still sits under the __gen name (the VERDICT-staged window)
      ops.saveBandedGeneration(spark, name, sigs, bands = 8)
      ops.dropTableAndLocation(spark, s"${name}_meta")
      Seq((8, 8)).toDF("buckets", "bands")
        .write.saveAsTable(s"${name}__gen_meta")
      ops.recoverBandedGenerationSwap(spark, name)
      assert(bands() == 8 && servedBands() == 8,
        "between-renames crash not finished")
      assert(!spark.catalog.tableExists(s"${name}__gen_meta"))

      // window 2 — crash after the drops, before the first rename: ONLY
      // the whole __gen generation exists
      reset()
      ops.saveBandedGeneration(spark, s"${name}__gen", sigs, bands = 8)
      ops.recoverBandedGenerationSwap(spark, name)
      assert(bands() == 8 && servedBands() == 8,
        "post-drop crash not finished")

      // window 3 — crash before the drops: the old 4-band generation is
      // still fully live next to the whole __gen one; the new generation
      // must still win (meta presence proves it complete)
      reset()
      ops.saveBandedGeneration(spark, name, sigs, bands = 4)
      ops.saveBandedGeneration(spark, s"${name}__gen", sigs, bands = 8)
      ops.recoverBandedGenerationSwap(spark, name)
      assert(bands() == 8 && servedBands() == 8,
        "pre-drop crash not finished")

      // stray — crash MID-WRITE of the new generation (banded table
      // without its meta): the old generation keeps serving, the
      // incomplete stray is discarded
      reset()
      ops.saveBandedGeneration(spark, name, sigs, bands = 4)
      ops.saveBucketedTable(ops.simhashBanded(sigs, 8),
        s"${name}__gen_banded", 8, Seq("b", "chunk"))
      ops.recoverBandedGenerationSwap(spark, name)
      assert(bands() == 4 && servedBands() == 4,
        "meta-less stray replaced the live generation")
      assert(!spark.catalog.tableExists(s"${name}__gen_banded"),
        "incomplete stray survived recovery")
    } finally reset()
  }

  /** Writes `df` as a single parquet file `root/name.parquet` — the
    * Tables.* single-file layout the planted fixtures mimic.
    */
  private def writeFixtureTable(df: DataFrame, root: String, name: String): Unit = {
    df.coalesce(1).write.parquet(s"$root/out_$name")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/out_$name"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$root/$name.parquet"))
  }

  // the d37/d38/d39 fixtures reuse the d36 id plan: splitBucket puts
  // 4/18/14/1 in the indexed half and 0/2/3/5 in the shard, and the mod
  // classes hit each diff class exactly — 4 removed (≡4 mod 9), 18 added
  // (≡5 mod 13), 14 changed (≡3 mod 11), 1 stable.

  test("d37 simhash diff sync: removed unpaired, added pairs, changed pairs only under the re-signed amended text") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val cOrig = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (4L, "red green blue cyan magenta yellow", "en"),
      (18L, "one two three four five six seven", "en"),
      (14L, cOrig, "en"),
      (1L, "lorem ipsum dolor sit amet elite", "en"),
      (0L, "red green blue cyan magenta yellow", "en"),
      (2L, "one two three four five six seven", "en"),
      (3L, s"$cOrig v2", "en"),
      (5L, "lorem ipsum dolor sit amet elite", "en"))
      .map { case (i, t, l) => (i, t, l, "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("d37fix").toString
    writeFixtureTable(docs, root, "documents")
    try {
      // fixture validity: the amendment must MOVE the signature out of
      // hamming-3 range, or a stale unamended index row would be
      // indistinguishable from the re-signed one
      val sigs = ops.simhash64Of(Seq((0L, cOrig), (1L, s"$cOrig v2"))
        .toDF("doc_id", "text")).orderBy("doc_id").collect().map(_.getLong(1))
      assert(java.lang.Long.bitCount(sigs(0) ^ sigs(1)) > 3,
        "fixture invalid: amendment within hamming 3")
      val pairs = pairSet(ops.diffSyncedGate(spark, root, IndexFamily.SimHash))
      assert(pairs.contains((2L, 18L)), s"added doc not indexed: $pairs")
      assert(pairs.contains((1L, 5L)), s"stable doc lost: $pairs")
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
        s"removed doc still serving: $pairs")
      assert(pairs.contains((3L, 14L)),
        s"changed doc not re-signed from amended text: $pairs")
      assert(pairs == Set((2L, 18L), (1L, 5L), (3L, 14L)),
        s"unexpected pairs: $pairs")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("d38 embedding diff sync: membership classes change served pairs; changed survives remove + re-append") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // orthogonal basis vectors per pair group: partners pair at cos 1.0,
    // cross-group candidates (if banded together) die at cos 0 < 0.35
    def basis(i: Int) = (0 until 64).map(j => if (j == i) 1.0f else 0.0f)
    val docs = Seq(4L, 18L, 14L, 1L, 0L, 2L, 3L, 5L)
      .map(i => (i, s"doc $i body", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb = Seq(
      (4L, basis(0)), (0L, basis(0)),  // removed + its shard partner
      (18L, basis(1)), (2L, basis(1)), // added + its shard partner
      (14L, basis(2)), (3L, basis(2)), // changed + its shard partner
      (1L, basis(3)), (5L, basis(3)))  // stable + its shard partner
      .map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("d38fix").toString
    writeFixtureTable(docs, root, "documents")
    writeFixtureTable(emb, root, "embeddings")
    try {
      val pairs = pairSet(ops.diffSyncedGate(spark, root, IndexFamily.Emb))
      assert(pairs.contains((2L, 18L)), s"added vector not indexed: $pairs")
      assert(pairs.contains((1L, 5L)), s"stable vector lost: $pairs")
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
        s"removed vector still serving: $pairs")
      assert(pairs.contains((3L, 14L)),
        s"changed vector lost across remove + re-append: $pairs")
      assert(pairs == Set((2L, 18L), (1L, 5L), (3L, 14L)),
        s"unexpected pairs: $pairs")
      // d40 over the SAME fixture: the synced ANN STORE's membership is
      // exactly gen B's (4 removed, 18 added, 14 survived the
      // remove + re-append, 1 stable); the exact tier serves only them
      // kClusters = 1: three gen-A vectors can't seed four clusters
      val served = ops.diffSyncedAnnSearch(spark, root, kClusters = 1)
        .select("probe_id", "neighbor_id").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(served == Set(1L, 14L, 18L),
        s"synced ANN store serves the wrong membership: $served")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("d44/d45/d46 aggregate diff sync: labels split + merge + re-pair on amendment; stats and cells equal gen-B recomputes") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val base60 = (1 to 60).map(i => s"t$i").mkString(" ")
    val chainB = (1 to 60).map(i => s"u$i").mkString(" ")
    val vocab60 = (1 to 60).map(i => s"v$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    // indexed ids (splitBucket < 200): 1 6 7 9 11 12 13 14 15 16 17 18
    //   13 removed (≡4 mod 9): it BRIDGES 9 and 11 (each within 0.8 of
    //     13, but 9 vs 11 at ~0.66) — its takedown must SPLIT the cluster
    //   18 added (≡5 mod 13): identical to 16 — the merge must cluster them
    //   14 changed (≡3 mod 11): 3 tokens; amended "… v2" is IDENTICAL to
    //     15's text (stale unamended 14 is at jaccard 0.5 from 15 — a
    //     missed re-index leaves {14,15} unclustered)
    val texts = Map[Long, String](
      1L -> noise(1), 12L -> noise(12), 17L -> noise(17),
      6L -> base60, 7L -> s"$base60 extra",
      13L -> chainB,
      9L -> chainB.replace("u10 ", "X1 ").replace("u20 ", "X2 "),
      11L -> chainB.replace("u40 ", "Y1 "),
      14L -> "alpha beta gamma", 15L -> "alpha beta gamma v2",
      16L -> vocab60, 18L -> vocab60,
      0L -> noise(0), 2L -> noise(2)) // shard ids (bucket >= 200)
    val docs = texts.toSeq.sortBy(_._1).map { case (i, t) =>
      (i, t, if (i % 2 == 0) "en" else "de", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("d44fix").toString
    writeFixtureTable(docs, root, "documents")
    val idx = Seq(1L, 6L, 7L, 9L, 11L, 12L, 13L, 14L, 15L, 16L, 17L, 18L)
    val genA = docs.filter(col("doc_id").isin(idx.filterNot(_ == 18L): _*))
    val genB = docs.filter(col("doc_id").isin(idx.filterNot(_ == 13L): _*))
      .withColumn("text", when(col("doc_id") === 14L,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      // the fixture's METADATA-only change (corpusGenFixture's ≡7 mod 19
      // rule — doc 7 here): lang moves de→zz with the text untouched, so
      // the d45/d46 affected-lang rebuilds must follow BOTH sides of the
      // move (prev_lang drains 'de', lang fills 'zz')
      .withColumn("lang", when(col("doc_id") % 19 === 7, lit("zz"))
        .otherwise(col("lang")))
    try {
      // fixture validity: in gen A the bridge doc really bridges
      val labA = ops.labelStateOf(genA).select("doc_id", "cluster")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labA(9L) == labA(13L) && labA(11L) == labA(13L),
        s"fixture: 13 does not bridge 9 and 11 in gen A: $labA")
      // d44: the synced state's canonical == the gen-B recompute, row-level
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .toSeq
      val got = canon(ops.diffSyncedCanonical(spark, root))
      val want = canon(ops.canonicalOfLabelState(ops.labelStateOf(genB)))
      assert(got == want, s"synced labels != gen-B recompute:\n$got\n$want")
      val cl = got.map(r => r._1 -> r._2).toMap
      assert(!cl.contains(13L), "removed doc still labeled")
      assert(cl(9L) != cl(11L), "takedown of the bridge did not split the cluster")
      assert(cl(16L) == cl(18L), "added doc not merged with its twin")
      assert(cl(14L) == cl(15L), "amended doc not re-paired with its ' v2' twin")
      assert(cl(6L) == cl(7L), "stable cluster lost")
      // d45: stats table == gen-B group counts
      val gotStats = ops.diffSyncedDocStats(spark, root)
        .orderBy("lang", "source").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val wantStats = genB.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n")).orderBy("lang", "source").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(gotStats == wantStats, s"stats != gen-B recompute: $gotStats")
      // d46: every cell's exact count right, every band flag true
      val cells = ops.diffSyncedSketchCells(spark, root).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      val wantCells = genB.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cells.map(c => c._1 -> c._2).toMap == wantCells,
        s"cell exact counts wrong: ${cells.toSeq}")
      assert(cells.forall(_._3), s"a synced cell drifted past 5%: ${cells.toSeq}")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("d39 containment diff sync: removed unpaired, added pairs, changed's amended span replaces the stale one") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // 8-token texts are ONE whole-text span under w=8; the changed doc's
    // original is 7 tokens (also one span, a DIFFERENT digest from its
    // 8-token amended form), so a stale unamended index row shares zero
    // digests with the amended shard partner and its df stays under 2 —
    // the (3,14) pair exists only if the sync re-fingerprinted
    val t7 = "w1 w2 w3 w4 w5 w6 w7"
    val docs = Seq(
      (4L, "r1 r2 r3 r4 r5 r6 r7 r8", "en"),
      (18L, "a1 a2 a3 a4 a5 a6 a7 a8", "en"),
      (14L, t7, "en"),
      (1L, "s1 s2 s3 s4 s5 s6 s7 s8", "en"),
      (0L, "r1 r2 r3 r4 r5 r6 r7 r8", "en"),
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8", "en"),
      (3L, s"$t7 v2", "en"),
      (5L, "s1 s2 s3 s4 s5 s6 s7 s8", "en"))
      .map { case (i, t, l) => (i, t, l, "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("d39fix").toString
    writeFixtureTable(docs, root, "documents")
    try {
      val pairs = pairSet(ops.diffSyncedGate(spark, root,
        // the one-span fixture docs share ONE fingerprint: the family's
        // delta with minShared = 1 over the same synced index
        IndexFamily.Contain.copy(delta = (sel, idx) =>
          ops.deltaContainmentFromSelection(sel, idx, minShared = 1,
            dfCap = 64, threshold = 0.9))))
      assert(pairs.contains((2L, 18L)), s"added doc not indexed: $pairs")
      assert(pairs.contains((1L, 5L)), s"stable doc lost: $pairs")
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
        s"removed doc still serving: $pairs")
      assert(pairs.contains((3L, 14L)),
        s"changed doc not re-fingerprinted from amended text: $pairs")
      assert(pairs == Set((2L, 18L), (1L, 5L), (3L, 14L)),
        s"unexpected pairs: $pairs")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("tenant compaction crash recovery: a mid-swap crash finishes the interrupted generation; a pre-swap temp is discarded") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val sigs = (0L to 19L).map(i => (i, 0x1111L * (i % 7) + (i << 3)))
      .toDF("doc_id", "simhash")
    val name = "tcrash"
    val banded = s"${name}_banded"
    val tmp = s"${banded}__tcomp_t0"
    val all = Seq(banded, tmp, s"${name}_tombstones")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    IndexFamily.save(spark, IndexFamily.SimHash, name, Tenant(0, 2), sigs)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = new org.apache.hadoop.fs.Path(wh, banded)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part0 = new org.apache.hadoop.fs.Path(root, "tenant=0")
    val marker = new org.apache.hadoop.fs.Path(root, "__swap_old_t0")
    def tenantIds(t: Int): Set[Long] = {
      spark.catalog.refreshTable(banded)
      spark.table(banded).filter(col("tenant") === t)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    try {
      IndexFamily.remove(spark, IndexFamily.SimHash, name, Seq(4L, 6L).toDF("doc_id"))
      // STAGE a mid-swap crash: the retained generation fully written to
      // the per-tenant temp, the old directory renamed to the marker,
      // and only ONE file moved in (crash mid-move)
      val retained = spark.table(banded).filter(col("tenant") === 0)
        .drop("tenant")
        .join(Seq(4L, 6L).toDF("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val nRetained = retained.count()
      ops.saveBucketedTable(retained, tmp, 8, Seq("b", "chunk"))
      assert(fs.rename(part0, marker), "staging rename failed")
      fs.mkdirs(part0)
      val tmpLoc = new org.apache.hadoop.fs.Path(wh, tmp)
      val firstFile = fs.listStatus(tmpLoc).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      fs.rename(firstFile,
        new org.apache.hadoop.fs.Path(part0, firstFile.getName))
      // RE-RUN the compaction: recovery must FINISH the interrupted swap
      // (never recompute from the half-swapped live slice), then the
      // caller clears the tenant's tombstones as usual
      IndexFamily.compact(spark, IndexFamily.SimHash, name, Tenant(0, 2))
      assert(tenantIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L),
        "recovery lost or duplicated tenant-0 rows")
      assert(spark.table(banded).filter(col("tenant") === 0).count() == nRetained,
        "recovery duplicated rows")
      assert(!fs.exists(marker), "marker survived recovery")
      assert(!spark.catalog.tableExists(tmp), "temp table survived recovery")
      assert(tenantIds(1) == (1L to 19L by 2).toSet)
      spark.catalog.refreshTable(s"${name}_tombstones")
      assert(spark.table(s"${name}_tombstones").isEmpty,
        "tombstones not cleared after recovered compaction")
      // PRE-SWAP crash: a stale (even partial) temp with NO marker means
      // the old partition is intact — the rewrite discards the temp and
      // redoes from live data
      ops.saveBucketedTable(retained.limit(3), tmp, 8, Seq("b", "chunk"))
      IndexFamily.remove(spark, IndexFamily.SimHash, name, Seq(8L).toDF("doc_id"))
      IndexFamily.compact(spark, IndexFamily.SimHash, name, Tenant(0, 2))
      assert(tenantIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L, 8L),
        "pre-swap temp leaked into the rewrite")
      assert(tenantIds(1) == (1L to 19L by 2).toSet)
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("s20 tenant ANN compaction: only the tenant's label subtrees rewrite; same-label other-tenant files untouched") {
    import spark.implicits._
    val sim = graft.operators.Similarity
    val ops = graft.operators.Dedup
    def mk(id: Long) = {
      val v = Array.tabulate(64)(i => math.sin(id * 64 + i) + 1.0)
      (id, (id % 3).toInt, v, math.sqrt(v.map(x => x * x).sum))
    }
    val e = (0L to 19L).map(mk).toDF("vec_id", "label", "v", "n")
    val name = "tans"
    val all = Seq(name, s"${name}_tombstones")
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    sim.saveTenantAnnStore(spark, name, e, 2)
    def mtimes(tenant: Int): Map[String, Long] = {
      val root = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name).toUri.getPath,
        s"tenant=$tenant")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    def servedIds(tenant: Int): Set[Long] =
      sim.loadTenantAnnStore(spark, name, tenant)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    try {
      val t1Before = mtimes(1)
      assert(t1Before.nonEmpty)
      // tombstone tenant-0 vecs 4,6 AND tenant-1 vec 5 (pending)
      sim.removeFromPartitionedAnnStore(spark, name, Seq(4L, 6L, 5L).toDF("vec_id"))
      assert(servedIds(0) == (0L to 19L by 2).toSet -- Set(4L, 6L))
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // compact TENANT 0 only
      sim.compactTenantAnnStore(spark, name, tenant = 0, nTenants = 2)
      spark.catalog.refreshTable(name)
      assert(spark.table(name).filter(col("tenant") === 0)
        .select("vec_id").collect().map(_.getLong(0)).toSet ==
        (0L to 19L by 2).toSet -- Set(4L, 6L),
        "tenant-0 compaction left removed rows on disk")
      // tenant 1: every file (including SAME-label partitions) untouched
      assert(mtimes(1) == t1Before,
        "tenant-1 files rewrote during tenant-0 compaction")
      spark.catalog.refreshTable(s"${name}_tombstones")
      assert(spark.table(s"${name}_tombstones").collect()
        .map(_.getLong(0)).toSet == Set(5L),
        "tenant-1's pending tombstone was lost")
      assert(servedIds(1) == (1L to 19L by 2).toSet - 5L)
      // emptying compaction: remove all remaining tenant-0 label-2 vecs
      // (2, 8, 14) — the (tenant=0, label=2) directory must disappear
      sim.removeFromPartitionedAnnStore(spark, name, Seq(2L, 8L, 14L).toDF("vec_id"))
      sim.compactTenantAnnStore(spark, name, tenant = 0, nTenants = 2)
      val l2Dir = new java.io.File(
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name).toUri.getPath,
        "tenant=0/label=2")
      assert(!l2Dir.exists, "emptied (tenant, label) directory survived")
      // tenant 1's label-2 partition still serves (5 ≡ 2 mod 3 is the
      // pending tombstone, 11 and 17 remain)
      assert(sim.loadTenantAnnStore(spark, name, 1)
        .filter(col("label") === 2).select("vec_id").collect()
        .map(_.getLong(0)).toSet == Set(11L, 17L))
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("d43 probe fixture validity: each planted pair sits at jaccard >= 0.8, evades EVERY 3x3 band, and shares a 9x1 band") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val docs = ops.minhashProbeDocs(spark)
    val sh = ops.shingleTableOf(docs).localCheckpoint()
    // pair k = (-(2k+1), -(2k+2)); jaccard via the engine's own verify
    val pairs = (0 to 3).map(k => (-(2L * k + 1), -(2L * k + 2)))
      .toDF("id_a", "id_b")
    val jac = sh.select(col("doc_id").as("id_a"), array_distinct(col("sh")).as("sa"))
      .join(pairs, Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), array_distinct(col("sh")).as("sb")), Seq("id_b"))
      .withColumn("j", round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))), 4))
      .select("id_a", "id_b", "j").collect()
    assert(jac.length == 4 && jac.forall(_.getDouble(2) >= 0.8),
      s"planted pairs drifted below the curation threshold: ${jac.mkString("; ")}")
    // the 3x3 banding must see NO shared (band, bkey) within any pair;
    // the 9x1 banding must see at least one per pair — the offline
    // search's two conditions re-asserted against the ENGINE's hashes
    def sharedBands(bands: Int, rows: Int): Map[(Long, Long), Long] = {
      val bk = ops.bandedKeys(sh, bands, rows)
      bk.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
        .join(pairs, Seq("id_a"))
        .join(bk.select(col("doc_id").as("id_b"), col("band"), col("bkey")),
          Seq("id_b", "band", "bkey"))
        .groupBy(col("id_a"), col("id_b")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val at33 = sharedBands(3, 3)
    assert(at33.isEmpty, s"a planted pair shares a 3x3 band (the miss rotted): $at33")
    val at91 = sharedBands(9, 1)
    assert(at91.size == 4 && at91.values.forall(_ >= 1),
      s"a planted pair lost its 9x1 catch: $at91")
  }

  test("d55b probe fixture validity: each planted short pair is overlap-1.0, <2-shared-fps at winnow 4, >=2 at winnow 2") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    val docs = ops.winnowProbeDocs(spark)
    // pair k = (A = -(2k+1), B = -(2k+2)); id_a < id_b => (B, A)
    val pairs = (0 to 3).map(k => (-(2L * k + 2), -(2L * k + 1)))
      .toDF("id_a", "id_b")
    val s4 = ops.containmentSelection(docs, 8, 4).localCheckpoint()
    val s2 = ops.containmentSelection(docs, 8, 2).localCheckpoint()
    // overlap coefficient 1.0: B's spans are a strict prefix of A's
    val ov = s4.select(col("doc_id").as("id_a"), col("dall").as("da"))
      .join(pairs, Seq("id_a"))
      .join(s4.select(col("doc_id").as("id_b"), col("dall").as("db")), Seq("id_b"))
      .withColumn("ov", round(
        size(array_intersect(col("da"), col("db"))).cast("double") /
          least(size(col("da")), size(col("db"))), 4))
      .select("id_a", "id_b", "ov").collect()
    assert(ov.length == 4 && ov.forall(_.getAs[Double]("ov") >= 0.9),
      s"planted pairs drifted below the detection threshold: ${ov.mkString("; ")}")
    // the offline search's two conditions re-asserted against the
    // ENGINE's own winnowing: winnow 4 shares < 2 fingerprints (missed
    // at minShared 2), winnow 2 shares >= 2 (caught)
    def sharedFps(sel: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] = {
      val fp = sel.select(col("doc_id"), explode(col("fps")).as("d"))
      fp.select(col("doc_id").as("id_a"), col("d"))
        .join(pairs, Seq("id_a"))
        .join(fp.select(col("doc_id").as("id_b"), col("d")), Seq("id_b", "d"))
        .groupBy(col("id_a"), col("id_b")).count().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val at4 = sharedFps(s4)
    assert(at4.values.forall(_ < 2),
      s"a planted pair shares >= 2 winnow-4 fingerprints (the miss rotted): $at4")
    val at2 = sharedFps(s2)
    assert(at2.size == 4 && at2.values.forall(_ >= 2),
      s"a planted pair lost its winnow-2 catch: $at2")
  }

  test("d57 probe fixture validity: the control pair is jaccard-1.0 and 3x3-caught; the odd-id miss pairs keep their parity and conditions") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // tenant parity: every tenant-1 probe id must pmod to 1, the
    // controls to 0 (a drifted id constant would plant the miss in the
    // wrong tenant's audit and flip which tenant trips)
    val t1Ids = (for (k <- 0 to 3; v <- 0 to 1) yield -(4L * k + 1 + 2 * v))
    assert(t1Ids.forall(id => ((id % 2) + 2) % 2 == 1),
      s"a tenant-1 probe id lost its parity: $t1Ids")
    assert(Seq(-10L, -12L).forall(id => ((id % 2) + 2) % 2 == 0))
    // the control pair: identical texts => jaccard 1.0, EVERY 3x3 band
    // shared (caught at the serving banding — tenant 0 must not trip)
    val ctl = ops.tenantRebandProbeDocs(spark, 0)
    val sh = ops.shingleTableOf(ctl).localCheckpoint()
    val bk = ops.bandedKeys(sh, 3, 3)
    val shared = bk.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
      .filter(col("id_a") === -12L)
      .join(bk.select(col("doc_id").as("id_b"), col("band"), col("bkey"))
        .filter(col("id_b") === -10L), Seq("band", "bkey"))
      .count()
    assert(shared == 3L, s"control pair shares $shared of 3 bands (must be all)")
    // the tenant-1 probes are the d43 texts verbatim (id-independent
    // salts) — spot-check pair 0 still misses every 3x3 band
    val p1 = ops.tenantRebandProbeDocs(spark, 1)
    val sh1 = ops.shingleTableOf(p1).localCheckpoint()
    val bk1 = ops.bandedKeys(sh1, 3, 3)
    val missShared = bk1.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
      .filter(col("id_a") === -1L)
      .join(bk1.select(col("doc_id").as("id_b"), col("band"), col("bkey"))
        .filter(col("id_b") === -3L), Seq("band", "bkey"))
      .count()
    assert(missShared == 0L, s"planted miss pair 0 shares a 3x3 band (the miss rotted)")
  }

  test("d32 reband loop: planted Hamming-5 evaders trip the trigger; the 8-band swap clears it") {
    import spark.implicits._
    val ops = graft.operators.Dedup
    // a base signature plus partners at Hamming 5 with the differing
    // bits SPREAD over 4+ of the 16-bit bands — invisible to the 4-band
    // blocking (no shared 16-bit chunk), caught by the 8-band exact side
    val base = 0x0F0F0F0F0F0F0F0FL
    def evader(i: Int) = base ^ (1L << (i % 16)) ^ (1L << (16 + (i % 16))) ^
      (1L << (32 + (i % 16))) ^ (1L << (48 + (i % 16))) ^ (1L << ((i * 7) % 16))
    // noise docs far from everything (distinct high nibbles)
    def noise(i: Long) = (0xA000L + i * 0x101L) << 16 | (0x5AA5L ^ i)
    val sigs = (Seq((0L, base)) ++ (1 to 3).map(i => (i.toLong, evader(i))) ++
      (10L to 19L).map(i => (i, noise(i)))).toDF("doc_id", "simhash")
    val name = "rb_test"
    val all = Seq("_banded", "_meta").flatMap(s =>
      Seq(s"$name$s", s"${name}__gen$s", s"$name${s}__compact"))
    all.foreach(t => ops.dropTableAndLocation(spark, t))
    try {
      val rows = ops.simhashRebandLifecycle(spark, name, sigs,
        radius = 5, target = 0.95).collect()
      assert(rows.length == 2)
      val p0 = rows(0); val p1 = rows(1)
      // phase 0: the 4-band generation misses the planted evaders
      assert(p0.getAs[Long]("bands") == 4L)
      assert(p0.getAs[Double]("recall") < 0.95,
        s"planted degradation not measured: recall ${p0.getAs[Double]("recall")}")
      assert(p0.getAs[Boolean]("triggered"), "trigger did not trip")
      // phase 1: the swapped 8-band generation serves radius 5 losslessly
      assert(p1.getAs[Long]("bands") == 8L, "action did not swap generations")
      assert(p1.getAs[Double]("recall") == 1.0,
        s"re-band did not clear the miss: recall ${p1.getAs[Double]("recall")}")
      assert(!p1.getAs[Boolean]("triggered"), "trigger did not clear")
      // the persisted serving table really is the 8-band generation
      spark.catalog.refreshTable(s"${name}_banded")
      assert(spark.table(s"${name}_banded").select("b").distinct().count() == 8)
      assert(!spark.catalog.tableExists(s"${name}__gen_meta"),
        "generation swap left the __gen tables registered")
    } finally all.foreach(t => ops.dropTableAndLocation(spark, t))
  }

  test("s18 partitioned store: remove hides now, compact deletes (emptied partition dirs too), append resurrects") {
    import spark.implicits._
    val sim = graft.operators.Similarity
    val ops = graft.operators.Dedup
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.1)
    val e = (0L to 9L).map { id =>
      val v = basis((id % 8).toInt)
      (id, (id % 3).toInt, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("vec_id", "label", "v", "n")
    Seq("rmannp", "rmannp_tombstones").foreach(t => ops.dropTableAndLocation(spark, t))
    sim.savePartitionedAnnStore(spark, "rmannp", e)
    def served() = sim.loadPartitionedAnnStore(spark, "rmannp")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    try {
      assert(served() == (0L to 9L).toSet)

      // tombstone: the removed vector is unqueryable immediately
      sim.removeFromPartitionedAnnStore(spark, "rmannp", Seq(4L).toDF("vec_id"))
      assert(served() == (0L to 9L).toSet - 4L, "tombstoned vector still served")

      // compact: physical delete from the partition files, tombstones drop
      sim.compactPartitionedAnnStore(spark, "rmannp")
      spark.catalog.refreshTable("rmannp")
      assert(spark.table("rmannp").select("vec_id").collect()
        .map(_.getLong(0)).toSet == (0L to 9L).toSet - 4L,
        "compaction left the removed row on disk")
      // r14 race-fix contract: compaction clears only the ids captured at
      // entry (clearTombstones rewrites the table rather than dropping it,
      // so a tombstone appended mid-compaction survives) — assert EMPTY,
      // not nonexistent
      spark.catalog.refreshTable("rmannp_tombstones")
      assert(spark.table("rmannp_tombstones").count() == 0L,
        "compaction left cleared ids in the tombstone table")

      // a takedown that EMPTIES a label partition deletes its directory
      // (dynamic overwrite writes nothing there — the CorpusWriter rule)
      sim.removeFromPartitionedAnnStore(spark, "rmannp",
        e.filter(col("label") === 2).select("vec_id"))
      sim.compactPartitionedAnnStore(spark, "rmannp")
      val root = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "rmannp")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "label=2")),
        "emptied partition directory survived the compaction")
      assert(served() == Set(0L, 1L, 3L, 6L, 7L, 9L))

      // delete-then-append: the re-added vector serves again
      sim.appendPartitionedAnnStore(spark, "rmannp", e.filter(col("vec_id") === 4L))
      assert(served().contains(4L), "re-appended vector not served")
    } finally {
      Seq("rmannp", "rmannp_tombstones").foreach(t => ops.dropTableAndLocation(spark, t))
    }
  }
}
