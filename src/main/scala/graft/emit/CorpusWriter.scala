package graft.emit

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sharded training-corpus writer — the write-side layout step of a
  * curation pipeline: documents land partitioned on disk by
  * `split=train|val|test / lang=xx` with a deterministic shard number, so
  * a 100 TB corpus becomes a directory tree a trainer reads
  * shard-parallel and a rerun reproduces byte-stable membership.
  *
  * Layout mechanics at scale:
  *   - split is t9's md5 bucket (`TextAnalysis.splitBucket` — the ONE
  *     shared definition) and shard is an independent seeded md5 bucket
  *     mod `nShards`: both are content-free id hashes, so membership never
  *     moves between reruns or engines;
  *   - `repartition(split, lang, shard)` makes each output task own whole
  *     shards (no thousand tiny files per dir), `sortWithinPartitions`
  *     gives readers doc_id-clustered row groups;
  *   - `partitionBy(split, lang)` puts the selection predicates a trainer
  *     actually uses (split, language mix) into the PATH, so downstream
  *     reads partition-prune instead of scanning.
  */
object CorpusWriter {

  /** The layout columns added to each document row. */
  def shardedLayout(docs: DataFrame, nShards: Int,
      trainUpTo: Int = 250, valUpTo: Int = 253): DataFrame = {
    val b = TextAnalysis.splitBucket(col("doc_id"))
    // conv over the first TWO hex chars in one expression — value-equal
    // to hexVal(c1)*16 + hexVal(c2) but hashes the id ONCE per row (the
    // historical form embedded seededHash twice in the expression tree)
    val shardHash = conv(substring(
        graft.functions.Exprs.seededHash("shard", col("doc_id").cast("string")),
        1, 2), 16, 10).cast("int")
    docs
      .withColumn("split",
        when(b < trainUpTo, "train").when(b < valUpTo, "val").otherwise("test"))
      .withColumn("shard", pmod(shardHash, lit(nShards)).cast("int"))
  }

  /** Write the corpus under `path` as split=…/lang=…/part-… parquet. */
  def write(docs: DataFrame, path: String, nShards: Int = 4,
      maxRecordsPerFile: Long = 0L): Unit =
    shardedLayout(docs, nShards)
      .repartition(col("split"), col("lang"), col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("split", "lang")
      .parquet(path)

  /** RETRACT documents from a written corpus by PARTITION-SCOPED rewrite
    * — the takedown's final stop (the reference's dedup flow ends in
    * literal file deletion, dupes/dedup.py:133-171; a partitioned corpus
    * deletes by rewriting only the directories that held the rows):
    *
    *   - affected (split, lang) partitions = those containing a removed
    *     doc — ONE distinct projection of the takedown join;
    *   - ONLY those partitions re-read, filtered, and overwritten via
    *     dynamic partition overwrite (`partitionOverwriteMode=dynamic`
    *     replaces exactly the written partition dirs); the reads
    *     partition-prune to the affected dirs, so the rewrite cost is
    *     the affected partitions' size, never the corpus;
    *   - untouched partition FILES are not opened, rewritten, or moved —
    *     the spec pins their byte-identity.
    *
    * A partition emptied by the takedown keeps one empty-rows write (its
    * directory replaced with an empty file set), so readers of the
    * layout never see the removed rows again. Returns the number of
    * removed rows.
    */
  def retract(docs: DataFrame, path: String, removedIds: DataFrame): Long = {
    val spark = docs.sparkSession
    val corpus = spark.read.parquet(path)
    val rm = broadcast(removedIds.select(col("doc_id")))
    val affected = corpus.join(rm, Seq("doc_id"), "left_semi")
      .select(col("split"), col("lang")).distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (affected.isEmpty) return 0L
    val affectedPred = affected.map { case (s, l) =>
      col("split") === s && col("lang") === l
    }.reduce(_ || _)
    // ONE scan of the affected partitions (round 21): tag each row with
    // membership in the (distinct, broadcast) removal set and freeze the
    // tagged slice — the removed count, the retained rows the rewrite
    // reads, and the non-empty partition set all come off the checkpoint
    // instead of three separate parquet scans. localCheckpoint stays
    // load-bearing: the write replaces the directories its own input was
    // read from. The removal set is made distinct first so the left join
    // preserves slice row multiplicity (the semi/anti forms were
    // duplicate-tolerant).
    val tagged = corpus.filter(affectedPred)
      .join(broadcast(removedIds.select(col("doc_id")).distinct()
        .withColumn("__rm", lit(true))), Seq("doc_id"), "left")
      .localCheckpoint()
    val removedCount = tagged.filter(col("__rm").isNotNull).count()
    // re-select the corpus order: the using-column join moves doc_id to
    // the front, and rewritten files must keep the untouched files'
    // physical column order
    val retained = tagged.filter(col("__rm").isNull)
      .select(corpus.columns.toIndexedSeq.map(col): _*)
    val nonEmpty = retained.select(col("split"), col("lang")).distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    if (nonEmpty.nonEmpty) {
      val prior = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try retained
        .repartition(col("split"), col("lang"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite")
        .partitionBy("split", "lang")
        .parquet(path)
      finally prior match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    // a partition EMPTIED by the takedown produces no write output, so
    // dynamic overwrite never touches its directory — delete it outright
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // directory names use Spark's partition-value encoding (':', '%',
    // '/', '=', '#', … are percent-escaped) — build the path the way the
    // writer did, or a value needing escapes computes a nonexistent path
    // and the removed rows silently stay readable
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    (affected.toSet -- nonEmpty).foreach { case (s, l) =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"split=${escapePathName(s)}/lang=${escapePathName(l)}"), true)
    }
    removedCount
  }

  /** E3 — corpus GENERATION DIFF: which documents were added, removed,
    * or changed between two written corpus trees — the record an
    * incremental retrain (or a compliance audit) reads to decide what
    * work generation N+1 actually implies. Byte-level identity is a sha
    * over text + lang + source (computed MAP-SIDE over each tree's scan,
    * so only (doc_id, sha, lang) ever shuffles into the full-outer
    * join — text never moves); status is a pure function of the two
    * shas, so a metadata-only edit flags `changed` like a text edit
    * does. Output carries the CURRENT lang plus `prev_lang` (the gen-A
    * one, null for added) — the aggregate estate-sync classes need both
    * sides of a lang move. `unchanged` rows are emitted too (callers
    * filter) — the diff is a total account of both generations.
    */
  def corpusDiff(spark: org.apache.spark.sql.SparkSession, pathA: String,
      pathB: String): DataFrame = {
    // the signature covers text AND the metadata the aggregate state
    // classes group by (lang, source): a lang- or source-only edit IS a
    // generation change — doc stats and sketch cells must follow it even
    // though no index row moves (round-15 review finding). A control-char
    // separator keeps field-boundary collisions out of the sha — and
    // each field coalesces to a \u0002 sentinel FIRST, because concat_ws
    // silently SKIPS nulls and would collapse field boundaries:
    // (NULL, 'en', src) and ('en', NULL, src) must not hash identically
    // (round-15 advice). Each field is additionally LENGTH-PREFIXED:
    // a bare control-char separator still collides when a value CONTAINS
    // the separator — (text='a\u0001b', lang='c') and (text='a',
    // lang='b\u0001c') concat to identical bytes, so a real change
    // classifies 'unchanged' and silently evades the sync (round-16
    // advice). The decimal length pins each field's extent; no value
    // content can shift bytes across a boundary. The e3 oracle mirrors
    // the exact byte layout.
    def sig(p: String, side: String) = {
      def f(c: String) = {
        val v = coalesce(col(c), lit("\u0002"))
        concat(length(v).cast("string"), lit(":"), v)
      }
      spark.read.parquet(p)
        .select(col("doc_id"), col("lang").as(s"lang_$side"),
          sha2(concat_ws("\u0001", f("text"), f("lang"), f("source")),
            256).as(s"sha_$side"))
    }
    sig(pathA, "a").join(sig(pathB, "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("sha_a").isNull, lit("added"))
          .when(col("sha_b").isNull, lit("removed"))
          .when(col("sha_a") =!= col("sha_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("lang_b"), col("lang_a")).as("lang"),
        // a changed doc's OLD lang (null for added) — the aggregate
        // sync's affected-lang set needs BOTH sides of a lang move
        col("lang_a").as("prev_lang"))
  }
}
