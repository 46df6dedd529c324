package graft

import graft.operators.IndexFamily
import graft.operators.IndexFamily.{Fleet, Tenant}
import org.apache.spark.sql.functions._

/** Bucketing evidence (PERF.md "100 TB extrapolation"): pre-bucketing both
  * join sides on the join key removes the per-query shuffle entirely — the
  * storage layout IS the exchange. This is the plan shape the a6-class
  * joins adopt at 100 TB instead of broadcasting.
  */
class BucketingSpec extends SparkSuite {

  test("persisted near-dup index: bucketed tables, delta shuffles only the shard") {
    import spark.implicits._
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    val base = ((0L to 9L).map(i => (i, noise(i), "en", "s", 1L)) :+
      ((10L, baseText, "en", "s", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shard = Seq(
      (20L, baseText.replace("tok30", "EDITED"), "en", "s", 1L),
      (21L, noise(21L), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Seq("_banded", "_shingles", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ndidx$s"))
    val index = graft.operators.Dedup.buildNearDupIndex(base)
    graft.operators.Dedup.saveNearDupIndex(index, "ndidx", buckets = 4)
    val loaded = IndexFamily.load(spark, IndexFamily.NearDup, "ndidx", Fleet)
    try {
      // band params come from the meta table, and the persisted index
      // yields the same delta pairs as the in-memory one
      assert(loaded.bands == index.bands && loaded.rowsPerBand == index.rowsPerBand)
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaLoaded = pairSet(graft.operators.Dedup.deltaNearDups(shard, loaded))
      assert(viaLoaded == pairSet(graft.operators.Dedup.deltaNearDups(shard, index)))
      assert(viaLoaded.exists(p => p._1 == 10L && p._2 == 20L))
      // the load-bearing claim: joining the persisted band index on its
      // bucket keys shuffles ONLY the probe side — the index side reads
      // pre-bucketed, pre-sorted files (no Exchange, no Sort under it)
      val probe = spark.createDataFrame(
        spark.sparkContext.parallelize(loaded.banded.limit(4).collect().toSeq),
        loaded.banded.schema)
        .select(col("band"), col("bkey"), col("doc_id").as("probe_id"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = probe.join(loaded.banded, Seq("band", "bkey"))
        joined.count()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(800))
        assert(plan.contains("SelectedBucketsCount"), "bucket metadata missing from scan")
        val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
        assert(shuffles == 1, s"expected only the probe-side shuffle, got $shuffles:\n${plan.take(1500)}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally Seq("_banded", "_shingles", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ndidx$s"))
  }

  // The load-bearing persisted-gate property, asserted on the GATE plan
  // itself: every sort-merge join side that reads the persisted _banded
  // table does so with no shuffle and no re-sort — the bucketed+sorted
  // layout IS the exchange. (AQE off so join structure is statically
  // visible; broadcast off so the joins actually plan as SMJ.)
  private def assertIndexGatePlan(gate: => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = gate
      df.count()
      val plan = df.queryExecution.executedPlan
      type P = org.apache.spark.sql.execution.SparkPlan
      def isBandedScan(p: P) = p match {
        case s: FileSourceScanExec => s.tableIdentifier.exists(_.table.endsWith("_banded"))
        case _ => false
      }
      // root-to-scan path along CHILDREN (stays on the streamed path — a
      // broadcast build side with its census aggregates is its own branch)
      def pathToScan(p: P): Option[List[P]] =
        if (isBandedScan(p)) Some(List(p))
        else p.children.view.flatMap(pathToScan).headOption.map(p :: _)
      val smjSides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }.flatten
      val paths = smjSides.flatMap(pathToScan)
      assert(paths.nonEmpty, "no sort-merge join reads the persisted banded index")
      // the COLD delta path: index rows flow from the bucketed scan into
      // the join with no exchange, no sort, no aggregation — the storage
      // layout is the shuffle
      val coldPaths = paths.filter(p => !p.exists {
        case _: BaseAggregateExec => true
        case e: ShuffleExchangeExec =>
          // the HOT branch's salted repartition is the one INTENDED
          // exchange (spreading a hot block), identified by its salt key
          e.outputPartitioning.toString.contains("__salt")
        case _ => false
      })
      assert(coldPaths.nonEmpty,
        "cold delta path not found: every banded->join path aggregates or salts")
      for (path <- coldPaths) {
        assert(!path.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"cold index path shuffled:\n${path.head.toString.take(800)}")
        assert(!path.exists(_.isInstanceOf[SortExec]),
          s"cold index path re-sorted:\n${path.head.toString.take(800)}")
      }
      // corpus-sized index rows are never exchanged un-salted anywhere:
      // any exchange on a banded path below the first aggregation must be
      // the salted spread
      for (path <- paths) {
        val belowAgg = path.reverse.takeWhile(!_.isInstanceOf[BaseAggregateExec]).reverse
        belowAgg.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
          assert(e.outputPartitioning.toString.contains("__salt"),
            s"un-salted exchange of raw index rows:\n${e.toString.take(800)}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("index append + compaction: disk upsert == in-memory upsert, compaction restores the sort") {
    import spark.implicits._
    import graft.operators.Dedup
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    def noise(id: Long) = (1 to 40).map(j =>
      s"n${scala.util.hashing.MurmurHash3.productHash((id, j)) & 0xffff}").mkString(" ")
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val base = docs((0L to 9L).map(i => (i, noise(i))) :+ ((10L, baseText)))
    val shard1 = docs(Seq((20L, baseText.replace("tok30", "EDITED")), (21L, noise(21L))))
    val shard2 = docs(Seq((30L, baseText.replace("tok40", "EDITEDB")), (31L, noise(31L))))
    Seq("_banded", "_shingles", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ndapp$s"))
    val index = Dedup.buildNearDupIndex(base)
    Dedup.saveNearDupIndex(index, "ndapp", buckets = 4)
    IndexFamily.appendPayload(spark, IndexFamily.NearDup, "ndapp", Fleet, shard1)
    val inMem = Dedup.upsertNearDupIndex(index, shard1)
    try {
      val loaded = IndexFamily.load(spark, IndexFamily.NearDup, "ndapp", Fleet)
      // the appended tables hold exactly the in-memory upsert's rows
      def bandedSet(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "band", "bkey").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      def shingleSet(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), md5(array_join(col("sh"), "|")).as("d")).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(bandedSet(loaded.banded) == bandedSet(inMem.banded))
      assert(shingleSet(loaded.shingles) == shingleSet(inMem.shingles))
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaDisk = pairSet(Dedup.deltaNearDups(shard2, loaded))
      assert(viaDisk == pairSet(Dedup.deltaNearDups(shard2, inMem)))
      // the appended doc is VISIBLE to the delta: 30 pairs with indexed 10
      // (base save) and 20 (appended) but never 10-20 (both indexed)
      assert(viaDisk.exists(p => p._1 == 10L && p._2 == 30L))
      assert(viaDisk.exists(p => p._1 == 20L && p._2 == 30L))
      assert(!viaDisk.exists(p => p._1 == 10L && p._2 == 20L))
      // plan shape across the lifecycle: appends keep the read
      // Exchange-free (bucketing survives) but forfeit the reported sort
      // (multi-file buckets) — the index side re-sorts; compaction
      // restores the one-file invariant and the sort disappears
      val probe = spark.createDataFrame(
        spark.sparkContext.parallelize(loaded.banded.limit(4).collect().toSeq),
        loaded.banded.schema)
        .select(col("band"), col("bkey"), col("doc_id").as("probe_id"))
      def probePlan() = {
        val joined = probe.join(spark.table("ndapp_banded"), Seq("band", "bkey"))
        joined.count()
        joined.queryExecution.executedPlan.toString
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val before = probePlan()
        assert("(?<!Broadcast)Exchange".r.findAllIn(before).length == 1,
          s"append broke the bucketed read:\n${before.take(1200)}")
        assert("Sort \\[".r.findAllIn(before).length == 2,
          s"expected both sides to sort before compaction:\n${before.take(1200)}")
        IndexFamily.compact(spark, IndexFamily.NearDup, "ndapp", Fleet)
        val after = probePlan()
        assert("(?<!Broadcast)Exchange".r.findAllIn(after).length == 1,
          s"compaction broke the bucketed read:\n${after.take(1200)}")
        assert("Sort \\[".r.findAllIn(after).length == 1,
          s"compaction did not restore the index-side sort report:\n${after.take(1200)}")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      }
      // and the data is unchanged by the rewrite
      assert(pairSet(Dedup.deltaNearDups(shard2,
        IndexFamily.load(spark, IndexFamily.NearDup, "ndapp", Fleet))) == viaDisk)
    } finally Seq("_banded", "_shingles", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ndapp$s"))
  }

  test("appended gates: save→append→compact→delta equals the one-shot gates (all three families)") {
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(graft.operators.Dedup.appendedGate(spark, dir, graft.operators.IndexFamily.NearDup)) ==
      rows(graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.NearDup)))
    assert(rows(graft.operators.Dedup.appendedGate(spark, dir, graft.operators.IndexFamily.SimHash)) ==
      rows(graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.SimHash)))
    assert(rows(graft.operators.Dedup.appendedGate(spark, dir, graft.operators.IndexFamily.Emb)) ==
      rows(graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.Emb)))
  }

  test("d18 gate: appended+compacted index reads bucketed, no Exchange/Sort") {
    assertIndexGatePlan(graft.operators.Dedup.appendedGate(spark, sf("sf0.001"),
      graft.operators.IndexFamily.NearDup))
  }

  test("d13 gate: delta join reads the persisted index bucketed, no Exchange/Sort") {
    assertIndexGatePlan(graft.operators.Dedup.servedGate(spark, sf("sf0.001"),
      graft.operators.IndexFamily.NearDup))
  }

  test("d15 gate: simhash delta reads the persisted index bucketed, no Exchange/Sort") {
    assertIndexGatePlan(graft.operators.Dedup.servedGate(spark, sf("sf0.001"),
      graft.operators.IndexFamily.SimHash))
  }

  test("d17 gate: embedding delta reads the persisted index bucketed, no Exchange/Sort") {
    assertIndexGatePlan(graft.operators.Dedup.servedGate(spark, sf("sf0.001"),
      graft.operators.IndexFamily.Emb))
  }

  test("s7b gate: exact re-rank reads the persisted vector store bucketed, no Exchange/Sort") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Similarity.quantizedTopKFromIndex(spark, sf("sf0.001"))
      df.count()
      val plan = df.queryExecution.executedPlan
      type P = org.apache.spark.sql.execution.SparkPlan
      def isVecScan(p: P) = p match {
        case s: FileSourceScanExec => s.tableIdentifier.exists(_.table.endsWith("_vectors"))
        case _ => false
      }
      def pathToScan(p: P): Option[List[P]] =
        if (isVecScan(p)) Some(List(p))
        else p.children.view.flatMap(pathToScan).headOption.map(p :: _)
      val sides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }.flatten
      val paths = sides.flatMap(pathToScan)
      // the neighbor side of the re-rank join: a pure projection of the
      // vector store (no window, no aggregation above the scan) — must
      // read the bucketed+sorted files as-is. The candidate side's
      // window pipeline legitimately exchanges; it is excluded here.
      val pure = paths.filter(p => !p.exists(x =>
        x.isInstanceOf[WindowExec] || x.isInstanceOf[BaseAggregateExec]))
      assert(pure.nonEmpty,
        "no sort-merge join side reads the vector store directly")
      for (path <- pure) {
        assert(!path.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"vector-store side shuffled:\n${path.head.toString.take(800)}")
        assert(!path.exists(_.isInstanceOf[SortExec]),
          s"vector-store side re-sorted:\n${path.head.toString.take(800)}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // tables land in the default ./spark-warehouse (gitignored); the
    // warehouse dir is a static conf and cannot be moved per-test
    val dir = sf("sf0.001")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_discount")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")

    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))

    // disable broadcast so the join must pick SMJ — bucketing then elides
    // BOTH shuffle exchanges under the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      // the ONLY shuffle in the whole plan is the final aggregation's —
      // the join inputs read pre-bucketed files with no exchange
      val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected 1 shuffle (final agg), got $shuffles:\n${plan.take(1500)}")
      assert(plan.contains("SelectedBucketsCount"), "bucket metadata missing from scan")

      // and the result matches the unbucketed computation
      val expected = graft.operators.Library.playlistStats(spark, dir)
        .groupBy("priority").agg(sum("n").cast("long").as("n"))
        .orderBy("priority").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val got = joined.orderBy("o_orderpriority").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
