package graft

import graft.operators.Library
import org.apache.spark.sql.functions._

/** Plan-shape regression guard: the properties the 100 TB design depends on
  * must survive refactors — broadcast dims, pushed filters, pruned scans.
  */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("a6 flagship: broadcast join + partial/final hash aggregation") {
    val plan = executedPlan(Library.playlistStats(spark, sf("sf0.001")))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("HashAggregate"))
  }

  test("j2: literal filter pushed into the parquet scan, columns pruned") {
    val df = Library.joinLiteralFilter(spark, sf("sf0.001"))
    val formatted = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) { df.explain("formatted") }
      out.toString
    }
    assert(formatted.contains("EqualTo(o_orderpriority,1-URGENT)"), formatted.take(1000))
    assert(formatted.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"))
  }

  test("x1: key predicate reaches PushedFilters") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      graft.operators.Scalars.starsRoundtrip(spark, sf("sf0.001")).explain("formatted")
    }
    assert(out.toString.contains("LessThan(l_orderkey,100)"))
  }

  test("dedup/ANN pipeline: no cartesian or nested-loop joins anywhere") {
    // every near-dup/ANN stage must pair rows through an EQUI join on its
    // blocking key — a cartesian/nested-loop appearing here is the O(n²)
    // regression this guard exists for
    val dir = sf("sf0.001")
    val plans = Seq(
      "d3" -> graft.operators.Dedup.minhashLshPairs(spark, dir),
      "d4" -> graft.operators.Dedup.ngramJaccardPairs(spark, dir),
      "d6" -> graft.operators.Dedup.embeddingNearDupsBounded(spark, dir),
      "d8" -> graft.operators.Dedup.embeddingNearDupsLsh(spark, dir),
      "s2" -> graft.operators.Similarity.lshTopK(spark, dir))
    for ((name, df) <- plans) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"$name plan has a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plan has a nested-loop join")
    }
  }

  test("d3: persisted shingle table is scanned from cache, not recomputed") {
    val plan = executedPlan(graft.operators.Dedup.minhashLshPairs(spark, sf("sf0.001")))
    assert(plan.contains("InMemoryTableScan"),
      "shared shingle projection should come from the per-(session,dir) cache")
  }

  test("s1/s4: the only non-equi join is the bounded broadcast probe side") {
    // brute-force ANN: corpus x broadcast(tiny probes) is the intended plan —
    // nested-loop is fine ONLY because one side is broadcast and bounded
    val s1 = executedPlan(graft.operators.Similarity.bruteForceTopK(spark, sf("sf0.001")))
    assert(s1.contains("BroadcastNestedLoopJoin"))
    assert(!s1.contains("CartesianProduct"))
    // IVF: probe x broadcast(centroids) ranking is the bounded cross product;
    // the in-cluster search itself must be an equi join on label
    val s4 = executedPlan(graft.operators.Similarity.ivfTopK(spark, sf("sf0.001")))
    assert(!s4.contains("CartesianProduct"))
    assert(s4.contains("BroadcastHashJoin") || s4.contains("BroadcastNestedLoopJoin"))
  }

  test("t7/t8/d9: text-analysis and clustering plans keep their scale shape") {
    val dir = sf("sf0.001")
    // t7 is pure map-side: per-doc repetition stats are bounded by DOCUMENT
    // size, so any Exchange here means the token stream is being shuffled —
    // the 100 TB regression this guard exists for
    val t7 = executedPlan(graft.operators.TextAnalysis.repetition(spark, dir))
    assert(!t7.contains("Exchange"), "t7 must not shuffle — map-side only")
    assert(!t7.contains("CartesianProduct"))
    val t8 = executedPlan(graft.operators.TextAnalysis.filterFunnel(spark, dir))
    assert(!t8.contains("CartesianProduct"), "t8 has a cartesian product")
    assert(!t8.contains("SortMergeJoin"),
      "t8 joins tiny per-doc scalars — should broadcast, not sort-merge")
    assert(t8.contains("HashAggregate"), "t8 lost its hash aggregation")
    // d9's corpus-side join must broadcast the (small) vertex labels — a
    // sort-merge/shuffle join would move the whole corpus for a tiny dim
    val d9 = executedPlan(graft.operators.Dedup.nearDupClusters(spark, dir))
    assert(!d9.contains("CartesianProduct"), "d9 has a cartesian product")
    assert(d9.contains("BroadcastHashJoin"),
      "d9's label join should broadcast the vertex labels")
    assert(!d9.contains("SortMergeJoin"))
  }

  test("t10 vocabulary: partial+final aggregation, top-K never a global sort") {
    val plan = executedPlan(graft.operators.TextAnalysis.vocabulary(spark, sf("sf0.001")))
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      "vocabulary must aggregate the exploded token stream hash-wise")
    // top-K must be TakeOrderedAndProject — a Sort node materializing the
    // full vocabulary before the limit is the 100 TB regression
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("w4/w5: time-series joins stay equi-join + partitioned window") {
    val dir = sf("sf0.001")
    // as-of: one keyed shuffle + partitioned window — never a range join
    // or cross product, and the window must be partitioned (no global sort)
    val w4 = executedPlan(Library.clickAsofView(spark, dir))
    assert(!w4.contains("CartesianProduct") && !w4.contains("BroadcastNestedLoopJoin"), w4.take(500))
    assert(w4.contains("Window"), "as-of should be the window composition")
    // range: the bin rewrite must keep the join EQUI — a nested-loop join
    // here means the inequality predicate leaked into the join condition
    val w5 = executedPlan(Library.rangeJoinCounts(spark, dir))
    assert(!w5.contains("CartesianProduct") && !w5.contains("BroadcastNestedLoopJoin"), w5.take(500))
  }

  test("w7/w8: sessionize and ntile keep per-key windows, one data shuffle") {
    val dir = sf("sf0.001")
    // sessionize: lag + running sum + rollup all ride ONE user_id shuffle;
    // a second data exchange below the windows means the composition broke
    val w7 = executedPlan(Library.sessionize(spark, dir).orderBy("user_id", "session_idx"))
    assert(w7.contains("Window"), w7.take(500))
    // exchanges: one hashpartitioning(user_id) + the final output sort's
    // rangepartitioning — the aggregation must NOT add a third
    assert("Exchange hashpartitioning".r.findAllIn(w7).size == 1,
      s"sessionize should shuffle user data exactly once:\n${w7.take(1200)}")
    // chunked twin: exactly TWO keyed data exchanges — (user, chunk) for
    // the local pass, user for the summary stitch; more means a window or
    // aggregation fell off its partitioning, fewer means the phases
    // collapsed back into the one-task-per-user shape the twin exists to
    // avoid
    val w7b = executedPlan(
      Library.chunkedSessionize(spark, dir).orderBy("user_id", "session_idx"))
    assert("Exchange hashpartitioning".r.findAllIn(w7b).size == 2,
      s"chunked sessionize should shuffle exactly twice:\n${w7b.take(1200)}")
    assert(!w7b.contains("SinglePartition"), "chunked sessionize lost its partitioning")
    // ntile: window must be partitioned — a global ntile plans as
    // Exchange SinglePartition, the one-task funnel this guard forbids
    val w8 = executedPlan(Library.priorityQuartiles(spark, dir))
    assert(w8.contains("Window"), w8.take(500))
    assert(!w8.contains("SinglePartition"), "ntile window lost its partitioning")
  }

  test("s11/d21: PQ candidate scan stays narrow; semdedup pair join stays equi") {
    val dir = sf("sf0.001")
    // the ADC stage must read ONLY (vec_id, pcode) — a ReadSchema pulling
    // the wide v/qv columns into the candidate scan defeats the packed
    // plane's 8-bytes-per-vector point. The probe side is an intentional
    // ≤5-row BroadcastNestedLoopJoin (the self-exclusion inequality — the
    // s1/s7 shape), so the guard checks the broadcast and the scan width,
    // not the join flavor.
    val s11 = executedPlan(
      graft.operators.Similarity.pqTopKFromIndex(spark, dir).orderBy("probe_id", "rn"))
    assert(s11.contains("BroadcastExchange"), s11.take(500))
    assert(!s11.contains("CartesianProduct"), s11.take(500))
    val scanLines = s11.split('\n').filter(_.contains("ReadSchema"))
    assert(scanLines.exists(l => l.contains("pcode") && !l.contains("qv") &&
      !l.contains("v:array")),
      s"no narrow (vec_id, pcode) candidate scan:\n${scanLines.mkString("\n")}")
    // semdedup: the within-cluster pair join must be an equi join on cl
    // (cluster-bounded candidates), never a cross product
    val d21 = executedPlan(
      graft.operators.Dedup.semDedup(spark, dir, threshold = 0.45).orderBy("vec_id"))
    assert(!d21.contains("CartesianProduct") && !d21.contains("BroadcastNestedLoopJoin"),
      d21.take(500))
  }

  test("t11/d10: sampling and decontamination keep broadcast/equi shapes") {
    val dir = sf("sf0.001")
    // rebalance: the per-lang rate table and global min broadcast onto the
    // map-side scan — the corpus itself must never shuffle pre-aggregation
    val t11 = executedPlan(graft.operators.TextAnalysis.rebalanceSample(spark, dir))
    assert(t11.contains("BroadcastHashJoin") || t11.contains("BroadcastNestedLoopJoin"),
      t11.take(800))
    assert(!t11.contains("SortMergeJoin"), "rate tables must broadcast, not sort-merge")
    // decontamination: gram-keyed EQUI join only — a cartesian here is the
    // all-pairs regression the blocking exists to prevent
    val d10 = executedPlan(graft.operators.Dedup.crossSplitContamination(spark, dir))
    assert(!d10.contains("CartesianProduct"), d10.take(500))
    assert(d10.contains("HashAggregate"), "per-doc rollup should hash-aggregate")
  }

  test("round-6 ops: d11/d12/t13/t14/t15/w10 keep their scale shapes") {
    val dir = sf("sf0.001")
    // d11/d12: banded/digest equi joins only — never pairwise fallback
    for ((name, df) <- Seq(
        "d11" -> graft.operators.Dedup.simhashPairs(spark, dir),
        "d12" -> graft.operators.Dedup.boilerplateChunks(spark, dir))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"$name has a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
    // t13: the tf and df branches must BOTH read the session-cached
    // inverted-index projection (two InMemoryTableScans) — without the
    // materialization, column pruning de-duplicates nothing and the corpus
    // is exploded twice (the regression this guards against)
    val t13 = executedPlan(graft.operators.TextAnalysis.distinctiveTerms(spark, dir))
    assert("InMemoryTableScan".r.findAllIn(t13).size >= 2,
      s"t13 branches bypass the cached tf table:\n${t13.take(4000)}")
    // t14: the window is PARTITIONED (split, lang) — a global running sum
    // would funnel the corpus through one task
    val t14 = executedPlan(graft.operators.TextAnalysis.sequencePack(spark, dir))
    assert(t14.contains("windowspecdefinition(split"),
      s"t14 window lost its (split, lang) partitioning:\n${t14.take(1500)}")
    // t15: sketch aggregation is partial+final (ObjectHashAggregate pairs)
    val t15 = executedPlan(graft.operators.TextAnalysis.heavyHitters(spark, dir))
    assert(t15.contains("ObjectHashAggregate"), t15.take(500))
    // w10: RANGE frame window is partitioned by user
    val w10 = executedPlan(Library.burstDetection(spark, dir))
    assert(w10.contains("Window"), w10.take(500))
  }

  test("round-7 ops: d13/d14/s6/t17 keep their scale shapes") {
    val dir = sf("sf0.001")
    // d13/d14: digest/band equi joins only — never a pairwise fallback
    for ((name, df) <- Seq(
        "d13" -> graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.NearDup),
        "d14" -> graft.operators.Dedup.spanScrub(spark, dir))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"$name has a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
    // s6: the corpus-side cluster assignment is MAP-SIDE (literal centroid
    // arrays) — the only nested-loop join is the broadcast of the k-row
    // centroid table for probe ranking, and the corpus never joins a
    // membership table
    val s6 = executedPlan(graft.operators.Similarity.kmeansIvfTopK(spark, dir))
    assert("BroadcastNestedLoopJoin".r.findAllIn(s6).size <= 1, s6.take(1500))
    assert(!s6.contains("CartesianProduct"), s6.take(1500))
    // t17: the keep decision rides the scan — the only joins are the
    // broadcast of the tiny (lang, source) rate table and the one-row min
    val t17 = executedPlan(graft.operators.TextAnalysis.mixtureWeightedSample(spark, dir))
    assert(!t17.contains("SortMergeJoin"), t17.take(1500))
    assert(t17.contains("BroadcastHashJoin") || t17.contains("BroadcastNestedLoopJoin"),
      t17.take(1500))
  }

  test("round-8 ops: m4/m5/m6/d17/s7/t18 keep their scale shapes") {
    val dir = sf("sf0.001")
    // perceptual near-dups + delta embedding: band/digest equi joins only,
    // never a pairwise fallback over the corpus
    for ((name, df) <- Seq(
        "m4" -> graft.operators.Multimodal.imageNearDups(spark, dir),
        "m5" -> graft.operators.Multimodal.videoNearDups(spark, dir),
        "m6" -> graft.operators.Multimodal.audioNearDups(spark, dir),
        "d17" -> graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.Emb))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"), s"$name has a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join")
    }
    // s7: the only nested-loop joins are broadcasts of tiny frames (the
    // probe set against the int8 plane, the one-row max inside the cached
    // plane's build); the exact re-rank joins are hash joins on ids, and
    // the candidate scan reads the narrow cached (vec_id, qv) plane
    val s7df = graft.operators.Similarity.quantizedTopK(spark, dir)
    val s7 = executedPlan(s7df)
    assert(!s7.contains("CartesianProduct"), s7.take(1500))
    assert(s7.contains("BroadcastHashJoin [neighbor_id") ||
      s7.contains("BroadcastHashJoin [probe_id"),
      s"re-rank joins are not id-keyed hash joins:\n${s7.take(1500)}")
    assert(s7.contains("qv#"), "quantized plane projection missing from the plan")
    // t18 shares t13's cached inverted-index projection — after t13 has
    // run, t18's token explode is gone and it reads the InMemoryTableScan
    graft.operators.TextAnalysis.distinctiveTerms(spark, dir).count()
    val t18 = executedPlan(graft.operators.TextAnalysis.unigramSurprisal(spark, dir))
    assert(t18.contains("InMemoryTableScan"),
      s"t18 bypasses the cached tf table:\n${t18.take(2000)}")
    assert(!t18.contains("CartesianProduct"), t18.take(500))
  }

  test("round-9 ops: d19b keeps its scale shape") {
    val dir = sf("sf0.001")
    val plan = executedPlan(graft.operators.Dedup.deltaClusterCanonical(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the untouched remainder is carved out of the persisted base
    // canonical by a BROADCAST anti-join on the delta slice's ids — the
    // corpus-sized canonical table must never shuffle for it
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"d19b untouched-remainder carve is not a broadcast anti-join:\n${plan.take(1500)}")
  }

  test("round-9 ops: d20 containment keeps its scale shape") {
    val dir = sf("sf0.001")
    val d20 = graft.operators.Dedup.containmentPairs(spark, dir)
    val plan = executedPlan(d20)
    // pairs form ONLY through the digest equi-join — never a pairwise
    // fallback over the corpus
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the df cap is IN the plan (a Filter on the frequency agg): without
    // it one boilerplate digest hands a task its df² candidate grid
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    val opt = d20.queryExecution.optimizedPlan
    val hasCappedDf = opt.collectFirst {
      case f: LFilter if f.condition.references.exists(_.name == "df") &&
        f.collectFirst { case a: Aggregate => a }.isDefined => f
    }.isDefined
    assert(hasCappedDf, "d20's digest-frequency cap is missing from the plan")
  }

  test("block census is hot-filtered before any join consumes it") {
    // The block-size census has one row per DISTINCT block — ~O(corpus) on
    // the minhash-band and ngram-endpoint paths. Broadcasting it un-filtered
    // is a 100 TB driver/executor OOM; only the bn > hotBlockRows slice
    // (tiny by construction) may feed the tagging join. Guard: in every
    // pair-pipeline plan, any join side containing the census Aggregate
    // must also contain a Filter on bn.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Filter => LFilter}
    val dir = sf("sf0.001")
    def assertCensusFiltered(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      var censusJoins = 0
      for (j <- joins; side <- Seq(j.left, j.right)) {
        val hasCensusAgg = side.collectFirst {
          case a: Aggregate if a.aggregateExpressions.exists(_.name == "bn") => a
        }.isDefined
        if (hasCensusAgg) {
          censusJoins += 1
          val hasBnFilter = side.collectFirst {
            case f: LFilter if f.condition.references.exists(_.name == "bn") => f
          }.isDefined
          assert(hasBnFilter,
            s"$name: a join consumes the block census with no bn filter below it " +
              "- the un-filtered census is O(corpus) on the minhash/ngram paths")
        }
      }
      assert(censusJoins > 0, s"$name: census tagging join not found (guard went vacuous)")
    }
    // use the non-session-cached builder with NON-DEFAULT banding so the
    // logical Join structure is visible (the default-parameter plan is
    // canonically identical to the session-cached d3 result and would
    // collapse to a single InMemoryRelation with zero joins).
    // hotBlockRows = 1 forces the hot branch: since round 21 the builders
    // PROBE the hot-filtered census and only construct the tag/salt
    // machinery when a hot block exists (driver-side adaptive branch), so
    // under the default threshold the sf0.001 plans are plain joins with
    // no census in them at all — the guard must look at the plan that
    // actually contains the census consumer. PropertiesSpec pins the
    // salted and plain branches output-identical on duplicated corpora.
    assertCensusFiltered(
      graft.operators.Dedup.minhashLshPairsOf(
        Tables.documents(spark, dir), bands = 2, rowsPerBand = 2,
        hotBlockRows = 1), "d3")
    assertCensusFiltered(
      graft.operators.Dedup.ngramJaccardPairs(spark, dir, hotBlockRows = 1), "d4")
    assertCensusFiltered(
      graft.operators.Dedup.embeddingNearDupsBounded(spark, dir,
        hotBlockRows = 1), "d6")
    assertCensusFiltered(
      graft.operators.Dedup.simhashPairs(spark, dir, hotBlockRows = 1), "d11")
  }

  test("salted join: result identical to plain join, salt column gone") {
    val fact = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "payload")
    val dim = Seq((1, "dim1"), (2, "dim2")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).orderBy("k", "payload")
      .collect().map(_.toSeq).toSeq
    val salted = Library.saltedJoin(fact, dim, "k", salts = 4)
      .select("k", "payload", "name").orderBy("k", "payload")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("salted join under degenerate skew: hot key spreads across salt partitions") {
    // ONE key owns ~99% of the fact — the LSH-band failure mode the salted
    // fallback exists for. Without salting every hot row lands in one task;
    // with it the shuffle keys on (k, __salt) and no task owns more than
    // ~1/salts of the hot key (bounded task sizes, the documented claim).
    val salts = 8
    val hot = (1 to 20000).map(i => (1, s"payload_$i"))
    val cold = (1 to 200).map(i => (1 + i % 7, s"cold_$i"))
    val fact = (hot ++ cold).toDF("k", "payload")
    val dim = (1 to 8).map(i => (i, s"dim_$i")).toDF("k", "name")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a genuine shuffle join — a broadcast would hide the salt keys
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val salted = Library.saltedJoin(fact, dim, "k", salts)
      assert(salted.count() == (hot.size + cold.size))
      val plan = executedPlan(salted)
      assert(plan.contains("__salt"), plan.take(800))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
      // the hot key's rows split into `salts` near-equal shuffle groups:
      // recompute the salt exactly as saltedJoin derives it (crc32 of the
      // whole row) and check the max group is bounded
      val perSalt = fact.filter($"k" === 1)
        .withColumn("__salt",
          pmod(crc32(concat_ws("|", $"k", $"payload")), lit(salts)).cast("int"))
        .groupBy($"__salt").count()
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      assert(perSalt.length == salts, s"hot key only reached ${perSalt.length}/$salts salts")
      val maxGroup = perSalt.map(_._2).max
      assert(maxGroup <= 2L * hot.size / salts,
        s"skew not dissolved: max salt group $maxGroup of ${hot.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("round-10 ops: d10b/w11/w12/t20 keep their scale shapes") {
    val dir = sf("sf0.001")
    // d10b: the Bloom pre-filter must sit IN the plan on the train-side
    // gram stream (map-side semi-join reduction) and the verify join must
    // stay an equi join — without might_contain the whole corpus ships
    // into the shuffle and the operator degenerates to d10
    val d10b = executedPlan(
      graft.operators.Dedup.crossSplitContaminationBloom(spark, dir))
    assert(d10b.contains("might_contain"),
      s"bloom pre-filter fell out of the d10b plan:\n${d10b.take(1200)}")
    assert(!d10b.contains("CartesianProduct") &&
      !d10b.contains("BroadcastNestedLoopJoin"))
    // w11: a pure aggregation pipeline — no joins at all (cohort size
    // rides a window, not a self-join), and no single-partition funnel
    val w11 = executedPlan(
      Library.retentionCohorts(spark, dir).orderBy("cohort_day", "day_offset"))
    assert(!w11.contains("Join"), s"retention grew a join:\n${w11.take(1200)}")
    // exchanges: user_id (day sets), (cohort, offset) agg, cohort window —
    // a fourth means the map-side set dedup or the window partitioning broke
    assert("Exchange hashpartitioning".r.findAllIn(w11).size <= 3,
      s"retention shuffles too often:\n${w11.take(1200)}")
    // w12: user-keyed equi joins only; the one-row conversion base may ride
    // a broadcast nested loop, but a CartesianProduct means a step join
    // lost its user_id key
    val w12 = executedPlan(Library.funnelSteps(spark, dir).orderBy("step_idx"))
    assert(!w12.contains("CartesianProduct"), s"funnel went cartesian:\n${w12.take(1200)}")
    // s12b: the metadata predicate lands in the bucketed vectors scan's
    // PushedFilters — the whole point of carrying label in the index
    val s12b = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Similarity.filteredTopKFromIndex(spark, dir)
          .explain("formatted")
      }
      out.toString
    }
    assert(s12b.contains("EqualTo(label,2)"),
      s"label predicate not pushed into the index scan:\n${s12b.take(1500)}")
    // j8b/j8c: the similarity joins must pair through their segment
    // equi-blocks — a cartesian/nested-loop here means the blocking
    // rewrite fell out and the quadratic name scan came back
    for ((nm, df) <- Seq(
        "j8b" -> Library.hammingJoin(spark, dir),
        "j8c" -> Library.editDistanceJoin(spark, dir))) {
      val pl = executedPlan(df.orderBy("key_a", "key_b"))
      assert(!pl.contains("CartesianProduct") &&
        !pl.contains("BroadcastNestedLoopJoin"), s"$nm went quadratic")
    }
    // t20: ONE source-keyed data exchange serves the ranking window
    val t20 = executedPlan(
      graft.operators.TextAnalysis.perSourceCap(spark, dir).orderBy("doc_id"))
    assert("Exchange hashpartitioning".r.findAllIn(t20).size == 1,
      s"per-source cap should shuffle exactly once:\n${t20.take(1200)}")
    assert(!t20.contains("SinglePartition"), "per-source cap lost its partitioning")
  }

  test("round-11 ops: w6b/w10b chunk windows, d22/s13 retraction keep their scale shapes") {
    val dir = sf("sf0.001")
    // w6b: BOTH windows ride chunked partitionings — the per-event prefix
    // on (user_id, chunk) (the skew fix: a hot user spreads over chunks)
    // and the offset stitch on user_id over CHUNK TOTALS only; the stitch
    // join must stay an equi join
    val w6b = executedPlan(Library.chunkedRunningSum(spark, dir).orderBy("event_id"))
    assert(w6b.contains("windowspecdefinition(user_id#") &&
      w6b.contains(", chunk#"),
      s"w6b lost its (user, chunk) window partitioning:\n${w6b.take(1500)}")
    assert(!w6b.contains("CartesianProduct") &&
      !w6b.contains("BroadcastNestedLoopJoin"), "w6b stitch went non-equi")
    // w10b: the RANGE frame is per (user, chunk) — never a plain user
    // window (that would be w10's single-task-per-user shape again)
    val w10b = executedPlan(Library.chunkedBurstDetection(spark, dir).orderBy("user_id"))
    assert(w10b.contains(", chunk#"),
      s"w10b lost its (user, chunk) frame partitioning:\n${w10b.take(1500)}")
    // w4b: the per-event carry window is per (user, chunk); the carry-in
    // stitch is an equi join over chunk summaries
    val w4b = executedPlan(Library.clickAsofViewChunked(spark, dir).orderBy("click_id"))
    assert(w4b.contains(", chunk#"),
      s"w4b lost its (user, chunk) carry partitioning:\n${w4b.take(1500)}")
    assert(!w4b.contains("CartesianProduct") &&
      !w4b.contains("BroadcastNestedLoopJoin"), "w4b stitch went non-equi")
    // d22/s13: the retraction anti-joins must be BROADCAST (a takedown
    // list shuffled like a fact table would break the Exchange-free
    // index-read property the tombstone design preserves)
    val d22 = executedPlan(
      graft.operators.Dedup.removedGate(spark, dir, graft.operators.IndexFamily.NearDup).orderBy("id_a", "id_b"))
    assert(d22.contains("BroadcastHashJoin") && d22.contains("LeftAnti"),
      s"d22 tombstone filter is not a broadcast anti-join:\n${d22.take(1500)}")
    val s13 = executedPlan(
      graft.operators.Similarity.annRemoveSearch(spark, dir).orderBy("probe_id", "rn"))
    assert(s13.contains("LeftAnti"),
      s"s13 tombstone filter missing:\n${s13.take(1500)}")
    assert(!s13.contains("CartesianProduct"), "s13 went cartesian")
    // d21c: the pair join is BAND-BLOCKED — keyed on (label/cl, band,
    // bucket), never all-pairs-per-cluster (no join keyed on cl alone,
    // no cartesian anywhere)
    val d21c = executedPlan(
      graft.operators.Dedup.semDedupBanded(spark, dir, threshold = 0.45)
        .orderBy("vec_id"))
    assert(d21c.contains("band#") && d21c.contains("bucket#"),
      s"d21c pair join lost its band-bucket keys:\n${d21c.take(1500)}")
    assert(!d21c.contains("CartesianProduct") &&
      !d21c.contains("BroadcastNestedLoopJoin"), "d21c went quadratic")
    // a6b: the tenant predicate must land in the scan's PartitionFilters
    // (planning-time pruning — the scan never opens another tenant's
    // files), NOT ride as a post-scan Filter over all partitions
    val a6b = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        Library.tenantStats(spark, dir).orderBy("priority", "stars")
          .explain("formatted")
      }
      out.toString
    }
    val pf = a6b.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("tenant") && pf.contains("= 3"),
      s"tenant predicate not in PartitionFilters:\n${a6b.take(2000)}")
    // d24: the audit's exact side must ride the prefix filter + the
    // census+salt candidate machinery (r11 verdict ask #4) — the salt
    // expression (crc32) proves the blockedPairCandidates path, the
    // array_intersect proves the candidate-bounded verify (never the
    // posting-count join), and nothing may go quadratic
    // the UNscoped frame: the gate itself returns a LocalRelation (its
    // scratch is swept once the row is collected — Scratch.scoped), so
    // the shape assertions read the plan that executes inside the scope
    val d24 = executedPlan(
      graft.operators.Dedup.dedupRecallAuditUnscoped(spark, dir))
    // the salt path is ADAPTIVE since round 21 (the builders probe the
    // hot-filtered census and plan the plain join when no block is hot —
    // sf0.001 has none), so the crc32 assertion reads a forced-hot build;
    // the default build must stay free of quadratic joins either way
    val d24hot = executedPlan(
      graft.operators.Dedup.dedupRecallAuditUnscoped(spark, dir,
        hotBlockRows = 1))
    assert(d24hot.contains("crc32"),
      s"d24 exact side lost the hot-block salt path:\n${d24hot.take(1500)}")
    assert(d24.contains("array_intersect"),
      s"d24 verify must be candidate-bounded:\n${d24.take(1500)}")
    assert(d24.contains("row_number"),
      s"d24 lost the prefix ranking window:\n${d24.take(1500)}")
    // the only nested-loop join allowed is the final one-row×one-row
    // recall assembly (two count aggregates crossed)
    assert(!d24.contains("CartesianProduct"), "d24 went cartesian")
    assert(d24.split("BroadcastNestedLoopJoin").length <= 2,
      "d24 has a nested-loop join beyond the one-row recall assembly")
    // d25/d26: the new retraction families keep d22's shape — the
    // tombstone filter is a broadcast anti-join, nothing goes cartesian
    val d25 = executedPlan(graft.operators.Dedup
      .removedGate(spark, dir, graft.operators.IndexFamily.SimHash).orderBy("id_a", "id_b"))
    assert(d25.contains("LeftAnti"),
      s"d25 tombstone filter missing:\n${d25.take(1500)}")
    assert(!d25.contains("CartesianProduct"), "d25 went cartesian")
    val d26 = executedPlan(graft.operators.Dedup
      .removedGate(spark, dir, graft.operators.IndexFamily.Emb).orderBy("id_a", "id_b"))
    assert(d26.contains("LeftAnti"),
      s"d26 tombstone filter missing:\n${d26.take(1500)}")
    assert(!d26.contains("CartesianProduct"), "d26 went cartesian")
    // t23: the packing prefix sum must be the TWO-LEVEL decomposition —
    // a (chunk)-partitioned window plus a broadcast stitch, never one
    // global single-partition window over every document
    val t23 = executedPlan(graft.operators.TextAnalysis
      .packSequences(spark, dir).orderBy("doc_id"))
    assert(t23.contains("chunk#"),
      s"t23 lost its chunk partitioning:\n${t23.take(1500)}")
    assert(t23.contains("BroadcastHashJoin"),
      s"t23 stitch must broadcast the chunk offsets:\n${t23.take(1500)}")
    // t25: the mixture sampler's per-lang prefix sum must be the same
    // two-level machine keyed by (lang, md5-prefix chunk) — a
    // mega-language must never become one single-partition window
    val t25 = executedPlan(graft.operators.TextAnalysis
      .mixtureSample(spark, dir).orderBy("doc_id"))
    assert(t25.contains("chunk#"),
      s"t25 lost its (lang, chunk) partitioning:\n${t25.take(1500)}")
    assert(t25.contains("BroadcastHashJoin"),
      s"t25 stitch/budget joins must broadcast:\n${t25.take(1500)}")
    // d31: the tenant-partitioned INDEX scans (banded + shingles) must
    // prune to the tenant's directories at planning time — both scans
    // carry the tenant predicate in PartitionFilters, so another
    // tenant's files are never opened by this tenant's delta join
    val d31 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.NearDup,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val tenantPfs = d31.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(tenantPfs.size >= 2 && tenantPfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning both index scans:\n${d31.take(2500)}")
    // d49: the DIFF-SYNCED tenant index serves through the same
    // planning-time pruning — the appended generation's fresh bucket
    // files must not cost the other tenant's directories a listing
    val d49 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.diffSyncedGate(spark, dir, graft.operators.IndexFamily.NearDup,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val d49Pfs = d49.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(d49Pfs.size >= 2 && d49Pfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning the diff-synced index scans:\n${d49.take(2500)}")
    // s18: the filtered-search predicate must prune the label-partitioned
    // vector store at planning time
    val s18 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Similarity.filteredTopKPartitioned(spark, dir)
          .orderBy("probe_id", "rn").explain("formatted")
      }
      out.toString
    }
    val labelPf = s18.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("label")).toSeq
    assert(labelPf.nonEmpty && labelPf.exists(_.contains("= 2")),
      s"label predicate not in the partitioned store's PartitionFilters:\n${s18.take(2500)}")
  }

  test("round-13 ops: d11b wide banding, d29b/d30b sampled audits keep their scale shapes") {
    val dir = sf("sf0.001")
    // d11b: the radius-5 tier must ride the SAME census+salt band
    // machinery as d11 — 8-bit chunks as the block key (the "& 255"
    // mask), the crc32 salt path, and nothing quadratic
    val d11b = executedPlan(graft.operators.Dedup.simhashPairsWide(spark, dir)
      .orderBy("id_a", "id_b"))
    assert(d11b.contains("& 255"),
      s"d11b lost its 8-bit band chunks:\n${d11b.take(1500)}")
    // the salt path is adaptive since round 21 (plain join when the hot
    // census is empty — sf0.001 has no hot block), so the crc32 assertion
    // reads a forced-hot build
    val d11bHot = executedPlan(graft.operators.Dedup
      .simhashPairsWide(spark, dir, hotBlockRows = 1)
      .orderBy("id_a", "id_b"))
    assert(d11bHot.contains("crc32"),
      s"d11b lost the hot-block salt path:\n${d11bHot.take(1500)}")
    assert(!d11b.contains("CartesianProduct") &&
      !d11b.contains("BroadcastNestedLoopJoin"), "d11b went quadratic")
    // d29b: the md5-slice predicate must restrict BOTH all-pairs sides
    // before the (deliberate, audit-priced) broadcast loop join — the
    // filter evaluates over the scan, so the quadratic term is
    // (n·f)², never n² sliced after the fact
    val d29b = executedPlan(
      graft.operators.Dedup.srpBucketRecallUnscoped(spark, dir, sampleBuckets = 64))
    assert(d29b.contains("md5(cast(cast(vec_id") &&d29b.contains("< 64"),
      s"d29b slice predicate missing from the plan:\n${d29b.take(2000)}")
    // d30b: the membership frame checkpoints AFTER the slice filter (the
    // audit scans it from several subtrees), so the executed plan starts
    // at the checkpoint and cannot show the predicate — the slice's
    // APPLICATION is pinned by the oracle's value identity (exact side =
    // DuckDB's in-slice recompute) and the row-count bound below; the
    // plan assertions pin what remains visible: nothing goes cartesian,
    // and the one nested-loop join is the one-row recall assembly
    val d30b = executedPlan(graft.operators.Dedup
      .semDedupBandRecallUnscoped(spark, dir, sampleBuckets = 64))
    assert(!d30b.contains("CartesianProduct"), "d30b went cartesian")
    assert(d30b.split("BroadcastNestedLoopJoin").length <= 2,
      "d30b has a nested-loop join beyond the one-row recall assembly")
    // d33: the tenant-partitioned simhash index prunes to the tenant's
    // directories at planning time (the d31 contract on the second
    // family) — the tenant predicate lands in the scan's PartitionFilters
    val d33 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.SimHash,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val shPfs = d33.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(shPfs.nonEmpty && shPfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning the simhash index scan:\n${d33.take(2500)}")
    // d34: the tenant-partitioned EMBEDDING index — BOTH persisted
    // halves (banded LSH rows and verification vectors) must prune to
    // the tenant's directories, so the delta join AND the cosine-verify
    // re-join each open only the tenant's files
    val d34 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.Emb,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val emPfs = d34.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(emPfs.size >= 2 && emPfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning both embedding index scans:\n${d34.take(2500)}")
    // d35: the tenant-partitioned CONTAINMENT index — all THREE
    // persisted halves (fingerprints, the per-digest df aggregate, span
    // sets) must prune to the tenant's directories
    val d35 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.servedGate(spark, dir, graft.operators.IndexFamily.Contain,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val cnPfs = d35.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(cnPfs.size >= 3 && cnPfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning all three containment index scans:\n${d35.take(2500)}")
    // s20: the TWO-LEVEL (tenant, label) vector store — BOTH partition
    // levels must land in the scan's PartitionFilters, so a tenant's
    // filtered search opens exactly one tenant=X/label=Y subtree
    val s20 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Similarity.filteredTopKTenant(spark, dir)
          .orderBy("probe_id", "rn").explain("formatted")
      }
      out.toString
    }
    val annPfs = s20.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(annPfs.nonEmpty &&
      annPfs.forall(l => l.contains("= 0") && l.contains("label")),
      s"tenant+label predicates not pruning the two-level store scan:\n${s20.take(2500)}")
    // d53/d54: the SHARED synced estate's serving gates keep
    // planning-time tenant pruning — the sync's appended generations
    // (fresh bucket files, rewritten partitions) must not cost the other
    // tenant a directory listing on ANY of the containment family's
    // three scans or the s20 store's subtree
    val d53 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.diffSyncedGate(spark, dir, graft.operators.IndexFamily.Contain,
          graft.operators.IndexFamily.Tenant(0, 2))
          .orderBy("id_a", "id_b").explain("formatted")
      }
      out.toString
    }
    val d53Pfs = d53.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(d53Pfs.size >= 3 && d53Pfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning the synced containment scans:\n${d53.take(2500)}")
    val d54 = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) {
        graft.operators.Dedup.tenantSyncedAnnSearch(spark, dir)
          .orderBy("probe_id", "rn").explain("formatted")
      }
      out.toString
    }
    val d54Pfs = d54.linesIterator
      .filter(_.contains("PartitionFilters")).filter(_.contains("tenant"))
      .toSeq
    assert(d54Pfs.nonEmpty && d54Pfs.forall(_.contains("= 0")),
      s"tenant predicate not pruning the synced s20 store scan:\n${d54.take(2500)}")
  }

  test("round-18 ops: tenant censuses and routing keep their scale shapes") {
    // the census/routing chains pair rows ONLY through equi joins on
    // their blocking keys (band/chunk, digest, tenant, bucket) — a
    // cartesian or nested-loop here is the O(n²) regression this guard
    // exists for. (d59/d63's EXACT sides are the documented broadcast
    // audit-price exception and are deliberately not listed.)
    val dir = sf("sf0.001")
    // d58/d60 use the UNscoped variants: the public gates return
    // LocalRelations (Scratch.scoped), which would satisfy the negative
    // assertions below trivially
    val plans = Seq(
      "d58" -> graft.operators.Dedup.tenantSimhashCensusUnscoped(spark, dir),
      "d60" -> graft.operators.Dedup.tenantWinnowCensusUnscoped(spark, dir),
      "s21" -> graft.operators.Similarity.tenantAnnRecallCensusUnscoped(spark, dir),
      "s22" -> graft.operators.Similarity.tenantAnnRouting(spark, dir))
    for ((name, df) <- plans) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name plan has a CartesianProduct")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan has a nested-loop join")
    }
  }
}
