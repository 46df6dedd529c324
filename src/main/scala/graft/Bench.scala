package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: ONE machine-parseable JSON line.
  *
  * The driver keeps only the TAIL of the process output (~2000 chars), so
  * the summary line must be short AND last: every per-query time for all
  * ~70 queries blows past the window once sbt's trailer is appended.
  * Therefore: all queries are timed, the FULL per-query map is written to
  * `target/bench_full.json`, and the printed line carries the total plus a
  * fixed headline subset, values rounded to milliseconds.
  */
object Bench {

  /** Representative subset printed in the summary line: the historically
    * slowest queries plus one per operator family. Everything else is still
    * timed and lands in the detail file.
    */
  private val headline = Seq(
    "a1_count_total", "a6_playlist_stats", "a10_quality", "j1_bridge_join_agg",
    "w1_adjacent_dups", "w2_top_n_per_group", "o4_shrink_topk",
    "d1_dedup_exact", "d3_minhash_lsh_pairs", "d4_ngram_jaccard_pairs",
    "d6_embedding_neardup", "d8_embedding_neardup_lsh", "d9_neardup_clusters",
    "d10_contamination", "d11_simhash_pairs", "d12_boilerplate",
    "d13_delta_neardup", "d14_span_scrub", "d15_delta_simhash",
    "d21_semdedup", "w7_sessionize", "w7b_sessionize_chunked",
    "s1_ann_bruteforce", "s2_ann_lsh", "s4_ann_ivf", "s6_ann_kmeans",
    "s7b_ann_quantized_indexed", "s9_ann_delta_search", "s11b_ann_pq_indexed",
    "t2_language_id", "t5_fingerprints", "t13_distinctive_terms",
    "t15_heavy_hitters", "m2_media_stats",
    "d10b_contamination_bloom", "g1_pagerank", "w11_retention",
    "a2c_sketch_rollup", "j8c_edit_distance_join", "i6_incremental_agg",
    "d22_index_remove", "s13_ann_remove", "d23_canonical_remove",
    "d21c_semdedup_banded", "w6b_running_sum_chunked", "w4b_asof_chunked",
    "d24_dedup_recall", "d25_simhash_remove", "d27_containment_remove",
    "td1_takedown_unified", "d31_tenant_index", "d11b_simhash_radius5",
    "d32_reband_trigger", "d29b_srp_recall_sampled",
    "td2_takedown_tenant", "d35_tenant_containment", "t25_mixture_sample",
    "t26b_upsampled_pack", "s20_ann_tenant_store",
    "d49_tenant_diff_synced", "d50_tenant_estate_census",
    "d43_minhash_reband_trigger", "m7b_image_reband_trigger")

  // Locale.ROOT: the f-interpolator uses the default locale, and a
  // comma-decimal locale would corrupt the JSON contract line
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucket sort order is only reported behind this flag (safe: Spark
      // self-checks one-file-per-bucket, which saveNearDupIndex guarantees)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a failed warmup step is RECORDED, never swallowed: its one-time
    // build would otherwise move silently into the first timed query, so
    // the artifact lists it in `warmup_failed` (and stderr names the cause)
    val warmupFailed = scala.collection.mutable.ArrayBuffer[String]()
    def warm(step: String)(body: => Any): Unit =
      try body
      catch { case NonFatal(e) =>
        warmupFailed += step
        System.err.println(s"[bench] warmup $step failed: $e")
      }
    // steady-state measurement: pay JVM/classloader/parquet-footer warmup
    // once before the timing loop instead of inside the first query
    graft.Tables.all.foreach(t =>
      warm(s"table:$t")(graft.Tables.read(spark, sfDir, t).count()))
    // view registration is one-time session state (same class as the table
    // warmup above): pay the 10 schema resolutions here, not inside the
    // first ad-hoc SQL query's measurement
    warm("views")(graft.Tables.registerViews(spark, sfDir))
    // the two session-cached INPUT projections (shingle table, prepared
    // vectors) are the "loaded index" a serving system builds once — warm
    // them like the table reads above. Query RESULTS (LSH pair table, IVF
    // centroids) are deliberately NOT warmed: their first computation is
    // part of the measured work.
    warm("input_projections")(
      graft.operators.Dedup.warmInputProjections(spark, sfDir))
    // the persisted serving indexes (d13/d15/d17 gate indexes, d16 base
    // labels, d19b base canonical) are one-time ingest-side state a
    // serving deployment loads at startup — build + load them here so the
    // timing loop measures the per-shard delta work, not index
    // construction. d18's lifecycle indexes and all query-result caches
    // stay cold: their first computation IS the measured work.
    warm("dedup_serving_indexes")(
      graft.operators.Dedup.warmServingIndexes(spark, sfDir))
    // the ANN serving + incremental indexes are the same class of one-time
    // ingest-side state: build + load them outside the timing loop so the
    // s2b/s6b/s7b/s9/s10 measurements are the SEARCH, not the build
    warm("ann_serving_indexes")(
      graft.operators.Similarity.warmServingIndexes(spark, sfDir))
    // (name -> (seconds, ok)): a crashing query must not masquerade as a
    // fast one, so failures carry an explicit flag in the detail file and
    // an n_failed count in the summary line.
    // SPARK_GRAFT_ONLY=q1,q2 restricts the timed set — local iteration aid;
    // the driver never sets it, so gate runs always time every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    // stall attribution (round-15 verdict asks #1/#7): cumulative JVM GC
    // pause time sampled around every query, and a warehouse table census
    // per pass. BENCH_r15 showed 3-9 s spikes landing on ~15 UNRELATED
    // queries in different steady passes (d31's median caught two) — with
    // per-query GC deltas in the artifact, a spike that is a GC pause
    // self-identifies instead of costing a regression audit next round.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def warehouseTableCount(): Int =
      try spark.sharedState.externalCatalog.listTables("default").size
      catch { case NonFatal(_) => -1 }
    // session-state gauge (round-18 verdict ask #1: the engine that
    // monitors everything must monitor itself): cached-RDD block state
    // (count + resident bytes across memory and disk — localCheckpoints
    // and persisted projections both land here) and JVM heap-in-use,
    // sampled before every pass and once at the end. A steady-state
    // drift now reads off the artifact — rising rdd_mb with flat query
    // medians means scratch blocks are accumulating (the Scratch.scoped
    // discipline's regression tripwire); rising heap with flat rdd_mb
    // points off-cache (plan/codegen/broadcast state).
    def rddStorage(): (Int, Double) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.length,
        infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0))
    }
    def heapUsedGb(): Double = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0 * 1024.0)
    }
    val gcPerPass = scala.collection.mutable.ArrayBuffer[Double]()
    val tablesPerPass = scala.collection.mutable.ArrayBuffer[Int]()
    val rddsPerPass = scala.collection.mutable.ArrayBuffer[Int]()
    val rddMbPerPass = scala.collection.mutable.ArrayBuffer[Double]()
    val heapGbPerPass = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleState(): Unit = {
      tablesPerPass += warehouseTableCount()
      val (n, mb) = rddStorage()
      rddsPerPass += n
      rddMbPerPass += mb
      heapGbPerPass += heapUsedGb()
    }
    // per query: (wall seconds, ok, GC pause seconds inside the query)
    def timedPass(): Map[String, (Double, Boolean, Double)] = {
      val gc0 = gcMillis()
      sampleState()
      val out = selected.map { case (name, fn) =>
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case NonFatal(_) => false }
        name -> (((System.nanoTime() - t0) / 1e9), ok, (gcMillis() - g0) / 1e3)
      }
      gcPerPass += (gcMillis() - gc0) / 1e3
      out
    }
    // pass 1 (cold): first computation of every query result, comparable to
    // previous rounds' `value`. passes 2-4 (steady): same queries
    // re-executed in the warm session — plan/codegen caches hot,
    // session-cached input projections resident — the serving steady
    // state. Steady times report the PER-QUERY MEDIAN of the three passes:
    // driver-side runs land on loaded machines (BENCH_r05's 102 s vs 56 s
    // local; r06's 2.17 s s4 vs 0.56 s local), and a median shrugs off a
    // load spike that lands inside any single pass. Both the median and
    // mean steady totals are printed so a skewed run is visible from the
    // summary line alone.
    // load marker per pass (round-12 verdict ask #7): the 1-minute
    // loadavg sampled immediately before each pass, plus one final
    // sample — an inflated pass (another build stealing the cores mid-
    // bench) self-identifies in the artifact instead of costing a
    // spike-vs-regression audit next round. -1 where unreadable.
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
      catch { case NonFatal(_) => -1.0 }
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    loads += loadAvg()
    val results = timedPass()
    val steadyPasses = Seq.fill(3) { loads += loadAvg(); timedPass() }
    loads += loadAvg()
    sampleState()
    val loadJson = loads.map(fmt).mkString("[", ",", "]")
    val gcJson = gcPerPass.map(fmt).mkString("[", ",", "]")
    val tablesJson = tablesPerPass.mkString("[", ",", "]")
    val rddsJson = rddsPerPass.mkString("[", ",", "]")
    val rddMbJson = rddMbPerPass.map(v => fmt(math.round(v * 10) / 10.0))
      .mkString("[", ",", "]")
    val heapJson = heapGbPerPass.map(fmt).mkString("[", ",", "]")
    val heapMaxGb = Runtime.getRuntime.maxMemory() / (1 << 30)
    val nCpu = Runtime.getRuntime.availableProcessors()
    // what the session actually runs with, next to the host's core count
    val parallelism = s""""default_parallelism":${spark.sparkContext.defaultParallelism},"master":"${spark.sparkContext.master}""""
    val warmupJson = warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val steady: Map[String, (Double, Boolean)] = selected.keysIterator.map { k =>
      val vs = steadyPasses.map(_(k))
      k -> (vs.map(_._1).sorted.apply(1), vs.forall(_._2))
    }.toMap
    val total = results.values.map(_._1).sum
    val steadyTotal = steady.values.map(_._1).sum
    val steadyMean = steadyPasses.map(_.values.map(_._1).sum).sum / steadyPasses.size
    // ok is per PASS: a query that succeeds cold but throws warm is a
    // steady-state regression and must land in `failed`, not masquerade as
    // ok with its failure duration recorded as the steady time
    val failed = (results.collect { case (k, (_, false, _)) => k } ++
      steady.collect { case (k, (_, false)) => k }).toSeq.distinct.sorted
    val detail = results.map { case (k, (v, ok, gcv)) =>
      val (sv, sok) = steady.getOrElse(k, (v, ok))
      val passes = steadyPasses.map(p => fmt(p(k)._1)).mkString("[", ",", "]")
      val gcs = (gcv +: steadyPasses.map(_(k)._3)).map(fmt).mkString("[", ",", "]")
      s""""$k":{"sec":${fmt(v)},"steady":${fmt(sv)},"steady_passes":$passes,"gc_passes":$gcs,"ok":$ok,"steady_ok":$sok}"""
    }.mkString("{", ",", "}")
    val detailPath = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath,
      s"""{"metric":"total","value":${fmt(total)},"steady":${fmt(steadyTotal)},"steady_mean":${fmt(steadyMean)},"unit":"sec","loadavg_per_pass":$loadJson,"gc_sec_per_pass":$gcJson,"tables_per_pass":$tablesJson,"rdds_per_pass":$rddsJson,"rdd_mb_per_pass":$rddMbJson,"heap_used_gb_per_pass":$heapJson,"heap_max_gb":$heapMaxGb,"ncpu":$nCpu,$parallelism,"warmup_failed":$warmupJson,"queries":$detail,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
        .getBytes("UTF-8"))
    // the printed per-query numbers are the STEADY MEDIANS, not the cold
    // pass (round-11 verdict ask #6): a load spike landing inside any
    // single driver pass cannot reach a median-of-3, so driver-vs-local
    // comparisons stop costing a spike audit every round. The cold total
    // stays in "value" for round-over-round continuity; full cold+steady
    // per-query detail is in bench_full.json.
    val qs = headline.flatMap(k => steady.get(k).map { case (v, _) => s"\"$k\":${fmt(v)}" })
      .mkString("{", ",", "}")
    spark.stop()
    // LAST line, compact: fits entirely inside the driver's tail window;
    // "steady" is the median-of-3 total (robust), "steady_mean" the plain
    // mean of the three steady pass totals
    println(s"""{"metric":"total","value":${fmt(total)},"steady":${fmt(steadyTotal)},"steady_mean":${fmt(steadyMean)},"unit":"sec","queries_kind":"steady_median","loadavg_per_pass":$loadJson,"gc_sec_per_pass":$gcJson,"tables_per_pass":$tablesJson,"rdds_per_pass":$rddsJson,"rdd_mb_per_pass":$rddMbJson,"heap_used_gb_per_pass":$heapJson,"heap_max_gb":$heapMaxGb,"ncpu":$nCpu,$parallelism,"queries":$qs,"n_queries":${results.size},"n_failed":${failed.size},"n_warmup_failed":${warmupFailed.size},"detail":"target/bench_full.json","sf":"$sfDir"}""")
  }
}
