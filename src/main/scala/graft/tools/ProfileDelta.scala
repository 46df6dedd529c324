package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the d13/d16 delta path (not part of the
  * driver contract; removed or ignored by Verify/Bench).
  */
object ProfileDelta {
  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $name%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    time("warm inputs")(graft.operators.Dedup.warmInputProjections(spark, dir))
    time("gate cold (index build+save+load)")(
      graft.operators.Dedup.servedGate(spark, dir,
          graft.operators.IndexFamily.NearDup).count())
    for (i <- 1 to 3)
      time(s"gate steady $i")(
        graft.operators.Dedup.servedGate(spark, dir,
          graft.operators.IndexFamily.NearDup).count())

    // stage splits on the steady path
    val name = f"neardup_gate_200_${dir.hashCode & 0xffffffffL}%x"
    val banded = spark.table(s"${name}_banded")
    val shingles = spark.table(s"${name}_shingles")
    for (i <- 1 to 2) {
      time(s"index banded scan $i")(banded.count())
      time(s"index shingles scan $i")(shingles.count())
      time(s"index shingles distinct-size $i")(
        shingles.select(sum(size(array_distinct(col("sh"))))).first())
    }
    for (i <- 1 to 2)
      time(s"minhash signatures full corpus $i")(
        graft.operators.Dedup.minhashSignatures(spark, dir).count())
    for (i <- 1 to 2)
      time(s"d16 deltaClusters $i")(
        graft.operators.Dedup.deltaClusters(spark, dir).count())

    // d14 vs d14b shuffle volume: rows entering the document-frequency
    // aggregation (the only corpus-sized shuffle of the span-scrub path).
    // d14 ships one row per w-token window (sum of n_spans); d14b ships
    // only the winnowed argmin positions (sum of n_fp) — expected ratio
    // ~(winnow+1)/2.
    val wn = graft.operators.Dedup.spanScrubWinnowed(spark, dir)
      .agg(sum(col("n_spans")).as("d14_rows"), sum(col("n_fp")).as("d14b_rows"))
      .first()
    println(f"[profile] d14 df-shuffle rows   ${wn.getLong(0)}%d")
    println(f"[profile] d14b df-shuffle rows  ${wn.getLong(1)}%d " +
      f"(ratio ${wn.getLong(0).toDouble / wn.getLong(1)}%.2f x)")
    spark.stop()
  }
}
