package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the events `ts` ENCODING CONTRACT (round-8 regression class): the
  * harness has shipped events.parquet as TIMESTAMP(NANOS) (arrives
  * LongType under nanosAsLong), TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (arrives TIMESTAMP_NTZ), and plain TIMESTAMP (LTZ). The engine must
  * read all three identically — batch AND stream — and the four
  * time-series queries built on events must return byte-identical results
  * over every encoding. Round 8 shipped with exactly one of these handled;
  * the other two failed analysis or silently compressed time 1000×.
  */
class EventsEncodingSpec extends SparkSuite {

  // deterministic fixture with the adversarial shapes the w-ops must
  // handle: same-timestamp ties (asof tiebreak), a user with clicks but
  // ZERO views (empty asof/range right side), session gaps, dense bursts
  private lazy val fixtureUs: Seq[(Long, Long, Long, String, Double, String)] = {
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    val types = Array("click", "view", "error")
    val rows = (1L to 240L).map { id =>
      val user = id % 6 // user 0..5
      // user 5 emits ONLY clicks → empty right side for asof/range
      val et = if (user == 5L) "click" else types(((id * 7) % 3).toInt)
      // clustered minutes with repeats → session gaps and bursts
      val us = base + ((id * 37) % 50) * 60L * 1000000L + (id % 4) * 1000000L
      (id, us, user, et, (id % 13).toDouble / 4.0, s"""{"k":${id % 60}}""")
    }
    // planted exact-tie pairs: a view AND a click at the same micro for
    // the same user (asof <= boundary), plus two views tied with each
    // other (right-side dedup tiebreak: highest event_id wins)
    val ties = Seq(
      (1001L, base + 777000000L, 2L, "view", 1.5, """{"k":1}"""),
      (1002L, base + 777000000L, 2L, "click", 2.5, """{"k":2}"""),
      (1003L, base + 888000000L, 3L, "view", 3.5, """{"k":3}"""),
      (1004L, base + 888000000L, 3L, "view", 4.5, """{"k":4}"""))
    rows ++ ties
  }

  /** Write the fixture as a SINGLE file `<dir>/events.parquet` (the
    * harness layout) under one of the three historical `ts` encodings.
    */
  private def writeEncoded(encoding: String): String = {
    val root = Files.createTempDirectory(s"events_enc_$encoding").toString
    val df0 = spark.createDataFrame(spark.sparkContext.parallelize(fixtureUs.map {
      case (id, us, u, et, v, p) => Row(id, us, u, et, v, p)
    }, 2), StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))))
    val encoded = encoding match {
      // how TIMESTAMP(NANOS) ARRIVES under nanosAsLong: a raw int64 of
      // nanos (Spark cannot write NANOS itself, so write the arrived shape)
      case "nanos-long" => df0.withColumn("ts", col("ts") * 1000L)
      case "micros-ntz" => df0.withColumn("ts",
        timestamp_micros(col("ts")).cast(TimestampNTZType))
      case "micros-ltz" => df0.withColumn("ts", timestamp_micros(col("ts")))
    }
    val tmpOut = s"$root/out"
    encoded.coalesce(1).write.parquet(tmpOut)
    val part = Files.list(Paths.get(tmpOut)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(s"$root/events.parquet"))
    root
  }

  private lazy val dirs: Map[String, String] =
    Seq("nanos-long", "micros-ntz", "micros-ltz").map(e => e -> writeEncoded(e)).toMap

  private def collectSorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted.map(col)
    df.select(cols: _*).collect().toSeq.sortBy(_.toString)
  }

  test("Tables.read: the footer schema equals Spark's inferred schema (ten sf0.01 tables, three ts encodings, a written directory)") {
    val written = Files.createTempDirectory("footer_schema").toString + "/t.parquet"
    spark.range(5).withColumn("s", col("id").cast("string")).repartition(2)
      .write.parquet(written)
    val paths = Tables.all.map(t => s"${sf("sf0.01")}/$t.parquet") ++
      dirs.values.map(d => s"$d/events.parquet") :+ written
    for (p <- paths) {
      val inferred = spark.read.parquet(p).schema
      assert(Tables.footerSchema(spark, p).contains(inferred),
        s"$p: footer schema ${Tables.footerSchema(spark, p)} != inferred $inferred")
    }
    // a summary file is what Spark's rule reads first: leave it to Spark
    val part = new java.io.File(written).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(written, "_common_metadata"))
    assert(Tables.footerSchema(spark, written).isEmpty,
      "a directory with a _common_metadata summary got a footer schema")
  }

  test("batch Tables.events: identical micro-exact timestamps over all three encodings") {
    val expected = fixtureUs.map(r => (r._1, r._2)).sortBy(_._1)
    for ((enc, dir) <- dirs) {
      val got = Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(got == expected, s"encoding $enc: batch ts mismatch")
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType,
        s"encoding $enc: ts must normalize to TimestampType")
    }
  }

  test("stream eventSource: identical micro-exact timestamps over all three encodings") {
    val expected = fixtureUs.map(r => (r._1, r._2)).sortBy(_._1)
    for ((enc, dir) <- dirs) {
      val name = s"enc_stream_${enc.replace("-", "_")}"
      val q = graft.streaming.EventsStream.eventSource(spark, dir)
        .select(col("event_id"), col("ts"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(got == expected, s"encoding $enc: streamed ts mismatch")
    }
  }

  test("w4/w5/w7/w10 return identical results over all three encodings") {
    import graft.operators.Library
    val queries: Seq[(String, String => DataFrame)] = Seq(
      ("w4_asof", d => Library.clickAsofView(spark, d)),
      ("w5_range", d => Library.rangeJoinCounts(spark, d)),
      ("w7_sessionize", d => Library.sessionize(spark, d)),
      ("w10_burst", d => Library.burstDetection(spark, d)))
    for ((qn, f) <- queries) {
      val results = dirs.map { case (enc, dir) => enc -> collectSorted(f(dir)) }
      val (refEnc, ref) = results.head
      assert(ref.nonEmpty, s"$qn: empty result")
      for ((enc, rows) <- results.tail)
        assert(rows == ref, s"$qn: $enc differs from $refEnc")
    }
  }

  test("asof planted edges: tie joins at <=, viewless user keeps NULL view") {
    import graft.operators.Library
    val asof = Library.clickAsofView(spark, dirs("micros-ntz"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val base = 1704067200000000L
    // click 1002 ties view 1001 at the same micro → matches (<= bound)
    assert(asof(1002L) == Some(base + 777000000L))
    // user 5 has no views at all → every click carries NULL view_us
    val viewless = fixtureUs.filter(r => r._3 == 5L).map(_._1).toSet
    assert(viewless.nonEmpty)
    viewless.foreach(id => assert(asof(id).isEmpty, s"click $id of viewless user"))
  }
}
