package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Times the benchmark's operations from outside the library.
  *
  * Usage (see perfbench/run.py, which generates the inputs, builds this
  * program and checks its outputs):
  *   perfbench.Main WORKLOAD IN_DIR OUT_DIR SECONDS TRACE(0|1) CORES
  *
  * A run sets up (the session, and the workload's tables and views), then
  * runs the workload's operation list once per pass: pass 0 is the cold
  * pass, later passes are steady passes, repeated until SECONDS have passed
  * and at least MinSteadyPasses steady passes ran (MinTracedPasses of each
  * kind in a traced run). Every operation materializes its full result (all
  * rows, all columns); result digests are computed outside the timed span
  * and must repeat on every pass. Everything measured is written to
  * OUT_DIR/run.json.
  */
object Main {
  val MinSteadyPasses = 1
  /** A traced run needs this many steady passes of each kind: T U U T. */
  val MinTracedPasses = 2
  /** Stop adding passes after this long, whatever the pass count. */
  val MaxMeasureSeconds = 100.0

  final case class Sample(pass: Int, op: String, layer: String, ms: Double,
      buildMs: Double, ok: Boolean, error: String, newRdds: Int)

  final case class PassRecord(pass: Int, wallS: Double, traced: Boolean,
      counters: Map[String, Double])

  def session(out: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-insensitive digest of a materialized result (rows, or the bytes
    * of a written file); doubles are rounded to 6 significant digits, as the
    * oracle comparison does. */
  def digest(v: Any): String = {
    def norm(x: Any): String = x match {
      case null => "null"
      case d: Double => String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))
      case f: Float => String.format(java.util.Locale.ROOT, "%.6g", Double.box(f.toDouble))
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => norm(kv._1) + "->" + norm(kv._2))
        .sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case o => o.toString
    }
    val text = v match {
      case rows: Array[Row] => rows.map(norm).sorted.mkString("\n")
      case file: java.nio.file.Path => Files.readString(file)
      case o => norm(o)
    }
    MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val Array(name, in, out, secondsArg, traceArg, coresArg) = argv
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(out).mkdirs()
    HeapAfterGc.install()

    val spark = session(out, cores)
    val tracer = new Tracer(spark)
    if (trace) tracer.register()
    val wl = Workload(name, spark, in, out)
    val tablesMs = wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val mapper = Workload.mapper

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val firstDigest = mutable.Map.empty[String, String]
    var opSeq = 0

    def runPass(p: Int, traced: Boolean): Unit = {
      tracer.on = traced
      val before = if (traced) tracer.counters() else Map.empty[String, Double]
      val bytesRead0 = tracer.fsBytesRead()
      val written0 = tracer.fsBytesWritten()
      val batches0 = tracer.batchMs.synchronized(tracer.batchMs.size)
      val t0 = System.nanoTime()
      wl.ops(p).foreach { op =>
        opSeq += 1
        tracer.opId = opSeq
        val cached0 = if (traced) tracer.cacheState()._1 else Set.empty[Int]
        val call = new Call(tracer, op.layer)
        val s0 = System.nanoTime()
        val res: Either[Throwable, Any] =
          try Right(tracer.span(op.name, op.layer)(op.run(call)))
          catch { case e: Throwable => Left(e) }
        val s1 = System.nanoTime()
        val buildMs = if (call.builtNs == 0L) 0.0 else (call.builtNs - s0) / 1e6
        val (ok, err) = res match {
          case Left(e) =>
            System.err.println(s"[perfbench] $name pass $p op ${op.name} threw: $e")
            (false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
          case Right(v) =>
            val d = tracer.span("bench.digest", "bench")(digest(v))
            if (p == 0) {
              firstDigest(op.name) = d
              wl.keep(op.name, v)
              (true, "")
            } else if (!firstDigest.get(op.name).contains(d))
              (false, s"digest differs from pass 0")
            else (true, "")
        }
        val newRdds =
          if (traced) (tracer.cacheState()._1 -- cached0).size else 0
        samples += Sample(p, op.name, op.layer, (s1 - s0) / 1e6, buildMs, ok, err, newRdds)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val counters = if (traced) {
        val after = tracer.counters()
        val (rdds, cacheBytes) = tracer.cacheState()
        val batchMs = tracer.batchMs.synchronized(tracer.batchMs.drop(batches0).toSeq).sorted
        after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
          Map("fs.bytes_read" -> (tracer.fsBytesRead() - bytesRead0).toDouble,
            "fs.bytes_written" -> (tracer.fsBytesWritten() - written0).toDouble,
            "streaming.batch_ms_p50" ->
              (if (batchMs.isEmpty) 0.0 else (batchMs((batchMs.size - 1) / 2) + batchMs(batchMs.size / 2)) / 2),
            "cache.rdds" -> rdds.size.toDouble,
            "cache.bytes" -> cacheBytes.toDouble,
            "warehouse.tables" -> spark.catalog.listTables().count().toDouble) ++
          wl.passCounters(p)
      } else Map.empty[String, Double]
      tracer.on = false
      passes += PassRecord(p, wallS, traced, counters)
      wl.afterPass(p)
    }

    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    runPass(0, trace)
    var p = 1
    // traced runs interleave traced and untraced steady passes in ABBA
    // order (T U U T ...), so the tracing overhead is measured in the same
    // process without steady passes' warm-up drift favouring either kind
    def need: Boolean = {
      val steady = passes.drop(1)
      val short = if (trace) steady.count(_.traced) < MinTracedPasses ||
          steady.count(!_.traced) < MinTracedPasses
        else steady.size < MinSteadyPasses
      short || elapsed < secondsArg.toDouble
    }
    while (need && elapsed < MaxMeasureSeconds) {
      runPass(p, trace && p % 4 <= 1)
      p += 1
    }
    val measureS = elapsed
    val rssMb = vmHwmMb()
    wl.verify()
    val sc = spark.sparkContext
    Files.writeString(Paths.get(out, "run.json"), mapper.writeValueAsString(Map(
      "workload" -> name,
      "setup_s" -> setupS,
      "tables_read_ms" -> tablesMs,
      "measure_s" -> measureS,
      "rss_peak_mb" -> rssMb,
      "heap_after_gc_peak_mb" -> HeapAfterGc.peakMb,
      "config" -> Map(
        "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_available_processors" -> Runtime.getRuntime.availableProcessors,
        "spark_version" -> spark.version),
      "passes" -> passes.map(r => Map("pass" -> r.pass, "wall_s" -> r.wallS,
        "traced" -> r.traced, "counters" -> r.counters)),
      "samples" -> samples.map(s => Map("pass" -> s.pass, "op" -> s.op, "layer" -> s.layer,
        "ms" -> s.ms, "build_ms" -> s.buildMs, "ok" -> s.ok, "error" -> s.error,
        "new_rdds" -> s.newRdds)))))
    if (trace)
      Files.write(Paths.get(out, "spans.jsonl"), tracer.spans.map(s =>
        mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op_id" -> s.opId,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs))).mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** One timed call into the library. */
final case class Op(name: String, layer: String, run: Call => Any)

/** Per-call context: `phase` records a child span in traced passes, and
  * `builtNs` marks where the build phase (the call that returns a plan,
  * including any eager cache fills it does) ends and materialization
  * starts. */
final class Call(tracer: Tracer, layer: String) {
  var builtNs = 0L
  def phase[T](name: String)(body: => T): T = tracer.span(name, layer)(body)
}

object Op {
  /** A call that returns a DataFrame, materialized in full by collect(). */
  def frame(name: String, layer: String)(df: => DataFrame): Op =
    Op(name, layer, c => {
      val d = c.phase("build")(df)
      c.builtNs = System.nanoTime()
      c.phase("exec")(d.collect())
    })

  /** A call with side effects (file exports); its return value is the
    * checked output. */
  def action(name: String, layer: String)(body: => Any): Op =
    Op(name, layer, c => c.phase("exec")(body))
}
