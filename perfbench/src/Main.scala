package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What one run hands back to `run.py`: end-to-end metrics (each with its
  * sample count), per-layer metrics, output checks and run context. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0
  var failed = 0

  def metric(name: String, v: Double, unit: String, n: Int): Unit =
    metrics(name) = (v, unit, n)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    ok
  }

  def write(path: Path): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("correct", checks.forall(_._2))
    val ms = root.putObject("metrics")
    metrics.foreach { case (k, (v, u, n)) =>
      ms.putObject(k).put("value", v).put("unit", u).put("n", n) }
    val ls = root.putObject("layers")
    layers.foreach { case (k, (v, u)) => ls.putObject(k).put("value", v).put("unit", u) }
    val cs = root.putArray("checks")
    checks.foreach { case (k, ok, d) =>
      cs.addObject().put("name", k).put("ok", ok).put("detail", d) }
    val ctx = root.putObject("context")
    context.foreach {
      case (k, v: Double) => ctx.put(k, v)
      case (k, v: Int) => ctx.put(k, v)
      case (k, v: Long) => ctx.put(k, v)
      case (k, v) => ctx.put(k, String.valueOf(v))
    }
    Files.write(path, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val args: Map[String, String],
    val tracer: Tracer, val recorder: Option[Recorder], val result: Result) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val cpus: Int = spark.sparkContext.defaultParallelism
  val work: Path = Paths.get(args("work")).toAbsolutePath
  val bench: Path = Paths.get(args("bench")).toAbsolutePath
  val dataDir: String = bench.resolve("data/sf0.1").toString

  /** Heap used right after a full collection, once set-up is done. */
  def heapAfterSetup(): Unit = {
    System.gc()
    result.metric("heap_after_setup_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB", 1)
  }

  /** Per-operation latencies, kept in the run context. */
  val opLog = mutable.ArrayBuffer.empty[String]

  /** Set-up time: `onceS` seconds of work a JVM can do only once (such as
    * loading the query registry), plus the median of `reps` runs of
    * `body`. The last run's value is kept for the run. */
  def setup[T](reps: Int, onceS: Double = 0.0)(body: => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      last = Some(body)
      times += (System.nanoTime() - t0) / 1e9
    }
    result.metric("setup_s", onceS + Stats.median(times.toSeq), "s", reps)
    result.context("setup_s_all") = times.map(t => f"$t%.4f").mkString(",")
    last.get
  }

  /** Peak executor storage (cached and checkpointed blocks) seen after
    * any operation. */
  var cachedPeakMb = 0.0
  def storageCheckpoint(): Unit = if (tracer.enabled) {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cachedPeakMb = math.max(cachedPeakMb, b / 1048576.0)
  }

  /** Codegen counters (global to the JVM): compiles and compile ms. The
    * histogram's reservoir holds every sample up to 1028 compiles, so the
    * sum is exact until then and an estimate (mean x count) beyond. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val ms = if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, ms)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Main {
  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def session(cpus: Int, work: Path, trace: Boolean): SparkSession = {
    // graft.Bench's session settings; scratch and warehouse stay in the
    // run's working directory
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (trace)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** graft.Bench's three calibration probes, recorded as run context. */
  def calibrate(spark: SparkSession, cpus: Int, work: Path): Seq[(String, Double)] = {
    val single = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0
      while (i < 200000000) { x += (i.toLong * i) ^ (x >>> 31); i += 1 }
      if (x == 42) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    val par = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, cpus)
        .selectExpr("id", "id % 64 as k")
        .repartition(2 * cpus, org.apache.spark.sql.functions.col("k"))
        .sortWithinPartitions("id")
        .selectExpr("sum(id) as s").collect()
      (System.nanoTime() - t0) / 1e6
    }
    val io = {
      val f = Files.createTempFile(work, "calib_io", ".bin")
      try {
        val t0 = System.nanoTime()
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.WRITE)
        (0 until 64).foreach { _ => buf.clear(); ch.write(buf) }
        ch.force(true); ch.close()
        val in = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.READ)
        while ({ buf.clear(); in.read(buf) > 0 }) ()
        in.close()
        (System.nanoTime() - t0) / 1e6
      } finally Files.deleteIfExists(f)
    }
    Seq("calib_ms" -> single, "calib_par_ms" -> par, "calib_io_ms" -> io)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(args("work")).toAbsolutePath
    val trace = args.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = session(cpus, work, trace)
    val result = new Result
    val recorder = if (trace) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      Recorder.current = Some(r)
      Some(r)
    } else None
    val ctx = new Ctx(spark, args, new Tracer(trace), recorder, result)
    try {
      // graft.Bench's warm-up: scheduler, codegen and shuffle machinery
      spark.range(1000000L).selectExpr("sum(id)").collect()
      result.context("session_s") = (System.nanoTime() - t0) / 1e9
      result.context("nproc") = cpus
      result.context("heap_max_mb") =
        Runtime.getRuntime.maxMemory / 1048576
      Seq("git_sha", "workload", "seed", "seconds").foreach(k =>
        result.context(k) = args.getOrElse(k, ""))
      result.context("trace") = if (trace) 1 else 0
      calibrate(spark, cpus, work).foreach { case (k, v) => result.context(k) = v }
      args("workload") match {
        case "elt_priority" => Elt.run(ctx)
        case w @ ("query_short" | "query_long") => Queries.run(ctx, w)
        case "record" => Queries.record(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result.check("run_completed", ok = false, String.valueOf(e))
    } finally {
      result.context("run_s") = (System.nanoTime() - t0) / 1e9
      result.context("op_ms") = ctx.opLog.mkString(",")
      result.write(Paths.get(args("out")))
      spark.stop()
    }
  }
}
