package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** query_short / query_long: a seeded, stratified sample of the frozen
  * pool, one query at a time, each query once per run, in a fixed number
  * of rounds that takes about `--seconds` on a 4-core host. query_short's
  * rounds also take one of its pool's queries that run a Structured
  * Streaming query, so micro-batches are measured. */
object Queries {
  val Bands = Map("query_short" -> 10, "query_long" -> 4)
  /** About how long a round takes on a 4-core host. The number of rounds
    * follows from `--seconds`, not from the clock, so faster code runs the
    * same queries rather than more of them. */
  val RoundSeconds = Map("query_short" -> 25.0, "query_long" -> 50.0)
  /** The `pools.json` entry listing a workload's streaming queries: the
    * pool's `stream_*` queries that start a streaming query (through
    * `StreamingRefresh` or `readStream`). query_long's bands hold enough
    * of them already. */
  val StreamingPool = Map("query_short" -> "query_short_streaming")
  val Tables = Seq("lineitem", "orders", "customer", "part", "supplier",
    "nation", "region", "documents", "embeddings")

  /** Cheap queries outside both pools, run once before the timed phase so
    * the sampled queries do not also pay the JIT's warm-up of the planner:
    * in a fresh JVM the first queries take two to three times their later
    * cost. */
  val WarmUp = Seq("pipeline_filter_funnel", "pipeline_epoch_shuffle",
    "pipeline_dataset_card", "pipeline_backfill_plan",
    "pipeline_shard_manifest", "pipeline_retention_policy")

  final case class Expect(rows: Long, hash: Option[String], ms: Double)

  final case class Outcome(rows: Long, hash: String, latMs: Double,
      opMs: Double, error: Option[String])

  private val mapper = new ObjectMapper()

  def pool(ctx: Ctx, name: String): Seq[String] =
    mapper.readTree(ctx.bench.resolve("pools.json").toFile).get(name)
      .properties().asScala.map(_.getKey).toSeq

  def expected(ctx: Ctx): Map[String, Expect] = {
    val root = mapper.readTree(ctx.bench.resolve("expected.json").toFile)
    root.get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expect(v.get("rows").asLong,
        Option(v.get("hash")).filterNot(_.isNull).map(_.asText), v.get("ms").asDouble)
    }.toMap
  }

  /** Band the pool by each query's recorded cold milliseconds; the
    * streaming queries, if any, form one more band. In each band the
    * `Core` queries nearest the band's median form the frame. A round
    * takes one unused frame query per band, drawn by the seed, cheapest
    * band first and the streaming band last: the fixed order gives every
    * run the same JIT warm-up path, and the narrow frame the same mix of
    * costs. */
  val Core = 3

  def rounds(pool: Seq[String], streaming: Seq[String], ms: String => Double,
      bands: Int, seed: Long): IndexedSeq[Seq[String]] = {
    val rnd = new Random(seed)
    def byMs(qs: Seq[String]) = qs.sortBy(q => (ms(q), q)).toIndexedSeq
    val sorted = byMs(pool)
    val size = sorted.length / bands
    val banded = (0 until bands).map(b =>
      sorted.slice(b * size, if (b == bands - 1) sorted.length else (b + 1) * size))
    val groups = if (streaming.isEmpty) banded else banded :+ byMs(streaming)
    val frame = groups.map { band =>
      val mid = ms(band(band.length / 2))
      rnd.shuffle(band.sortBy(q => (math.abs(ms(q) - mid), q)).take(Core))
    }
    require(frame.flatten.distinct.size == frame.flatten.size,
      "a streaming query is also in a band's frame")
    (0 until Core).map(r => frame.map(_(r)))
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count plus an order-insensitive hash of the full result: the sum
    * of per-row xxhash64 values. Computing it materialises every column of
    * every row in one job, without collecting the rows to the driver. */
  def hashFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f =>
      if (hasMap(f.dataType)) col(f.name).cast("string") else col(f.name))
    val h = if (cols.isEmpty) xxhash64(lit(0)) else xxhash64(cols.toIndexedSeq: _*)
    named.agg(count(lit(1)).as("n"), sum(h.cast(DecimalType(20, 0))).as("h"))
  }

  /** One operation: build, plan and materialise the query, then free its
    * checkpointed blocks. Latency stops before the free. */
  def runOne(ctx: Ctx, name: String, fn: (SparkSession, String) => DataFrame): Outcome = {
    val tr = ctx.tracer
    tr.op += 1
    val t0 = System.nanoTime()
    var df: DataFrame = null
    try {
      df = tr.span("query.build")(fn(ctx.spark, ctx.dataDir))
      val hf = hashFrame(df)
      tr.span("query.plan")(hf.queryExecution.executedPlan)
      val row = tr.span("query.exec")(hf.collect()(0))
      val lat = (System.nanoTime() - t0) / 1e6
      tr.span("query.free")(graft.H.freeLocalCheckpoint(df))
      Outcome(row.getLong(0), String.valueOf(row.get(1)), lat,
        (System.nanoTime() - t0) / 1e6, None)
    } catch {
      case e: Throwable =>
        if (df != null) Try(tr.span("query.free")(graft.H.freeLocalCheckpoint(df)))
        val ms = (System.nanoTime() - t0) / 1e6
        Outcome(-1, "", ms, ms, Some(String.valueOf(e.getMessage).take(300)))
    } finally ctx.storageCheckpoint()
  }

  def run(ctx: Ctx, workload: String): Unit = {
    val res = ctx.result
    // the query registry loads once per JVM, so it is timed once; the
    // schema reads of every table the pool uses repeat
    val r0 = System.nanoTime()
    val registry = graft.SparkEntry.queries
    val registryS = (System.nanoTime() - r0) / 1e9
    res.context("registry_s") = registryS
    ctx.setup(3, onceS = registryS) {
      Tables.foreach(t => graft.H.tbl(ctx.spark, ctx.dataDir, t).schema)
      graft.H.events(ctx.spark, ctx.dataDir).schema
    }
    val exp = expected(ctx)
    val plan = rounds(pool(ctx, workload),
      StreamingPool.get(workload).map(pool(ctx, _)).getOrElse(Nil),
      q => exp(q).ms, Bands(workload), ctx.seed)
    ctx.heapAfterSetup()
    val w0 = System.nanoTime()
    WarmUp.foreach { name =>
      val df = registry(name)(ctx.spark, ctx.dataDir)
      hashFrame(df).collect()
      graft.H.freeLocalCheckpoint(df)
    }
    res.context("warmup_s") = (System.nanoTime() - w0) / 1e9
    val cg0 = ctx.codegen()
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var opMsTotal = 0.0
    val start = System.nanoTime()
    // whole rounds only, so every run measures the same mix of costs
    val nRounds = math.min(plan.length,
      math.max(1, math.round(ctx.seconds / RoundSeconds(workload)).toInt))
    var r = 0
    while (r < nRounds) {
      plan(r).foreach { name =>
        val o = runOne(ctx, name, registry(name))
        res.attempted += 1
        opMsTotal += o.opMs
        val ok = o.error match {
          case Some(err) => res.check(s"query.$name.runs", ok = false, err)
          case None =>
            exp.get(name) match {
              case None => res.check(s"query.$name.expected", ok = false, "no expected value")
              case Some(e) =>
                res.check(s"query.$name.rows", o.rows == e.rows, s"${o.rows} vs ${e.rows}") &&
                  e.hash.forall(h => res.check(s"query.$name.hash", o.hash == h, s"${o.hash} vs $h"))
            }
        }
        if (ok) lat += o.latMs else res.failed += 1
        ctx.opLog += f"$name:${o.latMs}%.1f"
        System.err.println(f"[perfbench] $name%-32s ${o.latMs}%9.1f ms ${if (ok) "ok" else "FAILED"}")
      }
      r += 1
    }
    res.context("rounds") = r
    val windowMs = (System.nanoTime() - start) / 1e6
    val cg1 = ctx.codegen()
    res.metric("latency_ms.p50", Stats.median(lat.toSeq), "ms", lat.size)
    if (lat.size >= 100)
      res.metric("latency_ms.p90", Stats.quantile(lat.toSeq, 0.9), "ms", lat.size)
    res.metric("ops_per_s", lat.size / (opMsTotal / 1000), "1/s", res.attempted)
    res.metric("ops.failed_frac", res.failed.toDouble / res.attempted, "ratio", res.attempted)
    res.context("queries_run") = res.attempted
    res.context("window_ms") = windowMs
    Layers.report(ctx, res.attempted, windowMs, cg0, cg1, Layers.NoElt)
  }

  /** Record row count and hash of every pool query (both pools, by name)
    * into the file named by `--out-record`. */
  def record(ctx: Ctx): Unit = {
    val registry = graft.SparkEntry.queries
    val names = (pool(ctx, "query_short") ++ pool(ctx, "query_long")).sorted
    val out = mapper.createObjectNode()
    names.foreach { name =>
      val o = runOne(ctx, name, registry(name))
      val n = out.putObject(name)
      n.put("rows", o.rows).put("hash", o.hash).put("ms", o.latMs)
      o.error.foreach(n.put("error", _))
      System.err.println(f"[perfbench] record $name%-32s ${o.latMs}%9.1f ms ${o.error.getOrElse("ok")}")
      ctx.result.attempted += 1
      if (o.error.nonEmpty) ctx.result.failed += 1
    }
    Files.write(java.nio.file.Paths.get(ctx.args("out-record")),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
  }
}
