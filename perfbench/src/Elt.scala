package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.model.{EntityConfig, ExtractionConfig}
import graft.pipeline.{Bootstrap, EntityReport, Refresh, Sinks, StateStore}
import graft.sources.{ODataHttpServer, ODataTestServer}

/** elt_priority: the reference system's job over the localhost OData
  * socket. `Bootstrap.initialDataLoad` stages the sf0.1 tenant (ORDERS
  * with `$expand` LINEITEMS, plus CUSTOMER, PART, SUPPLIER and NATION),
  * then incremental `Refresh.refreshAll` cycles run: `WarmCycles` of
  * them unmeasured, then a fixed number of measured ones that takes about
  * `--seconds` on a 4-core host. Before each cycle a seeded batch of
  * re-keyed rows with later event times is appended to every watermarked
  * entity. */
object Elt {

  /** `ts` is the watermark column; NATION has none, so every cycle
    * re-extracts it in full, as the reference does for such entities. */
  final case class Ent(id: String, table: String, key: String,
      ts: Option[String], batch: Int)

  val Ents: Seq[Ent] = Seq(
    Ent("ORDERS", "orders", "o_orderkey", Some("o_orderdate"), 50),
    Ent("CUSTOMER", "customer", "c_custkey", Some("udate"), 20),
    Ent("PART", "part", "p_partkey", Some("udate"), 20),
    Ent("SUPPLIER", "supplier", "s_suppkey", Some("udate"), 5),
    Ent("NATION", "nation", "n_nationkey", None, 0))

  val Sub = "LINEITEMS"
  /** Cycles that warm the JIT up on the incremental path before the
    * measured ones; their outputs are checked like every other cycle's. */
  val WarmCycles = 2
  /** Measured cycles per second of `--seconds`: a cycle takes about 1.7 s
    * on a 4-core host. The count is fixed rather than time-boxed because
    * cycles keep getting faster as the JIT warms up, so a time-boxed run
    * of slower code would run fewer, colder cycles and weight them more. */
  val CyclesPerSecond = 0.6
  /** The extraction config's `dataStartDate` for ORDERS: the full load
    * stages orders from here on, though the service holds them all. */
  val OrdersFrom = "2001-01-01 00:00:00"
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)
  private def watermarkOf(t: Timestamp): String =
    fmt.format(t.toInstant.plusNanos(1000))

  /** The tenant's entities as the service serves them: key columns carry
    * the `keyFlag` the server's `$metadata` reports; dimension entities
    * gain an update-time column `udate`. */
  def tenant(ctx: Ctx): Map[String, DataFrame] = {
    val s = ctx.spark
    def tbl(t: String) = graft.H.tbl(s, ctx.dataDir, t)
    val keyMeta = new MetadataBuilder().putBoolean("keyFlag", true).build()
    def keyed(df: DataFrame, key: String) =
      df.select(df.columns.toIndexedSeq.map(c =>
        if (c == key) col(c).as(c, keyMeta) else col(c)): _*)
    Ents.map { e =>
      val base = e.id match {
        case "ORDERS" => graft.ops.Relational.nestChild(tbl("orders"),
          tbl("lineitem"), e.key, "l_orderkey", Sub, Seq("l_linenumber"))
        case _ if e.ts.isDefined =>
          tbl(e.table).withColumn("udate",
            expr(s"timestamp_seconds(883612800 + ${e.key} * 60)"))
        case _ => tbl(e.table)
      }
      e.id -> keyed(base, e.key)
    }.toMap
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    val res = ctx.result
    val tr = ctx.tracer
    val frames = tenant(ctx)
    val endpoint = ctx.setup(3) {
      // the registry: register every entity and force its rows
      Ents.foreach { e =>
        ODataTestServer.registerDf(e.id, frames(e.id))
        ODataTestServer.rowCount(e.id)
      }
      ODataHttpServer.endpoint
    }
    val (user, pass) = (ODataHttpServer.user, ODataHttpServer.pass)

    ctx.heapAfterSetup()
    val prep0 = System.nanoTime()
    // generator bookkeeping (not timed), from the rows the service holds:
    // templates for appended rows, and the base row counts and event-time
    // maxima the checks compare with
    val schemaOf = Ents.map(e => e.id -> frames(e.id).schema).toMap
    val subIdx = schemaOf("ORDERS").fieldIndex(Sub)
    val ordersFrom = Timestamp.from(java.time.LocalDateTime
      .parse(OrdersFrom.replace(' ', 'T')).toInstant(ZoneOffset.UTC))
    val templates = mutable.HashMap.empty[String, IndexedSeq[Row]]
    val expected = mutable.LinkedHashMap.empty[String, Long]
    val maxTs = mutable.HashMap.empty[String, Timestamp]
    Ents.foreach { e =>
      val sch = schemaOf(e.id)
      val (ki, ti) = (sch.fieldIndex(e.key), e.ts.map(sch.fieldIndex))
      val rows = ODataTestServer.fetchRange(e.id, sch, 0, ODataTestServer.rowCount(e.id))
        .toIndexedSeq
      val staged = if (e.id == "ORDERS")
        rows.filterNot(_(ti.get).asInstanceOf[Timestamp].before(ordersFrom)) else rows
      expected(s"stg_${e.table}") = staged.size
      ti.foreach(i => maxTs(e.id) = staged.map(_(i).asInstanceOf[Timestamp])
        .reduce((a, b) => if (a.after(b)) a else b))
      if (e.id == "ORDERS") expected("stg_lineitems") =
        staged.map(r => Option(r(subIdx)).fold(0)(_.asInstanceOf[scala.collection.Seq[_]].size)).sum
      if (e.batch > 0) templates(e.id) = rows
        .filter(_(ki).asInstanceOf[Number].longValue % 97 == 0).take(400).map(Row.fromSeq)
    }
    res.context("prep_s") = (System.nanoTime() - prep0) / 1e9
    val sinkDir = ctx.work.resolve("sink").toString
    val state = new StateStore(ctx.work.resolve("state.json").toString)
    val config = ExtractionConfig(
      datasourceName = "perfbench_priority", uri = endpoint,
      accountId = "perfbench", systemTimezone = "UTC", sourceSystem = "priority",
      entities = Ents.map(e => EntityConfig(e.id, filterFlag = e.ts.isDefined,
        filterField = e.ts.getOrElse(""),
        expand = if (e.id == "ORDERS") Seq(Sub) else Nil, lastRun = None,
        dataStartDate = e.ts.map(_ =>
          if (e.id == "ORDERS") OrdersFrom else "1990-01-01 00:00:00"))))
    val subformsOf = (id: String) =>
      if (id == "ORDERS") Map(Sub -> Sub) else Map.empty[String, String]
    val sources = (id: String) => tr.span("sources.load") {
      s.read.format("graft.sources.ODataHttpSource")
        .option("endpoint", endpoint).option("entity", id)
        .option("user", user).option("pass", pass)
        .option("pageSize", "2000").load()
    }
    def runId(c: Int) = f"00000000-0000-4000-8000-$c%012d"
    def runTs(c: Int) = f"2026-01-01 00:${c / 60 % 60}%02d:${c % 60}%02d"
    def allSuccess(rs: Seq[EntityReport]) = rs.forall(_.status == "success")
    def countsMatch(rs: Seq[EntityReport], want: Map[String, Long]) =
      rs.map(r => r.tableName -> r.recordsWritten).toMap == want

    val httpMark = new HttpMark(tr.enabled)
    val files0 = if (tr.enabled) countFiles(ctx.work.resolve("sink")) else 0L
    val start = System.nanoTime()

    // full load: $metadata over the socket, DDL deploy, full refresh
    val t0 = System.nanoTime()
    val (boot, pkOf) = tr.span("elt.bootstrap") {
      val xml = tr.span("sources.load")(new String(ODataHttpServer.getRaw(
        s"$endpoint/$$metadata", user, pass), java.nio.charset.StandardCharsets.UTF_8))
      val pks = graft.schema.MetadataXml.parse(xml, "priority")
        .map(m => m.entityName -> m.entityPk).toMap
      (Bootstrap.initialDataLoad(s, config, xml, sources, subformsOf, sinkDir,
        state, runId(0), runTs(0)), (id: String) => pks.getOrElse(id, Seq.empty[String]))
    }
    val bootS = (System.nanoTime() - t0) / 1e9
    res.attempted += 1
    val fullRows = boot.loadReports.map(_.recordsWritten).sum
    val bootOk = res.check("elt.bootstrap.status", allSuccess(boot.loadReports),
      boot.loadReports.mkString(";")) &&
      res.check("elt.bootstrap.rows", countsMatch(boot.loadReports, expected.toMap),
        s"${boot.loadReports.map(r => r.tableName -> r.recordsWritten)} vs $expected")
    if (!bootOk) res.failed += 1
    res.metric("elt.full_rows_per_s", fullRows / bootS, "1/s", 1)
    res.context("elt.full_load_s") = bootS
    res.context("elt.full_rows") = fullRows
    val fullLoadRequests = httpMark.advance()

    val cgAfterBoot = ctx.codegen()
    val nationRows = expected("stg_nation")
    val rnd = new Random(ctx.seed)
    // appended event times start the day after the latest one served
    val firstDay = maxTs.values.map(_.toInstant).max
      .truncatedTo(java.time.temporal.ChronoUnit.DAYS)
    val lat = mutable.ArrayBuffer.empty[Double]
    var opMsTotal = 0.0
    var parentRowsStaged = 0L
    var c = 0
    // at least three measured cycles, so the median has a middle
    val cycles = WarmCycles + math.max(3, math.round(ctx.seconds * CyclesPerSecond).toInt)
    while (c < cycles) {
      c += 1
      val measured = c > WarmCycles
      tr.op = c
      // the seeded batch, built before the cycle's clock starts
      val dayBase = firstDay.plusSeconds(86400L * c)
      val batches = Ents.filter(_.batch > 0).map { e =>
        val sch = schemaOf(e.id)
        val (ki, ti) = (sch.fieldIndex(e.key), sch.fieldIndex(e.ts.get))
        e -> (0 until e.batch).map { i =>
          val t = templates(e.id)(rnd.nextInt(templates(e.id).length))
          val ts = Timestamp.from(dayBase.plusSeconds(rnd.nextInt(86400))
            .plusNanos(1000L * rnd.nextInt(1000000)))
          val v = t.toSeq.toArray
          v(ki) = 100000000L + c * 10000L + i
          v(ti) = ts
          maxTs(e.id) = if (ts.after(maxTs(e.id))) ts else maxTs(e.id)
          Row.fromSeq(v.toIndexedSeq)
        }
      }
      val children = batches.collectFirst { case (e, rows) if e.id == "ORDERS" =>
        rows.map(r => if (r.isNullAt(subIdx)) 0L else r.getSeq[Row](subIdx).size.toLong).sum
      }.get
      val want = Ents.map(e => s"stg_${e.table}" -> e.batch.toLong).toMap ++
        Map("stg_nation" -> nationRows, "stg_lineitems" -> children)
      val appended = batches.map { case (e, rows) =>
        e.id -> s.createDataFrame(rows.asJava, schemaOf(e.id)) }
      val t1 = System.nanoTime()
      tr.span("elt.register") {
        appended.foreach { case (id, df) =>
          ODataTestServer.appendRows(id, df)
          ODataTestServer.rowCount(id)
        }
      }
      val reports = tr.span("elt.refresh") {
        Refresh.refreshAll(config, incremental = true, sources, subformsOf, pkOf,
          sinkDir, state, runId(c), runTs(c))
      }
      val ms = (System.nanoTime() - t1) / 1e6
      System.err.println(f"[perfbench] cycle $c%-4d $ms%9.1f ms${if (measured) "" else " (warm-up)"}")
      res.attempted += 1
      if (measured) opMsTotal += ms
      val ok = res.check(s"elt.cycle$c.status", allSuccess(reports), reports.mkString(";")) &&
        res.check(s"elt.cycle$c.rows", countsMatch(reports, want),
          s"${reports.map(r => r.tableName -> r.recordsWritten)} vs $want")
      if (!ok) res.failed += 1
      else if (measured) lat += ms
      ctx.opLog += f"$c:$ms%.1f"
      want.foreach { case (k, v) => expected(k) += v }
      parentRowsStaged += reports.filterNot(_.tableName == "stg_lineitems")
        .map(_.recordsWritten).sum
      ctx.storageCheckpoint()
    }
    val windowMs = (System.nanoTime() - start) / 1e6
    val cg1 = ctx.codegen()
    val (requests, pages, overflow) = httpMark.advance()

    res.metric("latency_ms.p50", Stats.median(lat.toSeq), "ms", lat.size)
    if (lat.size >= 100)
      res.metric("latency_ms.p90", Stats.quantile(lat.toSeq, 0.9), "ms", lat.size)
    res.metric("ops_per_s", lat.size / (opMsTotal / 1000), "1/s", c - WarmCycles)
    res.context("cycles") = c
    res.context("window_ms") = windowMs

    // output checks on the staged tables and the watermarks
    val checks0 = System.nanoTime()
    // line numbers repeat within an order in this data set, so a line
    // item is keyed by its order, line number, part and supplier
    val pks = Map("stg_orders" -> Seq("o_orderkey"),
      "stg_lineitems" -> Seq("o_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
    var stagedRows = 0L
    expected.foreach { case (table, n) =>
      val staged = Sinks.readStaged(s, s"$sinkDir/$table")
      val got = pks.get(table) match {
        case Some(pk) =>
          val r = staged.groupBy(pk.map(col): _*).count()
            .agg(sum("count"), count(when(col("count") > 1, 1))).collect()(0)
          res.check(s"elt.$table.unique_pk", r.getLong(1) == 0, s"${r.getLong(1)} duplicated keys")
          r.getLong(0)
        case None => staged.count()
      }
      stagedRows += got
      res.check(s"elt.$table.count", got == n, s"$got vs $n")
    }
    maxTs.foreach { case (id, t) =>
      val got = state.get(id)
      res.check(s"elt.$id.watermark", got.contains(watermarkOf(t)), s"$got vs ${watermarkOf(t)}")
    }
    val bytes = Files.walk(ctx.work.resolve("sink")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).sum
    res.metric("elt.sink_bytes_per_row", bytes.toDouble / stagedRows, "B", 1)
    res.metric("ops.failed_frac", res.failed.toDouble / res.attempted, "ratio", res.attempted)
    res.context("checks_s") = (System.nanoTime() - checks0) / 1e9

    val cycleRequests = requests - fullLoadRequests._1
    Layers.report(ctx, c, windowMs, cg0 = cgAfterBoot, cg1,
      Layers.EltCounts(cycleRequests, pages - fullLoadRequests._2,
        overflow || fullLoadRequests._3,
        if (tr.enabled) countFiles(ctx.work.resolve("sink")) - files0 else 0L,
        parentRowsStaged))
  }

  private def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => Files.isRegularFile(f)).toLong
}

/** Counts requests the OData server logged since the last call. The log
  * is capped at 10,000 lines, so each call remembers the newest line it
  * saw; if that line has been evicted the count is flagged as overflowed.
  * Only active in traced runs. */
final class HttpMark(enabled: Boolean) {
  private var marker: String = last()
  private var requests = 0L
  private var pages = 0L
  private var overflow = false

  private def last(): String =
    if (!enabled) null
    else {
      var l: String = null
      ODataHttpServer.requestLog.iterator().forEachRemaining(s => l = s)
      l
    }

  /** Cumulative (requests, page GETs, overflowed) after folding in the
    * lines logged since the previous call. */
  def advance(): (Long, Long, Boolean) = {
    if (enabled) {
      val lines = ODataHttpServer.requestLog.iterator().asScala.toVector
      val from = if (marker == null) 0 else lines.indexWhere(_ eq marker) + 1
      if (marker != null && from == 0) overflow = true
      val fresh = lines.drop(from)
      requests += fresh.size
      pages += fresh.count(l => l.contains("skiptoken") && !l.contains("preflight"))
      if (lines.nonEmpty) marker = lines.last
    }
    (requests, pages, overflow)
  }
}
