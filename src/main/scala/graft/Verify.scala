package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Two r10 hardenings (the official CORRECTNESS_r10.json came back `{}`
  * because the sequential dump overran the driver's budget and the oracle
  * file was written LAST — a kill left parquet dirs but no oracle map, which
  * the compare reads as an empty round):
  *   1. `oracle_sql.json` is written FIRST — it depends only on
  *      `SparkEntry.oracleSql`, so even a mid-dump kill yields a partial,
  *      comparable record instead of a zeroed one.
  *   2. The dump runs on a small worker POOL, longest-first. The wall-time
  *      dominators are the ~28 executed-streaming queries, and their cost is
  *      micro-batch cadence + state-store I/O — wall-clock, not CPU — so they
  *      overlap almost perfectly. Each query gets its OWN child session
  *      (`spark.newSession()`): temp views, conf mutations, UDF registration
  *      and the streaming query manager are per-session; the shared
  *      persistent catalog is touched only under query-unique names; every
  *      file sink goes through H.tmpDir (unique dirs). Query programs hold
  *      no singleton mutable state (round-11 sweep: every `var` in
  *      functions/queries is method-local).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Verify <sfDir> <outDir> [queryName...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (dev loop; the driver
    // always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val spark = Session.start()

    // Longest-first scheduling (classic LPT): order by the clean bench
    // reference when present so the streaming heavies launch immediately
    // instead of trailing the makespan. Unknown queries go first (unknown
    // cost is the risk; schedule it early).
    val refSec: Map[String, Double] = scala.util.Try {
      val txt = new String(Files.readAllBytes(Paths.get("BENCH_FULL.json")), "UTF-8")
      val body = txt.substring(txt.indexOf("\"queries\":{") + 11)
      """"([A-Za-z0-9_]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy { case (name, _) => -refSec.getOrElse(name, 1e9) }

    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val t00 = System.nanoTime()
    // one query's dump: build on its own child session, write, free
    def dump(name: String, fn: (SparkSession, String) => DataFrame): Double =
      Session.run(fn(spark.newSession(), sfDir)) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); 0L
      }.sec
    work.foreach { case (name, fn) =>
      pool.execute { () =>
        try {
          val sec = dump(name, fn)
          System.err.println(f"[verify] $name%-32s ${sec}%7.2f s  (${done.incrementAndGet()}/${work.size}, wall ${(System.nanoTime() - t00) / 1e9}%.0f s)")
        } catch { case e: Throwable =>
          failed.add(name); done.incrementAndGet()
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    pool.shutdown()
    if (!pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)) {
      pool.shutdownNow()
      sys.error(s"query pool timed out: ${done.get}/${work.size} queries finished")
    }
    // Sequential retry of pool-phase failures: concurrent queries share
    // the session-wide CacheManager, so two queries caching IDENTICAL
    // subplans share one InMemoryRelation — the first query's unpersist
    // can drop it mid-read for the second, whose rebuild then needs a
    // localCheckpoint that was freed with it ("Block rdd_N does not
    // exist", observed once in ~6 full boards on the dedup family).
    // Alone on the session, the retry cannot hit the race.
    failed.toArray.map(_.toString).sorted.foreach { name =>
      try {
        val sec = dump(name, SparkEntry.queries(name))
        failed.remove(name)
        System.err.println(f"[verify] $name%-32s ${sec}%7.2f s  (sequential retry ok)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed on retry: ${e.getMessage}")
      }
    }
    val wall = (System.nanoTime() - t00) / 1e9
    System.err.println(f"[verify] dump complete: ${work.size - failed.size}/${work.size} ok, wall ${wall}%.1f s, par=$par")
    spark.stop()
    if (!failed.isEmpty)
      System.err.println(s"[verify] FAILED: ${failed.toArray.toSeq.map(_.toString).sorted.mkString(", ")}")
  }
}
