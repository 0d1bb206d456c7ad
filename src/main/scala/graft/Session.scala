package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session configuration every tool main (Bench, Verify, Profile,
  * ExplainCore, ScaleProbe) and the test session run on, so a plan or a
  * timing printed by one tool is the plan and timing the board gets.
  */
object Session {
  /** `SPARK_GRAFT_CPUS` when set, else the machine's cores capped at 32:
    * run budgets are wall-clock, and an unset variable must not quarter a
    * run's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Settings pinned on every session at `local[cores]`. `nanosAsLong` lets
    * a TIMESTAMP(NANOS) events re-provision load as LongType (`H.events`
    * normalizes it) instead of throwing PARQUET_TYPE_ILLEGAL. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.local.dir" -> H.scratchDir,
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").config(conf(cores))

  def start(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up: scheduler, parquet footers, codegen + shuffle machinery, so
    * the first timed query is not charged JVM start. Best-effort per table:
    * a missing table is the queries' problem to report, not a reason to
    * abort the tool. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => scala.util.Try(H.tbl(spark, sfDir, t).count()))
    scala.util.Try(H.events(spark, sfDir).count())
  }

  /** Seconds until `build` returned (plan construction plus any eager
    * checkpoint jobs inside it), seconds until `action` returned, and the
    * action's row count. */
  final case class Run(builtSec: Double, sec: Double, rows: Long)

  /** Build a query, run `action` on it, then free the result's own
    * localCheckpoint blocks. `H.materialized` releases a query's inputs, but
    * the checkpointed result would otherwise sit in executor storage until
    * GC reaches the RDD reference: a rising heap floor across a long run.
    * The clock stops before the free (block release is bookkeeping, not
    * query cost). A failure is rethrown after the free, so a query dying
    * after its checkpoint materialized leaks nothing either. */
  def run(build: => DataFrame)(action: DataFrame => Long): Run = {
    val t0 = System.nanoTime()
    var df: DataFrame = null
    try {
      df = build
      val t1 = System.nanoTime()
      val rows = action(df)
      val out = Run((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9, rows)
      H.freeLocalCheckpoint(df)
      out
    } catch { case e: Throwable =>
      if (df != null) scala.util.Try(H.freeLocalCheckpoint(df))
      throw e
    }
  }
}
