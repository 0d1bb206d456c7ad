package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Session` is the single source of the tools' session settings and
  * of their build-run-free timing discipline. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session runs on the tools' pinned settings") {
    val pinned = Session.conf(TestSpark.cores)
    // a child session, as every query run gets: it sees the builder's
    // settings, not runtime edits another suite made on the root session
    val conf = spark.newSession().conf
    Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .foreach(k => assert(conf.get(k) == pinned(k), k))
    assert(conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
  }

  private def checkpointRdds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
  private def persisted: collection.Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet

  test("run frees the result's localCheckpoint after a normal run") {
    var ids = Seq.empty[Int]
    val run = Session.run(spark.range(0L, 1000L, 1L, 4).toDF().localCheckpoint()) { df =>
      ids = checkpointRdds(df)
      assert(ids.nonEmpty && ids.forall(persisted.contains), ids)
      df.count()
    }
    assert(run.rows == 1000L)
    assert(run.sec >= run.builtSec)
    assert(ids.forall(id => !persisted.contains(id)), ids)
  }

  test("run frees the result's localCheckpoint when the action throws") {
    var ids = Seq.empty[Int]
    val e = intercept[IllegalStateException] {
      Session.run(spark.range(0L, 1000L, 1L, 4).toDF().localCheckpoint()) { df =>
        ids = checkpointRdds(df)
        assert(ids.nonEmpty && ids.forall(persisted.contains), ids)
        throw new IllegalStateException("action failed")
      }
    }
    assert(e.getMessage == "action failed")
    assert(ids.forall(id => !persisted.contains(id)), ids)
  }

  test("main code builds SparkSessions in one place only") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    import scala.jdk.CollectionConverters._
    val sites = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if {
            val code = line.split("//", 2)(0).trim // scaladoc lines start with *
            !code.startsWith("*") && !code.startsWith("/*") &&
              code.contains("SparkSession.builder")
          } => s"${root.toPath.relativize(p)}:${i + 1}"
        }
      }
    assert(sites.size == 1 && sites.head.startsWith("graft/Session.scala:"),
      sites.mkString(", "))
  }
}
