package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Smoke + golden checks for every SparkEntry query on sf0.001. The deep
  * differential check against DuckDB runs via tools/check.py / the driver. */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching oracle column names") {
    // Oracle hash-compare sorts columns by name: spark result columns must
    // exactly equal the aliases used in the DuckDB SQL. Cheap static check:
    // every query runs and yields a non-empty schema with unique names.
    SparkEntry.all.foreach { case (name, d) =>
      val df = d.fn(spark, sf)
      val cols = df.columns.toSeq
      assert(cols.nonEmpty && cols.distinct.size == cols.size, s"$name: $cols")
    }
  }

  test("all queries execute on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
    }
  }

  test("dedup earliest-wins is idempotent (A1)") {
    val q = SparkEntry.queries("q_dedup_first_payload")
    val once = q(spark, sf)
    // re-aggregating the deduped output must be a no-op
    import org.apache.spark.sql.functions._
    val twice = once.groupBy("user_id")
      .agg(min(struct(col("first_ts"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("f.first_ts").as("first_ts"),
        col("f.event_id"), col("f.event_type"))
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("merge pipeline: sources ordered by first receipt, no blacklisted keys") {
    val df = SparkEntry.queries("q_merge_pipeline")(spark, sf).cache()
    try {
      import org.apache.spark.sql.functions._
      val bad = Tables.events(spark, sf).filter(col("event_type") === "error")
        .groupBy("user_id").count().filter(col("count") > 17)
        .select("user_id")
      assert(df.join(bad, Seq("user_id")).count() == 0)
      assert(df.filter(size(split(col("sources"), " ")) =!= col("n_sources")).count() == 0)
    } finally df.unpersist()
  }
}
