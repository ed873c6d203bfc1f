package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** vec_nearest must reproduce the assignment the old
  * `crossJoin(broadcast(cents)) → groupBy(vec_id) → min(struct(d2, c))`
  * shape produced, bit-for-bit: the d² float-op order is the vec_dot
  * composition, and the comparison is Spark's struct ordering (ties on
  * exactly-equal d² fall to the smaller c; NaN sorts largest). The float
  * assignment paths (assignVec, Pq.assignF, Coarse.prod) ride it, so a
  * divergence here changes trained quantizers everywhere. */
class VecNearestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The replaced shape, verbatim. */
  private def aggPath(rows: DataFrame, cents: DataFrame): Seq[(Long, Long)] = {
    import graft.functions.VecOps.vec_dot
    rows.crossJoin(broadcast(cents))
      .withColumn("d2",
        vec_dot(col("embedding"), col("embedding"))
          - lit(2.0) * vec_dot(col("embedding"), col("m"))
          + vec_dot(col("m"), col("m")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("c"))).as("best"))
      .select(col("vec_id"), col("best.c").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private def nearestPath(rows: DataFrame, cents: DataFrame): Seq[(Long, Long)] = {
    graft.functions.GraftFunctions.register(spark)
    val centArr = cents.agg(collect_list(struct(col("c"), col("m"))).as("cm"))
    rows.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        graft.functions.VecOps.vec_nearest(col("embedding"), col("cm")).as("c"))
      .filter(col("c").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private def df(rows: Seq[(Long, Seq[Double])], emb: String = "embedding") = {
    import spark.implicits._
    rows.toDF("vec_id", emb).withColumnRenamed("vec_id", if (emb == "m") "c" else "vec_id")
  }

  test("matches the min(struct) aggregation on pseudo-random vectors") {
    val rows = df((0L until 40L).map(i =>
      i -> (0 until 16).map(d => math.sin(i * 16.0 + d) * 2.3)))
    val cents = df((100L until 107L).map(c =>
      c -> (0 until 16).map(d => math.cos(c * 16.0 + d))), "m")
    assert(nearestPath(rows, cents) == aggPath(rows, cents))
  }

  test("exact d2 ties break to the smaller c, like struct ordering") {
    // two bit-identical centroids under different ids: d2 ties exactly
    val m = (0 until 8).map(_.toDouble * 0.5)
    val cents = df(Seq(9L -> m, 3L -> m, 7L -> m), "m")
    val rows = df(Seq(0L -> (0 until 8).map(_.toDouble * 0.5 + 0.1)))
    val got = nearestPath(rows, cents)
    assert(got == aggPath(rows, cents))
    assert(got == Seq((0L, 3L)))
  }

  test("NaN distances sort largest; all-NaN still assigns (struct-min parity)") {
    val cents = df(Seq(
      5L -> Seq(Double.NaN, 1.0),  // d2 NaN
      2L -> Seq(100.0, 100.0),     // large but finite
      8L -> Seq(Double.NaN, 0.0)), "m")
    val rows = df(Seq(0L -> Seq(0.0, 0.0)))
    assert(nearestPath(rows, cents) == aggPath(rows, cents))
    // only-NaN set: both paths still pick the smaller c
    val nanOnly = df(Seq(5L -> Seq(Double.NaN), 4L -> Seq(Double.NaN)), "m")
    assert(nearestPath(rows.select(col("vec_id"), slice(col("embedding"), 1, 1).as("embedding")), nanOnly)
      == aggPath(rows.select(col("vec_id"), slice(col("embedding"), 1, 1).as("embedding")), nanOnly))
  }

  test("empty centroid set assigns nothing, like the join-aggregate shape") {
    val rows = df(Seq(0L -> Seq(1.0, 2.0)))
    val cents = df(Seq.empty[(Long, Seq[Double])], "m")
    assert(nearestPath(rows, cents).isEmpty)
    assert(aggPath(rows, cents).isEmpty)
  }

  test("float embedding arrays match the mixed-type vec_dot path") {
    import spark.implicits._
    val rows = Seq((0L, Seq(1.5f, -2.25f, 0.5f)), (1L, Seq(0.25f, 4.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val cents = df(Seq(10L -> Seq(1.0, -2.0, 0.0), 11L -> Seq(0.0, 4.0, -1.5)), "m")
    assert(nearestPath(rows, cents) == aggPath(rows, cents))
  }

  test("null entry, c or m is skipped; the nearest valid entry wins") {
    // vec_nearest is a registered session function, so degenerate cm
    // input must degrade, not fail the task. The null-c entry sits at
    // d² = 0: read instead of skipped, it would win as c = 0.
    graft.functions.GraftFunctions.register(spark)
    val entry = "struct<c:bigint,m:array<double>>"
    val cm = array(
      lit(null).cast(entry),
      struct(lit(null).cast("bigint").as("c"),
        array(lit(0.0), lit(0.0)).as("m")),
      struct(lit(1L).as("c"), lit(null).cast("array<double>").as("m")),
      struct(lit(7L).as("c"), array(lit(5.0), lit(5.0)).as("m")),
      struct(lit(4L).as("c"), array(lit(1.0), lit(1.0)).as("m")))
    val got = df(Seq(0L -> Seq(0.0, 0.0)))
      .select(col("vec_id"),
        graft.functions.VecOps.vec_nearest(col("embedding"), cm).as("c"))
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(got == Seq((0L, 4L)))
  }
}
