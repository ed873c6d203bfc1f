package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe: which aggregate shapes stay hash-aggregatable in this Spark
  * build, and what each costs at bench-like scale. Used to pick the
  * argmin/dedup formulations (min(struct) vs min_by vs max_by) without
  * guessing at HashAggregateExec's buffer-mutability rules. */
object AggShapeProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val n = 2000000L
    val df = spark.range(n).select(
      (col("id") % 100000).as("k"),
      (col("id") % 977).cast("double").as("d"),
      col("id").as("c"),
      concat(lit("payload-"), col("id")).as("s"))
      .cache()
    df.count()

    def shape(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val plan = f.queryExecution.executedPlan.toString
      val agg =
        if (plan.contains("SortAggregate")) "SortAggregate"
        else if (plan.contains("ObjectHashAggregate")) "ObjectHashAggregate"
        else if (plan.contains("HashAggregate")) "HashAggregate"
        else "?"
      println(f"[shape] $label%-40s $agg")
    }
    def time(label: String, reps: Int = 3)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time ] $label%-40s min=${secs.min}%6.3f  all=${secs.map(x => f"$x%.3f").mkString(",")}")
    }

    shape("min(struct(d,c))")(df.groupBy("k").agg(min(struct(col("d"), col("c")))))
    shape("min_by(c,d)")(df.groupBy("k").agg(min_by(col("c"), col("d"))))
    shape("min(string)")(df.groupBy("k").agg(min(col("s"))))
    shape("min(struct(d,c)) + min(s)")(df.groupBy("k").agg(min(struct(col("d"), col("c"))), min(col("s"))))
    shape("min_by(s,d)")(df.groupBy("k").agg(min_by(col("s"), col("d"))))
    shape("min_by(s,struct(d,c))")(df.groupBy("k").agg(min_by(col("s"), struct(col("d"), col("c")))))
    shape("min(struct(d,s))")(df.groupBy("k").agg(min(struct(col("d"), col("s")))))

    time("min(struct(d,c))")(df.groupBy("k").agg(min(struct(col("d"), col("c")))))
    time("min_by(c,d)")(df.groupBy("k").agg(min_by(col("c"), col("d"))))
    time("min(struct(d,s)) payload")(df.groupBy("k").agg(min(struct(col("d"), col("s")))))
    time("min_by(s,d) payload")(df.groupBy("k").agg(min_by(col("s"), col("d"))))
    time("min(d),min(c) twocol")(df.groupBy("k").agg(min(col("d")), min(col("c"))))

    spark.stop()
  }
}
