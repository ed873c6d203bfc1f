package graft

import graft.functions.{ParseTx, TxFixtures}
import org.apache.spark.sql.SparkSession

/** Dev probe: isolates where the parse path's wall time goes at local[32] —
  * fixture generation, raw parse throughput (direct mapPartitions, no UDF),
  * and the UDF projection — to direct optimization work. */
object ParseScalingProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time(label: String)(f: => Long): Unit = {
      f // warm
      val t0 = System.nanoTime()
      val c = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs  (rows=$c)")
    }

    val raw = spark.range(n).as[Long].mapPartitions(_.map(TxFixtures.rawRow))
      .toDF("timestamp_ms", "hash", "raw_tx_hex")

    time("fixture gen only") { raw.count() }
    time("fixture + direct parse") {
      spark.range(n).as[Long]
        .mapPartitions(_.map(i => TxFixtures.rawRow(i)._3))
        .mapPartitions(_.map(h => ParseTx.parseHex(h).isDefined))
        .filter(identity[Boolean] _).count()
    }
    time("fixture + udf projection") { ParseTx.project(raw).count() }
    time("single-thread 2k direct") {
      var i = 0L; var c = 0L
      while (i < 2000) { if (ParseTx.parseHex(TxFixtures.rawTxHex(i)).isDefined) c += 1; i += 1 }
      c
    }
    spark.stop()
  }
}
