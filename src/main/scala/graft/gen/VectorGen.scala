package graft.gen

/** Fixture generator for driving [[graft.jobs.SemIndexJob]] at scale:
  * writes the deterministic synthetic embeddings ([[synVecGeo]]) for an
  * id range to parquet, so the CLI surface can be exercised on a corpus
  * with analytic planted ground truth. Usage:
  *   VectorGen <lo> <hi> <geometry> <outDir> [--window=W]
  * `--window=W` draws from [[synVecMogWindow]] window W (ignoring
  * <geometry>) — the drift experiment's day-d batch generator, so the
  * CLI auto-retrain trigger can be driven on REAL drift. */
object VectorGen {
  def main(args: Array[String]): Unit = {
    val Array(loS, hiS, geometry, outDir) = args.take(4)
    val (lo, hi) = (loS.toLong, hiS.toLong)
    val window: Option[Int] = args
      .find(_.startsWith("--window=")).map(_.stripPrefix("--window=").toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val parts = math.max(cpus.toInt, ((hi - lo) / 30000L).toInt)
    spark.range(lo, hi, 1, parts).as[Long]
      .mapPartitions(_.map(i => (i, window match {
        case Some(w) => synVecMogWindow(i, w)
        case None    => synVecGeo(i, geometry)
      })))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(outDir)
    println(s"""{"metric":"vector_gen","lo":$lo,"hi":$hi,"geometry":"$geometry","window":${window.getOrElse(-1)},"out":"$outDir"}""")
    spark.stop()
  }
}
