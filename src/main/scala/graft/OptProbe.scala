package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool for the optimization rounds: for each named query, write the
  * formatted physical plan to `<outDir>/<name>_<suffix>.txt` and time
  * N noop-sink executions (the bench's own methodology — full result
  * consumed, nothing collected), bracketed by calibration probes so a
  * retime can be salted by host condition. `outDir` is created if
  * missing and is the only place the tool writes. Usage:
  *   runMain graft.OptProbe <sfDir> <outDir> <suffix> <reps> <query names...>
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val reps = args(3).toInt
    val names = args.drop(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def cal(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000)
        .select(md5(col("id").cast("string")).as("h"))
        .groupBy(substring(col("h"), 1, 3))
        .agg(count(lit(1)).as("n"), max("h"))
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    // same warmup as Bench so the first query doesn't absorb JVM startup
    locally {
      val w = spark.range(100000).select(col("id"),
        md5(col("id").cast("string")).as("h"))
      w.groupBy(substring(col("h"), 1, 2)).count().count()
    }
    cal()
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val df = fn(spark, sfDir)
      java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val times = (1 to reps).map { _ =>
        val c0 = cal()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Checkpoints.sweep(spark)
        (dt, c0)
      }
      val ts = times.map(_._1)
      println(f"[optprobe] $n reps=$reps min=${ts.min}%.3f " +
        f"median=${ts.sorted.apply(ts.size / 2)}%.3f max=${ts.max}%.3f " +
        s"cals=${times.map(t => f"${t._2}%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
