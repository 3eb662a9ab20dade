package searchbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--toy 1]`
  * Prints human-readable lines and, last, the JSON result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    // Half the cores: requests here are short jobs of small tasks, which run
    // no faster on every core but, sharing the host, wait on every core's
    // neighbours. The other half takes the driver, JIT and GC threads.
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("searchbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val b = new Bench(spark, a("workload"), a("seed").toLong, a("seconds").toDouble,
        a.getOrElse("trace", "0") == "1", a.getOrElse("toy", "0") == "1", work)
      val last = b.run()
      if (b.traced) b.writeSpans(work.resolve("spans.jsonl"))
      println(last)
    } finally spark.stop()
  }
}
