package perfbench

import org.apache.spark.sql.SparkSession

/** The session graft.Bench configures, at `local[4]`, with Spark's
  * scratch space kept inside the run's work directory.
  */
object Session {
  def start(work: java.nio.file.Path): SparkSession = {
    val cores = Main.Cores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.hadoop.fs.iostatistics.thread.level.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
