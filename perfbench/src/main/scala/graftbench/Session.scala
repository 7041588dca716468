package graftbench

import org.apache.spark.sql.SparkSession

object Session {
  /** Task slots: one fewer than the host's 4 cores, so that the driver
    * thread, which plans and schedules every job, does not compete with
    * the tasks for a core. */
  val Cores = 3

  /** A `local[3]` session whose scratch space stays under `work`. */
  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
