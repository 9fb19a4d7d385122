package graft
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries to plans/<tag>/<q>_<suffix>.txt
  * — the optimization-round evidence artifact (guide §1: capture the plan
  * shape before and after each change). Usage:
  *   runMain graft.PlanExplain <tag> <suffix> <query...>
  * e.g. runMain graft.PlanExplain r13 before q1_pricing rate_join
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = Env.cpus
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$tag"))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"plans/$tag/${n}_$suffix.txt"), formatted)
      println(s"[planexplain] wrote plans/$tag/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
