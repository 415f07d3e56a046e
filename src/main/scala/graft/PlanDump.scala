package graft
import org.apache.spark.sql.SparkSession

/** Dev utility: dump `explain("formatted")` for a list of registered
  * queries to one file per query — the optimization-round evidence
  * trail (plans/rNN/<query>_<tag>.txt). The query list and tag come
  * from the command line.
  *
  * sbt "runMain graft.PlanDump before plans/r19 q_graph_pagerank,q_graph_ppr [sfDir]"
  * sbt "runMain graft.PlanDump before plans/r19 all [sfDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = args(1)
    val which = args(2)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      System.err.println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
