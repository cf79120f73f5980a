package graft

import org.apache.spark.sql.SparkSession

import graft.ext.Similarity

/** Scale probe (Test/runMain graft.AssignProbe <sfDir> <k> [mode...]):
  * times ONE full-corpus nearest-centroid assignment at a given k —
  * the evidence behind SCALE.md's round-11 assignment-as-data entry
  * (the negative result: the literal CASE chain beats the broadcast
  * join 2.3× at k=1600; the join variant is for the k-regime where
  * the literal plan stops being buildable).
  * Modes: twolevel (literal CASE chain), join (broadcast member table)
  * — each forced through the literal-budget seam, whatever k.
  */
object AssignProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata/sf1")
    val k = if (args.length > 1) args(1).toInt else 160
    val modes = if (args.length > 2) args.drop(2).toSeq else Seq("twolevel")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    e.count()
    val cents = Similarity.seedCentroids(e, k)
      .zipWithIndex.map { case ((_, v), i) => i.toLong -> v }
    for (mode <- modes; run <- 1 to 3) {
      val assigned = mode match {
        case "twolevel" => Similarity.withLiteralBudget(Long.MaxValue)(
          Similarity.ivfAssignTwoLevelTo(e, cents))
        case "join" => Similarity.withLiteralBudget(0)(
          Similarity.ivfAssignTwoLevelTo(e, cents))
        case other => sys.error(s"unknown mode: $other")
      }
      if (run == 1) {
        val plan = assigned.queryExecution.executedPlan.toString
        val wscg = plan.contains("WholeStageCodegen")
        println(s"ASSIGNPROBE $mode k=$k wholestage=$wscg planLines=${plan.linesIterator.size}")
      }
      val t0 = System.nanoTime()
      val n = assigned.groupBy("centroid_id").count().count()
      println(f"ASSIGNPROBE $mode k=$k run$run ${(System.nanoTime() - t0) / 1e9}%.3f s cells=$n")
    }
    spark.stop()
  }
}
