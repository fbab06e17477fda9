package graft
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1)) {
      val df = SparkEntry.queries(name)(spark, args(0))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      val reused = plan.linesIterator.count(l => l.contains("ReusedExchange") || l.contains("TableCacheQueryStage") || l.contains("ReusedQueryStage"))
      println(s"PLANCHECK $name: scans=$scans reusedExchanges=$reused")
    }
    spark.stop()
  }
}
