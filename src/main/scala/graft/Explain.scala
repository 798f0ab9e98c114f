package graft

/** Plan auditor: prints the formatted physical plan of selected queries (all
  * when no args) so scan pruning (ReadSchema/PushedFilters), join strategies
  * (BroadcastHashJoin vs SortMergeJoin) and WholeStageCodegen spans can be
  * inspected. Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.registry.map(_.name) else args.toSeq
    wanted.foreach { name =>
      SparkEntry.registry.find(_.name == name) match {
        case Some(q) =>
          println(s"\n========== $name ==========")
          Materialize.scope(q.run(spark, sfDir).explain("formatted"))
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
