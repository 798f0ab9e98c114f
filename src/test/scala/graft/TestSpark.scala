package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cpus = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** Ids of the RDDs persisted right now. */
  def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** How many RDDs are persisted now that were not in `before`. RDD ids are
    * never reused, so an RDD an earlier suite left behind, freed by the
    * ContextCleaner mid-test, cannot move this count the way it moves a
    * bare size difference.
    */
  def persistedSince(before: Set[Int]): Int = (persisted -- before).size

  /** `f`'s result and, per Spark job started while it ran (in start order),
    * the first `graft.` frame of the code that started it: the call site of
    * the job's SQL execution, or for a job outside any execution (an RDD
    * job) the job's own call site; "?" when no such frame exists. AQE
    * submits a query's stages from its own threads, so only the execution's
    * call site still holds the caller's frames. The listener bus is drained
    * before and after, so events of earlier jobs are not counted and every
    * one of `f`'s is. Suites run one at a time in the forked test JVM, so
    * every job started meanwhile is `f`'s.
    */
  def jobSitesDuring[A](f: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    def firstGraftFrame(callSite: String): String =
      callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("?")
    val sc = spark.sparkContext
    val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSites.put(s.executionId, firstGraftFrame(s.details)): Unit
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val site = execution.flatMap(id => Option(executionSites.get(id.toLong)))
          .getOrElse(firstGraftFrame(
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
        sites.add(site): Unit
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.TestBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** "n jobs: k× site; …", most frequent site first: the message of a
    * failing job-count assertion. */
  def bySite(sites: Seq[String]): String =
    sites.groupBy(identity).toSeq.sortBy { case (s, v) => (-v.size, s) }
      .map { case (s, v) => s"${v.size}× $s" }.mkString(s"${sites.size} jobs: ", "; ", "")
}
