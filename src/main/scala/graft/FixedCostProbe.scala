package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic main: per-query fixed-cost and job/stage decomposition.
  *
  * For each named query it prints, on a WARM plan, the wall time split
  * into build / optimize / execute, then attaches a SparkListener to one
  * more run and prints the query's JOB COUNT and every completed stage's
  * (duration, task count, name). The point (round-13 verdict #1): at toy
  * scale many queries are bound by jobs × the ~0.15 s local job-launch
  * floor rather than by data — this harness makes that claim checkable
  * per query instead of asserted, and its output feeds the decomposition
  * table in SCALING.md.
  *
  * Usage: runMain graft.FixedCostProbe q_name [q_name2 ...]
  * (SPARK_GRAFT_SF_DIR overrides the default sf0.1 fixture dir.)
  */
object FixedCostProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q_o1_limit")
    names.foreach(probe(spark, dir, _))
    spark.stop()
  }

  def probe(spark: SparkSession, dir: String, name: String): Unit = {
    val q = SparkEntry.registry.find(_.name == name).getOrElse(
      sys.error(s"no such query: $name"))
    Materialize.scope(q.run(spark, dir).count()) // warm up (codegen, page cache)
    def ns[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e6, r)
    }
    for (i <- 1 to 3) Materialize.scope {
      val (tBuild, df) = ns(q.run(spark, dir))
      val (tPlan, _) = ns(df.queryExecution.executedPlan)
      val (tExec, n) = ns(df.count())
      println(f"$name iter$i build=$tBuild%7.1fms optimize+plan=$tPlan%7.1fms execute=$tExec%7.1fms rows=$n")
    }
    // decomposition pass: count jobs + completed stages for one warm run.
    // (query CONSTRUCTION can itself launch jobs — eager-contract
    // operators collect boundary literals — so the listener wraps the
    // whole run-and-count, not just the final action.)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long)]()
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        { nJobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        stages.add((si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks, dur))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = Materialize.scope(q.run(spark, dir).count())
    val wallMs = (System.nanoTime() - t0) / 1e6
    // the listener bus drains asynchronously; a short settle keeps the
    // counts complete without reaching into private Spark API
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val st = stages.asScala.toSeq.sortBy(-_._4)
    val stageSum = st.map(_._4).filter(_ > 0).sum
    println(f"DECOMP $name wall=$wallMs%.0fms rows=$rows jobs=${nJobs.get}%d " +
      f"stages=${st.size}%d stage_ms_sum=$stageSum%d " +
      f"non_stage_ms=${wallMs - stageSum}%.0f")
    st.foreach { case (id, nm, nt, d) =>
      println(f"  stage $id%5d $d%6dms tasks=$nt%4d  $nm")
    }
  }
}
