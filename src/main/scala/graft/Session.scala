package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains and the tests: graft's
  * extensions, AQE, UTC, no UI, spill and shuffle files under
  * SPARK_GRAFT_LOCAL_DIR, and — unless the caller overrides them — master
  * `local[cpus]` with `cpus` shuffle partitions, `cpus` taken from
  * SPARK_GRAFT_CPUS (default: the available processors). Plan dumps,
  * probes and benches therefore all run the benched config.
  */
object Session {

  /** SPARK_GRAFT_CPUS, or the available processors when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String, cpus: Int = cpus, master: Option[String] = None,
            shufflePartitions: Option[Int] = None): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .appName(appName)
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill files on tmpfs by default: a real cluster writes
      // shuffle to local SSDs, and locally tmpfs is the honest equivalent
      // (thread dumps of stalled suite runs on a virtio disk showed
      // executor threads blocked in per-shuffle-file flushes).
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every deliberate release of a local checkpoint logs "was locally
    // checkpointed ... cannot be recomputed after unpersisting" under the
    // released RDD's own class (RDD and its subclasses in this package);
    // one line per released frame would bury the log's signal
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    s
  }
}
