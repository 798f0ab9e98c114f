package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is registered in [[registry]]
  * with a Spark implementation and (when SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {

  val registry: Seq[Q] =
    _root_.graft.queries.CoreQueries.qs ++
    _root_.graft.queries.FunctionQueries.qs ++
    _root_.graft.queries.TextQueries.qs ++
    _root_.graft.queries.MarkupQueries.qs ++
    _root_.graft.queries.VectorQueries.qs ++
    _root_.graft.queries.CurationQueries.qs ++
    _root_.graft.queries.UrlQueries.qs ++
    _root_.graft.queries.CorpusQueries.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "q_a2_geo_rollup").get
      .run(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // A duplicate name would silently SHADOW the earlier query in this map
    // (and its oracle) — the earlier operator would vanish from the
    // correctness gate with every row still green. Fail loudly instead.
    val dups = registry.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names in registry: ${dups.mkString(", ")}")
    ListMap(registry.map(q => q.name -> q.run): _*)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the tables of `sfDir`. Omitted for non-SQL-expressible ops. An oracle
    * that reads files its query wrote gets their dir for `sfDir`.
    */
  def oracleSql(sfDir: String): Map[String, String] = {
    val key = Fixtures.datasetKey(sfDir)
    ListMap(registry.flatMap(q => q.oracle.map(o =>
      q.name -> o.trim.replace(graft.queries.CoreQueries.DatasetKeyToken, key))): _*)
  }
}
