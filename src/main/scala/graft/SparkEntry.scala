package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.engine.ops._

/** Driver contract (SURVEY.md §7).
  *
  * The query registry (SURVEY.md §2.B) is the concatenation of every
  * module's `defs`: each [[QueryDef]] names one query once, with its
  * `(SparkSession, sfDir) => DataFrame` builder and, when it has one,
  * its DuckDB oracle SQL. A name registered twice fails this object's
  * initialization, naming the name.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggGroup(spark, "/root/testdata/sf0.001")

  /** `defs` unchanged, or an error naming each name that repeats. */
  private[graft] def requireUnique(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    defs
  }

  private val defs: Seq[QueryDef] = requireUnique(Seq(
    Relational.defs, Relational2.defs, Relational3.defs, Relational4.defs,
    Relational5.defs, Relational6.defs, Relational7.defs, Relational8.defs,
    Relational9.defs, Relational10.defs, Relational11.defs, Relational12.defs,
    Relational13.defs, Relational14.defs, Relational15.defs, CdcOps.defs,
    StreamOps.defs, TextOps.defs, DedupOps.defs, SimOps.defs, PipelineOps.defs,
    graft.engine.multimodal.Multimodal.defs).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
