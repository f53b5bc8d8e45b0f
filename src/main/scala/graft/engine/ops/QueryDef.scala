package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the query registry: the query's name, its builder over
  * `(SparkSession, sfDir)`, and the DuckDB SQL that computes the same
  * rows from the same parquet tables (`None` where no SQL can: the row
  * is then checked another way, see `tools/check.py`). Each module lists
  * its rows once, in `defs`; [[graft.SparkEntry]] joins them.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
