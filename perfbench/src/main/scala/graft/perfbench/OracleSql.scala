package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of every `query_mix` query to a JSON
  * file, for perfbench/record_oracle.py. Usage: OracleSql OUT.json */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val doc = Json.obj(new QueryMix().queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q))): _*)
    Files.write(Paths.get(args(0)), doc.getBytes("UTF-8"))
  }
}
