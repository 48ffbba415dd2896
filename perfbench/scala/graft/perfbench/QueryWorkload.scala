package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** `operator_mix` and `curation`: one pass over a fixed list of gate
  * queries from `graft.SparkEntry.queries`, each result materialized
  * through the `noop` sink. The checks' copy of each result is written
  * afterwards, outside the timed calls. */
object QueryWorkload {
  def run(spark: SparkSession, plan: JsonNode, input: String, rec: PassRecord): Unit = {
    val all = graft.SparkEntry.queries
    Harness.stringArray(plan.get("queries")).foreach { name =>
      all.get(name) match {
        case Some(fn) => rec.op("query", name) { Harness.noop(fn(spark, input)) }
        case None => rec.failures += ((name, "not in SparkEntry.queries"))
      }
      spark.catalog.clearCache()
    }
  }

  /** Write each query that ran, with its oracle SQL, under
    * `resultsDir/<query>`; a query that throws here is a failure. */
  def writeResults(spark: SparkSession, plan: JsonNode, input: String, rec: PassRecord,
                   resultsDir: String): Unit = {
    val ran = rec.ops.map(_._2).toSet
    Harness.stringArray(plan.get("queries")).filter(ran).foreach { name =>
      try {
        graft.SparkEntry.queries(name)(spark, input).coalesce(1)
          .write.parquet(s"$resultsDir/$name")
        Files.writeString(Paths.get(resultsDir, name, "oracle.sql"),
          graft.SparkEntry.oracleSql.getOrElse(name, ""))
      } catch {
        case e: Throwable =>
          rec.failures += ((name, s"result write: ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      spark.catalog.clearCache()
    }
  }
}
