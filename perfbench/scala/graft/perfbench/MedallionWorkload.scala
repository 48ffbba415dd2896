package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{Bronze, Gold, LayerPaths, Medallion, Schemas}
import graft.sources.{DeltaBridge, TxLog}

/** `medallion`: the paper's quarterly job over staged FDIC/NCUA feeds —
  * one refresh (bronze append, silver rebuild, the four gold tables
  * published through TxLog and exported as Delta logs) followed by a
  * consumer phase on the published gold: partition-pruned reads,
  * full-table aggregates and narrow restatements. */
object MedallionWorkload {
  val Directory = "institution_directory_by_type"
  val Assets = "assets_deposits_by_state"
  val WideAssets = "quarterly_assets_table"
  val WideDeposits = "quarterly_deposits_table"

  def run(spark: SparkSession, plan: JsonNode, input: String, iterDir: String,
          rec: PassRecord): Unit = {
    val p = plan.get("medallion")
    val lake = LayerPaths(s"$iterDir/lake")
    val gold = (t: String) => lake.gold(t)
    val published = scala.collection.mutable.ArrayBuffer[(String, Int)]()

    def publish(table: String, df: org.apache.spark.sql.DataFrame,
                partitionCols: Seq[String]): Unit = {
      val v = Trace.span("txlog.publish") {
        if (partitionCols.isEmpty) TxLog.overwrite(spark, df, gold(table))
        else TxLog.overwritePartitioned(spark, df, gold(table), partitionCols)
      }
      Trace.span("deltabridge.export") { DeltaBridge.exportLog(spark, gold(table)) }
      published += ((table, v))
    }

    val refreshed = rec.op("refresh", "refresh") {
      Trace.span("pipeline.bronze") {
        Seq("institutions" -> Schemas.bankInstitutionFields,
          "financials" -> Schemas.bankFinancialFields).foreach { case (t, fields) =>
          Bronze.appendParquet(
            Bronze.readStagedFdicJson(spark, s"$input/fdic/$t", fields), lake.bronze(t))
        }
        Seq("foicu", "fs220", "fs220d").foreach { t =>
          Bronze.appendParquet(Bronze.readNcuaCsv(spark, s"$input/ncua/$t"), lake.bronze(t))
        }
      }
      Trace.span("pipeline.silver") {
        Medallion.updateSilverLayer(spark, lake, spark.sparkContext.defaultParallelism)
      }
      val silver = Medallion.readSilver(spark, lake).cache()
      try {
        publish(Directory, Gold.institutionDirectoryByType(silver),
          Seq("institution_type", "state"))
        publish(Assets, Gold.assetsDepositsByState(silver), Seq("year", "quarter", "state"))
        publish(WideAssets, Gold.quarterlyWide(silver, "assets_total"), Nil)
        publish(WideDeposits, Gold.quarterlyWide(silver, "deposits_total"), Nil)
      } finally silver.unpersist()
    }
    if (!refreshed) return
    if (rec.traced) {
      rec.extra("silver_rows") = Medallion.readSilver(spark, lake).count()
      rec.extra("publishes") =
        published.map { case (t, v) => commitStats(spark, gold(t), v) }.toSeq
    }

    // consumer phase: pruned reads of one partition slice each
    val reads = p.get("reads").elements().asScala.toSeq.zipWithIndex.map { case (r, i) =>
      val filter = r.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      var df: org.apache.spark.sql.DataFrame = null
      val ok = rec.op("read", s"read$i") {
        df = Trace.span("deltabridge.replay") {
          DeltaBridge.read(spark, gold(Assets), None, filter)
        }
        Harness.noop(df)
      }
      if (ok) Map("filter" -> filter, "rows" -> df.count(),
        "files_read" -> df.inputFiles.length,
        "live_files" -> TxLog.liveFiles(gold(Assets)).size)
      else Map("filter" -> filter)
    }
    rec.extra("reads") = reads

    // full-table aggregates
    var byState: Array[Row] = Array.empty
    rec.op("scan", "scan_assets") {
      val df = Trace.span("deltabridge.replay") { DeltaBridge.read(spark, gold(Assets)) }
      byState = df.groupBy("state").agg(count(lit(1)).as("n"),
        sum("assets_total").as("assets"), sum("deposits_total").as("deposits")).collect()
    }
    rec.extra("scan_assets") = byState.map(r =>
      Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_.head.toString).toSeq

    // narrow restatements, each exported so Delta readers see it
    val dml = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def restate(kind: String, table: String)(commit: => Int): Unit = {
      var v = -1
      rec.op("restatement", kind) {
        v = Trace.span(s"txlog.$kind") { commit }
        Trace.span("deltabridge.export") { DeltaBridge.exportLog(spark, gold(table)) }
      }
      if (v >= 0 && rec.traced) dml += (commitStats(spark, gold(table), v) + ("kind" -> kind))
    }
    val m = p.get("merge")
    val dirSchema = StructType(Seq(
      StructField("name", StringType), StructField("charter_number", IntegerType),
      StructField("institution_type", StringType), StructField("city", StringType),
      StructField("state", StringType), StructField("website", StringType)))
    val mergeRows = m.get("rows").elements().asScala.map { r =>
      Row(r.get(0).asText, r.get(1).asInt, r.get(2).asText, r.get(3).asText,
        r.get(4).asText, r.get(5).asText)
    }.toSeq
    restate("merge", Directory) {
      val updates = spark.createDataFrame(mergeRows.asJava, dirSchema)
      TxLog.merge(spark, updates, gold(Directory), "charter_number")
    }
    val u = p.get("update")
    restate("update", Assets) {
      TxLog.updateWhere(spark, gold(Assets),
        s"state = '${u.get("state").asText}' AND year = ${u.get("year").asInt} " +
          s"AND quarter = ${u.get("quarter").asInt}",
        Map("assets_total" -> s"assets_total + ${u.get("delta").asLong}"))
    }
    val closed = Harness.stringArray(p.get("delete").get("charters"))
    restate("delete", Assets) {
      TxLog.deleteWhere(spark, gold(Assets),
        s"charter_number IN (${closed.mkString(",")})")
    }
    if (rec.traced) {
      rec.extra("dml") = dml.toSeq
      rec.extra("log_bytes") = Seq(Directory, Assets, WideAssets, WideDeposits)
        .map(t => Harness.treeBytes(Paths.get(gold(t), "_delta_log"))).sum
    }
    rec.extra("lake_bytes") = Harness.treeBytes(Paths.get(lake.base))
  }

  /** What commit `v` of `table` did: files, bytes and rows added and
    * removed (a copy-on-write rewrite removes every file it rewrote). */
  def commitStats(spark: SparkSession, table: String, v: Int): Map[String, Any] = {
    val (add, remove) = TxLog.commitActions(table, v)
    def abs(e: String) = Paths.get(table, TxLog.entryPath(e))
    def bytes(es: Seq[String]) = es.map(e => Files.size(abs(e))).sum
    def rows(es: Seq[String]) = if (es.isEmpty) 0L
      else spark.read.parquet(es.map(abs(_).toString): _*).count()
    Map("version" -> v, "files_added" -> add.size, "files_removed" -> remove.size,
      "bytes_added" -> bytes(add), "bytes_removed" -> bytes(remove),
      "rows_added" -> rows(add), "rows_removed" -> rows(remove))
  }
}
