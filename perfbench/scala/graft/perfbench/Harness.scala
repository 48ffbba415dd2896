package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSupport

/** Benchmark harness: one JVM runs one workload for a plan written by
  * `perfbench/run.py`, then writes `result.json` (and, traced,
  * `spans.jsonl`) into the plan's run directory.
  *
  * A run is one cold pass, the shape of a batch job: the JVM is fresh,
  * the input is a fresh copy of what the runner generated, and every
  * layout the pass needs is built inside it, so JIT warm-up and
  * first-time code generation fall inside the timed work. Every timed
  * call materializes its whole result (`noop` sink or `collect`); a call
  * that throws is recorded as a failure and never as a time. The outputs
  * the checks need are written after the timed calls (medallion's lake is
  * itself that output).
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Set-ups repeated after the pass (a new session and a fresh copy of
    * the input), so the set-up figure is a median. */
  val SetupRepeats = 21

  /** Arguments: run directory, workload, cpus. The session starts while
    * the runner is still generating the input; the harness then waits
    * for `<run directory>/plan.json`. */
  def main(args: Array[String]): Unit = {
    val Array(runDir, workload, cpusArg) = args
    val cpus = cpusArg.toInt
    // the engine keeps its layouts in a machine-wide scratch directory;
    // every entry this run creates there is removed when the JVM exits,
    // also when the runner stops it (SIGTERM) at its deadline
    val scratch = new File(SparkSupport.scratchDir)
    val scratchBefore = listNames(scratch)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      (listNames(scratch) -- scratchBefore).foreach(n =>
        deleteTree(new File(scratch, n).toPath))))
    var spark: SparkSession = null
    def newSession(): Unit = {
      if (spark != null) spark.stop()
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$runDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      if (workload == "medallion") b.config("spark.sql.caseSensitive", "true")
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
    }
    newSession()
    val planFile = new File(runDir, "plan.json")
    val giveUp = System.nanoTime() + 120000000000L
    while (!planFile.isFile) {
      require(System.nanoTime() < giveUp, s"no plan at $planFile")
      Thread.sleep(20)
    }
    val plan = mapper.readTree(planFile)
    val traced = plan.get("trace").asBoolean
    val master = Paths.get(plan.get("input_dir").asText)
    val out = mutable.LinkedHashMap[String, Any]()
    val rec = new PassRecord(traced)
    val processStartNs = plan.get("process_start_ms").asLong * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    try {
      val listener = new PhaseListener
      if (traced) spark.sparkContext.addSparkListener(listener)
      val passDir = s"$runDir/pass"
      val input = s"$passDir/input"
      copyTree(master, Paths.get(input))
      val layoutNanos0 = SparkSupport.layoutBuildNanos.get()
      val scratch0 = listNames(scratch)
      Trace.start(traced)
      // process start to the first timed call, input generation included
      val firstSetupS = (System.nanoTime() - processStartNs) / 1e9
      workload match {
        case "medallion" => MedallionWorkload.run(spark, plan, input, passDir, rec)
        case _ => QueryWorkload.run(spark, plan, input, rec)
      }
      Trace.stop()
      org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext)
      val newLayouts = listNames(scratch) -- scratch0
      rec.extra("layout_build_s") =
        (SparkSupport.layoutBuildNanos.get() - layoutNanos0) / 1e9
      rec.extra("layout_count") = newLayouts.size
      rec.extra("layout_bytes") =
        newLayouts.toSeq.map(n => treeBytes(new File(scratch, n).toPath)).sum
      rec.extra("spark") = listener.summary()
      rec.extra("spark_phases") = listener.phases()
      if (workload != "medallion")
        QueryWorkload.writeResults(spark, plan, input, rec, s"$runDir/results")
      out("pass") = rec.toMap
      out("first_setup_s") = firstSetupS
      out("setups") = firstSetupS +: (1 to SetupRepeats).map { k =>
        spark.stop()   // tearing the last session down is not set-up
        val t0 = System.nanoTime()
        newSession()
        copyTree(master, Paths.get(s"$runDir/setup$k"))
        (System.nanoTime() - t0) / 1e9
      }
      if (traced) {
        out("floors") = Floors.measure(spark)
        out("trace_overhead_frac") = Floors.tracingOverhead(spark)
        // the kernels are curation's layer; the other workloads skip them
        // to stay within the run's time budget
        if (workload == "curation")
          out("kernels") = Kernels.measure(spark, plan.get("seed").asLong)
      }
      out("spark_version") = spark.version
      out("peak_rss_kb") = peakRssKb()
      out("status") = "ok"
    } catch {
      case e: Throwable =>
        out("status") = "error"
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
        out("pass") = rec.toMap
        e.printStackTrace()
    } finally {
      Trace.write(Paths.get(runDir, "spans.jsonl"), plan.get("run_id").asText)
      mapper.writeValue(new File(runDir, "result.json"), out.toMap)
      if (spark != null) spark.stop()
    }
    if (out("status") != "ok") sys.exit(1)
  }

  def listNames(d: File): Set[String] =
    Option(d.list()).map(_.toSet).getOrElse(Set.empty)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Time `body`; returns seconds. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def stringArray(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq
}

/** What the pass measured: timed operations (kind, name, seconds), failed
  * operations (name, message) and workload-specific extras. */
final class PassRecord(val traced: Boolean) {
  val ops = mutable.ArrayBuffer[(String, String, Double)]()   // (kind, name, s)
  val failures = mutable.ArrayBuffer[(String, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()

  /** Run one timed operation under `phase`; an exception is a failure. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    val sc = SparkSession.active.sparkContext
    sc.setLocalProperty(PhaseListener.Key, s"$kind:$name")
    try {
      val t0 = System.nanoTime()
      Trace.span(s"op.$name") { body }
      val dt = (System.nanoTime() - t0) / 1e9
      ops += ((kind, name, dt))
      System.err.println(f"perfbench: $name%s $dt%.3f s")
      true
    } catch {
      case e: Throwable =>
        failures += ((name, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        false
    } finally sc.setLocalProperty(PhaseListener.Key, null)
  }

  def toMap: Map[String, Any] = Map(
    "traced" -> traced,
    "ops" -> ops.map { case (k, n, s) => Map("kind" -> k, "name" -> n, "s" -> s) }.toSeq,
    "failures" -> failures.map { case (n, m) => Map("name" -> n, "error" -> m) }.toSeq,
    "extra" -> extra.toMap)
}
