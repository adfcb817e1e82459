package fpbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Caches
import graft.fpm.FPGrowthModel
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Times the ops of one pass. Every op's clock covers only the call into
  * the engine; its output is checked after the clock stops, and a throw or
  * a failed check counts the op as failed. */
final class Ops(tracer: Option[Tracer]) {
  val times = mutable.LinkedHashMap.empty[String, Double]
  val rowsPerS = mutable.LinkedHashMap.empty[String, Double]
  /** Sizes the trace reports beside the times, e.g. the rule count. */
  val notes = mutable.Map.empty[String, Double]
  var clearS = 0.0
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def op[T](name: String, check: T => Option[String], rows: Long = 0)(body: => T): T = {
    attempted += 1
    val span = tracer.map(_.begin(name))
    val t0 = System.nanoTime()
    val out =
      try body
      catch {
        case NonFatal(e) =>
          failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          throw new Ops.Aborted
      }
    val s = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.end(span.get))
    times(name) = s
    if (rows > 0) rowsPerS(name) = rows / s
    try check(out).foreach(m => failures += s"$name: $m")
    catch { case NonFatal(e) => failures += s"$name check threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
    out
  }

  /** Engine caches are swept before every pass and before each query-layer
    * row, outside any op's clock, so no memo hit is ever timed. */
  def clearCaches(): Unit = {
    val t0 = System.nanoTime()
    Caches.clearAll()
    clearS += (System.nanoTime() - t0) / 1e9
  }

  def note(key: String, value: Double): Unit = notes(key) = value

  def fitModel(m: FPGrowthModel): Unit = tracer.foreach(_.fitModel(m))

  def passS: Double = times.values.sum
}

object Ops { final class Aborted extends RuntimeException }

object Main {
  private val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workload(workloadName, Paths.get(opt("inputs")).toAbsolutePath, work)

    // Set-up, several times over: session start, loading and caching the
    // generated inputs, and one untimed, checked warm-up pass (JIT and
    // codegen).
    // The reference answers are computed once, in the first round, and
    // timed apart: they are MLlib's work, not the engine's.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(what: String): Unit = timeline(what) = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("main")
    val setupS = mutable.ArrayBuffer.empty[Double]
    var referenceS = 0.0
    val failures = mutable.ArrayBuffer.empty[String]
    var setupAttempted = 0
    var spark: SparkSession = null
    for (round <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (round == 1) mark("session")
      workload.prepare(spark)
      if (round == 1) mark("inputs")
      var refNs = 0L
      if (round == 1) {
        val r0 = System.nanoTime()
        workload.reference(spark)
        refNs = System.nanoTime() - r0
        referenceS = refNs / 1e9
        mark("reference")
      }
      val warm = new Ops(None)
      runPass(workload, spark, warm)
      setupS += (System.nanoTime() - t0 - refNs) / 1e9
      failures ++= warm.failures.map(f => s"set-up $round: $f")
      setupAttempted += warm.attempted
      mark(s"setup_$round")
    }

    // Measurement: whole cold passes until the time is up. A traced run
    // alternates untraced and traced passes, so the tracing overhead is
    // measured in the same JVM.
    val tracer = if (traced) Some(new Tracer(spark, work)) else None
    val passes = mutable.ArrayBuffer.empty[(Ops, Boolean)]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traceThis = traced && passes.size % 2 == 1
      val ops = new Ops(if (traceThis) tracer else None)
      if (traceThis) tracer.get.startPass(passes.size)
      runPass(workload, spark, ops)
      if (traceThis) tracer.get.endPass(ops)
      passes += ((ops, traceThis))
      heapMb += retainedHeapMb()
    }

    mark("measured")
    val measured = passes.filter { case (_, t) => !t }.map(_._1)
    def samples(f: Ops => Iterable[Double]) = measured.flatMap(f).toSeq
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName,
      "params" -> workload.params,
      "host" -> Map("nproc" -> cores, "cores_used" -> spark.sparkContext.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6),
      "setup_s" -> setupS.toSeq,
      "reference_s" -> referenceS,
      "pass_s" -> samples(o => Seq(o.passS)),
      "fit_s" -> samples(_.times.get("fit")),
      "rules_s" -> samples(_.times.get("rules")),
      "predict_rows_per_s" -> samples(_.rowsPerS.get("predict")),
      "retained_heap_mb" -> passes.indices.filter(i => !passes(i)._2).map(heapMb),
      "caches_clear_s" -> samples(o => Seq(o.clearS)),
      "op_s" -> measured.flatMap(_.times.keys).distinct.map(k => k -> samples(_.times.get(k))).toMap,
      "attempted" -> (setupAttempted + passes.map(_._1.attempted).sum),
      "failures" -> (failures ++ passes.flatMap(_._1.failures)).toSeq,
      "timeline_s" -> timeline,
      "oracle_rows" -> workload.oracleRows,
      "oracle_sql" -> workload.oracleRows.map(r => r -> graft.SparkEntry.oracleSql(r)).toMap)
    tracer.foreach { t =>
      val untraced = Stats.median(measured.map(_.passS).toSeq)
      val layers = t.summary
      result("per_layer") = layers ++ Map("trace.untraced_pass_s" -> untraced,
        "trace.overhead_s" -> (layers("trace.pass_s") - untraced))
      result("spans_file") = t.write()
    }
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result))
  }

  private def runPass(w: Workload, spark: SparkSession, ops: Ops): Unit = {
    ops.clearCaches()
    try w.pass(spark, ops)
    catch { case _: Ops.Aborted => }
  }

  /** Heap still in use after a full collection: leaked caches,
    * broadcasts and persisted frames show up here. Unpersisting and
    * broadcast clean-up finish asynchronously once a collection has found
    * their owners unreachable, so a second collection follows a short
    * pause; without it the samples of one run differed by 30 MB. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("fpbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
