package fpbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.fpm.{FPGrowthModel, ItemGroups}
import org.apache.spark.fpbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's instrument, kept entirely outside the engine: spans
  * around each call into it, plus a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener whose events are
  * attributed to the op that was running. The bus is drained at every op
  * boundary, so each event lands on the op that caused it. Everything is
  * kept in memory; [[write]] stores the spans once the run ends. */
final class Tracer(spark: SparkSession, work: Path) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism

  import Tracer.{Span, Task}

  final class Rec {
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, submitted, completed (ms)
    val tasks = mutable.ArrayBuffer.empty[Task]
    var planMs = 0L
    val batches = mutable.ArrayBuffer.empty[(Long, Long)] // trigger ms, commit ms
    var fsBytes = 0L
    def taskS(t: Task): Double = (t.finish - t.launch) / 1e3
    def taskMaxS: Double = if (tasks.isEmpty) 0.0 else tasks.map(taskS).max
    def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val recs = mutable.Map.empty[Int, Rec]
  @volatile private var current = -1
  private var pass = -1
  private var passSpan = -1
  private var fitItems = 0
  private val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def rec(): Rec = recs.synchronized(recs.getOrElseUpdate(current, new Rec))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = rec().jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      rec().stages += ((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      rec().tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
  }
  private val queryListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = rec().planMs +=
      qe.tracker.phases.collect { case (p, s) if p != "fileListing" => s.durationMs }.sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec().batches += ((d.getOrElse("triggerExecution", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
    }
  }

  /** Bytes written to the local file system, from Hadoop's per-scheme
    * counters: the artifacts, sinks and checkpoints an op writes, by tasks
    * and the main thread alike (executors share this JVM in local mode). */
  private def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def startPass(p: Int): Unit = {
    pass = p
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    passSpan = open("pass", -1)
  }

  private def open(name: String, parent: Int): Int = {
    val s = Span(spans.size, name, pass, parent, System.currentTimeMillis(), 0L)
    spans += s
    s.id
  }

  private var fsAtBegin = 0L

  def begin(name: String): Int = {
    Bus.drain(sc)
    val id = open(name, passSpan)
    fsAtBegin = fsBytesWritten
    current = id
    id
  }

  def end(id: Int): Unit = {
    spans(id).end = System.currentTimeMillis()
    Bus.drain(sc)
    current = -1
    recs.synchronized(recs.getOrElseUpdate(id, new Rec)).fsBytes = fsBytesWritten - fsAtBegin
  }

  def fitModel(m: FPGrowthModel): Unit = fitItems = m.itemSupport.size

  def endPass(ops: Ops): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    spans(passSpan).end = System.currentTimeMillis()
    val opSpans = spans.filter(s => s.parent == passSpan).map(s => s.name -> s).toMap
    def r(name: String): Rec = opSpans.get(name).flatMap(s => recs.get(s.id)).getOrElse(new Rec)
    val all = opSpans.values.toSeq.map(s => recs.getOrElse(s.id, new Rec))
    val passS = ops.passS
    val m = mutable.LinkedHashMap.empty[String, Double]

    val baskets = r("baskets")
    m("tables.baskets_s") = ops.times.getOrElse("baskets", 0.0)
    m("tables.scan_task_max_s") =
      (0.0 +: baskets.tasks.filter(_.input > 0).map(baskets.taskS).toSeq).max

    m ++= fitPhases(r("fit"), opSpans.get("fit"), ops.times.getOrElse("fit", 0.0))
    m("fpm.rules_s") = ops.times.getOrElse("rules", 0.0)
    m("fpm.rules.count") = ops.notes.getOrElse("rules", 0.0)
    val predict = r("predict")
    val predictS = ops.times.getOrElse("predict", 0.0)
    m("fpm.predict_s") = predictS
    m("fpm.predict.rules") = ops.notes.getOrElse("rules", 0.0)
    m("fpm.predict.task_max_s") = predict.taskMaxS
    m("fpm.predict.cpu_util") = if (predictS > 0) predict.cpuS / (predictS * cores) else 0.0

    val tasks = all.flatMap(_.tasks)
    m("spark.jobs") = all.map(_.jobs).sum
    m("spark.stages") = all.map(_.stages.size).sum
    m("spark.tasks") = tasks.size
    m("spark.cpu_util") = all.map(_.cpuS).sum / (passS * cores)
    m("spark.task_max_over_wall") = all.map(_.taskMaxS).sum / passS
    m("spark.shuffle_read_mb") = tasks.map(_.shuffleRead).sum / 1e6
    m("spark.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / 1e6
    m("spark.spill_mb") = tasks.map(_.spill).sum / 1e6
    m("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    m("catalyst.plan_s") = all.map(_.planMs).sum / 1e3

    val row = "q85_v2_stream_freq"
    val q = r(s"query.$row")
    m(s"query.$row.s") = ops.times.getOrElse(s"query.$row", 0.0)
    m(s"query.$row.jobs") = q.jobs
    val batches = all.flatMap(_.batches)
    m("stream.batches") = batches.size
    m("stream.batch_s_p50") = Stats.median(batches.map(_._1 / 1e3))
    m("stream.commit_s") = batches.map(_._2).sum / 1e3
    m("fs.artifact_mb") = all.map(_.fsBytes).sum / 1e6
    // one output file per writing task
    m("fs.artifact_files") = tasks.count(_.output > 0)
    m("caches.clear_s") = ops.clearS
    m("trace.pass_s") = passS
    perPass += m.toMap
  }

  /** Splits a fit by its shuffle shape: the stage with the largest shuffle
    * read mines the groups, the one with the largest shuffle write builds
    * the conditional transactions, and everything before that is the L1
    * pass. */
  private def fitPhases(fit: Rec, span: Option[Span], fitS: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val byStage = fit.tasks.groupBy(_.stage)
    def read(s: Int) = byStage.get(s).map(_.map(_.shuffleRead).sum).getOrElse(0L)
    def written(s: Int) = byStage.get(s).map(_.map(_.shuffleWrite).sum).getOrElse(0L)
    val groups = spark.conf.get("spark.sql.shuffle.partitions").toInt
    m("fpm.groups.est_imbalance") =
      if (fitItems == 0) 0.0 else ItemGroups.loadImbalance(ItemGroups.balanced(cores, fitItems), cores)
    m("fpm.groups.partitions_hit") = (0 until cores).map { g =>
      Math.floorMod(new Murmur3Hash(Seq(Literal(g))).eval().asInstanceOf[Int], groups)
    }.distinct.size
    m("fpm.fit_s") = fitS
    m("fpm.fit.jobs") = fit.jobs
    m("fpm.fit.cpu_util") = if (fitS > 0) fit.cpuS / (fitS * cores) else 0.0
    if (fit.stages.nonEmpty && span.isDefined) {
      val mine = fit.stages.maxBy(s => read(s._1))
      val cond = fit.stages.maxBy(s => written(s._1))
      val mineTasks = byStage.getOrElse(mine._1, Nil).map(fit.taskS).toSeq
      m("fpm.l1_s") = (cond._2 - span.get.start) / 1e3
      m("fpm.condtxn_s") = (cond._3 - cond._2) / 1e3
      m("fpm.condtxn_shuffle_mb") = written(cond._1) / 1e6
      m("fpm.mine_s") = (mine._3 - mine._2) / 1e3
      m("fpm.mine.task_max_s") = mineTasks.max
      m("fpm.mine.task_p50_s") = Stats.median(mineTasks)
      m("fpm.mine.task_max_over_mean") = mineTasks.max / (mineTasks.sum / mineTasks.size)
      m("fpm.mine.task_max_share") = mineTasks.max / fitS
      m("fpm.mine.tasks_busy") = byStage.getOrElse(mine._1, Nil).count(_.shuffleRead > 0)
      m("fpm.mine.tasks") = mineTasks.size
      for ((name, st) <- Seq("fpm.l1" -> (span.get.start, cond._2), "fpm.condtxn" -> (cond._2, cond._3),
          "fpm.mine" -> (mine._2, mine._3)))
        spans += Span(spans.size, name, pass, span.get.id, st._1, st._2)
    }
    m.toMap
  }

  /** Median of every per-layer metric over the traced passes. */
  def summary: Map[String, Double] =
    perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.flatMap(_.get(k)).toSeq)).toMap

  /** Stores every span with its self time (its length minus the part its
    * children cover) and returns the file's path. */
  def write(): String = {
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => math.min(c.end, s.end) - math.max(c.start, s.start))
      Map("id" -> s.id, "name" -> s.name, "pass" -> s.pass, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> (s.end - s.start - covered.filter(_ > 0).sum))
    }
    val f = work.resolve(s"spans-${ProcessHandle.current().pid()}.json")
    Files.writeString(f, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(rows))
    f.toString
  }
}

object Tracer {
  final case class Span(id: Int, name: String, pass: Int, parent: Int, start: Long, var end: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long, input: Long, output: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
