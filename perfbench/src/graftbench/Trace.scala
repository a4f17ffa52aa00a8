package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call the benchmark makes into the engine. `layer` is where
  * jobs that no engine source file claims are charged (see [[Recorder]]).
  */
final case class Span(id: Int, name: String, parent: Int, phase: String,
    layer: String, start: Long, var end: Long = 0L)

/** Per-job record: what ran (layer, span) and what it cost. */
final class JobRec(val id: Int, val span: Int, val layer: String,
    val start: Long, val callSite: String) {
  var end: Long = 0L
  var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  var bytesWritten = 0L; var recordsWritten = 0L; var tasks = 0
}

object Layers {
  val all: Seq[String] = Seq("core", "silver", "features.builder",
    "features.table", "labels", "train.training_set", "train.trainer",
    "train.model_store", "score.scorer", "score.merge", "pipeline", "queries")

  /** The layer of one stack frame's class, if the frame is engine code. */
  private def ofClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.") || cls.startsWith("graftbench.")) None
    else {
      val rest = cls.stripPrefix("graft.")
      Some(
        if (rest.startsWith("core.")) "core"
        else if (rest.startsWith("silver.")) "silver"
        else if (rest.startsWith("features.FeatureTable")) "features.table"
        else if (rest.startsWith("features.")) "features.builder"
        else if (rest.startsWith("labels.")) "labels"
        else if (rest.startsWith("train.TrainingSetBuilder") ||
          rest.startsWith("train.AsOfLookup")) "train.training_set"
        else if (rest.startsWith("train.ModelStore")) "train.model_store"
        else if (rest.startsWith("train.")) "train.trainer"
        else if (rest.startsWith("score.MergeWriter")) "score.merge"
        else if (rest.startsWith("score.")) "score.scorer"
        else if (rest.startsWith("pipeline.")) "pipeline"
        else "queries")
    }

  /** Charge a job to the engine layer whose source launched it: the
    * innermost engine frame of the job's call site. MLlib frames with no
    * engine frame above them (TrainValidationSplit's worker threads) are
    * the trainer's. None when the call site names no layer.
    */
  def ofCallSite(callSite: String): Option[String] = {
    val classes = callSite.split('\n').iterator.map(_.trim)
      .map(f => f.takeWhile(_ != '(')).map(f => f.take(math.max(0, f.lastIndexOf('.'))))
      .takeWhile(c => !c.startsWith("graftbench.")).toSeq
    classes.iterator.flatMap(ofClass).nextOption()
      .orElse(if (classes.exists(_.startsWith("org.apache.spark.ml."))) Some("train.trainer")
        else None)
  }
}

/** Listener plus span stack. Always counts task CPU per span (the
  * `op_cpu_s` metric needs it); with `traced` it also keeps every job.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) extends SparkListener {
  val runId: String = java.util.UUID.randomUUID().toString
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val spanCpu = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  @volatile var failedTasks = 0
  @volatile var retriedStages = 0

  def current: Span = stack.head

  def span[A](name: String, phase: String, layer: String)(f: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      phase, layer, System.nanoTime())
    spans.synchronized(spans += s)
    val saved = sc.getLocalProperty("graftbench.span")
    stack = s :: stack
    sc.setLocalProperty("graftbench.span", s.id.toString)
    try f finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (stack.size < 3 && !name.contains(':'))
        System.err.println(f"[perfbench] span $name%-16s ${(s.end - s.start) / 1e9}%8.2f s")
      sc.setLocalProperty("graftbench.span", saved)
    }
  }

  /** Task CPU of the span and every span nested in it, in seconds. */
  def cpuSeconds(root: Span): Double = {
    drain()
    var total = 0L
    val ids = descendants(root)
    spanCpu.synchronized { ids.foreach(i => total += spanCpu(i)) }
    total / 1e9
  }

  def descendants(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id)).toSeq
    walk(root.id).toSet
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("graftbench.span")))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = spanOf(e.properties)
    e.stageIds.foreach(id => stageSpan.synchronized(stageSpan(id) = sp))
    if (traced) {
      val result = e.stageInfos.maxByOption(_.stageId)
      val site = result.map(_.details).getOrElse("")
      val fallback = spans.synchronized(spans.lift(sp)).map(_.layer).getOrElse("bench")
      val rec = new JobRec(e.jobId, sp, Layers.ofCallSite(site).getOrElse(fallback),
        e.time, site.split('\n').headOption.getOrElse(""))
      jobs.synchronized(jobs(e.jobId) = rec)
      e.stageIds.foreach(id => stageJob.synchronized(stageJob(id) = rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced) jobs.synchronized(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0) retriedStages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m == null) return
    val sp = stageSpan.synchronized(stageSpan.getOrElse(e.stageId, -1))
    spanCpu.synchronized(spanCpu(sp) += m.executorCpuTime)
    if (traced) stageJob.synchronized(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Seconds of the span's wall time during which no job of the run was
    * running: planning, codegen, driver-side collects and file moves.
    */
  def driverSeconds(s: Span): Double = {
    val lo = s.start / 1000000L; val hi = s.end / 1000000L
    // job times are epoch millis; spans are nanoTime — shift by the offset
    val off = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val iv = jobs.synchronized(jobs.values.toSeq)
      .map(j => (math.max(j.start, lo + off), math.min(j.end, hi + off)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (hi - lo - covered) / 1000.0)
  }
}

/** Largest heap occupancy after any garbage collection while armed, read
  * from the JVM's GC notifications.
  */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def arm(): Unit = { peak = 0L; armed = true }

  /** Stop watching; one collection at the end guarantees a sample. */
  def disarm(): Double = {
    System.gc()
    Thread.sleep(200)
    armed = false
    peak / (1024.0 * 1024.0)
  }
}
