package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of driver time spent in one call into a layer. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startMs: Double, endMs: Double, sampled: Boolean = false) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def contains(t: Double): Boolean = t >= startMs && t < endMs
}

/** Per-layer counters, filled only by a traced run. */
final class LayerCounters {
  var busyS = 0.0
  var jobCoveredS = 0.0
  var planS = 0.0
  var jobs = 0
  var taskCpuS = 0.0
  var shuffleMb = 0.0
  def driverS: Double = math.max(0.0, busyS - jobCoveredS)
}

/** Tracing that lives entirely in the benchmark process: spans around
  * the harness's own calls, a SparkListener that keeps job intervals
  * and task metrics per job group, and a QueryExecutionListener that
  * keeps the analysis/optimization/planning phase times. Spans are kept
  * in memory and written when the run ends.
  *
  * Inside `CxcPipeline.run` the four stages (report, audit, analytics,
  * KPIs) are not separate calls the harness can wrap, so a traced run
  * samples the client thread's stack every `SampleMs` and charges each
  * sample interval to the innermost stage object on the stack.
  */
final class Trace(spark: SparkSession, val runId: String) {
  private val SampleMs = 5L
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  private final case class Job(group: String, startMs: Double, var endMs: Double,
      var cpuS: Double = 0.0, var shuffleBytes: Long = 0L)
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private final case class Plan(startMs: Double, seconds: Double)
  private val plans = mutable.ArrayBuffer[Plan]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = Job(if (group == null) "" else group, e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.cpuS += m.executorCpuTime / 1e9
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans += Plan(phases.map(_.startTimeMs).min.toDouble,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def now: Double = System.nanoTime() / 1e6 - Trace.nanoOffsetMs

  private var open: List[Int] = Nil

  /** Run `f` as one span of `layer`, nested under the span open on the
    * client thread; its Spark jobs carry the span id as job group.
    * `stages` turns on stack sampling (see class doc).
    */
  def span[A](layer: String, op: String, stages: Seq[(String, String)] = Nil)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val sc = spark.sparkContext
    sc.setJobGroup(s"span-$id", s"$layer $op")
    val sampler = if (stages.nonEmpty) Some(new Sampler(Thread.currentThread(), stages)) else None
    sampler.foreach(_.start())
    val t0 = now
    try f
    finally {
      val t1 = now
      sampler.foreach { s =>
        s.halt()
        s.segments(t0, t1).foreach { case (name, a, b) =>
          synchronized { nextId += 1; spans += Span(nextId, id, name, op, a, b, sampled = true) }
        }
      }
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", s"$layer $op")
        case None => sc.clearJobGroup()
      }
      synchronized(spans += Span(id, parent, layer, op, t0, t1))
    }
  }

  /** Stack sampler for one call: which of `stages` (object-name
    * fragment → layer) is innermost on the client thread, every
    * SampleMs.
    */
  private final class Sampler(target: Thread, stages: Seq[(String, String)]) extends Thread {
    setDaemon(true)
    @volatile private var running = true
    private val samples = mutable.ArrayBuffer[(Double, String)]()
    override def run(): Unit =
      while (running) {
        val frames = target.getStackTrace
        val hit = frames.iterator.map(_.getClassName)
          .flatMap(c => stages.collectFirst { case (frag, layer) if c.contains(frag) => layer })
          .nextOption()
        hit.foreach(l => samples.synchronized(samples += (now -> l)))
        Thread.sleep(SampleMs)
      }
    def halt(): Unit = { running = false; join() }
    /** Consecutive same-layer samples merged into intervals; time before
      * the first sample goes to the first layer sampled.
      */
    def segments(t0: Double, t1: Double): Seq[(String, Double, Double)] = {
      val s = samples.synchronized(samples.toVector)
      if (s.isEmpty) return Seq((stages.head._2, t0, t1))
      val out = mutable.ArrayBuffer[(String, Double, Double)]()
      var (cur, from) = (s.head._2, t0)
      s.tail.foreach { case (t, l) =>
        if (l != cur) { out += ((cur, from, t)); cur = l; from = t }
      }
      out += ((cur, from, t1))
      out.toSeq
    }
  }

  /** Block until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.sortBy(_.startMs).toSeq)

  /** Counters per layer. Each span contributes its self time (its
    * duration minus its children's). Jobs are charged to the span that
    * set their group, or — inside a sampled span — to the sampled
    * segment their start falls in; plan phases to the innermost span
    * holding their start time.
    */
  def layers(): Map[String, LayerCounters] = synchronized {
    val out = mutable.HashMap[String, LayerCounters]()
    def c(l: String) = out.getOrElseUpdate(l, new LayerCounters)
    val children = spans.groupBy(_.parent)
    val sampledParents = spans.filter(_.sampled).map(_.parent).toSet
    val nodes = spans.filterNot(s => sampledParents(s.id))
    // a job's accounting node: its group's span, or that span's sampled
    // segment holding the job's start
    val jobNode: Map[Int, Span] = jobs.toSeq.flatMap { case (jid, j) =>
      j.group.stripPrefix("span-").toIntOption.flatMap { g =>
        if (sampledParents(g))
          children(g).find(_.contains(j.startMs)).orElse(children(g).lastOption)
        else nodes.find(_.id == g)
      }.map(jid -> _)
    }.toMap
    nodes.foreach { s =>
      val k = c(s.name)
      k.busyS += s.seconds - children.getOrElse(s.id, Nil).filterNot(_.sampled).map(_.seconds).sum
      val mine = jobs.toSeq.filter { case (jid, _) => jobNode.get(jid).exists(_.id == s.id) }.map(_._2)
      k.jobs += mine.size
      k.taskCpuS += mine.map(_.cpuS).sum
      k.shuffleMb += mine.map(_.shuffleBytes).sum / 1048576.0
      // union of the jobs' intervals, clipped to the span
      var covered = 0.0
      var (a0, b0) = (0.0, -1.0)
      mine.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (a > b0) { if (b0 > a0) covered += b0 - a0; a0 = a; b0 = b }
          else b0 = math.max(b0, b)
        }
      if (b0 > a0) covered += b0 - a0
      k.jobCoveredS += covered / 1000.0
    }
    plans.foreach { p =>
      nodes.filter(_.contains(p.startMs)).sortBy(_.seconds).headOption
        .foreach(s => c(s.name).planS += p.seconds)
    }
    out.toMap
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  /** nanoTime offset that puts span times on the epoch-ms clock the
    * listener events use.
    */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble
}
