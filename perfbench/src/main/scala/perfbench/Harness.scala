package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A wrong answer: the run prints no result and exits nonzero. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, expected: T, actual: T): Unit =
    if (expected != actual) {
      val e = expected.toString; val a = actual.toString
      throw new Mismatch(s"$what: expected ${e.take(400)} got ${a.take(400)}")
    }
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new Mismatch(what)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n < 11) (100.0, s.last)
    else (math.floor(1000.0 * (n - 10) / n) / 10, s(n - 11))
  }
}

/** A timed call into one layer, inside op `op`; `parent` is the
  * enclosing span's id, or -1. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** Per-task totals a Spark listener collects for one op kind. */
final class SparkCounts {
  var jobs, stages, tasks, failures = 0L
  var runMs, cpuMs, waitMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputRecords, bytesWritten = 0L
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failures += o.failures
    runMs += o.runMs; cpuMs += o.cpuMs; waitMs += o.waitMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputRecords += o.inputRecords
    bytesWritten += o.bytesWritten
  }
}

/** Times every client call. Untraced it keeps only per-op latencies;
  * traced it also keeps spans around each layer call, and a Spark
  * listener and a Catalyst listener attribute jobs, tasks and planning
  * phases to the op that started them (by job group, else by time). */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  /** Latencies in ms per op kind, successful ops only. */
  val latencies = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val spans = mutable.ArrayBuffer[Span]()
  var attempted, failed = 0L
  private var opId = 0
  private var stack = List.empty[Int]
  // (op id, kind, wall start ms, wall end ms) for time-based attribution
  private val opWindows = mutable.ArrayBuffer[(Int, String, Long, Long)]()

  /** One client op: sets the job group, times it, counts a failure.
    * `verify` runs outside the timed region. */
  def op[T](kind: String)(body: => T)(verify: T => Unit): Unit = {
    opId += 1; attempted += 1
    sc.setJobGroup(s"pb|$opId|$kind", kind, interruptOnCancel = false)
    val window = synchronized {
      opWindows += ((opId, kind, System.currentTimeMillis(), Long.MaxValue))
      opWindows.size - 1
    }
    val t0 = System.nanoTime()
    val out = try Right(span(kind)(body)) catch {
      case m: Mismatch => throw m
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized { opWindows(window) = opWindows(window).copy(_4 = System.currentTimeMillis()) }
    outside("outside")
    out match {
      case Left(e) =>
        failed += 1
        System.err.println(s"[perfbench] op $kind failed: $e")
      case Right(v) =>
        latencies.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
        verify(v)
    }
  }

  /** Attribute jobs started outside any op (set-up, checks) to `what`. */
  def outside(what: String): Unit =
    sc.setJobGroup(s"pb|0|$what", what, interruptOnCancel = false)

  /** A layer call inside the current op: a span when traced. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = System.nanoTime()
      val id = synchronized {
        spans += Span(spans.size, name, stack.headOption.getOrElse(-1), opId, t0, t0)
        spans.size - 1
      }
      stack = id :: stack
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized { spans(id) = spans(id).copy(endNs = t1) }
        stack = stack.tail
      }
    }

  /** Values of a measured quantity that is not a latency. */
  val gauges = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def gauge(name: String, v: Double): Unit =
    gauges.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def samples(kind: String): Seq[Double] =
    latencies.get(kind).map(_.toSeq).getOrElse(Nil)
  def allSamples: Seq[Double] = latencies.values.flatten.toSeq

  /** Span self time per span name: duration minus the part of its
    * interval covered by child spans. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }
  def spanMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  // ---- listeners (registered only when traced)

  private val stageOwner = mutable.Map[Int, (Int, String)]() // stage -> (op, kind)
  private val stageSubmit = mutable.Map[Int, Long]()
  /** Spark counts per op kind. */
  val byKind = mutable.Map[String, SparkCounts]()
  /** Catalyst phase ms per op kind. */
  val phases = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
  @volatile private var events = 0L

  /** (op, kind) that started a job: its job group, else the op running
    * at that time (streaming queries run under their own group). */
  private def owner(props: java.util.Properties, timeMs: Long): (Int, String) = {
    val g = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("pb|")) {
      val p = g.split('|'); (p(1).toInt, p(2))
    } else byTime(timeMs)
  }
  private def byTime(timeMs: Long): (Int, String) = synchronized {
    opWindows.reverseIterator.find(w => w._3 <= timeMs && timeMs <= w._4)
      .map(w => (w._1, w._2)).getOrElse((0, "outside"))
  }
  private def counts(kind: String) = byKind.getOrElseUpdate(kind, new SparkCounts)

  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** (op, kind, wall start ms) of every job, for construction attribution. */
  private val jobStarts = mutable.ArrayBuffer[(Int, String, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      events += 1
      val o = owner(e.properties, e.time)
      jobStarts += ((o._1, o._2, e.time))
      e.stageIds.foreach(s => stageOwner(s) = o)
      counts(o._2).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Recorder.this.synchronized {
        events += 1
        stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
        val o = stageOwner.getOrElse(e.stageInfo.stageId, byTime(System.currentTimeMillis()))
        counts(o._2).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      events += 1
      val o = stageOwner.getOrElse(e.stageId, byTime(e.taskInfo.launchTime))
      val c = counts(o._2)
      c.tasks += 1
      if (e.taskInfo.failed) c.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
        c.bytesWritten += m.outputMetrics.bytesWritten
        val submit = stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)
        c.waitMs += math.max(0L, e.taskInfo.launchTime - submit)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      events += 1
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val kind = byTime(start)._2
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => phases((kind, p)) += s.durationMs.toDouble)
      }
    }
  }

  /** Jobs per op kind that started inside a `<kind>.construct` span:
    * eager work done before the op's DataFrame was returned. */
  def constructJobs: Map[String, Long] = synchronized {
    val ctor = spans.filter(_.name.endsWith(".construct"))
      .map(s => s.op -> ((s.startNs + wallOffsetNs) / 1000000L,
        (s.endNs + wallOffsetNs) / 1000000L)).toMap
    jobStarts.filter { case (op, _, t) =>
      ctor.get(op).exists { case (a, b) => a <= t && t <= b }
    }.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
  }

  if (traced) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = if (traced) {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def close(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
