package perfbench

import graft.{Graft, GraftSession}
import org.apache.spark.sql.SparkSession

/** One workload: fresh state per set-up, a timed closed loop over it,
  * then end-of-run ops and correctness checks. */
trait Workload {
  type State
  /** Untimed, checked work after the set-ups and before anything is
    * timed, so that JIT compilation and code generation are done. It may
    * advance `s`, the state the timed loop then continues on. */
  def prime(s: State): Unit
  /** Untimed: one small set-up, so that the timed set-ups run on
    * compiled code. */
  def warmUp(): Unit
  def setup(rep: Int): State
  /** Runs until `seconds` pass or `maxOps` units (ops, or rounds) are
    * done; returns the units done. */
  def measure(s: State, rec: Recorder, seconds: Double, maxOps: Int): Int
  /** End-of-run ops and checks; returns workload-level per-layer values. */
  def finish(s: State, rec: Recorder): Map[String, Double]
}

object Layers {
  /** Times the catalog's part of a read: the manifest load and the
    * DataFrame over its data dirs. Traced runs only. */
  def catalogProbe(rec: Recorder, g: Graft, table: String): Unit = rec.span("catalog.read") {
    val m = g.catalog.currentManifest(table)
    g.catalog.readManifest(m)
    rec.gauge("catalog.data_dirs_per_read", m.dataDirs.size.toDouble)
    rec.gauge("catalog.manifest_versions", m.version.toDouble)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"not a number: $d")
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Process-level measurements: CPU, peak RSS, steal, a calibration loop. */
object Env {
  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
  /** (steal ticks, all ticks) from /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
  /** A fixed pure-JVM loop; its time labels a slow or noisy machine. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0L
    while (i < 50000000L) { x = Orders.mix(x + i); i += 1 }
    if (x == 42) println("") // keeps the loop's result live
    (System.nanoTime() - t0) / 1e6
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, record: String)

object Main {
  val SetupReps = 3
  private val t0 = System.nanoTime()
  /** Progress on standard error, with seconds since the JVM started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t") },
      need("work"), need("out"), need("record"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // half the machine's cores: run.py caps the JVM's processor count
    val cpus = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cpus]"
    val spark = GraftSession.builder(master, cpus.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try {
      val (metrics, rec, extra) = run(spark, a, cpus, master)
      val result = Json.obj(Seq("correct" -> "true", "attempted" -> rec.attempted.toString,
        "failed" -> rec.failed.toString, "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.record), extra)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), result + "\n")
      0
    } catch {
      case m: Mismatch =>
        System.err.println(s"[perfbench] WRONG ANSWER: ${m.getMessage}")
        3
    } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, cpus: Int, master: String)
      : (Seq[(String, (Double, String))], Recorder, String) = {
    val w: Workload = a.workload match {
      case "mutate" => new Mutate(spark, a.work, a.seed)
      case "curate" => new Curate(spark, a.work, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("session up")
    val calib0 = Env.calibMs()
    val ticks0 = Env.cpuTicks
    w.warmUp()
    phase("warmed up")
    val setups = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = w.setup(i)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val setupS = Stats.median(setups.map(_._2))
    phase("set up")
    val timed = if (a.trace) setups(1)._1 else setups.last._1
    w.prime(timed)
    phase("primed")
    val header = Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "nproc" -> sys.props.getOrElse("perfbench.nproc", cpus.toString),
      "master" -> Json.str(master),
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")))
    if (!a.trace) {
      val rec = new Recorder(spark, traced = false)
      collectHeap()
      val cpu0 = Env.cpuNs
      w.measure(timed, rec, a.seconds, Int.MaxValue)
      val measured = rec.allSamples
      val cpuMs = (Env.cpuNs - cpu0) / 1e6
      phase("measured")
      w.finish(timed, rec)
      phase("finished")
      val ops = measured.size
      Check.that("no op completed", ops > 0)
      val (pct, tail) = Stats.tail(measured)
      val metrics = Seq(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (ops / (measured.sum / 1000), "1/s"),
        "cpu_per_op_ms" -> (cpuMs / ops, "ms"),
        "peak_rss_mb" -> (Env.peakRssMb, "MB"))
      val extra = Json.obj(header ++ Seq(
        "op_p50_ms" -> Json.num(Stats.median(measured)),
        "op_tail_ms" -> Json.num(tail), "tail_percentile" -> Json.num(pct),
        "samples" -> ops.toString,
        "setup_s_each" -> setups.map(x => Json.num(x._2)).mkString("[", ", ", "]"),
        "env.calib_ms" -> Json.num((calib0 + Env.calibMs()) / 2),
        "env.steal_frac" -> Json.num(steal(ticks0)),
        "p50_ms_by_kind" -> Json.obj(rec.latencies.toSeq.map { case (k, v) =>
          k -> Json.num(Stats.median(v.toSeq)) })))
      (metrics, rec, extra)
    } else {
      // Same seed twice on two fresh set-ups: untraced, then traced for the
      // same number of units; the time difference is the tracing overhead.
      val plain = new Recorder(spark, traced = false)
      collectHeap()
      val units = w.measure(timed, plain, a.seconds / 2, Int.MaxValue)
      val rec = new Recorder(spark, traced = true)
      collectHeap()
      w.measure(setups(2)._1, rec, Double.PositiveInfinity, units)
      val overhead = rec.allSamples.sum / plain.allSamples.sum - 1
      val extras = w.finish(setups(2)._1, rec)
      rec.close()
      val calib = (calib0 + Env.calibMs()) / 2
      val metrics = Report.perLayer(rec, extras) ++ Seq(
        "env.steal_frac" -> (steal(ticks0), "frac"),
        "env.calib_ms" -> (calib, "ms"),
        "trace.overhead_frac" -> (overhead, "frac"))
      val spans = rec.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
      val extra = Json.obj(header ++ Seq(
        "units" -> units.toString,
        "self_ms" -> Json.obj(rec.selfMs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> spans.mkString("[", ",\n", "]")))
      (metrics, rec, extra)
    }
  }

  /** Start a timed loop on a collected heap: the set-ups and the prime
    * leave garbage whose full collection would otherwise land on whichever
    * op runs when the old generation fills. */
  private def collectHeap(): Unit = { System.gc(); System.gc() }

  private def steal(t0: (Long, Long)): Double = {
    val t1 = Env.cpuTicks
    val all = t1._2 - t0._2
    if (all <= 0) 0.0 else (t1._1 - t0._1).toDouble / all
  }
}
