package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries (Queries.benchNames) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is forced
  * through the noop sink so the full plan executes (a bare count() would
  * let Catalyst prune most of the work). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)

    val qs =
      if (args.nonEmpty) Queries.all.filter(q => args.contains(q.name))
      else Queries.all.filter(_.bench)
    // Warm up EVERY query once outside the timings: each distinct plan pays
    // its own codegen compile + parquet footer reads on first execution, so
    // warming only the first query (the r01 harness) inflated every later
    // query by that fixed cost (versions_latest read 8.9s vs its true ~3s).
    // NonFatal only: swallowing OutOfMemoryError/LinkageError here would
    // leave a corrupted JVM producing misleading timed-run failures.
    qs.foreach { q =>
      try q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // THREE timed rounds, report each query's MIN — the steady-state
    // number. A single timed pass is exposed to one-off GC pauses and
    // competing load: the r02 driver pass recorded 9.5s for a query that
    // steady-states at ~2.5s in every local run (same data, same plan),
    // and the r04 pass drifted a uniform 1.2-1.35x on queries whose plans
    // had not changed — min-of-3 makes a real regression distinguishable
    // from sandbox noise. A FAILED round records None — a fast failure
    // must never beat a real run in the min, and a query with zero
    // successful rounds reports a sentinel -1 instead of a bogus
    // time-to-failure.
    // Each query is timed cache-cold: an intermediate an earlier query
    // (or round) left cached would otherwise serve the timed run.
    def timedRound(): Map[String, Option[Double]] = qs.map { q =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val ok =
        try { q.run(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          false
        }
      q.name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }.toMap
    val rounds = Seq(timedRound(), timedRound(), timedRound())
    val results = qs.map(_.name).map { n =>
      val ts = rounds.flatMap(_(n))
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }

    val qJson = results.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // total sums only successful queries — the -1 sentinel must not make
    // the headline number SMALLER when a query breaks
    val total = results.map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qJson,"sf":"$sfDir"}"""
    println(json)
    // ALSO write the contract line to a file: sbt prefixes stdout with
    // "[info] ", which a strict line parser on the driver side rejects
    // (PERF_r16 recorded now_bench_ok=false with the JSON present in the
    // tail). The file is the unambiguous channel; stdout stays for humans
    // and for any parser that strips the prefix. Best-effort — a
    // read-only cwd must not fail the bench itself.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
