package perfbench

/** The per-layer metrics of a traced run. Every traced run reports every
  * name below; a layer the workload never enters reads 0. */
object Report {
  /** Read metric name -> the mutate op kind it times. */
  val ReadKinds = Seq("get" -> "rw_get", "multiget" -> "rw_multiget", "range" -> "rw_range",
    "index" -> "rw_index", "sql_point" -> "rw_sql", "sql_agg" -> "rw_sql_agg")
  val WriteKinds = Seq("mutate", "increment", "check_and_mutate")
  val SnapshotKinds = Seq("create" -> "snapshot", "export" -> "export", "import" -> "import",
    "clone" -> "clone", "restore" -> "restore", "diff" -> "diff")
  val CurateGroups = Seq("dedup", "text", "similarity", "pack", "pipeline")
  val Groups = Seq("read", "sql", "write", "streaming", "snapshot", "compact") ++ CurateGroups

  def group(kind: String): Option[String] = kind match {
    case "rw_get" | "rw_multiget" | "rw_range" | "rw_index" => Some("read")
    case "rw_sql" | "rw_sql_agg" => Some("sql")
    case k if WriteKinds.contains(k) => Some("write")
    case "replicate" => Some("streaming")
    case k if SnapshotKinds.exists(_._2 == k) => Some("snapshot")
    case "minor_compact" | "major_compact" => Some("compact")
    case "outside" | "check" => None
    case q => Some(q.takeWhile(_ != '_') match { case "curation" => "pipeline"; case g => g })
  }

  def perLayer(rec: Recorder, extras: Map[String, Double]): Seq[(String, (Double, String))] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def lat(kinds: Iterable[String]) = kinds.toSeq.flatMap(rec.samples)
    val kinds = rec.latencies.keys.toSeq
    def kindsOf(g: String) = kinds.filter(k => group(k).contains(g))
    val counts = Groups.map { g =>
      val c = new SparkCounts
      rec.byKind.foreach { case (k, v) => if (group(k).contains(g)) c.add(v) }
      g -> c
    }.toMap
    val total = new SparkCounts
    counts.values.foreach(total.add)
    val ops = rec.allSamples.size.max(1)
    val ctorJobs = rec.constructJobs
    val readKinds = kindsOf("read") ++ kindsOf("sql")
    val readOps = lat(readKinds).size
    val returned = rec.gauges.get("read.rows_returned").map(_.sum).getOrElse(0.0)
    val commits = lat(kindsOf("write")).size
    val passes = math.max(1, CurateGroups.map(g => lat(kindsOf(g)).size).sum / Curate.Names.size).toDouble
    def sum(name: String) = rec.gauges.get(name).map(_.sum).getOrElse(0.0)

    val (tailPct, tail) = Stats.tail(rec.allSamples)
    Seq(
      "client.ops" -> (rec.allSamples.size.toDouble, "count"),
      "client.op_p50_ms" -> (med(rec.allSamples), "ms"),
      "client.op_tail_ms" -> (tail, "ms"),
      "client.op_tail_pct" -> (tailPct, "%"),
      "catalog.read_ms" -> (med(rec.spanMs("catalog.read")), "ms"),
      "catalog.data_dirs_per_read" -> (med(rec.gauges.getOrElse("catalog.data_dirs_per_read", Nil).toSeq), "count"),
      "catalog.manifest_versions" -> (rec.gauges.get("catalog.manifest_versions").map(_.max).getOrElse(0.0), "count"),
      "read.construct_ms" -> (med(rec.spanMs("read.construct")), "ms"),
      "read.construct_jobs" -> (readKinds.map(k => ctorJobs.getOrElse(k, 0L)).sum.toDouble / readOps.max(1), "count"),
      "read.rows_scanned_per_row_returned" -> (
        (counts("read").inputRecords + counts("sql").inputRecords) / returned.max(1), "ratio")
    ) ++ ReadKinds.map { case (n, k) =>
      s"read.$n.p50_ms" -> (med(rec.samples(k)), "ms")
    } ++ Seq(
      "sql.construct_ms" -> (med(rec.spanMs("sql.construct")), "ms")
    ) ++ Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.${p}_ms" -> (rec.phases.collect { case ((_, q), v) if q == p => v }.sum / ops, "ms")
    } ++ WriteKinds.map { k =>
      s"write.$k.p50_ms" -> (med(rec.samples(k)), "ms")
    } ++ Seq(
      "write.jobs_per_commit" -> (counts("write").jobs.toDouble / commits.max(1), "count"),
      "write.bytes_written" -> (counts("write").bytesWritten.toDouble, "bytes"),
      "write.user_bytes" -> (sum("write.user_bytes"), "bytes"),
      "write.minor_compact_ms" -> (med(rec.samples("minor_compact")), "ms"),
      "write.major_compact_ms" -> (med(rec.samples("major_compact")), "ms"),
      "write.bytes_rewritten" -> (counts("compact").bytesWritten.toDouble, "bytes"),
      "mutate.commit_p50_ms" -> (med(lat(kindsOf("write"))), "ms"),
      "mutate.commit_tail_ms" -> (if (commits == 0) 0.0 else Stats.tail(lat(kindsOf("write")))._2, "ms"),
      "mutate.rw_read_p50_ms" -> (med(lat(readKinds)), "ms"),
      "mutate.replication_lag_p50_ms" -> (extras.getOrElse("mutate.replication_lag_p50_ms", 0.0), "ms"),
      "mutate.maintenance_s" -> (lat(kindsOf("compact")).sum / 1000, "s"),
      "mutate.snapshot_lifecycle_s" -> (lat(kindsOf("snapshot")).sum / 1000, "s"),
      "mutate.bytes_stored_per_user_byte" -> (extras.getOrElse("mutate.bytes_stored_per_user_byte", 0.0), "ratio")
    ) ++ SnapshotKinds.map { case (n, k) =>
      s"snapshot.${n}_ms" -> (med(rec.samples(k)), "ms")
    } ++ Seq(
      "snapshot.export_bytes" -> (sum("snapshot.export_bytes"), "bytes"),
      "streaming.batch_ms" -> (extras.getOrElse("streaming.batch_ms", 0.0), "ms"),
      "streaming.batches" -> (extras.getOrElse("streaming.batches", 0.0), "count"),
      "streaming.rows" -> (extras.getOrElse("streaming.rows", 0.0), "count"),
      "curate.battery_s" -> (CurateGroups.map(g => lat(kindsOf(g)).sum).sum / 1000 / passes, "s")
    ) ++ CurateGroups.flatMap { g =>
      Seq(
        s"curate.$g.s" -> (lat(kindsOf(g)).sum / 1000 / passes, "s"),
        s"curate.$g.construct_s" -> (rec.spanMs(s"$g.construct").sum / 1000 / passes, "s"),
        s"curate.$g.jobs" -> (counts(g).jobs / passes, "count"))
    } ++ Seq(
      "spark.jobs" -> (total.jobs.toDouble, "count"),
      "spark.stages" -> (total.stages.toDouble, "count"),
      "spark.tasks" -> (total.tasks.toDouble, "count"),
      "spark.task_run_ms" -> (total.runMs.toDouble, "ms"),
      "spark.task_cpu_ms" -> (total.cpuMs.toDouble, "ms"),
      "spark.scheduler_wait_ms" -> (total.waitMs.toDouble, "ms"),
      "spark.shuffle_read_bytes" -> (total.shuffleRead.toDouble, "bytes"),
      "spark.shuffle_write_bytes" -> (total.shuffleWrite.toDouble, "bytes"),
      "spark.spill_bytes" -> (total.spill.toDouble, "bytes"),
      "spark.input_records" -> (total.inputRecords.toDouble, "count"),
      "spark.gc_ms" -> (total.gcMs.toDouble, "ms"),
      "spark.task_failures" -> (total.failures.toDouble, "count")
    ) ++ Groups.flatMap { g =>
      val c = counts(g)
      Seq(s"spark.$g.jobs" -> (c.jobs.toDouble, "count"),
        s"spark.$g.tasks" -> (c.tasks.toDouble, "count"),
        s"spark.$g.task_run_ms" -> (c.runMs.toDouble, "ms"))
    }
  }
}
