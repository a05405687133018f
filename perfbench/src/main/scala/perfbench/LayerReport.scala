package perfbench

import scala.collection.mutable

/** Per-op figures of the Spark layer and of the bench's own spans. */
private final case class OpRow(s: Sample, construct: Double, plan: Double,
    exec: Double, jobMs: Double, gap: Double, jobs: Long, tasks: Long,
    shuffle: Long)

/** Per-layer metrics and tables of a traced phase. Counts, bytes and
  * times are per pass (a full query list, or an ingest round) unless the
  * name says otherwise; latencies are medians over ops. Every name is
  * emitted on every workload, as 0 where its layer is not exercised.
  */
final class LayerReport(probe: SparkProbe, spans: Vector[Span],
    samples: Seq[Sample], oneClient: Boolean, cores: Int, fixtureMs: Double,
    streamFoldMs: Double, bytesRead: Long, passes: Double) {

  private val self = Trace.selfTimes(spans)
  private val byOp = spans.groupBy(_.op)
  private def perPass(v: Double): Double = if (passes > 0) v / passes else 0.0
  private def spanMs(name: String, ss: Iterable[Span] = spans): Double =
    ss.filter(_.name == name).map(_.dur).sum / 1e6
  private def selfMs(name: String): Double =
    spans.filter(_.name == name).map(s => self(s.id)).sum / 1e6
  private def count(name: String): Double = spans.count(_.name == name).toDouble

  private val rows: Seq[OpRow] = samples.map { s =>
    val ss = byOp.getOrElse(s.op, Vector.empty)
    val root = ss.find(_.name.startsWith("op."))
    val (lo, hi) = root.map(r => (r.start, r.end)).getOrElse((0L, 0L))
    val jobMs = Trace.covered(probe.jobIntervals(s.op), lo, hi) / 1e6
    // planning records carry no op id: they are matched by time window,
    // which is only unambiguous when one client runs one op at a time
    val plan = if (oneClient) probe.plansIn(s.startMs, s.endMs).map(_.ms).sum else 0.0
    OpRow(s, spanMs("queries.construct", ss), plan, spanMs("queries.exec", ss), jobMs,
      s.ms - jobMs, probe.opMetric(s.op, "jobs"), probe.opMetric(s.op, "tasks"),
      probe.opMetric(s.op, "shuffle_read_bytes") + probe.opMetric(s.op, "shuffle_write_bytes"))
  }
  private val jobsPerOp: Map[Long, Long] =
    probe.jobs.values.toArray(Array.empty[SparkProbe.Job]).groupBy(_.op).map { case (k, v) => k -> v.length.toLong }

  def metrics(filesLive: Long): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    val commits = samples.count(_.kind == "append").toDouble
    def c(k: String) = Counters.get(k)

    // store
    val verbs = Seq("put_if_absent", "put", "read", "list", "delete")
    verbs.foreach { v =>
      put(s"store.$v.calls", perPass(c(s"store.$v.calls")), "count")
      put(s"store.$v.ms", perPass(c(s"store.$v.ms")), "ms")
      put(s"store.$v.bytes", perPass(c(s"store.$v.bytes")), "bytes")
    }
    put("store.put_if_absent.lost", perPass(c("store.put_if_absent.lost")), "count")
    put("store.round_trips_per_commit",
      if (commits > 0) c("store.calls.append") / commits else 0, "count")

    // tx
    put("tx.begin.calls", perPass(count("tx.begin")), "count")
    put("tx.begin.self_ms", perPass(selfMs("tx.begin")), "ms")
    put("tx.commit.calls", perPass(count("tx.commit")), "count")
    put("tx.commit.self_ms", perPass(selfMs("tx.commit")), "ms")
    put("tx.commit.attempts_per_commit",
      if (count("tx.commit") > 0) c("tx.commit.log_puts") / count("tx.commit") else 0, "count")
    put("tx.commit.conflict_aborts", c("tx.commit.conflict_aborts"), "count")
    put("tx.log_entries_read", perPass(c("tx.log_entries_read")), "count")
    put("tx.checkpoints_written", perPass(c("tx.checkpoints_written")), "count")
    put("tx.checkpoint.ms", perPass(c("tx.checkpoint.ms")), "ms")

    // table
    val appendBytes = c("table.data_bytes_written.append")
    put("table.data_bytes_written", perPass(c("table.data_bytes_written")), "bytes")
    put("table.data_bytes_read", perPass(bytesRead.toDouble), "bytes")
    put("table.objects_written", perPass(c("table.objects_written")), "count")
    Seq("merge", "delete", "compact", "vacuum").foreach { k =>
      put(s"table.$k.ms", Stats.median(samples.filter(_.kind == k).map(_.ms)), "ms")
    }
    put("table.compact.bytes_rewritten", perPass(c("table.data_bytes_written.compact")), "bytes")
    put("table.files_live", filesLive.toDouble, "count")
    val reads = c("table.point_reads")
    put("table.files_read", if (reads > 0) c("table.files_read") / reads else 0, "count")
    put("table.prune_ratio", if (c("table.files_considered") > 0)
      c("table.files_read") / c("table.files_considered") else 0, "ratio")
    // `events` only: its data objects (written by appends alone) plus its
    // log and checkpoints, over the data bytes the appends wrote; the
    // `kv` rewrites are in table.compact.bytes_rewritten and table.*.ms
    put("table.write_amp", if (appendBytes > 0)
      (appendBytes + c("store.events.put.bytes") + c("store.events.put_if_absent.bytes")) / appendBytes
      else 0, "ratio")

    // scans, from executed plans
    val plans = probe.plans.toArray(Array.empty[SparkProbe.Plan]).toSeq
    put("scan.files_read", perPass(plans.map(_.files).sum.toDouble), "count")
    put("scan.bytes_read", perPass(plans.map(_.bytes).sum.toDouble), "bytes")
    put("scan.rows_read", perPass(plans.map(_.rows).sum.toDouble), "count")
    put("scan.rows_read_per_row_returned", if (c("scan.rows_returned") > 0)
      plans.map(_.rows).sum / c("scan.rows_returned") else 0, "ratio")

    // SQL / DSv2 and sources
    Seq("sql", "sources").foreach { f =>
      val rs = rows.filter(r => QueryWorkload.family(r.s.name) == f)
      put(s"$f.wall_ms", Stats.median(rs.map(_.s.ms)), "ms")
      put(s"$f.plan_ms", Stats.median(rs.map(_.plan)), "ms")
      put(s"$f.exec_ms", Stats.median(rs.map(_.exec)), "ms")
    }

    // query families
    QueryWorkload.AnalyticsFamilies.foreach { f =>
      val rs = rows.filter(r => r.s.kind == "query" && QueryWorkload.family(r.s.name) == f)
      put(s"queries.$f.wall_ms", perPass(rs.map(_.s.ms).sum), "ms")
      put(s"queries.$f.shuffle_bytes", perPass(rs.map(_.shuffle).sum.toDouble), "bytes")
    }

    put("setup.fixture_ms", fixtureMs, "ms")
    put("streaming.fixture_build_ms", streamFoldMs, "ms")

    // Spark
    val jobMs = rows.map(_.jobMs).sum
    val runMs = probe.total("executor_run_ms").toDouble
    put("spark.jobs", perPass(probe.jobs.size.toDouble), "count")
    Seq("stages", "tasks", "single_task_stages").foreach { k =>
      put(s"spark.$k", perPass(probe.total(k).toDouble), "count")
    }
    put("spark.jobs_per_commit", if (commits > 0)
      samples.filter(_.kind == "append").map(s => jobsPerOp.getOrElse(s.op, 0L)).sum / commits else 0, "count")
    put("spark.construct_ms", perPass(rows.map(_.construct).sum), "ms")
    put("spark.plan_ms", perPass(plans.map(_.ms).sum), "ms")
    put("spark.job_ms", perPass(jobMs), "ms")
    put("spark.driver_gap_ms", perPass(rows.map(_.gap).sum), "ms")
    put("spark.executor_run_ms", perPass(runMs), "ms")
    put("spark.executor_cpu_ms", perPass(probe.total("executor_cpu_ms").toDouble), "ms")
    put("spark.task_slot_util", if (jobMs > 0) runMs / (jobMs * cores) else 0, "ratio")
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes").foreach { k =>
      put(s"spark.$k", perPass(probe.total(k).toDouble), "bytes")
    }

    // self time per layer
    Layers.foreach { l =>
      put(s"self_ms.$l", perPass(spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e6), "ms")
    }
    m
  }

  /** The per-layer self-time table and one row per query (or op name). */
  def tables(): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    out += f"per-layer self time, per pass (${passes}%.2f passes traced):"
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(s => self(s.id)).sum / 1e6, ss.map(_.dur).sum / 1e6)
    }.sortBy(-_._3).foreach { case (n, k, selfT, total) =>
      out += f"  $n%-24s calls ${perPass(k)}%9.1f  self ${perPass(selfT)}%10.1f ms  total ${perPass(total)}%10.1f ms"
    }
    out += "per-op medians: wall construct plan exec driver_gap (ms), jobs tasks shuffle_bytes"
    rows.groupBy(_.s.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      def med(f: OpRow => Double) = Stats.median(rs.map(f))
      out += f"  $n%-28s ${med(_.s.ms)}%8.1f ${med(_.construct)}%8.1f ${med(_.plan)}%7.1f " +
        f"${med(_.exec)}%8.1f ${med(_.gap)}%8.1f ${med(_.jobs.toDouble)}%5.0f " +
        f"${med(_.tasks.toDouble)}%6.0f ${med(_.shuffle.toDouble)}%12.0f"
    }
    out.toSeq
  }

  private val Layers = Seq("op", "queries", "tx", "table", "store", "spark")
}
