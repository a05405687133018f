package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame

/** One benchmark run of one workload. Writes `result.json` into `--out`
  * and prints a human-readable report; `perfbench/run.py` drives it.
  *
  * Arguments: `--workload queries|ingest --seed N
  * --seconds S --trace 0|1 --data DIR --expected FILE --out DIR
  * [--smoke]`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val smoke = args.get("smoke").contains("1")
    val out = Paths.get(args("out"))
    val dataDir = args("data")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = Session.build(cores)
    val ops = new Ops(spark)
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val report = mutable.ArrayBuffer[String]()

    val t0 = System.nanoTime()
    val smokeQueries = Set("corpus_shard", "tr_scan", "tr_sql_agg", "tr_stream_hll")
    var tables: Option[TableReads] = None
    val w: Workload = workload match {
      case "queries" =>
        val t = new TableReads(spark, dataDir, s"${args("out")}/tables")
        tables = Some(t)
        t.build()
        val all = QueryWorkload.analytics(spark, dataDir) ++ t.queries
        new QueryWorkload(ops, if (smoke) all.filter(q => smokeQueries(q._1)) else all,
          Expected.load(args("expected")), seed)
      case "ingest" => new Ingest(spark, ops, s"${args("out")}/ingest", seed, smoke)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    val streamFoldMs = tables.map(_.streamFoldMs).getOrElse(0.0)
    val fixtureMs = (System.nanoTime() - t0) / 1e6
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    report += f"set-up: ${setupS}%.2f s, of which fixtures and warm-up ${fixtureMs / 1000}%.2f s" +
      (if (streamFoldMs > 0) f" (streaming fold ${streamFoldMs / 1000}%.2f s)" else "")
    w match {
      case q: QueryWorkload => report += "checked warm pass, four at a time (ms): " +
        q.names.map(n => f"$n ${q.warmMs.getOrElse(n, Double.NaN)}%.0f").mkString(", ")
      case _ =>
    }
    val primary = w.primary
    def phase(s: Double): Seq[Double] = w.run(s, if (smoke) 1 else 2)

    def summary(walls: Seq[Double], samples: Seq[Sample]): Map[String, Double] = {
      val lat = samples.filter(_.kind == primary).map(_.ms)
      val (p, tail) = Stats.tail(lat)
      // a query pass at its best: each query's fastest timed run, summed;
      // unlike the fastest whole pass it does not depend on whether the
      // timed phase held two or three passes of a still-warming JVM
      val best = w match {
        case q: QueryWorkload =>
          val mins = q.pass.map(n => samples.filter(_.name == n).map(_.ms).minOption)
          if (mins.forall(_.isDefined)) mins.flatten.sum / 1000 else walls.min
        case _ => walls.min
      }
      Map("wall_s" -> best, "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> tail, "tail_pct" -> p, "n" -> lat.length.toDouble)
    }

    var tracedBytesRead = 0L
    ops.timing = true
    val (walls, samples, untraced) =
      if (!trace) {
        val w = phase(seconds)
        (w, ops.samples.asScala.toSeq, None)
      } else {
        // passes run in blocks of untraced, traced, traced, untraced, so a
        // trend over the run (JIT warm-up, table growth) falls on both
        // halves alike; the difference of the halves is the tracing overhead
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        val (wu, su, wt, st) = (mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Sample](),
          mutable.ArrayBuffer[Double](), mutable.ArrayBuffer[Sample]())
        var i = 0
        while (i < 4 || i % 4 != 0 || System.nanoTime() < deadline) {
          val traced = i % 4 == 1 || i % 4 == 2
          val read0 = BenchFs.bytesRead
          Trace.on = traced; Counters.on = traced; probe.on = traced
          val pass = w.run(0, 1)
          // every listener event of the pass is handled before the switch
          SparkProbe.drain(spark)
          Trace.on = false; Counters.on = false; probe.on = false
          (if (traced) wt else wu) ++= pass
          (if (traced) st else su) ++= ops.samples.asScala
          ops.samples.clear()
          if (traced) tracedBytesRead += BenchFs.bytesRead - read0
          i += 1
        }
        (wt.toSeq, st.toSeq, Some(summary(wu.toSeq, su.toSeq)))
      }
    ops.timing = false
    val s = summary(walls, samples)
    val filesLive = w match { case i: Ingest => i.filesLive; case _ => 0L }
    w.verify()
    // the least of three forced collections: one can leave garbage that a
    // listener or pool thread still referenced at that moment
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min

    val endToEnd = mutable.LinkedHashMap(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (s("wall_s"), "s"),
      "op_p50_ms" -> (s("op_p50_ms"), "ms"),
      "op_tail_ms" -> (s("op_tail_ms"), "ms"),
      "retained_heap_mb" -> (heapMb, "MB"))

    // workload-specific end-to-end figures, reported in every run (0 on
    // workloads without the op kind)
    val detail = mutable.LinkedHashMap[String, (Double, String)]()
    def latency(prefix: String, kinds: Set[String]): Unit = {
      val xs = samples.filter(x => kinds(x.kind)).map(_.ms)
      val (p, t) = Stats.tail(xs)
      detail(s"${prefix}_p50_ms") = (Stats.median(xs), "ms")
      detail(s"${prefix}_tail_ms") = (t, "ms")
      if (xs.nonEmpty)
        report += f"$prefix latency: p50 ${Stats.median(xs)}%.2f ms, p$p%.1f $t%.2f ms over ${xs.length} samples"
    }
    latency("query", Set("query"))
    latency("commit", Set("append"))
    detail("commits_per_s") = (samples.count(_.kind == "append") / walls.sum, "1/s")
    latency("read", Set("read"))
    detail("mutation_p50_ms") = (Stats.median(samples
      .filter(x => Set("merge", "delete", "compact", "vacuum")(x.kind)).map(_.ms)), "ms")
    detail("failed_frac") = (ops.failed.toDouble / math.max(1L, ops.attempted), "ratio")

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (trace) {
      val spans = Trace.snapshot()
      Files.createDirectories(out)
      Trace.write(out.resolve("spans.jsonl"), spans)
      val passes = w match {
        case q: QueryWorkload => samples.length.toDouble / q.pass.length
        case _ => walls.length.toDouble
      }
      val lr = new LayerReport(probe, spans, samples, w.isInstanceOf[QueryWorkload], cores, fixtureMs,
        streamFoldMs, tracedBytesRead, passes)
      layers ++= lr.metrics(filesLive)
      untraced.foreach { u =>
        layers("trace.overhead_wall_s") = (s("wall_s") - u("wall_s"), "s")
        layers("trace.overhead_op_p50_ms") = (s("op_p50_ms") - u("op_p50_ms"), "ms")
        report += f"tracing overhead: wall_s ${u("wall_s")}%.3f -> ${s("wall_s")}%.3f s, " +
          f"op_p50_ms ${u("op_p50_ms")}%.2f -> ${s("op_p50_ms")}%.2f ms"
      }
      layers ++= detail.map { case (k, v) => s"e2e.$k" -> v }
      report ++= lr.tables()
    }

    w.close()
    val host = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> trace.toString, "nproc" -> cores.toString,
      "max_heap_mb" -> (rt.maxMemory / 1048576).toString,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "store" -> (workload match {
        case "ingest" => "log: S3ObjectStore with SigV4 over loopback; data: Hadoop scheme pbfs"
        case _ => "analytics queries: parquet files on the local filesystem; " +
          "table reads: LocalObjectStore log, local-filesystem data"
      }),
      "data_dir" -> dataDir, "pass_walls_s" -> walls.map(w => f"$w%.3f").mkString(" "),
      "tail_percentile" -> s("tail_pct").toString, "tail_samples" -> s("n").toInt.toString)

    val json = new StringBuilder("{")
    json ++= host.map { case (k, v) => s""""$k":${Json.str(v)}""" }.mkString(",")
    json ++= s""","attempted":${ops.attempted},"failed":${ops.failed},"failures":["""
    json ++= ops.failures.asScala.map { case (n, r) => s"[${Json.str(n)},${Json.str(r)}]" }.mkString(",")
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    json ++= s"""],"end_to_end":${obj(endToEnd)},"detail":${obj(detail)},"per_layer":${obj(layers)}}"""
    Files.createDirectories(out)
    Files.writeString(out.resolve("result.json"), json.toString)

    println(s"== perfbench $workload seed=$seed trace=${if (trace) 1 else 0} " +
      s"local[$cores] heap ${rt.maxMemory / 1048576} MB, jdk ${System.getProperty("java.version")}, spark ${spark.version}")
    (endToEnd ++ detail).foreach { case (k, (v, u)) => println(f"  $k%-22s $v%14.4f $u") }
    println(s"  attempted ${ops.attempted}, failed ${ops.failed}")
    ops.failures.asScala.foreach { case (n, r) => println(s"  FAILED $n: $r") }
    report.foreach(println)
    spark.stop()
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
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
