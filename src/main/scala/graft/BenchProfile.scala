package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Diagnostic profiler (guide §1): run selected queries under a listener
  * and print, per query, the job/stage/task breakdown — wall per job,
  * stage task counts, executor run time, shuffle bytes — so optimization
  * targets the measured cost, not the guessed one. Not part of the
  * driver contract.
  *
  * Usage: `sbt "runMain graft.BenchProfile q1 q2 ..."` (defaults to the
  * historical top-of-bench set). Same session and warm-up as [[Bench]].
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmUp(spark, sfDir)

    final case class StageRow(name: String, tasks: Int, runMs: Long,
        cpuMs: Long, shRead: Long, shWrite: Long, wallMs: Long)
    val jobStart = mutable.Map[Int, Long]()
    val jobWall = mutable.Map[Int, Long]()
    val stages = mutable.ArrayBuffer[StageRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobWall(e.jobId) = e.time - jobStart.getOrElse(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(0L)
        stages += StageRow(i.name.takeWhile(_ != '\n'), i.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, wall)
      }
    }

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "dedup_winnow_spanning", "text_contamination", "dedup_winnow_pairs",
      "dedup_clusters", "sim_pca_cov", "dedup_substring_cut",
      "text_bpe_merges", "graph_pagerank")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try fn(spark, sfDir).count() // warm
      catch { case e: Throwable => println(s"$n warm-up FAILED: $e") }
      jobStart.clear(); jobWall.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"$n FAILED: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $n%s wall=$wall%.3f s jobs=${jobWall.size}%d " +
        f"jobWallSum=${jobWall.values.sum / 1000.0}%.3f s " +
        f"stages=${stages.size}%d tasks=${stages.map(_.tasks).sum}%d")
      stages.filter(s => s.wallMs > 0 || s.runMs > 0)
        .sortBy(-_.wallMs).take(14).foreach { s =>
        println(f"  stage wall=${s.wallMs}%5d ms run=${s.runMs}%6d ms " +
          f"cpu=${s.cpuMs}%6d ms tasks=${s.tasks}%3d " +
          f"shR=${s.shRead}%9d shW=${s.shWrite}%9d  ${s.name}%s")
      }
    }
    spark.stop()
  }
}
