package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The test session is the session the mains run: [[GraftSession]]'s
  * settings, plus only the test-only vacuum gate, and no other file in
  * the build makes a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  /** The settings a builder carries (master included), read through
    * Spark's package-private `options` accessor. */
  private def options(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("the test session carries every GraftSession setting, plus only " +
    "the test-only vacuum key") {
    val shared = options(GraftSession.builder(4))
    assert(shared.keySet.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(shared.keySet.contains(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"))
    val live = SparkTestSession.spark.sparkContext.getConf
    val differing =
      shared.filter { case (k, v) => !live.getOption(k).contains(v) }
    assert(differing.isEmpty, "test session lacks or differs on")
    val extra = options(SparkTestSession.builder).toSet -- shared.toSet
    assert(extra === Set("spark.graft.vacuum.orphanRetainMs" -> "0"))
  }

  test("no source file but GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own scan
    val needle = "SparkSession" + ".builder("
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      finally files.close()
    }.filter { p =>
      p.getFileName.toString != "GraftSession.scala" &&
        // ISO-8859-1 reads any byte: some specs hold non-UTF-8 literals
        new String(Files.readAllBytes(p), "ISO-8859-1").contains(needle)
    }
    assert(offenders.isEmpty,
      s"hand-built sessions: ${offenders.mkString(", ")}")
  }
}
