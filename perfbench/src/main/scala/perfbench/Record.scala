package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Records the program's results for the expected-result file: the row
  * count and content hash ([[ResultHash]]) of every registry query and
  * every table-read query of [[TableReads]], one `name<TAB>rows<TAB>hash`
  * line each, in `<out>/hashes.tsv`. `perfbench/make_expected.py` pairs
  * them with the repository's DuckDB comparison of `graft.Verify`'s
  * output.
  *
  * Arguments: `--data DIR --out DIR`.
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (dataDir, out) = (args("data"), Paths.get(args("out")))
    Files.createDirectories(out)
    val spark = Session.build(Runtime.getRuntime.availableProcessors())
    def record(name: String)(query: => DataFrame): String =
      try {
        val df = query
        val rows = df.collect().toSeq
        s"$name\t${rows.length}\t${ResultHash.of(df.columns.toSeq, rows)}"
      } catch {
        case e: Throwable => s"$name\t-1\tthrew ${e.getClass.getName}"
      }
    val registry = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      record(name)(fn(spark, dataDir))
    }
    val tables = new TableReads(spark, dataDir, out.resolve("tables").toString)
    tables.build()
    val hashes = registry ++ tables.queries.map { case (name, q) => record(name)(q()) }
    Files.writeString(out.resolve("hashes.tsv"), hashes.mkString("", "\n", "\n"))
    spark.stop()
  }
}
