package graft.tx

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint part bytes encoded in memory are ordinary parquet files: a
  * part read back through a Hadoop file equals what was written, and a
  * part written through a Hadoop file decodes in memory.
  */
class CkptPartBytesSpec extends AnyFunSuite {
  private val actions: Seq[Action] = Seq(
    AddDataObject("t", "_table_t_a", 1L, 10L),
    AddDataObject("t", "/ext/part-0.parquet", 2L, 5L, rowBase = Some(100L)),
    AddDeleteVector("t", "_table_t_dv_b", 3L, 2L),
    AddCdcObject("t", "_table_t_cdc_c", 3L, 2L),
    RemoveDataObject("t", "_table_t_a"))

  test("checkpoint part bytes are readable through a Hadoop file and back") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft_ckpt_bytes")
    val written = new Path(dir.resolve("memory.parquet").toUri)
    Files.write(dir.resolve("memory.parquet"), CkptParquet.write(actions))
    // every group of the in-memory part, re-written through a Hadoop file
    val in = HadoopInputFile.fromPath(written, conf)
    val schema = {
      val r = ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val groups = {
      val r = ParquetReader.builder(new GroupReadSupport(), written)
        .withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).toVector
      finally r.close()
    }
    assert(groups.size === actions.size)
    val copied = new Path(dir.resolve("file.parquet").toUri)
    val w = ExampleParquetWriter.builder(copied).withConf(conf)
      .withType(schema).build()
    try groups.foreach((g: Group) => w.write(g)) finally w.close()
    assert(CkptParquet.read(Files.readAllBytes(dir.resolve("file.parquet")))
      === actions.toVector)
  }
}
