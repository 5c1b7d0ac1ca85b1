package perfbench

import java.nio.file.Path

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.model.TranscriptTurn

/** Parquet files without a Spark session: the generator writes the
  * transcripts table in its own JVM, so the measured JVM starts cold, and
  * output checks count rows from file footers without running a job.
  */
object Parquet {
  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary conv_id (STRING);
      |  required int32 turn_idx;
      |  optional binary role (STRING);
      |  optional binary text (STRING);
      |  optional binary tool (STRING);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  private val conf = new org.apache.hadoop.conf.Configuration()

  /** rows in a parquet file, from its footer */
  def rowCount(file: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf))
    try r.getRecordCount finally r.close()
  }

  /** one parquet file with the columns of the engine's transcripts table */
  def writeTurns(file: Path, turns: Iterator[TranscriptTurn]): Unit = {
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try turns.foreach { t =>
      writer.write(groups.newGroup()
        .append("conv_id", t.conv_id)
        .append("turn_idx", t.turn_idx)
        .append("role", t.role)
        .append("text", t.text)
        .append("tool", t.tool)
        .append("ts", t.ts.getTime * 1000L))
    } finally writer.close()
  }
}
