package graft.perfbench

import java.io.File

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Local-filesystem helpers for the benchmark's work directory. */
object Fs {

  /** One Hadoop configuration for every parquet file the benchmark writes
    * (building one per file costs more than writing the file).
    */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Write one snappy parquet file of the given message type straight
    * from the driver: `fill` gets a fresh row and adds its fields.
    */
  def writeParquet[A](file: File, messageType: String, rows: Seq[A])(
      fill: (Group, A) => Unit): Unit = {
    file.getParentFile.mkdirs()
    val schema = MessageTypeParser.parseMessageType(messageType)
    val groups = new SimpleGroupFactory(schema)
    val out = ExampleParquetWriter.builder(new LocalOutputFile(file.toPath))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withConf(hadoopConf)
      .build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      out.write(g)
    } finally out.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Regular files under `f`, recursively. */
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f)
    else Nil
}
