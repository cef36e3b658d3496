package perfbench

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{Row, SparkSession}

/** Input files written without Spark, so generation issues no Spark job. */
object Files {

  private val tickerSchema: MessageType = MessageTypeParser.parseMessageType(
    """message ticker {
      |  optional binary symbol (STRING);
      |  optional binary contract_type (STRING);
      |  optional binary strike_price (STRING);
      |  optional binary spot_price (STRING);
      |  optional binary mark_price (STRING);
      |  optional binary oi_contracts (STRING);
      |  optional int64 src_seq;
      |}""".stripMargin)

  /** A sink batch whose Close/OI are text, as a spreadsheet read-back is. */
  private val stateSchema: MessageType = MessageTypeParser.parseMessageType(
    """message state {
      |  optional binary SYMBOL (STRING);
      |  optional binary Close (STRING);
      |  optional binary OI (STRING);
      |  optional int64 sink_seq;
      |}""".stripMargin)

  private val conf = new Configuration()

  private def writer(file: File, schema: MessageType) =
    ExampleParquetWriter.builder(new Path(file.getAbsolutePath)).withType(schema).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()

  def writeSnapshot(file: File, rows: Seq[Ticker]): Unit = {
    val w = writer(file, tickerSchema)
    val f = new SimpleGroupFactory(tickerSchema)
    try rows.foreach { t =>
      val g = f.newGroup()
      Seq("symbol" -> t.symbol, "contract_type" -> t.contractType, "strike_price" -> t.strike,
        "spot_price" -> t.spot, "mark_price" -> t.mark, "oi_contracts" -> t.oi)
        .foreach { case (k, v) => if (v != null) g.append(k, v) }
      g.append("src_seq", t.srcSeq)
      w.write(g)
    } finally w.close()
  }

  def writeState(file: File, rows: Seq[RefModel.StateRow]): Unit = {
    val w = writer(file, stateSchema)
    val f = new SimpleGroupFactory(stateSchema)
    try rows.foreach { r =>
      val g = f.newGroup()
      g.append("SYMBOL", r.symbol)
      if (r.close != null) g.append("Close", r.close)
      if (r.oi != null) g.append("OI", r.oi)
      g.append("sink_seq", r.seq)
      w.write(g)
    } finally w.close()
  }

  /** Digest of one sink batch directory as the program wrote it. */
  def sinkDigest(spark: SparkSession, dir: File): RefModel.Digest =
    if (!dir.isDirectory) RefModel.Digest.empty
    else RefModel.Digest.of(spark.read.parquet(dir.getAbsolutePath).collect().toSeq.map(canonical))

  private def canonical(r: Row): String = {
    def d(c: String): java.lang.Double = {
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) null else Double.box(r.getDouble(i))
    }
    RefModel.Row(r.getAs[String]("SYMBOL"), r.getAs[String]("Date"), r.getAs[String]("Time"),
      d("Future_Price"), r.getAs[String]("Expiry_Date"), d("Strike"), r.getAs[String]("Option_Type"),
      d("Close"), r.getAs[Long]("OI"), d("Open"), r.getAs[Long]("OI_Change")).canonical
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(treeBytes).sum) else if (f.exists) f.length else 0L
}
