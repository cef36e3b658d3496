package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType}

import graft.sinks.ParquetSink

/** Edge cases of the footer-driven state-tail read: which batch directories
  * are picked, which files in them count, and which schema the tail is read
  * with.
  */
class ParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  private def sinkDir(tag: String): String =
    Files.createTempDirectory(s"graft_sink_$tag").toString + "/data"

  /** One batch directory of (SYMBOL, Close, OI, sink_seq) rows as written. */
  private def writeBatch(sink: String, batchId: Long, rows: Seq[(String, String, String)]): Unit =
    rows.zipWithIndex
      .map { case ((s, c, o), i) => (s, c, o, (batchId << 32) + i + 1) }
      .toDF("SYMBOL", "Close", "OI", "sink_seq")
      .coalesce(1)
      .write.parquet(s"$sink/batch_id=$batchId")

  private def tailSeqs(sink: String, n: Int): Seq[Long] =
    ParquetSink.readStateTail(spark, sink, n).select("state_seq").as[Long].collect().sorted.toSeq

  test("text-typed state sink: Close/OI stay strings and garbage coerces to 0 downstream") {
    val sink = sinkDir("text")
    writeBatch(sink, 0L, Seq(("C-ETH-100-171025", "8.5", "80"), ("P-ETH-95-171025", "abc", "n/a")))
    val tail = ParquetSink.readStateTail(spark, sink)
    assert(tail.schema("Close").dataType === StringType)
    assert(tail.schema("OI").dataType === StringType)
    assert(tail.schema("state_seq").dataType === LongType)
    val prepared = graft.operators.Delta.prepareState(tail, "state_seq")
      .as[(String, Double, Long)].collect().map { case (s, c, o) => s -> ((c, o)) }.toMap
    assert(prepared === Map("C-ETH-100-171025" -> (8.5, 80L), "P-ETH-95-171025" -> (0.0, 0L)))
  }

  test("checksum and underscore files in a batch directory are not read as data") {
    val sink = sinkDir("junk")
    writeBatch(sink, 1L, Seq(("A", "1", "1"), ("B", "2", "2")))
    writeBatch(sink, 2L, Seq(("C", "3", "3")))
    val dir = Paths.get(s"$sink/batch_id=2")
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve("_committed_0"), "not parquet".getBytes("UTF-8"))
    Files.write(dir.resolve(".stray.parquet.crc"), "not parquet".getBytes("UTF-8"))
    assert(Files.list(dir).toArray.length >= 4)
    assert(tailSeqs(sink, 2) === Seq((1L << 32) + 2, (2L << 32) + 1))
  }

  test("a zero-row batch counts nothing and the pick moves on to older batches") {
    val sink = sinkDir("empty")
    writeBatch(sink, 1L, Seq(("A", "1", "1"), ("B", "2", "2"), ("C", "3", "3")))
    writeBatch(sink, 2L, Seq.empty)
    val emptyFiles = Files.list(Paths.get(s"$sink/batch_id=2")).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/."))
    assert(emptyFiles.nonEmpty, "the empty batch should still hold a parquet file")
    assert(tailSeqs(sink, 2) === Seq((1L << 32) + 2, (1L << 32) + 3))
    // the schema still comes from a footer when the newest file is empty
    assert(ParquetSink.readStateTail(spark, sink, 2).schema("Close").dataType === StringType)
  }

  test("legacy unpartitioned sink falls back to a full read with the same tail") {
    val legacy = sinkDir("legacy")
    Seq(("A", "1", "1", 3L), ("B", "2", "2", 1L), ("C", "3", "3", 2L))
      .toDF("SYMBOL", "Close", "OI", "sink_seq")
      .write.parquet(legacy)
    val tail = ParquetSink.readStateTail(spark, legacy, n = 2)
    assert(tail.select("SYMBOL", "state_seq").as[(String, Long)].collect().toSet ===
      Set(("A", 3L), ("C", 2L)))
  }
}
