package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Snapshot

/** Parquet sink + bounded state read-back (SURVEY.md §2.1).
  *
  * Replaces the reference's Google-Sheets append (main.py:332-351) and
  * `get_all_records().tail(300)` state read (main.py:252-264). The sheet was
  * both sink and state store; here the sink is append-mode parquet
  * PARTITIONED BY batch_id, and the state read is the last-N rows by an
  * explicit `sink_seq` ordering column (SURVEY.md §7.4).
  */
object ParquetSink {

  /** Append a batch in canonical order (Expiry_Date, Time, SYMBOL),
    * stamping `sink_seq = batchId * 2^32 + 1-based canonical position` so
    * read-back can reconstruct append order across files.
    *
    * The batch is sorted and numbered in ONE single-partition pass: a
    * batch is at most the listed contracts of ≤3 expiries after keep-last
    * by SYMBOL (~100 rows per hourly tick), so one task sorts it and
    * `monotonically_increasing_id` (partition 0 → 0, 1, 2, …) numbers it —
    * no range sampler, no RDD round trip.
    */
  def append(df: DataFrame, path: String, batchId: Long): Unit = {
    val base = batchId * (1L << 32)
    df.coalesce(1)
      .sortWithinPartitions(Snapshot.canonicalOrder: _*)
      .withColumn("sink_seq", lit(base + 1L) + monotonically_increasing_id())
      .withColumn("batch_id", lit(batchId))
      .write
      .mode("append")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** Last `n` appended rows (reference tail(300), main.py:260), renamed
    * `state_seq` for Delta.prepareState.
    *
    * The newest `batch_id=` directories whose footer row counts reach `n`
    * are picked on the driver, and the read schema comes from one of their
    * footers, so picking and planning start no Spark job. The tail is
    * `orderBy(sink_seq desc).limit(n)` over the picked files only — a
    * TakeOrderedAndProject, never a window over history. A legacy sink
    * without batch directories is read whole with the same tail semantics.
    */
  def readStateTail(spark: SparkSession, path: String, n: Int = 300): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val batchDirs = fs
      .listStatus(root)
      .toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap(st =>
        st.getPath.getName.stripPrefix("batch_id=").toLongOption.map(_ -> st.getPath))
      .sortBy { case (id, _) => -id }
    val toSpark = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    var schema = Option.empty[StructType]
    var acc = 0L
    val it = batchDirs.iterator
    while (acc < n && it.hasNext) {
      val dataFiles = fs
        .listStatus(it.next()._2)
        .filter(st => st.isFile && !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
        .map(_.getPath)
      dataFiles.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          acc += reader.getRecordCount
          if (schema.isEmpty)
            schema = Some(toSpark.convert(reader.getFileMetaData.getSchema))
        } finally reader.close()
      }
      files ++= dataFiles
    }
    val slice = schema match {
      case Some(s) => spark.read.schema(s).parquet(files.map(_.toString).toSeq: _*)
      case None    => spark.read.parquet(path) // legacy unpartitioned sink: no batch files
    }
    slice
      .orderBy(col("sink_seq").desc)
      .limit(n)
      .withColumnRenamed("sink_seq", "state_seq")
  }

  /** Empty state for the first run (reference main.py:269-273). */
  def emptyState(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(
        Seq(
          StructField("SYMBOL", StringType),
          StructField("Close", StringType),
          StructField("OI", StringType),
          StructField("state_seq", LongType)
        )
      )
    )
  }
}
