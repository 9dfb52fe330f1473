package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetRecordReader}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Spark's parquet reader for one file, driven in the calling thread.
  *
  * `ParquetFileFormat.buildReaderWithPartitionValues` builds the same
  * per-file reader, but broadcasts its Hadoop configuration on every
  * build first, which is what a reader shipped to tasks needs and costs a
  * point read on the driver about as much as the read itself (some
  * 110 KB of configuration serialized per lookup). This builds the
  * reader from the same parts with no broadcast: the read settings
  * `ParquetFileFormat` puts in the configuration, the footer's rebase
  * modes, `ParquetFilters` for the pushed filter, and the vectorized
  * reader — or parquet-mr's row reader where the schema is not
  * batch-readable. Built per read, never shared: the pushed filter is
  * part of it.
  */
final class PointFileReader(session: SparkSession, schema: StructType,
                            filter: Filter) {
  private val sqlConf = session.sessionState.conf
  private val conf = {
    val c = session.sessionState.newHadoopConf()
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sqlConf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sqlConf.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (entry, v) => c.setBoolean(entry.key, v) }
    c
  }
  private val options = new ParquetOptions(Map.empty[String, String], sqlConf)
  private val vectorized = sqlConf.parquetVectorizedReaderEnabled &&
    ParquetUtils.isBatchReadSupportedForSchema(sqlConf, schema)

  /** The rows of `file` in `schema` from the row groups whose statistics
    * admit the filter, with the row-group count and the admitted count;
    * no rows, and the file left unread, when none is admitted. The rows
    * are views the reader reuses, and the iterator closes the file once
    * drained. */
  def read(file: Path, length: Long): (Int, Int, Iterator[InternalRow]) = {
    val split = PartitionedFile(InternalRow.empty, SparkPath.fromPath(file), 0L,
      length, Array.empty, 0L, length, Map.empty)
    // with its row groups, whose stats the filter is checked against;
    // the row reader reopens the file, so only the vectorized one takes
    // over the open stream
    val opened = ParquetFooterReader.openFileAndReadFooter(conf, split, true)
    var handedOver = false
    try {
      val meta = opened.footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val datetime = DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead)
      val int96 = DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead)
      val pushed = new ParquetFilters(meta.getSchema, sqlConf.parquetFilterPushDownDate,
        sqlConf.parquetFilterPushDownTimestamp, sqlConf.parquetFilterPushDownDecimal,
        sqlConf.parquetFilterPushDownStringPredicate,
        sqlConf.parquetFilterPushDownInFilterThreshold, sqlConf.caseSensitiveAnalysis,
        datetime).createFilter(filter)
      val groups = opened.footer.getBlocks.size
      val admitted = pushed.fold(groups)(p => RowGroupFilter.filterRowGroups(
        FilterCompat.get(p), opened.footer.getBlocks, meta.getSchema).size)
      if (admitted == 0) (groups, 0, Iterator.empty)
      else {
        val context = new TaskAttemptContextImpl(conf,
          new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
        pushed.foreach(ParquetInputFormat.setFilterPredicate(context.getConfiguration, _))
        val fileSplit = new FileSplit(file, 0L, length, Array.empty[String])
        val rows =
          if (vectorized) {
            val reader = new VectorizedParquetRecordReader(null,
              datetime.mode.toString, datetime.timeZone, int96.mode.toString,
              int96.timeZone, sqlConf.offHeapColumnVectorEnabled,
              sqlConf.parquetVectorizedReaderBatchSize)
            val it = new RecordReaderIterator[InternalRow](
              reader.asInstanceOf[org.apache.hadoop.mapreduce.RecordReader[Void, InternalRow]])
            handedOver = true
            try {
              reader.initialize(fileSplit, context, Some(opened.inputFile),
                Some(opened.inputStream), Some(opened.footer))
              reader.initBatch(new StructType(), InternalRow.empty)
            } catch { case e: Throwable => it.close(); throw e }
            it
          } else {
            val reader = new ParquetRecordReader[InternalRow](
              new ParquetReadSupport(None, false, datetime, int96),
              pushed.fold(FilterCompat.NOOP)(p => FilterCompat.get(p)))
            val it = new RecordReaderIterator[InternalRow](reader)
            try reader.initialize(fileSplit, context)
            catch { case e: Throwable => it.close(); throw e }
            it
          }
        (groups, admitted, rows)
      }
    } finally if (!handedOver) opened.inputStreamOpt.ifPresent(_.close())
  }
}
