package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.parquet.hadoop.ParquetOutputFormat
import scala.jdk.CollectionConverters._

/** The entries one writer task produced (the DSv2 commit message). */
private[graft] final case class SnapCommitMessage(entries: Seq[SnapshotTable.FileEntry])
    extends WriterCommitMessage

/** THE data-file writer of the snapshot table — every file any commit
  * references (programmatic writes, SQL writes, streaming epochs, MOR
  * delete files) is written here. One parquet file per `part` value the
  * task sees, ROLLED at `targetBytes` so a hot partition never produces one
  * giant file; rows stream through Spark's ParquetWriteSupport and the
  * manifest stats (rows, bytes, LONG stats-column bounds and null count)
  * accumulate inline per file, so no commit ever reads a footer back.
  * At most [[SnapDataWriter.MAX_OPEN_FILES]] files are open at once: when
  * the map is full the least recently written file is closed, so
  * unclustered input cannot open one parquet writer per partition. */
private[graft] final class SnapDataWriter(dir: String, partIdx: Int, statsIdx: Int,
    targetBytes: Long, conf: org.apache.hadoop.conf.Configuration,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private final class PartFile(val part: Long) {
    val path = s"$dir/part=$part/part-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    // the builder ignores the conf's parquet.* layout keys, which
    // ParquetOutputFormat (Spark's file writer) honours: apply them here
    val writer = new RowWriterBuilder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .build()
    var rows = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var bounded = false
    var nulls = 0L
  }
  /** Open files in ACCESS order: the head is the least recently written. */
  private val open = new java.util.LinkedHashMap[java.lang.Long, PartFile](16, 0.75f, true)
  /** The last-written file — sorted input hits it without a map lookup. */
  private var last: PartFile = null
  private val done = scala.collection.mutable.ListBuffer.empty[SnapshotTable.FileEntry]

  private def closeEntry(f: PartFile): SnapshotTable.FileEntry = {
    f.writer.close()
    val hp = new org.apache.hadoop.fs.Path(f.path)
    val bytes = hp.getFileSystem(conf).getFileStatus(hp).getLen
    SnapshotTable.FileEntry(f.path, f.part, f.rows, bytes,
      if (f.bounded) Some(f.lo) else None, if (f.bounded) Some(f.hi) else None,
      if (statsIdx >= 0) Some(f.nulls) else None)
  }

  private def fileFor(p: Long): PartFile =
    if (last != null && last.part == p) last
    else {
      var f = open.get(p)
      if (f == null) {
        if (open.size >= SnapDataWriter.MAX_OPEN_FILES) {
          val eldest = open.entrySet().iterator()
          done += closeEntry(eldest.next().getValue)
          eldest.remove()
        }
        f = new PartFile(p)
        open.put(p, f)
      }
      last = f
      f
    }

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(partIdx), "snapshot write: `part` must not be null")
    val p = row.getLong(partIdx)
    val f = fileFor(p)
    f.writer.write(row)
    f.rows += 1
    if (statsIdx >= 0) {
      if (row.isNullAt(statsIdx)) f.nulls += 1
      else {
        val v = row.getLong(statsIdx)
        f.lo = math.min(f.lo, v); f.hi = math.max(f.hi, v); f.bounded = true
      }
    }
    // roll at the byte target; getDataSize (written + buffered) is
    // checked every 1024 rows — it walks the column writers, so a
    // per-row check would tax the hot loop
    if (f.rows % 1024 == 0 && f.writer.getDataSize >= targetBytes) {
      done += closeEntry(f)
      open.remove(p)
      last = null
    }
  }

  /** Close every open file and return all entries this task wrote. */
  def entries(): Seq[SnapshotTable.FileEntry] = {
    done ++= open.values.asScala.toSeq.sortBy(_.path).map(closeEntry)
    open.clear()
    last = null
    done.toList
  }

  override def commit(): WriterCommitMessage = SnapCommitMessage(entries())

  override def abort(): Unit = {
    (open.values.asScala.map(f => { scala.util.Try(f.writer.close()); f.path }) ++ done.map(_.path))
      .foreach { p =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
        ()
      }
  }

  override def close(): Unit = ()
}

private[graft] object SnapDataWriter {

  /** Target size at which a writer ROLLS to a new file within a partition
    * (Iceberg's write.target-file-size-bytes spirit, 512 MB): a hot
    * partition's ingest lands as several target-sized files instead of
    * one giant one — bounded memory per reader task later, no compaction
    * needed just to fix ingest layout. SQL writes override it with the
    * `targetfilebytes` option. */
  final val DEFAULT_TARGET_FILE_BYTES: Long = 512L * 1024 * 1024

  /** Open parquet writers one task may hold; see [[SnapDataWriter]]. */
  private[index] final val MAX_OPEN_FILES = 16

  /** The physical file schema of a table-shaped row schema: `part`
    * persists as the `_part` data column — same position, same values. */
  def physical(schema: StructType): StructType =
    StructType(schema.fields.map(f => if (f.name == "part") f.copy(name = "_part") else f))

  /** Per-task hadoop conf for the parquet writers: the session conf plus
    * the physical row schema and the SQLConf entries
    * `ParquetWriteSupport.init` asserts on. */
  def writerConf(session: SparkSession, physical: StructType)
      : org.apache.spark.SerializableWritable[org.apache.hadoop.conf.Configuration] = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = session.sessionState.newHadoopConf()
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(physical, conf)
    val sql = session.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    new org.apache.spark.SerializableWritable(conf)
  }

  /** The programmatic commits' write: run `df` (carrying a long `part`
    * column) through the writer into `dir` in ONE Spark job and collect
    * the file entries. Each task's rows are sorted by `part`, then by the
    * stats column, so each partition's rows arrive together — the task
    * writes one file per partition it sees and the open-file cap never
    * splits one — with row groups in stats order. A failing
    * task aborts and deletes its own files; files of tasks that finished
    * before a job failure stay in the uncommitted attempt dir, which
    * [[SnapshotTable.expire]]'s orphan sweep collects. */
  private[index] def writeAll(df: DataFrame, dir: String,
      statsCol: Option[String]): Seq[SnapshotTable.FileEntry] = {
    val schema = df.schema
    val partIdx = schema.fieldIndex("part")
    val sortStats = statsCol.filter(schema.fieldNames.contains)
    val statsIdx = sortStats.filter(c => schema(c).dataType == LongType)
      .map(schema.fieldIndex).getOrElse(-1)
    val conf = writerConf(df.sparkSession, physical(schema))
    df.sortWithinPartitions((col("part") +: sortStats.map(col).toSeq): _*)
      .queryExecution.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val w = new SnapDataWriter(dir, partIdx, statsIdx, DEFAULT_TARGET_FILE_BYTES,
          new org.apache.hadoop.conf.Configuration(conf.value), i,
          org.apache.spark.TaskContext.get().taskAttemptId())
        try { rows.foreach(w.write); w.entries().iterator }
        catch { case e: Throwable => w.abort(); throw e }
      }.collect().toSeq
  }
}

/** Public ParquetWriter builder over Spark's InternalRow write support
  * (schema + codec settings ride the conf, set by
  * [[SnapDataWriter.writerConf]]). */
private final class RowWriterBuilder(path: org.apache.hadoop.fs.Path)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
  override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
    new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
  override def self(): RowWriterBuilder = this
}
