package graft.sink

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Exactly-once parquet sink for `foreachBatch` — the manifest protocol
  * (the Iceberg-append contract rebuilt on plain parquet, SURVEY.md §7.6):
  *
  *  1. a micro-batch lands in `data/batch_id=<id>/` (Hive-style partition
  *     dir, so readers get `batch_id` for free), which is emptied first →
  *     a torn write is repaired by the replay;
  *  2. after the data lands, a `_commits/<id>` marker is moved into place
  *     atomically; a replayed batch (post-restart) sees the marker and
  *     SKIPS — idempotent under Spark's at-least-once foreachBatch;
  *  3. readers consult the manifest and see committed batches only.
  *
  * The marker is the batch's only commit. The data lands through
  * [[ManifestSink.write]], one Spark job whose tasks each write one parquet
  * file, with no `FileOutputCommitter` round of its own (see there for
  * what that gives up).
  *
  * Used as is by the curation, quality and ANN streams; [[ExactlyOnceSink]]
  * adds the validation routes on top. At cluster scale the marker dir
  * lives on the same object store as the table; one tiny file per batch.
  * Those streams start through `graft.streaming.FileStream`, which calls
  * [[graft.io.LocalFs.use]] first, so the parquet write's files, `.crc`s
  * and directories do not fork a `chmod` each.
  */
final class ManifestSink(outDir: String) extends Serializable {

  private def marker(batchId: Long) = Paths.get(s"$outDir/_commits/$batchId")

  def isCommitted(batchId: Long): Boolean = Files.exists(marker(batchId))

  /** Ids of the published markers. A `.tmp_<id>` left behind by a crash
    * between the temp write and the move is not a marker.
    */
  def committedBatches(): Set[Long] = ids(new File(s"$outDir/_commits"), "")

  private def ids(dir: File, prefix: String): Set[Long] = {
    val Id = s"$prefix(\\d+)".r
    Option(dir.list()).toSeq.flatten.collect { case Id(n) => n.toLong }.toSet
  }

  /** Idempotent per-batch publish: unless the batch is committed, `write`
    * fills its directory (overwriting a torn attempt), then the commit
    * marker is published by ATOMIC_MOVE — a crash mid-write leaves files
    * but no marker, and the replay overwrites them.
    */
  def publish(batchId: Long)(write: String => Unit): Unit = {
    if (isCommitted(batchId)) return // replay after restart → no-op
    write(s"$outDir/data/batch_id=$batchId")
    Files.createDirectories(Paths.get(s"$outDir/_commits"))
    val tmp = Paths.get(s"$outDir/_commits/.tmp_$batchId")
    Files.write(tmp, batchId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, marker(batchId), StandardCopyOption.ATOMIC_MOVE)
  }

  def writeBatch(df: DataFrame, batchId: Long): Unit =
    publish(batchId)(ManifestSink.write(df, _, Map.empty))

  /** Committed-only view, with a `batch_id` column. Filters out the
    * UNCOMMITTED partitions rather than isin-ing the committed set: the
    * committed set grows with stream LIFETIME (10^5 micro-batches = a
    * 10^5-literal isin that blows up plan size and analysis time), while
    * uncommitted = torn/in-flight batches, bounded by concurrent writers.
    * `batch_id` is a directory-partition column, so the filter prunes at
    * file listing.
    */
  def read(spark: SparkSession): DataFrame = {
    val present = ids(new File(s"$outDir/data"), "batch_id=") // committed or not
    val uncommitted = present -- committedBatches()
    val committedPresent = present -- uncommitted
    if (committedPresent.isEmpty) return spark.emptyDataFrame
    // Schema comes from ONE committed batch dir, then is passed explicitly:
    // schema INFERENCE over the whole data/ dir would sample footers of
    // torn files in uncommitted dirs and could throw — violating
    // "readers see committed batches only" before the partition filter
    // (which prunes those dirs at file listing) ever runs.
    val schema = spark.read
      .parquet(s"$outDir/data/batch_id=${committedPresent.head}").schema
    val all = spark.read.schema(schema.add("batch_id", "long"))
      .parquet(s"$outDir/data")
    if (uncommitted.isEmpty) all
    else all.filter(!col("batch_id").isin(uncommitted.toSeq: _*))
  }
}

object ManifestSink {

  /** Writes `df` as parquet into `dir`, replacing what is there: one Spark
    * job over `df.queryExecution.toRdd`, the only execution of its plan.
    *
    * The driver builds the write's Hadoop conf as Spark's
    * `DataFrameWriter.parquet` does (the session's conf with `options`,
    * then `ParquetFileFormat.prepareWrite`) and ships it to the tasks as a
    * plain key/value array. Spark's own write ships it in two
    * `SerializableConfiguration`s per task, whose `Configuration.write`
    * gzips every string: for a ~1,100 entry conf, ~114 KB and ~5 ms to
    * write, ~4 ms to read each (warm, one thread, a 4-core machine),
    * against ~66 KB and under 1 ms for the pairs plus the rebuild.
    *
    * Each task writes its rows to a hidden (`.`-prefixed, so readers skip
    * it) attempt file and renames it to `part-<partition>-<uuid>` with the
    * codec's extension; the uuid is one per write, so a retried or
    * speculative attempt replaces the same file, never adds one. Partition
    * 0 writes a file even without rows, and a frame with no partitions gets
    * one empty partition, so an empty batch reads back with its schema.
    *
    * Nothing else commits: no `_temporary/` dirs, task or job commit
    * renames, commit-coordinator round trip or `_SUCCESS`; the caller's
    * marker ([[ManifestSink.publish]]) is the commit. What that gives up
    * against `DataFrameWriter`: the write job's SQL metrics (files, bytes,
    * rows written), the `_SUCCESS` file, and
    * `spark.sql.files.maxRecordsPerFile` (0, unlimited, by default): a task
    * writes one file however many rows it has.
    */
  private[sink] def write(df: DataFrame, dir: String, options: Map[String, String]): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val (conf, factory) = prepare(spark, schema, options)
    val pairs = confPairs(conf)
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    fs.delete(path, true)
    fs.mkdirs(path)
    val uuid = UUID.randomUUID().toString
    val rows = df.queryExecution.toRdd
    val rdd = if (rows.getNumPartitions > 0) rows
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    // the session's SQL confs reach the tasks as local properties, as in
    // any SQL execution (a foreachBatch write already runs inside one)
    SQLExecution.withSQLConfPropagated(spark.asInstanceOf[ClassicSession]) {
      spark.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) =>
        writeTask(pairs, factory, schema, dir, uuid, ctx, it))
    }
  }

  /** The write's Hadoop conf and writer factory, built as Spark's file
    * writer builds them for a parquet write with `options`.
    */
  private[graft] def prepare(spark: SparkSession, schema: StructType,
      options: Map[String, String]): (Configuration, OutputWriterFactory) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    (job.getConfiguration, factory)
  }

  private def writeTask(pairs: Array[String], factory: OutputWriterFactory, schema: StructType,
      dir: String, uuid: String, ctx: TaskContext, rows: Iterator[InternalRow]): Unit = {
    if (ctx.partitionId() != 0 && !rows.hasNext) return
    val conf = rebuildConf(pairs)
    val attempt = new TaskAttemptContextImpl(conf, new TaskAttemptID)
    val name = f"part-${ctx.partitionId()}%05d-$uuid${factory.getFileExtension(attempt)}"
    val hidden = new Path(dir, s".$name.${ctx.taskAttemptId()}")
    val out = factory.newInstance(hidden.toString, schema, attempt)
    try rows.foreach(out.write) finally out.close()
    val fs = hidden.getFileSystem(conf)
    val target = new Path(dir, name) // a local rename replaces an existing target
    if (!fs.rename(hidden, target)) throw new IOException(s"cannot rename $hidden to $target")
  }

  /** Every entry of `conf` as a flat `key, value, key, value, …` array. */
  private[graft] def confPairs(conf: Configuration): Array[String] =
    conf.iterator.asScala.flatMap(e => Array(e.getKey, e.getValue)).toArray

  /** The conf [[confPairs]] was taken from, without loading any defaults. */
  private[graft] def rebuildConf(pairs: Array[String]): Configuration = {
    val conf = new Configuration(false)
    var i = 0
    while (i < pairs.length) { conf.set(pairs(i), pairs(i + 1)); i += 2 }
    conf
  }
}
