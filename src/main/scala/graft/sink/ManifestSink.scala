package graft.sink

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Exactly-once parquet sink for `foreachBatch` — the manifest protocol
  * (the Iceberg-append contract rebuilt on plain parquet, SURVEY.md §7.6):
  *
  *  1. a micro-batch lands in `data/batch_id=<id>/` (Hive-style partition
  *     dir, so readers get `batch_id` for free) with mode=overwrite → a
  *     torn write is repaired by the replay;
  *  2. after the data lands, a `_commits/<id>` marker is moved into place
  *     atomically; a replayed batch (post-restart) sees the marker and
  *     SKIPS — idempotent under Spark's at-least-once foreachBatch;
  *  3. readers consult the manifest and see committed batches only.
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
    publish(batchId)(df.write.mode("overwrite").parquet(_))

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
