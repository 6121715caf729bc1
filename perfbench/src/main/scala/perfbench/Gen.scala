package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import graft.fixtures.TranscriptGen
import graft.model.{Catalog, DefAllowedRow, EntityRow, Turn}

/** Shape of one generated backlog, arranged in event-time order.
  *
  * Stream position `k` (0 until rows) belongs to slot `k % openConvs`; each
  * slot runs `turnsPerConv` turns of one conversation and then starts the
  * next, so `openConvs` conversations are open at any event time. Row `k`
  * carries event time `k * dtMs` after the base, except the ~1/23 rows the
  * generator makes late (pulled back one hour, as `TranscriptGen.makeTurn`
  * does). A share of 1/`replayEvery` of the on-time rows is delivered a
  * second time, byte-identical, `replayLag` positions later. Files hold
  * `rowsPerFile` consecutive positions each, so file order is event-time
  * order and the file of an original row is `k / rowsPerFile`. The stream
  * reads `perTrigger` files per micro-batch.
  */
final case class Layout(rows: Long, openConvs: Int, turnsPerConv: Int,
    rowsPerFile: Int, dtMs: Long, replayEvery: Int, replayLag: Long, users: Int,
    perTrigger: Int) {
  def files: Int = ((rows + rowsPerFile - 1) / rowsPerFile).toInt
}

/** What the generator planned, counted in the benchmark process from the
  * same pure functions the Spark tasks use.
  */
final case class Planned(originals: Long, replays: Long, late: Long, nullText: Long) {
  def rowsIn: Long = originals + replays
}

final class Gen(val layout: Layout, seed: Long) extends Serializable {
  import Gen._
  private val salt = TranscriptGen.mix(seed ^ 0x5eedL)
  private def h(k: Long) = TranscriptGen.mix(k ^ salt)
  private def mod(x: Long, m: Long) = java.lang.Long.remainderUnsigned(x, m)

  def conv(k: Long): Long = {
    val o = layout.openConvs
    (k / o / layout.turnsPerConv) * o + k % o
  }
  def turnIdx(k: Long): Int = ((k / layout.openConvs) % layout.turnsPerConv).toInt
  def late(k: Long): Boolean = mod(h(k) >>> 24, 23L) == 0L
  def role(k: Long): String = turnIdx(k) % 3 match {
    case 0 => "user"
    case 1 => "agent"
    case _ => "tool"
  }
  // the null filter sees only on-time rows, so every null-text row passes dedup
  def nullText(k: Long): Boolean =
    role(k) != "user" && !late(k) && mod(h(k) >>> 16, 53L) == 0L
  def replayed(k: Long): Boolean =
    layout.replayEvery > 0 && !late(k) && k + layout.replayLag < layout.rows &&
      mod(h(k) >>> 40, layout.replayEvery.toLong) == 0L
  def user(c: Long): Int =
    if (layout.users == TranscriptGen.NumUsers) (c % layout.users).toInt
    else mod(TranscriptGen.mix(c ^ salt), layout.users.toLong).toInt

  def turn(k: Long): Turn = {
    val hk = h(k)
    val r = role(k)
    val c = conv(k)
    val text =
      if (r == "user") {
        if (mod(hk >>> 16, 29L) == 0L) s"garbage payload $k {{{"
        else TranscriptGen.userText(TranscriptGen.pickScenario(hk), user(c), hk)
      } else if (nullText(k)) null
      else s"""{"msg_type":"CHAT_MSG","data_type":"${if (r == "tool") "ToolResult" else "Chat"}",""" +
        s""""text":"turn $k content with words to analyse number ${k % 97}"}"""
    val tool = if (r == "tool") (if ((hk & 1) == 0) "search" else "calculator") else null
    val ms = BaseMs + k * layout.dtMs - (if (late(k)) 3600000L else 0L)
    Turn(convId(c), turnIdx(k), r, text, tool, new Timestamp(ms))
  }

  /** Rows of file `f` in arrival order: its originals plus the replays
    * whose delivery position falls inside the file.
    */
  def fileRows(f: Int): Seq[Turn] = {
    val lo = f.toLong * layout.rowsPerFile
    val hi = math.min(lo + layout.rowsPerFile, layout.rows)
    val originals = (lo until hi).map(k => (2 * k, k))
    val replays = (math.max(0L, lo - layout.replayLag) until math.max(0L, hi - layout.replayLag))
      .filter(replayed).map(k => (2 * (k + layout.replayLag) + 1, k))
    (originals ++ replays).sortBy(_._1).map(p => turn(p._2))
  }

  def planned: Planned = {
    var replays, lateN, nulls = 0L
    var k = 0L
    while (k < layout.rows) {
      if (replayed(k)) replays += 1
      if (late(k)) lateN += 1
      if (nullText(k)) nulls += 1
      k += 1
    }
    Planned(layout.rows, replays, lateN, nulls)
  }

  /** Writes one parquet file per `fileRows(f)` into `dir` as `f%05d.parquet`,
    * with modification times rising by file number so the file source reads
    * them in event-time order.
    */
  def write(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    val tmp = new File(dir.getPath + ".tmp")
    Fs.delete(tmp)
    Fs.delete(dir)
    val self = this
    spark.range(0, layout.files.toLong, 1, layout.files)
      .flatMap(f => self.fileRows(f.toInt))
      .write.parquet(tmp.getPath)
    dir.mkdirs()
    val Part = """part-(\d+)-.*\.parquet""".r
    tmp.listFiles().foreach { p =>
      p.getName match {
        case Part(i) =>
          val f = i.toInt
          val to = new File(dir, fileName(f)).toPath
          Files.move(p.toPath, to, StandardCopyOption.ATOMIC_MOVE)
          Files.setLastModifiedTime(to, FileTime.fromMillis(FileMtimeBase + f * 1000L))
        case _ => ()
      }
    }
    Fs.delete(tmp)
    require(dir.listFiles().length == layout.files,
      s"expected ${layout.files} files in $dir, found ${dir.listFiles().length}")
  }
}

object Gen {
  val BaseMs: Long = TranscriptGen.BaseEpoch * 1000L
  val FileMtimeBase: Long = 1767225600000L
  def convId(c: Long): String = f"CONV_$c%010d"
  def fileName(f: Int): String = f"f$f%05d.parquet"

  /** Catalog for `users` users: `TranscriptGen.catalog` itself for its own
    * 50 users, otherwise the same targets and attribute rules with every
    * user of the larger population registered.
    */
  def catalog(users: Int): Catalog =
    if (users == TranscriptGen.NumUsers) TranscriptGen.catalog
    else {
      val base = TranscriptGen.catalog
      val allowed = TranscriptGen.defAllowed.head.allowed
      val codes = (0 until users).map(TranscriptGen.userCode)
      Catalog(
        base.entities ++ codes.map(c => c -> EntityRow(c, s"User ${c.stripPrefix("PER_USER")}")),
        base.defAllowed ++ codes.map(c => c -> DefAllowedRow(c, "DEF_PERSON", allowed)),
        base.attributes)
    }
}
