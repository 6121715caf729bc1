package perfbench

import java.io.File
import java.nio.file.Files

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** All regular files under `f`. */
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  /** Hard-links the first `n` files of `from` (by name) into a fresh `to`. */
  def linkFirst(from: File, to: File, n: Int): Unit = {
    delete(to)
    to.mkdirs()
    from.listFiles().filter(_.isFile).sortBy(_.getName).take(n).foreach { f =>
      val l = new File(to, f.getName).toPath
      Files.createLink(l, f.toPath)
    }
  }

  def mtimeMs(f: File): Long = Files.getLastModifiedTime(f.toPath).toMillis
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
