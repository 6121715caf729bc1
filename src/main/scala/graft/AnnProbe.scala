package graft

/** Diagnostic ANN probe: brute vs IVF wall time and recall@10 on an
  * embeddings corpus, sweeping kmeansIters. Outside the bench and verify
  * entry points — this is how the nlist/nprobe/kmeansIters operating point
  * in Bench phase 4 was chosen (on its 100k-vector `embeddings.parquet`).
  *
  * usage: runMain graft.AnnProbe <embeddings.parquet> [kmeansIters]
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.AnnProbe <embeddings.parquet> [kmeansIters]")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = Profile.session()
    val emb = spark.read.parquet(args(0))
    val annN = emb.count()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val brute = graft.ops.Similarity.bruteTopK(emb, k = 10, stride = 200)
    val (_, bSec0) = time(brute.count()) // session warmup absorbed here
    val (_, bSec) = time(brute.count())
    println(f"[ann] brute: $bSec%.2f s (first $bSec0%.2f s)")
    for (it <- Seq(0, iters)) {
      val ivf = graft.ops.Similarity.ivfTopK(emb, k = 10, stride = 200,
        nlist = 64, nprobe = 8, kmeansIters = it)
      val (_, iSec) = time(ivf.count())
      val hits = ivf.select("q_id", "vec_id")
        .join(brute.select("q_id", "vec_id"), Seq("q_id", "vec_id")).count()
      val recall = hits.toDouble / (annN / 200 * 10)
      println(f"[ann] ivf iters=$it: $iSec%.2f s, recall@10 $recall%.3f")
    }
    spark.stop()
  }
}
