package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, rank per
  * query). Scale paths: IVF (deterministic hash-sampled centroids, probe
  * the nearest lists) and random-hyperplane LSH bucketing for near-dup
  * pairs. The dot product / cosine are native codegen expressions
  * (graft.functions.VectorExpr) with strictly sequential summation —
  * which makes the doubles bit-identical both to the HOF reference
  * formulation kept here and to the DuckDB oracle's list_reduce.
  */
object Similarity {

  /** Sequential-order dot product of two double arrays — HOF reference
    * formulation (CodegenFallback: interpreted lambda per element). Kept
    * for the kernel-parity spec; hot paths use the native expressions.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Native codegen kernels (same strictly sequential summation order —
    * bit-identical to the HOF form and to DuckDB's list_reduce).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpr.dot_f64(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpr.cosine_sim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (vec_id, v): the embedding column as `array<double>`. */
  private def vectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Final top-k stage of every scored search ([[scoredTopK]]): a bounded
    * per-partition heap (typed Aggregator → ObjectHashAggregate, partial +
    * final) instead of a `row_number` window. The window formulation
    * shuffles and SORTS every scored candidate; the aggregate reduces each
    * task to <= k rows per query BEFORE the exchange, so the shuffle
    * carries O(tasks x Q x k) instead of |candidates| — the difference
    * between "fine at sf0.01" and "fine at 100x queries x lists". Total
    * order (cos DESC, vec_id ASC) matches the former window's exactly.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val tk = org.apache.spark.sql.functions.udaf(graft.functions.TopKByScore(k))
    scored.groupBy("q_id")
      .agg(tk(col("cos"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.vec_id").as("vec_id"), col("t.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Score a candidate x query join (candidates carry `vec_id`, `nv` and
    * the vector column `v`; queries carry `q_id`, `q`, `nq`) by cosine
    * with precomputed norms, self-matches excluded, and keep each query's
    * best `k` ([[rankTopK]]).
    */
  private def scoredTopK(pairs: DataFrame, v: Column, k: Int): DataFrame =
    rankTopK(
      pairs.filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cosPre(col("q"), v).as("cos")),
      k)

  /** Every `stride`-th vector of `base` is a query: (q_id, q), plus the
    * query norm `nq` where the caller scores with it directly ([[probes]]
    * adds it otherwise).
    */
  private def strideQueries(base: DataFrame, stride: Int, nq: Column*): DataFrame =
    base.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("q_id") +: col("v").as("q") +: nq.map(_.as("nq")): _*)

  /** Exhaustive top-k over a normed `base` (vec_id, v, nv): its stride
    * queries are broadcast (small side), candidates scanned once. The plan
    * of [[bruteTopK]] and [[sqTopK]].
    */
  private def exhaustiveTopK(base: DataFrame, k: Int, stride: Int): DataFrame =
    scoredTopK(base.join(broadcast(strideQueries(base, stride, col("nv")))),
      col("v"), k)

  /** Brute-force cosine top-k: every `stride`-th vector is a query;
    * queries are broadcast (small side), candidates scanned once, reduced
    * per query by the bounded-heap aggregate ([[rankTopK]]). Self-matches
    * excluded. O(Q x N) scoring — the correctness anchor and the right
    * plan when Q is small; the exchange after scoring carries <= k rows
    * per (task, query), never the candidate set.
    */
  def bruteTopK(emb: DataFrame, k: Int = 10, stride: Int = 50): DataFrame =
    exhaustiveTopK(withNorm(vectors(emb)), k, stride)

  /** Attach the vector norm ONCE per row (separate select so CollapseProject
    * cannot inline `v` into the norm — `dot(v, v)` references it twice).
    * The O(Q x N) scoring stage then pays one dot + a multiply + a divide
    * per PAIR instead of three dots: `cosine(a, b)` recomputes BOTH norms
    * per pair, which triples the flops of every brute/IVF/PQ scan (guide
    * §1.2 step 2 — per-task work). cos = dot/(nq*nv) is bit-identical:
    * the same strictly sequential sums, the same sqrt(a)*sqrt(b) multiply
    * order, just factored out of the pair loop.
    */
  private def withNorm(base: DataFrame): DataFrame =
    base.select(base.columns.map(col) :+ norm(col("v")).as("nv"): _*)

  /** cosine with precomputed norms — `a` side norm first, matching
    * `VectorKernels.cosine`'s sqrt(daa) * sqrt(dbb) order exactly.
    */
  private def cosPre(q: Column, v: Column): Column =
    dot(q, v) / (col("nq") * col("nv"))

  /** A vector's `list_id`: argmax of `v` against the normalized centroids. */
  private def assignLists(base: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    base.withColumn("list_id",
      graft.functions.VectorExpr.argmax_dot(col("v"), typedlit(cents)))

  /** Assignment quality of a stored row, `q` = cos(v, centroid[list_id]):
    * one dot against its own stored assignment (no re-argmax).
    */
  private def assignmentQuality(cents: Seq[Seq[Double]]): Column =
    (dot(col("v"), element_at(typedlit(cents), col("list_id") + 1))
      / norm(col("v"))).as("q")

  /** The `n` hash-smallest vectors of `base` (vec_id, v): a deterministic
    * pseudo-random sample in one TakeOrderedAndProject scan (no `count()`
    * pre-scan), collected to the driver.
    */
  private def hashSeeds(base: DataFrame, n: Int): Seq[Seq[Double]] =
    base.withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(n).select("v").collect()
      .map(_.getSeq[Double](0)).toSeq

  /** The mean half of a Lloyd update: `points` holds the cell columns
    * `cells` (int keys), the coordinate index `pos` and its value `x`.
    * Per-(cell, pos) partial sums are map-side combined, so the exchange
    * and the collect carry <= cells x dim rows at any corpus size; each
    * cell's mean is indexed by `pos % dim`. A cell with no members is
    * absent from the result and keeps its old centroid at the caller.
    */
  private def cellMeans(points: DataFrame, cells: Seq[String],
      dim: Int): Map[Seq[Int], Seq[Double]] = {
    val nk = cells.size
    points.groupBy((cells :+ "pos").map(col): _*)
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .collect()
      .groupBy(r => (0 until nk).map(r.getInt))
      .map { case (cell, rs) =>
        val mean = new Array[Double](dim)
        rs.foreach(r =>
          mean(r.getInt(nk) % dim) = r.getDouble(nk + 1) / r.getLong(nk + 2))
        cell -> mean.toSeq
      }
  }

  /** Spherical-k-means centroid training (deterministic hash-sampled
    * seeds + `kmeansIters` Lloyd refinements); returns the NORMALIZED
    * centroid matrix. Factored out so [[ivfTopK]] (inline) and
    * [[buildIvfIndex]] (persistent) train identically.
    */
  def trainCentroids(emb: DataFrame, nlist: Int, kmeansIters: Int): Seq[Seq[Double]] = {
    val base = vectors(emb)
    // pre-normalized centroid MATRIX: argmax_i cos(v, c_i) =
    // argmax_i dot(v, c_i/|c_i|) since |v| is constant per row. One
    // typedlit matrix + a native looped argmax keeps the assignment
    // projection tiny: unrolling nlist separate dot expressions either
    // fails Janino (nlist=64) or compiles past HotSpot's JIT method limit
    // and runs as un-JIT-able bytecode, measured 8x slower (nlist=32).
    def normalize(cv: Seq[Double]): Seq[Double] = {
      val cn = math.sqrt(cv.map(x => x * x).sum)
      if (cn == 0.0) cv else cv.map(_ / cn)
    }
    // deterministic pseudo-random centroid sample: nlist smallest by hash
    val sampled: Seq[Seq[Double]] = hashSeeds(base, nlist).map(normalize)
    // Lloyd refinement (spherical k-means): hash-sampled seeds are a poor
    // quantizer when the corpus has more natural clusters than nlist — a
    // cluster with no sampled "home" centroid scatters its members across
    // lists by noise correlations and recall collapses (measured 0.48 on
    // the 256-cluster bench corpus; 0.99+ after one iteration). Each
    // iteration is ONE scan: the same codegen'd argmax assignment, then a
    // per-(list,dim) partial sum ([[cellMeans]]). Means collect as
    // nlist x dim doubles (driver-side matrix, same footprint as the
    // centroid literals themselves).
    (1 to kmeansIters).foldLeft(sampled) { (cn, _) =>
      val means = cellMeans(assignLists(base, cn)
          .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x"))),
        Seq("list_id"), cn.head.size)
      // an empty list keeps its seed
      cn.indices.map(i => means.get(Seq(i)).fold(cn(i))(normalize))
    }
  }

  /** IVF-style ANN, re-planned for scale (round-1 version cost 8x brute
    * force — cross-join + N×nlist window shuffle + an exchange keyed on 16
    * list_ids):
    *
    *  1. centroids = `nlist` hash-sampled vectors via one
    *     TakeOrderedAndProject scan (no `count()` pre-scan), collected to
    *     the driver (nlist rows) and re-emitted as LITERALS;
    *  2. assignment = per-row argmax over the centroid literals — plain
    *     projection, ZERO exchange, no window (the centroid scores are
    *     separate struct elements of one projection, so the shared `v`
    *     cast/norm aliases are multi-referenced and CollapseProject keeps
    *     them materialized once per row rather than inlining per score);
    *  3. probes side (Q × nprobe rows) is BROADCAST into the candidate
    *     join — the big side never shuffles, and certainly not on a
    *     16-value key;
    *  4. the final top-k is the bounded-heap aggregate ([[rankTopK]]):
    *     partial ObjectHashAggregate caps each task at k rows per query
    *     before the q_id-keyed exchange (many distinct queries at scale).
    */
  def ivfTopK(emb: DataFrame, k: Int = 10, stride: Int = 50, nlist: Int = 16,
      nprobe: Int = 4, kmeansIters: Int = 0): DataFrame =
    ivfTopKWithCentroids(emb, trainCentroids(emb, nlist, kmeansIters), k,
      stride, nprobe)

  /** [[ivfTopK]] under a GIVEN (normalized) centroid matrix — the inline
    * form the incremental-index agreement test compares against: a built
    * index plus appended vectors must answer exactly like this over the
    * full corpus under the index's own centroids.
    */
  def ivfTopKWithCentroids(emb: DataFrame, centsNorm: Seq[Seq[Double]],
      k: Int = 10, stride: Int = 50, nprobe: Int = 4): DataFrame = {
    val base = vectors(emb)
    val pr = probes(strideQueries(base, stride), centsNorm, nprobe)
    scoredTopK(withNorm(assignLists(base, centsNorm)).join(broadcast(pr), "list_id"),
      col("v"), k)
  }

  /** Probes: per query (q_id, q) the `nprobe` best lists by cosine to
    * the normalized centroids, exploded — Q*nprobe rows. The per-centroid
    * score structs touch the probes side only (Q rows), and the query norm
    * `nq` computed once for probe selection is KEPT for scoring.
    */
  private def probes(queries: DataFrame, cents: Seq[Seq[Double]],
      nprobe: Int): DataFrame = {
    val centScores = cents.zipWithIndex.map { case (cv, i) =>
      struct((dot(col("q"), typedlit(cv)) / col("nq")).as("cos"), lit(i).as("c_idx"))
    }
    queries
      .withColumn("nq", norm(col("q")))
      .withColumn("probe_lists",
        slice(sort_array(array(centScores: _*), asc = false), 1, nprobe))
      .select(col("q_id"), col("q"), col("nq"),
        explode(col("probe_lists").getField("c_idx")).as("list_id"))
  }

  /** Persist an IVF index: `centroids.parquet` (list_id, centroid) plus
    * the corpus DIRECTORY-PARTITIONED by list_id. Build once (the
    * partitionBy write pays a one-time dynamic-partition sort — the known
    * cost, documented in BENCH notes), query many: probe sets then prune
    * index partitions at FILE-LISTING time, so each query batch touches
    * ~nprobe/nlist of the bytes on disk. This is the serving shape of
    * production ANN systems (index build and query are separate jobs);
    * [[ivfTopK]] remains the inline form for one-shot queries.
    */
  def buildIvfIndex(emb: DataFrame, dir: String, nlist: Int = 16,
      kmeansIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cn = trainCentroids(emb, nlist, kmeansIters)
    cn.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    assignLists(vectors(emb), cn)
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/assigned.parquet")
    // build-time quality baseline for the staleness probe: one scan of the
    // just-written index, avg + count in the SAME aggregate (no separate
    // emb.count() pass — at index-build scale an extra corpus scan is real
    // money for a value the probe can get from rows it already reads)
    val st = spark.read.parquet(s"$dir/assigned.parquet")
      .select(assignmentQuality(cn))
      .agg(avg("q").as("build_quality"), count(lit(1)).as("n"))
      .head()
    // an empty corpus yields a null avg — fail with a descriptive error
    // instead of an opaque NPE (round-5 advisor finding)
    require(!st.isNullAt(0),
      s"buildIvfIndex: empty corpus at $dir — no quality baseline to record")
    Seq((st.getDouble(0), st.getLong(1))).toDF("build_quality", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }

  /** Resolve an index directory to its ACTIVE version: a `CURRENT`
    * pointer file (written atomically by [[rebuildIvfIndex]]) names the
    * live `versions/v<N>` snapshot; absent, the directory itself is the
    * index (the flat layout [[buildIvfIndex]] writes). Versions are
    * immutable once superseded — a reader that resolved mid-rebuild keeps
    * a consistent file set (snapshot isolation by immutability), and the
    * pointer swap is the only mutation.
    */
  def resolveIndex(dir: String): String =
    currentVersion(dir).fold(dir)(v => s"$dir/versions/$v")

  /** The version name in `dir`'s `CURRENT` pointer, if it has one. */
  private def currentVersion(dir: String): Option[String] = {
    val cur = new java.io.File(dir, "CURRENT")
    if (!cur.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8").trim)
  }

  /** Load an index's (normalized) centroid matrix — bounded driver
    * materialization of nlist rows.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Seq[Double]] = {
    val p = resolveIndex(dir)
    spark.read.parquet(s"$p/centroids.parquet")
      .orderBy("list_id").select("list_id", "centroid")
      .collect().map(_.getSeq[Double](1)).toSeq
  }

  /** Incremental index maintenance: assign NEW vectors with the index's
    * EXISTING centroids (serving stays consistent — no silent re-train)
    * and append them to the list_id partition directories. One narrow
    * projection + a partitioned append; the existing index bytes are
    * untouched, so at 100 TB appending a day's corpus costs a scan of the
    * delta, not the index. Whether the centroids still FIT the grown
    * corpus is a separate, explicit question — [[ivfNeedsRetrain]].
    */
  def appendIvfIndex(newEmb: DataFrame, dir: String): Unit = {
    // resolve ONCE: centroids and the append target must come from the
    // same snapshot even if a rebuild swaps CURRENT between the two
    val p = resolveIndex(dir)
    val cn = loadCentroids(newEmb.sparkSession, p)
    assignLists(vectors(newEmb), cn)
      .write.mode("append").partitionBy("list_id").parquet(s"$p/assigned.parquet")
  }

  /** The response to a tripped [[ivfNeedsRetrain]]: re-train centroids
    * over the FULL current corpus (read back from the index itself — one
    * scan), build a fresh immutable snapshot under `versions/v<N+1>`, and
    * repoint `CURRENT` with an atomic rename. Old versions stay on disk
    * untouched (in-flight readers keep a consistent snapshot; cleanup is
    * an explicit retention job, as in any production index store). At
    * 100 TB the rebuild costs what the original build cost — which is why
    * it hides behind the cheap staleness probe instead of running per
    * append.
    */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int = 16, kmeansIters: Int = 0): String = {
    val cur = resolveIndex(dir)
    val corpus = spark.read.parquet(s"$cur/assigned.parquet")
      .select(col("vec_id"), col("v").as("embedding"))
    // next FREE version: read CURRENT+1, then skip any directory a crashed
    // or concurrent rebuild already created — a retried rebuild never
    // writes into a half-built snapshot. (The pointer swap below is the
    // only mutation; maintenance assumes ONE ACTIVE REBUILDER per index —
    // the standard single-writer index-store contract — and this guard
    // keeps even a violated assumption from corrupting a published
    // version: the loser of a CURRENT race publishes a complete snapshot,
    // never a torn one.)
    var nextV = currentVersion(dir).fold(1)(_.stripPrefix("v").toInt + 1)
    while (new java.io.File(s"$dir/versions/v$nextV").exists()) nextV += 1
    val vName = s"v$nextV"
    buildIvfIndex(corpus, s"$dir/versions/$vName", nlist, kmeansIters)
    publishVersion(dir, vName)
    vName
  }

  /** Atomically repoint `CURRENT` at a fully-built `versions/<vName>`
    * snapshot. Public so an EXTERNAL maintenance job (one that trained on
    * a corpus this index never saw) can publish too — the swap is the
    * contract, not the training provenance. Unique tmp name: two
    * concurrent swappers must not clobber each other's pending pointer
    * content before their ATOMIC_MOVE.
    */
  def publishVersion(dir: String, vName: String): Unit = {
    require(new java.io.File(s"$dir/versions/$vName/centroids.parquet").exists(),
      s"cannot publish $vName: no built snapshot at $dir/versions/$vName")
    val tmp = java.nio.file.Paths.get(dir,
      s".CURRENT_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.write(tmp, vName.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Mean assignment quality of the CURRENT index contents: avg over rows
    * of cos(v, centroid[list_id]) — each row pays one dot against its own
    * stored assignment (no re-argmax), map-side-combined to a single avg.
    */
  def ivfIndexQuality(spark: org.apache.spark.sql.SparkSession,
      dir: String): Double = {
    val p = resolveIndex(dir) // once — centroids + rows from one snapshot
    val cn = loadCentroids(spark, p)
    val row = spark.read.parquet(s"$p/assigned.parquet")
      .select(assignmentQuality(cn))
      .agg(avg("q")).head()
    require(!row.isNullAt(0), s"ivfIndexQuality: index at $dir holds no rows")
    row.getDouble(0)
  }

  /** Staleness / re-train trigger: the quality baseline was recorded at
    * build time over the initial corpus; appended vectors from a DRIFTED
    * distribution score worse against the frozen centroids, pulling the
    * mean down. Re-train when the drop exceeds `tolerance` (absolute
    * cosine). The probe costs one scan of the index — run it per append
    * batch, not per query.
    */
  def ivfNeedsRetrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      tolerance: Double = 0.05): Boolean = {
    val built = spark.read.parquet(s"${resolveIndex(dir)}/stats.parquet")
      .head().getDouble(0)
    built - ivfIndexQuality(spark, dir) > tolerance
  }

  /** Query a persisted IVF index (`queries` = (q_id, embedding)): load the
    * centroid matrix (nlist rows), derive per-query probe lists, filter
    * the partitioned index to the UNION of probed lists — directory-
    * partition pruning skips unprobed lists' files entirely (plan-pinned
    * via the scan's runtime numFiles) — then broadcast the probes and
    * reduce with the bounded-heap top-k. Identical results to [[ivfTopK]]
    * under the same centroids (agreement-tested).
    */
  def ivfTopKIndexed(indexDir: String, queries: DataFrame, k: Int = 10,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    // resolve ONCE: centroids and partitions must come from the same
    // immutable snapshot even if a rebuild swaps CURRENT mid-planning
    val snap = resolveIndex(indexDir)
    val cn: Seq[Seq[Double]] = loadCentroids(spark, snap)
    val pr = probes(queries.select(col("q_id"), asDouble(col("embedding")).as("q")),
      cn, nprobe)
    // bounded driver materialization (<= nlist ints): makes the partition
    // filter STATIC so pruning happens at file listing, not execution
    val probedLists: Seq[Int] = pr.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = withNorm(spark.read.parquet(s"$snap/assigned.parquet")
      .filter(col("list_id").isin(probedLists: _*)))
    scoredTopK(assigned.join(broadcast(pr), "list_id"), col("v"), k)
  }

  /** HOF reference formulation of the hyperplane code — kept for the
    * kernel-parity spec.
    */
  def lshCodeHof(v: Column, planes: Int): Column =
    aggregate(
      sequence(lit(0), lit(planes - 1)),
      lit(0L),
      (acc, j) => {
        val proj = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1),
            (x, d) => when(call_function("shiftright", xxhash64(j, d), lit(7)).bitwiseAND(1) === 1, x)
              .otherwise(-x)),
          lit(0.0), (a, x) => a + x)
        acc.bitwiseOR(when(proj > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L))
      })

  /** Random-hyperplane LSH code: bit j = sign of <v, h_j> where hyperplane
    * h_j's components are deterministic pseudo-random +/-1 derived from
    * xxhash64(j, dim_index). Near-dup pairs = same `planes`-bit code
    * bucket, verified by exact cosine >= threshold.
    *
    * Same scale pattern as Dedup.minhashLshPairs/simhashPairs ([[Lsh]]):
    * the candidate self-join carries ONLY ids, and mega-buckets (e.g.
    * near-zero vectors all coding to 0) are capped at `maxBucket` — a
    * degenerate bucket is O(n²) pairs of pure noise.
    */
  def lshCosinePairs(emb: DataFrame, planes: Int = 16,
      threshold: Double = 0.9, maxBucket: Int = 1000): DataFrame = {
    val base = vectors(emb)
    // native codegen hyperplane code, bit-identical to lshCodeHof
    val code = graft.functions.SketchExpr.hyperplane_code(col("v"), planes)
    val coded = base.select(col("vec_id"), code.as("code"))
      .repartition(col("code"))
    val cand = Lsh.selfJoin(Lsh.capped(coded, maxBucket, "code"),
      "vec_id", "vec_a", "vec_b", "code")
    verifiedCosine(cand, base, threshold)
  }

  /** Candidate (vec_a, vec_b) pairs with their exact cosine, kept at >=
    * `threshold`. Vectors are re-attached by key behind a repartition
    * barrier — never dragged through the candidate join, where projection
    * collapse would recompute them per pair.
    */
  private def verifiedCosine(cand: DataFrame, base: DataFrame,
      threshold: Double): DataFrame = {
    val va = base.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .repartition(col("vec_a"))
    val vb = base.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      .repartition(col("vec_b"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-then-cosine — k-means the embedding space (the SAME spherical
    * Lloyd kernel as the IVF index, [[trainCentroids]]), then compare
    * pairs only WITHIN a cluster and emit those above `threshold`. The
    * clustering is what makes semantic dedup tractable: candidate
    * generation drops from O(N^2) to sum over clusters of |c|^2, and the
    * per-cluster join is keyed on list_id — never a cartesian.
    *
    * Scale shape: assignment is the zero-exchange centroid-literal argmax
    * projection; the candidate join is [[Lsh]]'s ids-only self-join keyed
    * on list_id (vectors join back by vec_id afterwards), and `maxCluster`
    * is its bucket cap (a cluster bigger than the cap is exactly the case
    * where you re-train with a bigger nlist instead of letting one join
    * key go quadratic).
    */
  def semanticDedupPairs(emb: DataFrame, nlist: Int = 16, kmeansIters: Int = 2,
      threshold: Double = 0.95, maxCluster: Int = 10000): DataFrame = {
    val base = vectors(emb)
    val cents = trainCentroids(emb, nlist, kmeansIters)
    val ids = assignLists(base, cents)
      .select(col("vec_id"), col("list_id"))
      .repartition(col("list_id"))
    val cand = Lsh.selfJoin(Lsh.capped(ids, maxCluster, "list_id"),
      "vec_id", "vec_a", "vec_b", "list_id")
    verifiedCosine(cand, base, threshold)
  }

  /** Per-vector keep/drop verdict from [[semanticDedupPairs]]: a vector
    * is dropped when ANY smaller-id neighbor sits above the threshold —
    * the deterministic "keep the earliest representative" policy. (For
    * TRANSITIVE group collapse use ConnectedComponents.dedupClusters on
    * the pair graph instead; SemDeDup's published policy is per-cluster
    * representative choice, which this matches under id order.)
    */
  def semanticDedup(emb: DataFrame, nlist: Int = 16, kmeansIters: Int = 2,
      threshold: Double = 0.95, maxCluster: Int = 10000): DataFrame = {
    val drops = semanticDedupPairs(emb, nlist, kmeansIters, threshold, maxCluster)
      .select(col("vec_b").as("vec_id")).distinct()
    emb.select("vec_id")
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(!col("dropped"), lit(true)).as("keep"))
  }

  /** Per-dimension (min, max) over the corpus — the scalar-quantization
    * training pass: one explode + map-side-combined hash agg keyed on the
    * dimension index (`dim` rows total), collected driver-side like the
    * IVF centroids (bounded by the embedding dimensionality).
    */
  def sqTrain(emb: DataFrame): (Seq[Double], Seq[Double]) = {
    val base = emb.select(asDouble(col("embedding")).as("v"))
    val stats = base.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("d").collect()
    (stats.map(_.getDouble(1)).toSeq, stats.map(_.getDouble(2)).toSeq)
  }

  /** Reconstructed int8 scalar quantization of `v` (midpoint decode on
    * the SAME 255-step grid as the encoder — mixing /255 encode with /256
    * decode skews every bucket by up to a full step):
    * code = clamp(floor((x-mn)*255/(mx-mn)), 0, 255);
    * recon = mn + (code+0.5)*(mx-mn)/255. The per-dim bounds ride along
    * as array LITERALS (broadcast in the plan, nothing per-row), so the
    * whole transform is one codegen'd narrow projection.
    */
  def sqRecon(v: Column, mn: Seq[Double], mx: Seq[Double]): Column = {
    val mnl = lit(mn.toArray); val mxl = lit(mx.toArray)
    transform(v, (x, i) => {
      val lo = element_at(mnl, i + 1); val hi = element_at(mxl, i + 1)
      val code = when(hi === lo, lit(0.0)).otherwise(
        least(greatest(floor((x - lo) * 255.0 / (hi - lo)).cast("double"),
          lit(0.0)), lit(255.0)))
      lo + (code + 0.5) * (hi - lo) / 255.0
    })
  }

  /** Int8 scalar-quantized cosine top-k — the memory/IO-compression scale
    * path for brute scans: at 100 TB the candidate matrix is the cost, and
    * SQ8 cuts the scanned bytes 4x (f32→u8; store the code column and the
    * 2xdim bounds, reconstruct on the fly) at a recall loss measured in
    * SimilaritySpec, not guessed. Same plan as [[bruteTopK]] — broadcast
    * queries, one scan, bounded-heap final — but over reconstructed
    * vectors; every stage is deterministic, so the DuckDB oracle
    * re-derives quantization, scoring, and ranks exactly.
    *
    * Queries are scored in their RECONSTRUCTED form too (symmetric SQ) —
    * one fewer code path and the standard faiss-style SQ baseline.
    */
  def sqTopK(emb: DataFrame, k: Int = 10, stride: Int = 50): DataFrame = {
    val (mn, mx) = sqTrain(emb)
    exhaustiveTopK(withNorm(emb.select(col("vec_id"),
      sqRecon(asDouble(col("embedding")), mn, mx).as("v"))), k, stride)
  }

  // ------------------------------------------------------------------ PQ

  /** Per-vector PQ code array (one code per subspace). The argmin-L2
    * assignment reuses the native looped `argmax_dot` via augmentation:
    * argmin_c ||x-c||^2 = argmax_c (dot(x,c) - ||c||^2/2), so append a
    * constant 1.0 to the subvector and -||c||^2/2 to each centroid and
    * take the plain dot argmax — no new expression needed, same Janino/
    * JIT-safe looped kernel as the IVF assignment.
    */
  def pqCodes(v: Column, cb: Seq[Seq[Seq[Double]]], sub: Int): Column =
    array(cb.indices.map { j =>
      val aug: Seq[Seq[Double]] =
        cb(j).map(c => c :+ (-0.5 * c.map(x => x * x).sum))
      graft.functions.VectorExpr.argmax_dot(
        concat(slice(v, j * sub + 1, sub), array(lit(1.0))), typedlit(aug))
    }: _*)

  /** Product-quantization codebooks (Jegou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the d-dim space split
    * into `m` subspaces of d/m dims, `k` L2 centroids per subspace.
    *
    * Scale shape — IVF's exactly: ONE scan per Lloyd iteration for ALL
    * subspaces at once (the assignment projection computes every
    * subspace's code natively; a per-subspace training loop would scan
    * the corpus m times per iteration), then a posexplode +
    * map-side-combined (subspace, code, pos) hash agg whose output is
    * m*k*(d/m) = k*d partial means — the same bounded driver footprint
    * as the IVF centroid matrix. Deterministic seeding: the k
    * hash-smallest vectors seed every subspace.
    */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 3): Seq[Seq[Seq[Double]]] = {
    val base = vectors(emb)
    val seeds = hashSeeds(base, k)
    require(seeds.size == k, s"corpus smaller than k=$k")
    // dim from the seed rows already on the driver — no separate size() scan
    val dim = seeds.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val init: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
    (1 to iters).foldLeft(init) { (cb, _) =>
      val jCol = (col("pos") / lit(sub)).cast("int")
      val means = cellMeans(base
          .select(pqCodes(col("v"), cb, sub).as("codes"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .select(jCol.as("j"), col("pos"), col("x"),
            element_at(col("codes"), jCol + 1).as("code")),
        Seq("j", "code"), sub)
      // an empty cell keeps its previous centroid
      (0 until m).map(j =>
        (0 until k).map(c => means.getOrElse(Seq(j, c), cb(j)(c))))
    }
  }

  /** Reconstruction: concatenate each subspace's chosen centroid —
    * encode + decode in one codegen'd narrow projection, like
    * [[sqRecon]].
    */
  def pqRecon(v: Column, cb: Seq[Seq[Seq[Double]]], sub: Int): Column = {
    val codes = pqCodes(v, cb, sub)
    concat(cb.indices.map(j =>
      element_at(typedlit(cb(j)), element_at(codes, j + 1) + 1)): _*)
  }

  /** PQ shortlist + exact rerank top-k — the production PQ serving
    * pipeline (faiss's ADC + refine): asymmetric-distance scoring (exact
    * query against reconstructed candidates) over the 32x-compressed
    * codes selects a `shortlist` per query with a bounded heap; only
    * those <= Q x shortlist survivors are rejoined to their raw vectors
    * for an exact-cosine rerank to the final k. The compressed scan is
    * where the bytes are at 100 TB — the exact-vector fetch touches a
    * vanishing fraction of the corpus. ADC-only ranking is NOT the
    * operator (4-bit subquantizers on dense 64-d noise rank poorly —
    * measured recall 0.29 — which is a property of raw ADC, not of this
    * pipeline; QualityOpsSpec measures the reranked recall). Final ranks
    * are by exact cosine, so the oracle re-derives cos AND rank from raw
    * embeddings, the same form as the IVF oracles.
    */
  def pqTopK(emb: DataFrame, k: Int = 10, shortlist: Int = 100,
      stride: Int = 50, m: Int = 8, codebookK: Int = 16,
      iters: Int = 3): DataFrame = {
    val cb = pqTrain(emb, m, codebookK, iters)
    val sub = cb.head.head.size
    val base = vectors(emb)
    // reconstructed-candidate norm once per ROW (separate select — no
    // collapse), query norm once per query: the ADC shortlist scan pays
    // one dot per pair instead of three
    val cand = base.select(col("vec_id"), pqRecon(col("v"), cb, sub).as("r"))
      .select(col("vec_id"), col("r"), norm(col("r")).as("nv"))
    val queries = strideQueries(base, stride, norm(col("v")))
    val short = scoredTopK(cand.join(broadcast(queries)), col("r"), shortlist)
      .select("q_id", "vec_id")
    val rer = short.join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("q"), col("v")).as("cos"))
    rankTopK(rer, k)
  }

  // ------------------------------------------------ JL random projection

  /** Deterministic Johnson-Lindenstrauss sign matrix (Achlioptas 2003:
    * +-1/sqrt(outDim) entries preserve inner products in expectation) —
    * signs from the splitmix64 finalizer over the flat cell index, so the
    * SAME literal matrix is injected into both engines and results
    * compare exactly (no seed state, no RNG). A weaker linear mix was
    * measured at 0.94 column correlation (distortion 0.45 — rank
    * collapse); splitmix brings columns to random-equivalent 0.34.
    */
  def jlMatrix(inDim: Int, outDim: Int): Seq[Seq[Double]] = {
    val s = 1.0 / math.sqrt(outDim)
    def splitmix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until inDim).map { i =>
      (0 until outDim).map { j =>
        if ((splitmix(i.toLong * outDim + j) & 1L) == 0L) s else -s
      }
    }
  }

  /** Project an array<double> column through the literal JL matrix —
    * one codegen'd fold per output dimension, zero shuffle. `v` must be
    * a bound attribute (not a computed expression): HOF lambdas re-run
    * captured computations per element.
    */
  def jlProject(v: Column, p: Seq[Seq[Double]]): Column = {
    val pl = typedlit(p)
    transform(sequence(lit(1), lit(p.head.size)), j =>
      aggregate(sequence(lit(1), lit(p.size)), lit(0.0),
        (acc, i) => acc + element_at(v, i) * element_at(element_at(pl, i), j)))
  }

  /** Sampled-pair distortion audit of the JL projection: cosine in the
    * original space vs the projected space for (query-stride x
    * candidate-stride) pairs — the check a pipeline runs before trusting
    * a reduced-dimension index. Both cosines use the same ascending-fold
    * arithmetic as the DuckDB oracle, and the matrix entries are exact
    * doubles (+-1/4 at outDim 16), so the compare is bit-exact with no
    * tolerance pass-through.
    */
  def jlDistortion(emb: DataFrame, outDim: Int = 16, qStride: Int = 50,
      cStride: Int = 17): DataFrame = {
    val base = vectors(emb)
    val inDim = base.select(size(col("v"))).head().getInt(0)
    val p = jlMatrix(inDim, outDim)
    val withProj = base.select(col("vec_id"), col("v"),
      jlProject(col("v"), p).as("pv"))
    val queries = withProj.filter(col("vec_id") % qStride === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q"), col("pv").as("pq"))
    withProj.filter(col("vec_id") % cStride === 0)
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q"), col("v")).as("cos_orig"),
        cosine(col("pq"), col("pv")).as("cos_proj"))
  }
}
