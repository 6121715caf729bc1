package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextMetrics}

/** Training-data pipeline operators: dedup family, similarity search,
  * text metrics, multimodal plumbing — over the driver's documents and
  * embeddings tables plus deterministic planted near-duplicates.
  */
class OpsSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** documents + near-dup copies (doc_id+100000, every 10th word mutated)
    * + exact-dup copies (doc_id+200000) for the first 20 docs.
    */
  private lazy val planted: DataFrame = {
    val ws = split(lower(trim(col("text"))), "\\s+")
    val mutated = docs.filter(col("doc_id") < 20)
      .withColumn("text",
        concat_ws(" ", transform(ws, (w, i) => when(i % 10 === 0, lit("xmutx")).otherwise(w))))
      .withColumn("doc_id", col("doc_id") + 100000)
    val exact = docs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 200000)
    docs.unionByName(mutated).unionByName(exact)
  }

  // ------------------------------------------------------------ text metrics

  test("quality metrics: sane ranges, deterministic") {
    import spark.implicits._
    val q = TextMetrics.quality(docs)
    assert(q.count() == docs.count())
    assert(q.filter($"quality_score" < 0 || $"quality_score" > 1).count() == 0)
    assert(q.filter($"n_words" <= 0).count() == 0)
    val a = q.orderBy("doc_id").collect().toSeq
    val b = TextMetrics.quality(docs).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("token counts: bpe-ish >= whitespace tokens") {
    import spark.implicits._
    val t = TextMetrics.tokenCounts(docs)
    assert(t.filter($"bpe_ish_tokens" < $"ws_tokens").count() == 0)
  }

  test("lang id: picks the stopword-matching language on synthetic text") {
    import spark.implicits._
    val fx = Seq(
      (1L, "the cat and the dog went to the house of it"),
      (2L, "der hund und die katze ist nicht mit einem haus"),
      (3L, "le chat et la maison est dans les jardins pour vous"),
      (4L, "el perro y el gato es un animal en la casa por ahora"))
      .toDF("doc_id", "text")
    val got = TextMetrics.langId(fx).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es"))
  }

  test("fingerprint: equal for whitespace variants, different otherwise") {
    import spark.implicits._
    val fx = Seq((1L, "hello  world"), (2L, " hello world "), (3L, "hello worlds"))
      .toDF("doc_id", "text")
    val fp = TextMetrics.fingerprint(fx).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  // ------------------------------------------------------------------ dedup

  test("exact dedup: planted exact copies collapse to the original id") {
    import spark.implicits._
    val e = Dedup.exact(planted)
    val dups = e.filter(!$"keep").select("doc_id", "keep_id").as[(Long, Long)].collect()
    assert(dups.length == 20)
    assert(dups.forall { case (d, k) => d == k + 200000 })
    assert(e.filter($"keep").count() == planted.count() - 20)
  }

  test("ngram jaccard: planted near-dups found, est in (0.5, 1)") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(planted, n = 3, threshold = 0.3)
      .filter($"doc_b" < 200000) // ignore exact copies for this check
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    val found = pairs.filter { case (a, b, _) => b == a + 100000 }
    assert(found.length >= 15, s"found only ${found.length} of 20 planted pairs")
    assert(found.forall(_._3 > 0.3) && found.forall(_._3 < 1.0))
  }

  test("minhash LSH: detects planted near-dups; estimate tracks true jaccard") {
    import spark.implicits._
    val lsh = Dedup.minhashLshPairs(planted, numHashes = 64, bands = 16, threshold = 0.3)
      .filter($"doc_b" < 200000)
      .select("doc_a", "doc_b", "est_jaccard").as[(Long, Long, Double)].collect()
    val found = lsh.filter { case (a, b, _) => b == a + 100000 }
    assert(found.length >= 15, s"LSH found only ${found.length} of 20")
    // estimate vs exact jaccard on the same pairs
    val exact = Dedup.ngramJaccardPairs(planted, n = 3, threshold = 0.0)
      .filter($"doc_b" === $"doc_a" + 100000)
      .select("doc_a", "jaccard").as[(Long, Double)].collect().toMap
    found.foreach { case (a, _, est) =>
      exact.get(a).foreach(j => assert(math.abs(est - j) < 0.25,
        s"doc $a: est $est vs true $j"))
    }
  }

  test("simhash: planted near-dups have small hamming distance") {
    import spark.implicits._
    val sh = Dedup.simhash(planted).as[(Long, Long)].collect().toMap
    val dists = (0L until 20L).map { id =>
      java.lang.Long.bitCount(sh(id) ^ sh(id + 100000))
    }
    val unrelated = (0L until 19L).map { id =>
      java.lang.Long.bitCount(sh(id) ^ sh(id + 1))
    }
    assert(dists.sum.toDouble / dists.size < unrelated.sum.toDouble / unrelated.size,
      s"near-dup mean ${dists.sum / 20.0} !< unrelated mean ${unrelated.sum / 19.0}")
    // exact copies → identical simhash
    (0L until 20L).foreach(id => assert(sh(id) == sh(id + 200000)))
  }

  test("simhashPairs finds exact copies at hamming 0") {
    import spark.implicits._
    val p = Dedup.simhashPairs(planted, maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(id => assert(p.contains((id, id + 200000))))
  }

  // ------------------------------------------------------------- similarity

  test("brute-force cosine top-k: k rows per query, ranks contiguous, cos in [-1,1]") {
    import spark.implicits._
    val tk = Similarity.bruteTopK(emb, k = 10, stride = 50)
    val perQ = tk.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(perQ.nonEmpty && perQ.forall(_._2 == 10))
    assert(tk.filter($"cos" > 1.0001 || $"cos" < -1.0001).count() == 0)
    assert(tk.filter($"rank" === 1).count().toInt == perQ.length)
  }

  test("bounded-heap top-k agrees row-for-row with the window formulation") {
    import spark.implicits._
    // the former row_number().over(partitionBy(q_id).orderBy(cos desc,
    // vec_id asc)) plan, re-derived inline as the semantic reference
    val base = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val queries = base.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("q_id"), $"v".as("q"))
    val scored = base.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", Similarity.cosine($"q", $"v").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy($"cos".desc, $"vec_id".asc)
    val windowed = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10).select("q_id", "vec_id", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val heap = Similarity.bruteTopK(emb, k = 10, stride = 50)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(heap.length == windowed.length)
    heap.zip(windowed).foreach { case (h, e) => assert(h == e, s"$h != $e") }
  }

  test("IVF ANN: recall@10 >= 0.6 vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteTopK(emb, k = 10, stride = 50)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val ivf = Similarity.ivfTopK(emb, k = 10, stride = 50, nlist = 16, nprobe = 8)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val recalls = brute.keys.toSeq.map { q =>
      val b = brute(q).map(_._2).toSet
      val i = ivf.getOrElse(q, Array.empty[(Long, Long)]).map(_._2).toSet
      b.intersect(i).size.toDouble / b.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall $mean")
  }

  test("persisted IVF index: identical to inline ivfTopK; probes prune index partitions") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    Similarity.buildIvfIndex(emb, idx, nlist = 8)
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding")
    val got = Similarity.ivfTopKIndexed(idx, queries, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Similarity.ivfTopK(emb, k = 5, stride = 100, nlist = 8, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want, s"indexed-only: ${got -- want}; inline-only: ${want -- got}")

    // static partition pruning: one query probing 2 of 8 lists must read
    // FEWER index files than exist (file-listing-time pruning, not a scan
    // + filter) — the serving-path property the index exists for
    val one = emb.filter($"vec_id" === 0).select($"vec_id".as("q_id"), $"embedding")
    val q1 = Similarity.ivfTopKIndexed(idx, one, k = 5, nprobe = 2)
    q1.queryExecution.toRdd.count()
    val scan = flattenPlan(q1.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.partitionSchema.fieldNames.contains("list_id") => f
    }.head
    val allFiles = new java.io.File(s"$idx/assigned.parquet").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("list_id="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < allFiles && readFiles >= 1,
      s"expected pruned index read, got $readFiles of $allFiles files")
  }

  test("incremental IVF: append under frozen centroids == inline over full corpus; staleness flags drift") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    val half1 = emb.filter($"vec_id" % 2 === 0)
    val half2 = emb.filter($"vec_id" % 2 =!= 0)
    Similarity.buildIvfIndex(half1, idx, nlist = 8)
    Similarity.appendIvfIndex(half2, idx)
    val cn = Similarity.loadCentroids(spark, idx)
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding")
    // the agreement the verdict asked for: indexed-after-append answers
    // exactly like the inline plan over the FULL corpus under the SAME
    // centroids (the index's own — training saw only half1)
    val got = Similarity.ivfTopKIndexed(idx, queries, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Similarity.ivfTopKWithCentroids(emb, cn, k = 5, stride = 100, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want, s"indexed-only: ${got -- want}; inline-only: ${want -- got}")
    // same-distribution append barely moves the quality baseline
    assert(!Similarity.ivfNeedsRetrain(spark, idx, tolerance = 0.05))
    // a DRIFTED append: project every vector onto the orthogonal
    // complement of the centroid span (Gram-Schmidt, driver-side on the
    // 8x64 basis) — cos to EVERY centroid is 0 by construction, the
    // worst-case distribution shift for this quantizer, and the mean
    // quality drop trips the re-train trigger
    def dotA(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    cn.foreach { c =>
      val v = c.toArray.clone()
      basis.foreach { b => val d = dotA(v, b); v.indices.foreach(i => v(i) -= d * b(i)) }
      val n = math.sqrt(dotA(v, v))
      if (n > 1e-9) basis += v.map(_ / n)
    }
    val drifted = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, e) =>
        val v = e.toArray
        basis.foreach { b => val d = dotA(v, b); v.indices.foreach(i => v(i) -= d * b(i)) }
        // +1000001 keeps drifted ids OFF the stride-100 query grid, so the
        // inline comparison below derives the same query set as `queries`
        (id + 1000001L, v.toSeq)
      }
      .filter { case (_, v) => dotA(v.toArray, v.toArray) > 1e-12 }
      .toDF("vec_id", "embedding")
    Similarity.appendIvfIndex(drifted, idx)
    assert(Similarity.ivfNeedsRetrain(spark, idx, tolerance = 0.05))
    // the response: retrain over the full current corpus into an
    // immutable versions/vN snapshot + atomic CURRENT swap
    val v = Similarity.rebuildIvfIndex(spark, idx, nlist = 8)
    assert(v == "v1")
    assert(!Similarity.ivfNeedsRetrain(spark, idx, tolerance = 0.05))
    // serving resolves through CURRENT and agrees with the inline plan
    // under the RETRAINED centroids over the grown corpus
    val cn2 = Similarity.loadCentroids(spark, idx)
    assert(cn2 != cn, "rebuild did not retrain centroids")
    val full = emb.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionByName(drifted)
    val got2 = Similarity.ivfTopKIndexed(idx, queries, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    // the inline form derives its queries by stride over the FULL corpus
    // (which pulls in some drifted ids); compare on the original query set
    val want2 = Similarity.ivfTopKWithCentroids(full, cn2, k = 5, stride = 100, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
      .filter(_._1 < 1000000)
    assert(got2 == want2, s"indexed-only: ${got2 -- want2}; inline-only: ${want2 -- got2}")
    // the superseded flat snapshot is untouched (readers mid-query keep
    // a consistent file set)
    assert(new java.io.File(s"$idx/centroids.parquet").exists())
    // a second rebuild bumps the version
    assert(Similarity.rebuildIvfIndex(spark, idx, nlist = 8) == "v2")
    assert(Similarity.resolveIndex(idx).endsWith("versions/v2"))
  }

  test("IVF versions: a rebuild skips a crashed rebuild's leftover dir; publish needs a built snapshot") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_ver").toString
    Similarity.buildIvfIndex(emb, idx, nlist = 4)
    def leftover(v: String): Unit =
      assert(new java.io.File(s"$idx/versions/$v").mkdirs(), s"mkdir $v")
    def current: String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "CURRENT")), "UTF-8")
    // a crashed first rebuild left versions/v1 behind, unpublished
    leftover("v1")
    val e = intercept[IllegalArgumentException](Similarity.publishVersion(idx, "v1"))
    assert(e.getMessage.contains("no built snapshot"), e.getMessage)
    assert(!new java.io.File(idx, "CURRENT").exists())
    assert(Similarity.resolveIndex(idx) == idx)
    // no CURRENT yet: the next version would be v1, which is taken
    assert(Similarity.rebuildIvfIndex(spark, idx, nlist = 4) == "v2")
    assert(current == "v2")
    // CURRENT = v2 and a leftover v3: the next free version is v4
    leftover("v3")
    intercept[IllegalArgumentException](Similarity.publishVersion(idx, "v3"))
    assert(current == "v2")
    assert(Similarity.rebuildIvfIndex(spark, idx, nlist = 4) == "v4")
    assert(Similarity.resolveIndex(idx) == s"$idx/versions/v4")
    // the leftovers stay as they were: never written into
    Seq("v1", "v3").foreach(v =>
      assert(new java.io.File(s"$idx/versions/$v").list().isEmpty, v))
  }

  test("LSH cosine pairs: identical vectors always collide; output above threshold") {
    import spark.implicits._
    val dup = emb.filter($"vec_id" < 10)
      .withColumn("vec_id", $"vec_id" + 10000)
    val pairs = Similarity.lshCosinePairs(emb.unionByName(dup), planes = 12,
      threshold = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach(id => assert(pairs.contains((id, id + 10000)),
      s"identical pair $id missing"))
  }

  test("LSH bucket cap: a bucket of exactly maxBucket rows pairs once, one more drops it") {
    import spark.implicits._
    // k copies of one doc and of one vector share EVERY band/block/code
    // bucket, so each bucket holds exactly k rows
    val k = 5
    val ids = spark.range(k).toDF("id")
    val copies = docs.filter($"doc_id" === 0).select("text")
      .crossJoin(ids.withColumnRenamed("id", "doc_id"))
    val vecs = emb.filter($"vec_id" === 0).select("embedding")
      .crossJoin(ids.withColumnRenamed("id", "vec_id"))
    val all = for (a <- 0L until k; b <- a + 1 until k) yield (a, b)
    val generators: Seq[(String, Int => DataFrame)] = Seq(
      "minhashLshPairs" -> (m => Dedup.minhashLshPairs(copies, maxBucket = m)
        .select("doc_a", "doc_b")),
      "simhashPairs" -> (m => Dedup.simhashPairs(copies, maxBucket = m)
        .select("doc_a", "doc_b")),
      "lshCosinePairs" -> (m => Similarity.lshCosinePairs(vecs, maxBucket = m)
        .select("vec_a", "vec_b")))
    for ((name, pairs) <- generators) {
      // at the cap: every C(k,2) pair exactly once, though it shares every bucket
      assert(pairs(k).as[(Long, Long)].collect().sorted.toSeq == all, name)
      // one over the cap: every bucket is dropped whole
      assert(pairs(k - 1).isEmpty, name)
    }
  }

  // -------------------------------------------------------------- multimodal

  test("BMP decode: header parsed, 4-byte row padding stripped, pixels recovered") {
    // w=6 → rowBytes 18, stride 20: two pad bytes per row must be skipped
    val (w, h) = (6, 3)
    val pix = Array.tabulate[Byte](w * h * 3)(i => (i * 7 + 1).toByte)
    val file = Multimodal.bmpFile(w, h, pix)
    assert(file.length == 54 + 20 * h)
    val Some((dw, dh, got)) = Multimodal.decodeBmp(file)
    assert((dw, dh) == (w, h))
    assert(got.toSeq == pix.toSeq)
    // not a BMP → None (falls back to the stub path)
    assert(Multimodal.decodeBmp("not an image at all".getBytes).isEmpty)
  }

  test("WAV decode: RIFF chunk walk finds fmt/data past an inserted chunk") {
    val samples = Array.tabulate[Short](10)(k => (k * 1000 - 5000).toShort)
    val data = new Array[Byte](20)
    samples.zipWithIndex.foreach { case (s, k) =>
      data(2 * k) = s.toByte; data(2 * k + 1) = (s >> 8).toByte
    }
    val canonical = Multimodal.wavFile(data)
    assert(Multimodal.decodeWav(canonical).get.toSeq == samples.toSeq)
    // splice a LIST chunk between fmt and data — a fixed-offset reader breaks
    val list = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val spliced = canonical.take(36) ++ list ++ canonical.drop(36)
    // RIFF size field must cover the new chunk
    val riffSize = spliced.length - 8
    spliced(4) = riffSize.toByte; spliced(5) = (riffSize >> 8).toByte
    spliced(6) = (riffSize >> 16).toByte; spliced(7) = (riffSize >> 24).toByte
    assert(Multimodal.decodeWav(spliced).get.toSeq == samples.toSeq)
    assert(Multimodal.decodeWav("RIFFgarbage".getBytes).isEmpty)
  }

  test("PNG decode goes through the JDK ImageIO codec; JPEG/GIF also decode") {
    val (w, h) = (7, 5)
    val pix = Array.tabulate[Byte](w * h * 3)(i => (i * 13 + 5).toByte)
    // PNG: lossless, bit-exact roundtrip through the platform decoder
    val png = Multimodal.pngFile(w, h, pix)
    assert(png.length == Multimodal.pngFileLength(w, h))
    val Some((pw, ph, got)) = Multimodal.decodeImage(png)
    assert((pw, ph) == (w, h) && got.toSeq == pix.toSeq)
    // JPEG (lossy) and GIF: encode via ImageIO, decode via our sniffing
    // path — dimensions must survive; JPEG pixels are approximate by nature
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      img.setRGB(x, y, ((pix(p) & 0xff) << 16) | ((pix(p + 1) & 0xff) << 8) |
        (pix(p + 2) & 0xff))
    }
    for (fmt <- Seq("jpg", "gif")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK cannot encode $fmt")
      val Some((dw, dh, _)) = Multimodal.decodeImage(bos.toByteArray)
      assert((dw, dh) == (w, h), s"$fmt dims")
    }
    // unknown magic stays on the stub path
    assert(Multimodal.decodeImage("certainly not an image".getBytes).isEmpty)
  }

  test("multimodal: synthesize + extract is deterministic with fixed shape") {
    import spark.implicits._
    val media = Multimodal.synthesize(spark, docs)
    val feats = Multimodal.extractFeatures(spark, media, batchSize = 32)
    assert(feats.count() == docs.count())
    val rows = feats.collect()
    assert(rows.forall(_.features.length == Multimodal.FeatureDim))
    val again = Multimodal.extractFeatures(spark, Multimodal.synthesize(spark, docs))
      .collect().map(f => f.doc_id -> (f.checksum, f.features.toSeq)).toMap
    rows.foreach(f => assert(again(f.doc_id) == (f.checksum, f.features.toSeq)))
    // media types/formats split as designed
    assert(media.filter(_.media_type == "audio").count() == docs.filter(col("doc_id") % 3 === 0).count())
    assert(media.filter(_.format == "png").count() == docs.filter(col("doc_id") % 3 === 2).count())
    assert(media.filter(_.format == "bmp").count() == docs.filter(col("doc_id") % 3 === 1).count())
  }

  // --------------------------------------------------------- pivot / sampling

  test("pivot: per-lang length buckets sum back to the corpus, no nulls") {
    val p = graft.ops.Aggregates.langLengthPivot(docs)
    val total = p.select((col("n_short") + col("n_medium") + col("n_long")).as("s"))
      .agg(sum("s")).head().getLong(0)
    assert(total == docs.count())
    assert(p.filter(col("n_short").isNull || col("n_medium").isNull ||
      col("n_long").isNull).count() == 0)
    // declared pivot values → single aggregate, no second value-discovery job
    assert(p.columns.toSeq == Seq("lang", "n_short", "n_medium", "n_long"))
  }

  test("curation pipeline: stage-monotone, near-dups gone, survivors all target-lang") {
    val curated = graft.ops.Curation.curate(planted, jaccard = 0.5)
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    // exact copies (doc_id+200000) must never survive: their base doc wins
    assert(ids.forall(_ < 200000), s"exact dup survived: ${ids.filter(_ >= 200000)}")
    // near-dup mutated copies (doc_id+100000) lose to their base when the
    // pair crosses the 0.5 jaccard threshold
    val pairs = graft.ops.Dedup.ngramJaccardPairs(
      planted.dropDuplicates("doc_id"), n = 3, threshold = 0.5)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(pairs.forall(b => !ids.contains(b)), "a dropped near-dup survived")
    // survivors are exclusively the target language
    val langs = graft.ops.TextMetrics.langId(planted)
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids.forall(langs(_) == "en"))
    // every survivor carries a split and token counts
    assert(curated.filter(col("split").isNull || col("ws_tokens").isNull).count() == 0)
  }

  test("hash split: deterministic, disjoint, ~5% validation fraction") {
    val a = graft.ops.Sampling.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val b = graft.ops.Sampling.hashSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b) // pure per-row function: stable across runs/parallelism
    assert(a.size == docs.count())
    val valFrac = a.values.count(_ == "val").toDouble / a.size
    assert(valFrac > 0.005 && valFrac < 0.15, s"val fraction $valFrac")
    // zero-shuffle plan: assignment is a single codegen'd projection
    val plan = graft.ops.Sampling.hashSplit(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }
}
