package graft

import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.validate.ValidationPipeline

/** Plan audits: the shapes that matter at 100 TB, pinned as assertions so
  * a regression in pushdown / pruning / join strategy / shuffle count
  * fails CI instead of shipping a slow plan.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("fused validation pipeline is shuffle-free (zero Exchange)") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val d = ValidationPipeline.decide(spark,
      TranscriptGen.readTranscripts(spark, p), TranscriptGen.catalog).toDF()
    val s = plan(d)
    assert(!s.contains("Exchange"), s"unexpected shuffle:\n${s.take(1500)}")
  }

  test("column pruning: quality metrics scan reads only doc_id + text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = plan(graft.ops.TextMetrics.quality(docs))
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(s.contains(readSchema), s.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n"))
  }

  test("predicate pushdown reaches the parquet scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.filter(col("lang") === "en").select("doc_id")
    val s = plan(q)
    assert(s.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("brute-force top-k broadcasts the query side, scans candidates once") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s = plan(graft.ops.Similarity.bruteTopK(emb, k = 5, stride = 100))
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s.take(1200))
  }

  test("ANN final top-k is a bounded-heap aggregate, not a candidate window sort") {
    // The exchange between the partial and final ObjectHashAggregate
    // carries <= k rows per (task, query); a Window formulation would
    // shuffle AND sort every scored candidate — the one 100x-scale killer
    // round 3's audit found. Pin both ANN paths.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (s <- Seq(plan(graft.ops.Similarity.bruteTopK(emb, k = 5, stride = 100)),
        plan(graft.ops.Similarity.ivfTopK(emb, k = 5, stride = 100, nlist = 8, nprobe = 4)))) {
      assert(!s.contains("Window"), s.take(1500))
      assert("ObjectHashAggregate".r.findAllIn(s).length == 2, // partial + final
        s.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
    }
  }

  test("dedup_exact join-back is a hash join on the digest (never BNLJ/cartesian)") {
    // The null-safe <=> key is still an equi-join key; a regression to
    // BroadcastNestedLoopJoin would be O(n^2) at scale (round-3 bench saw
    // a 3x slowdown coincide with the <=> rewrite — pinned benign here).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = plan(graft.ops.Dedup.exact(docs))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s.take(1500))
    assert(s.contains("BroadcastHashJoin") || s.contains("ShuffledHashJoin")
      || s.contains("SortMergeJoin"), s.take(1500))
  }

  test("salted agg plan has two aggregate rounds (partial spread + merge)") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.ops.Aggregates.convStatsSalted(
      TranscriptGen.readTranscripts(spark, p)))
    val aggCount = "HashAggregate".r.findAllIn(s).length
    assert(aggCount >= 4, s"expected 2 partial+final pairs, plan:\n${s.take(1200)}")
  }

  test("dimension joins in the relational variant never fall back to SMJ") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val (ent, defA, attr) = TranscriptGen.readCatalogFrames(spark, p)
    val s = plan(graft.validate.RelationalValidation.decide(spark,
      TranscriptGen.readTranscripts(spark, p), ent, defA, attr))
    assert("BroadcastHashJoin".r.findAllIn(s).length >= 4, s.take(1500))
    assert(!s.contains("SortMergeJoin"))
  }

  test("ivf_topk: one final exchange on q_id — never keyed on the 16-value list_id") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s = plan(graft.ops.Similarity.ivfTopK(emb, k = 5, stride = 100,
      nlist = 8, nprobe = 4))
    assert(!s.contains("hashpartitioning(list_id"), s.take(1500))
    val keys = "Exchange hashpartitioning\\(([a-z_]+)".r.findAllMatchIn(s)
      .map(_.group(1)).toSeq.distinct
    assert(keys == Seq("q_id"), s"exchange keys: $keys\n${s.take(1500)}")
    assert(!s.contains("CartesianProduct"), s.take(1500))
  }

  test("topk_convs plan uses TakeOrderedAndProject, not a global sort window") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.ops.Aggregates.topConversations(
      TranscriptGen.readTranscripts(spark, p), k = 10))
    assert(s.contains("TakeOrderedAndProject"), s.take(1500))
  }

  test("ngram jaccard df prune is a hash aggregate, not a window sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the inverted index is materialized (localCheckpoint) before the pair
    // join, so pin its shape on the pre-materialization frame: hash-agg df
    // prune + left_semi, no Window
    val idx = plan(graft.ops.Dedup.prunedIndex(docs, n = 3, maxDf = 1000,
      textCol = "text"))
    assert(!idx.contains("Window"), idx.take(2000))
    assert(idx.contains("LeftSemi"), idx.take(2000))
    assert(idx.contains("HashAggregate"), idx.take(2000))
    val s = plan(graft.ops.Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.05))
    assert(!s.contains("Window"), s.take(2000))
  }

  test("every LSH bucket guard is a hash-agg prune, not a window count") {
    // The mega-bucket cap needs one count per bucket (map-side-combined
    // aggregate + left_semi), never a per-partition sort of every banded
    // row — pinned across all three candidate generators.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (s <- Seq(
        plan(graft.ops.Similarity.lshCosinePairs(emb, planes = 8, threshold = 0.35)),
        plan(graft.ops.Dedup.minhashLshPairs(docs, numHashes = 64, bands = 16,
          threshold = 0.2)),
        plan(graft.ops.Dedup.simhashPairs(docs, maxHamming = 3)))) {
      assert(!s.contains("Window"), s.take(2000))
      assert(s.contains("LeftSemi"), s.take(2000))
    }
  }

  test("directory partition pruning: equality filter reads ONE partition's files") {
    // Hive-style partition layout (the shape of a date-partitioned 100 TB
    // corpus): an equality filter on the partition column must prune at
    // file-listing time — PartitionFilters on the scan node and a runtime
    // numFiles metric of a single partition, not a read-then-filter.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    spark.range(1000)
      .select(col("id"), (col("id") % 10).as("day"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("day") === 3).select("id")
    val s = plan(q)
    assert(s.contains("PartitionFilters: [isnotnull(day"),
      s.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // drive THIS QueryExecution (count() would plan and run a separate one)
    q.queryExecution.toRdd.count()
    val scan = flattenPlan(q.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val allFiles = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < allFiles && readFiles >= 1,
      s"expected pruned read, got $readFiles of $allFiles files")
  }

  test("pivot with declared values is one aggregate pass, no Expand") {
    // NB the .pivot(col, values) API would be TWO aggregation phases here
    // (groupBy(keys, pivot).count + pivotfirst re-agg — measured); the
    // conditional-count formulation is a single partial+final pair.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = plan(graft.ops.Aggregates.langLengthPivot(docs))
    assert(!s.contains("Expand"), s.take(1200))
    assert("HashAggregate".r.findAllIn(s).length == 2, // partial + final
      s.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
    assert("Exchange".r.findAllIn(s).length == 1, s.take(1200))
  }

  test("grouping sets is ONE Expand + one aggregate pass, not three scans") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.ops.Aggregates.groupingSetsStats(
      TranscriptGen.readTranscripts(spark, p)))
    assert("Expand".r.findAllIn(s).length == 1, s.take(1200))
    assert("Scan parquet".r.findAllIn(s).length == 1,
      s.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("ordered collection agg plans as partial+final ObjectHashAggregate") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.ops.Aggregates.toolSequence(
      TranscriptGen.readTranscripts(spark, p)))
    assert("ObjectHashAggregate".r.findAllIn(s).length == 2, s.take(1200))
  }

  test("outer interval join: equi-keyed SMJ on conv_id, never a cartesian") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.streaming.TurnJoin.userToolPairsOuter(
      TranscriptGen.readTranscripts(spark, p), horizon = "3 minutes"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s.take(1500))
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin"), s.take(1500))
  }

  test("trained-model inference is narrow: BPE tokenize and NB classify plan zero Exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = graft.ops.Bpe.trainFromCounts(Seq("the" -> 5L, "then" -> 2L), 5)
    val sBpe = plan(graft.ops.Bpe.tokenCounts(spark, docs, merges))
    assert(!sBpe.contains("Exchange"), sBpe.take(1200))
    val model = graft.ops.LangModel.NbModel(Seq("en"), Map(("en", "the") -> -1.0),
      Map("en" -> -5.0))
    val sNb = plan(graft.ops.LangModel.classify(spark, docs, model))
    assert(!sNb.contains("Exchange"), sNb.take(1200))
  }

  test("runtime Bloom-filter join pruning injects on a selective dim join") {
    // At 100 TB the big probe side should be row-filtered by a Bloom
    // filter built from the selective dimension BEFORE the shuffle —
    // Catalyst's runtime.bloomFilter rule does this when enabled; pin
    // that our plain equi-join shape is eligible (no UDF/odd expression
    // blocking the rewrite).
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    spark.range(200000).select(col("id").as("fk"), (col("id") % 1000).as("payload"))
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(200000).select(col("id").as("pk"), (col("id") % 97).as("attr"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // default 10GB — the rule only fires when the PROBE side is big;
      // shrink so the test corpus qualifies (prod keeps the default)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force shuffle join
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("attr") === 3) // ~1%
      val q = fact.join(dim, col("fk") === col("pk")).select("fk", "payload")
      val s = q.queryExecution.optimizedPlan.toString + "\n" + plan(q)
      assert(s.toLowerCase.contains("might_contain"), s.take(3000))
    }
  }

  test("CC rounds: hash-agg minima + equi-joins, no Window/cartesian/adjacency sort") {
    // Each large-star/small-star round must stay: per-center min as a
    // map-side-combinable hash aggregate, stamped back via an id-keyed
    // equi-join. A Window or collect_list formulation would sort /
    // materialize whole neighborhoods (the 100 TB skew failure mode);
    // a cartesian would be quadratic.
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 9L), (5L, 6L)).toDF("u", "v")
    for (s <- Seq(plan(graft.ops.ConnectedComponents.largeStar(e)),
        plan(graft.ops.ConnectedComponents.smallStar(e)))) {
      assert(!s.contains("Window"), s.take(1200))
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s.take(1200))
      assert(!s.contains("collect_list"), s.take(1200))
      assert(s.contains("HashAggregate") || s.contains("ObjectHashAggregate"),
        s.take(1200))
    }
  }

  test("repetition signals are narrow: zero Exchange, codegen projection") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = plan(graft.ops.TextMetrics.repetitionSignals(docs))
    assert(!s.contains("Exchange"), s.take(1200))
  }

  test("LM scoring is narrow over a broadcast model: zero Exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.ops.LangModel.NbModel(Seq("en"), Map(("en", "the") -> -1.0),
      Map("en" -> -5.0))
    val s = plan(graft.ops.LangModel.score(spark, docs, model))
    assert(!s.contains("Exchange"), s.take(1200))
  }

  test("SQ8 top-k keeps the brute plan shape: broadcast queries, heap final, no Window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s = plan(graft.ops.Similarity.sqTopK(emb, k = 5, stride = 100))
    assert(!s.contains("Window"), s.take(1500))
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      s.take(1500))
    assert("ObjectHashAggregate".r.findAllIn(s).length == 2, // partial + final heap
      s.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
  }

  test("whole-stage codegen covers the stateless column stages") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val parsed = ValidationPipeline.parsed(TranscriptGen.readTranscripts(spark, p))
    assert(plan(parsed).contains("*(1)"), plan(parsed).take(800))
  }

  test("decontam: gram-keyed joins + hash aggregates — no Window, no nested-loop") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val s = plan(graft.ops.Decontam.splitAndOverlap(docs, n = 8))
    assert(!s.contains("Window"), s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(2000))
  }

  test("line dedup: keeper choice is a hash-agg min(struct), no Window, hot key partial-agg'd") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = plan(graft.ops.Dedup.lineDedup(docs))
    assert(!s.contains("Window"), s.take(2000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    // partial aggregation collapses each task's occurrences of a hot
    // boilerplate line to one row before the exchange
    assert("partial_min".r.findAllIn(s).nonEmpty ||
      "partial min".r.findAllIn(s).nonEmpty || s.contains("HashAggregate"),
      s.take(2000))
  }

  test("semantic dedup candidate join is keyed on list_id — never a cartesian") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s = plan(graft.ops.Similarity.semanticDedupPairs(emb,
      nlist = 4, kmeansIters = 1, threshold = 0.95))
    assert(!s.contains("CartesianProduct"), s.take(2000))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(2000))
    // the bucket guard is the hash-agg + left_semi prune, not a window
    assert(!s.contains("Window"), s.take(2000))
  }

  test("CEP batch plan: one conv_id exchange + in-partition sort, no Window") {
    val p = TranscriptGen.ensure(spark, "/root/testdata/sf0.001")
    val s = plan(graft.ops.Cep.searchRuns(
      TranscriptGen.readTranscripts(spark, p)).toDF())
    // exactly one shuffle (the keyed repartition) — the per-conversation
    // matcher is a narrow pass over a sorted partition, never a Window or
    // a second exchange
    assert("Exchange hashpartitioning\\(conv_id".r.findAllIn(s).size == 1, s.take(2000))
    assert("Exchange".r.findAllIn(s).size == 1, s.take(2000))
    assert(!s.contains("Window"), s.take(2000))
    // the sort is intra-partition (global=false), not a global sort
    assert(!s.contains("rangepartitioning"), s.take(2000))
  }
}
