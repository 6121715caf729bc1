package graft

import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.validate.{RelationalValidation, ValidationPipeline}

/** The relational (explode + broadcast-join + Catalyst fold) formulation
  * must agree row-for-row with the fused typed-map pipeline on the full
  * fixture corpus — same decisions, reasons, uuids and webdata payloads.
  */
class RelationalSpec extends SparkSpec {

  private def frames(nConvs: Int, blacklist: Boolean) = {
    import spark.implicits._
    val turns = TranscriptGen.turnsDs(spark, nConvs, 10, nConvs / 2).toDF()
    val fused = ValidationPipeline
      .decide(spark, turns, TranscriptGen.catalog, blacklist).toDF()
    val rel = RelationalValidation.decide(spark, turns,
      TranscriptGen.entities.toDF(), TranscriptGen.defAllowed.toDF(),
      TranscriptGen.attributeDefs.toDF(), blacklist)
    (fused, rel)
  }

  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select(col("conv_id"), col("turn_idx"), col("decision"),
      col("reason"), col("uuid"), col("promoted"),
      sort_array(col("webdata")).as("webdata"))
    .collect().map(r => (r.getString(0), r.getInt(1)) -> r.toSeq).toMap

  test("relational == fused on the fixture corpus (blacklist on)") {
    val (fused, rel) = frames(60, blacklist = true)
    val f = canon(fused); val r = canon(rel)
    assert(f.keySet == r.keySet, "row sets differ")
    f.foreach { case (k, v) =>
      assert(r(k) == v, s"mismatch @ $k: relational=${r(k)} fused=$v")
    }
    assert(f.size > 500)
  }

  test("relational == fused with blacklist off (Q5 promotion)") {
    val (fused, rel) = frames(25, blacklist = false)
    val f = canon(fused); val r = canon(rel)
    assert(f.keySet == r.keySet)
    f.foreach { case (k, v) => assert(r(k) == v, s"mismatch @ $k") }
  }

  test("dimension joins are broadcast (no shuffle joins in the plan)") {
    val (_, rel) = frames(6, blacklist = true)
    val plan = rel.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("decisions survive a dimension catalog too big to broadcast (shuffle-join fallback)") {
    // The 100x-catalog scenario: when a dimension outgrows
    // autoBroadcastJoinThreshold a broadcast HINT would still force the
    // broadcast (driver OOM at scale), so the large-catalog path is
    // decide(broadcastDims = false) + threshold -1 — Catalyst plans the
    // dimension joins as shuffle joins. Decisions must be identical:
    // correctness must not depend on the join strategy.
    import spark.implicits._
    val turns = TranscriptGen.turnsDs(spark, 12, 10, 6).toDF()
    def run(bcast: Boolean) = RelationalValidation.decide(spark, turns,
      TranscriptGen.entities.toDF(), TranscriptGen.defAllowed.toDF(),
      TranscriptGen.attributeDefs.toDF(), enableBlacklist = true,
      broadcastDims = bcast)
    val before = canon(run(bcast = true))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fallback = run(bcast = false)
      val plan = fallback.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        "fallback plan still broadcasts:\n" + plan.take(1500))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(1500))
      val after = canon(fallback)
      assert(after.keySet == before.keySet)
      before.foreach { case (k, v) =>
        assert(after(k) == v, s"decision changed under shuffle-join fallback @ $k")
      }
    }
  }
}
