package graft

import org.apache.spark.serializer.JavaSerializer
import graft.fixtures.TranscriptGen
import graft.model._

/** `PackedCatalog`: the catalog the validation stages broadcast, as one
  * byte array.
  */
class PackedCatalogSpec extends SparkSpec {

  /** The fixture catalog with `users` more users, all sharing one
    * `allowed` list (as a large deployment's users share their DEF's).
    */
  def withUsers(users: Int): Catalog = {
    val base = TranscriptGen.catalog
    val allowed = TranscriptGen.defAllowed.head.allowed
    val codes = (0 until users).map(u => s"PER_BIG$u")
    Catalog(
      base.entities ++ codes.map(c => c -> EntityRow(c, s"User $c")),
      base.defAllowed ++ codes.map(c => c -> DefAllowedRow(c, "DEF_PERSON", allowed)),
      base.attributes)
  }

  test("a packed catalog unpacks equal to the catalog, nulls and non-ASCII text included") {
    val base = TranscriptGen.catalog
    assert(PackedCatalog(base).catalog == base)
    val odd = Catalog(
      base.entities ++ Seq("PER_NULL" -> EntityRow("PER_NULL", null), "PER_Ü" -> EntityRow("PER_Ü", "Zoë 名前")),
      base.defAllowed ++ Seq("PER_NULL" -> DefAllowedRow("PER_NULL", null, null),
        "PER_EMPTY" -> DefAllowedRow("PER_EMPTY", "DEF_PERSON", Seq.empty)),
      base.attributes ++ Seq(
        "ATT_NONE" -> AttributeDefRow("ATT_NONE", "DTT_TEXT", null),
        "ATT_LONG" -> AttributeDefRow("ATT_LONG", "DTT_TEXT",
          Seq(ValidationRule("x" * 70000, "too long"), null))))
    assert(PackedCatalog(odd).catalog == odd)
    val empty = Catalog(Map.empty, Map.empty, Map.empty)
    assert(PackedCatalog(empty).catalog == empty)
  }

  test("a packed catalog serializes as its bytes and unpacks once per copy") {
    val big = withUsers(20000)
    val packed = PackedCatalog(big)
    // repeated strings and the shared `allowed` list are written once
    val plain = big.entities.valuesIterator.map(e => e.code.length + e.name.length).sum +
      big.defAllowed.valuesIterator.map(d => d.allowed.map(_.length).sum).sum
    assert(packed.size < plain, s"${packed.size} bytes packed, $plain in plain strings")
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val bytes = ser.serialize(packed)
    assert(bytes.limit() < packed.size + 200, s"${bytes.limit()} serialized, ${packed.size} packed")
    val copy = ser.deserialize[PackedCatalog](bytes)
    assert(copy.catalog eq copy.catalog, "unpacked once")
    assert(copy.catalog == big)
    val lists = copy.catalog.defAllowed.valuesIterator.filter(_.target_code.startsWith("PER_BIG"))
      .map(d => System.identityHashCode(d.allowed)).toSet
    assert(lists.size == 1, "the shared allowed list stays shared")
  }

  test("decide and decideFast read the packed catalog in their tasks") {
    import graft.validate.ValidationPipeline.{decide, decideFast}
    val turns = TranscriptGen.turnsDs(spark, 12, 4, 0).toDF()
    def decisions(ds: org.apache.spark.sql.Dataset[TurnDecision]) =
      ds.collect().map(d => (d.conv_id, d.turn_idx) -> d.decision).toMap
    val base = decisions(decideFast(spark, turns, TranscriptGen.catalog))
    assert(base.size == 48 && base.values.exists(_ == "valid"))
    // 20k more users: the same decisions
    assert(decisions(decide(spark, turns, withUsers(20000))) == base)
    // no entities at all: what was valid is not
    val none = TranscriptGen.catalog.copy(entities = Map.empty)
    assert(decisions(decideFast(spark, turns, none)) != base)
  }
}
