package graft

import graft.gen.{Fake, RecordGen}
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GenSpec extends SparkSuite {

  test("generator is deterministic: same seed => identical records") {
    val a = RecordGen.records(spark, 200, seed = 7L).collect()
    val b = RecordGen.records(spark, 200, seed = 7L).collect()
    assert(a.sameElements(b))
  }

  // Golden bits of the generator: a change to any Fake derivation (hash
  // chaining, padding, payload encoding) that moves one output byte moves
  // this fold, so generator rewrites must keep it.
  test("generator output is pinned: bit_xor of row hashes for seeds 21 and 3") {
    for ((seed, golden) <- Seq(21L -> -6800477980076233257L, 3L -> -6143322759568005618L)) {
      val recs = RecordGen.records(spark, 100000, seed, numPartitions = 4)
      val r = recs.agg(count(lit(1)), bit_xor(xxhash64(struct(recs.columns.map(col).toSeq: _*))))
        .head()
      assert(r.getLong(0) == 100000L, s"seed $seed row count")
      assert(r.getLong(1) == golden, s"seed $seed fold")
    }
  }

  test("different seeds differ") {
    val a = RecordGen.records(spark, 50, seed = 1L).select("storeId").collect().map(_.getString(0))
    val b = RecordGen.records(spark, 50, seed = 2L).select("storeId").collect().map(_.getString(0))
    assert(a.toSeq != b.toSeq)
  }

  test("idNumber is SSN-shaped (reference DataGenerator.java:475-478)") {
    val ids = RecordGen.records(spark, 100).select("storeId", "operatorId", "messageId")
      .collect().flatMap(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
    val ssn = "\\d{3}-\\d{2}-\\d{4}".r
    assert(ids.forall(s => ssn.matches(s)))
  }

  test("payload is base64 of exactly 500 bytes (reference :456)") {
    val p = RecordGen.records(spark, 20).select("payload").collect().map(_.getString(0))
    assert(p.forall(s => java.util.Base64.getDecoder.decode(s).length == 500))
    assert(p.distinct.length == p.length) // random-looking, no repeats
  }

  test("favoriteBeers has exactly 2 elements (reference :495-498)") {
    val n = RecordGen.records(spark, 20)
      .select(size(col("user.favoriteBeers")).as("n")).collect().map(_.getInt(0))
    assert(n.forall(_ == 2))
  }

  test("wire round-trip: from_json(to_json(x)) == x (SURVEY §5.2)") {
    val recs = RecordGen.records(spark, 100)
    val parsed = RecordGen.parseWire(RecordGen.toWire(recs))
    val orig = recs.select(col("storeId"), col("user"), col("payload"))
      .collect().map(_.toString).sorted
    val round = parsed.select(col("key.storeId"), col("value.user"), col("value.payload"))
      .collect().map(_.toString).sorted
    assert(round.sameElements(orig))
  }

  test("parsed value matches declared schema") {
    val parsed = RecordGen.parseWire(RecordGen.toWire(RecordGen.records(spark, 5)))
    assert(parsed.schema("value").dataType == Schemas.valueSchema)
    assert(parsed.schema("key").dataType == Schemas.keySchema)
  }

  // parseWire's codegen'd from_json must agree with Spark's from_json row
  // for row: on generated wire rows and on PERMISSIVE-mode edge cases
  // (neither plan shuffles, so both collect in the wire's row order)
  private def assertParsesLikeFromJson(wire: DataFrame): Unit = {
    val got = RecordGen.parseWire(wire).select("key", "value").collect()
    val want = wire.select(
      from_json(col("key").cast("string"), Schemas.keySchema),
      from_json(col("value").cast("string"), Schemas.valueSchema)).collect()
    assert(got.nonEmpty && got.length == want.length)
    for ((g, w) <- got.zip(want)) assert(g == w)
  }

  test("parseWire equals from_json row for row on 5k generated wire rows") {
    val wire = RecordGen.toWire(RecordGen.records(spark, 5000, seed = 11L))
    assertParsesLikeFromJson(wire)
    val parsed = RecordGen.parseWire(wire)
    assert(parsed.where(col("key.storeId").isNull || col("value.user.address.postalCode").isNull)
      .count() == 0)
  }

  test("parseWire equals from_json on malformed, null, empty and mistyped input") {
    import spark.implicits._
    val cases = Seq[(String, String)](
      ("""{"storeId":"001-01-0001","operatorId":"x","messageId":"y"}""",
        """{"timestamp":"t","user":{"lastName":"L","address":{"number":"1"},"favoriteBeers":[{"name":"n"}]},"payload":"p"}"""),
      ("{", """{"timestamp":"""),
      ("not json", "[1,2"),
      (null, null),
      ("{}", "{}"),
      ("", " "),
      ("""{"storeId":"a"}""", """{"payload":"p"}"""),
      ("""{"storeId":1,"operatorId":true,"messageId":null}""",
        """{"timestamp":[1,2],"user":{"address":5,"favoriteBeers":{"name":"x"}},"payload":12}"""),
      ("""{"storeId":{"a":1}}""", """{"user":{"favoriteBeers":[1,{"style":"s"},null]}}"""),
      ("""[{"storeId":"a"}]""", """{"user":"flat","payload":{"x":1}}"""),
      ("""{"storeId":"dup","storeId":"dup2"}""", """{"timestamp":"t"} trailing"""))
    val wire = cases.toDF("k", "v").select(
      lit("t").as("topic"), lit(0).as("partition"),
      col("k").cast("binary").as("key"), col("v").cast("binary").as("value"),
      lit(null).as("headers"))
    assertParsesLikeFromJson(wire)
  }

  test("topic names: base-36 suffix + %03d pattern (reference :204-210)") {
    val names = RecordGen.topicNames(groups = 2, topicsPerGroup = 12)
    assert(names.contains("console_datagen_000-consumer-a"))
    assert(names.contains("console_datagen_001-streams-l")) // t=11 -> 21 base36 = 'l'
    assert(names.count(_.startsWith("console_datagen_001-share-")) == 12)
    // suffix of t=0 is 'a' (10 in base 36), t=25 would be 'z'
    val df = RecordGen.topicNamesDF(spark, 1, 26).select("topic").collect().map(_.getString(0))
    assert(df.exists(_.endsWith("-z")))
  }

  test("round-robin routing balances topics within 1 (reference :507)") {
    val counts = RecordGen.records(spark, 300, numTopics = 3)
      .groupBy("topic").count().collect().map(_.getLong(1))
    assert(counts.length == 3 && counts.max - counts.min <= 1)
  }

  test("headers carry X-Country / X-Animal (reference :509-510)") {
    val h = RecordGen.toWire(RecordGen.records(spark, 10))
      .select(explode(col("headers")).as("h"))
      .select(col("h.key"), col("h.value").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(h.map(_._1).toSet == Set("X-Country", "X-Animal"))
    assert(h.filter(_._1 == "X-Country").forall(p => Fake.countries.contains(p._2)))
    assert(h.filter(_._1 == "X-Animal").forall(p => Fake.animals.contains(p._2)))
  }
}
