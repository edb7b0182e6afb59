package graft

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import graft.functions.FromJson
import graft.gen.{Fake, RecordGen}
import graft.schema.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class GenSpec extends SparkSuite {

  test("generator is deterministic: same seed => identical records") {
    val a = RecordGen.records(spark, 200, seed = 7L).collect()
    val b = RecordGen.records(spark, 200, seed = 7L).collect()
    assert(a.sameElements(b))
  }

  // Golden bits of the generator: a change to any Fake derivation (hash
  // chaining, padding, payload encoding) that moves one output byte moves
  // this fold, so generator rewrites must keep it. The wire and parsed
  // folds pin `to_json`'s bytes and the parse of them the same way.
  test("generator output is pinned: bit_xor of row hashes for seeds 21 and 3") {
    val goldens = Seq(
      (21L, -6800477980076233257L, 701497831325127399L, 4568248591746938399L),
      (3L, -6143322759568005618L, -5550457072659073606L, 9185368074342091640L))
    val keyValueFold = bit_xor(xxhash64(col("key"), col("value")))
    for ((seed, golden, wireGolden, parsedGolden) <- goldens) {
      val recs = RecordGen.records(spark, 100000, seed, numPartitions = 4)
      val r = recs.agg(count(lit(1)), bit_xor(xxhash64(struct(recs.columns.map(col).toSeq: _*))))
        .head()
      assert(r.getLong(0) == 100000L, s"seed $seed row count")
      assert(r.getLong(1) == golden, s"seed $seed fold")
      val wire = RecordGen.toWire(recs)
      assert(wire.agg(keyValueFold).head().getLong(0) == wireGolden, s"seed $seed wire fold")
      assert(RecordGen.parseWire(wire).agg(keyValueFold).head().getLong(0) == parsedGolden,
        s"seed $seed parsed fold")
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
    val long = "x" * 9000
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
      ("""{"storeId":"dup","storeId":"dup2"}""", """{"timestamp":"t"} trailing"""),
      // the canonical-form reader's boundary: escapes, non-ASCII, whitespace
      ("""{"storeId":"a\"b","operatorId":"c\\d","messageId":"e\/f"}""",
        "{\"timestamp\":\"\\u0041\",\"payload\":\"x\\ny\"}"),
      ("""{"storeId":"café","operatorId":"😀"}""",
        """{"user":{"lastName":"Åsa","favoriteBeers":[{"name":"🍺"}]}}"""),
      ("""{ "storeId" : "a" }""", """{"timestamp":"t", "user":{"favoriteBeers":[ {"name":"n"} ]}}"""),
      ("  {\"storeId\":\"a\"}", "{\"payload\":\"p\"}\n"),
      ("""{"messageId":"m","storeId":"s","operatorId":"o"}""",
        """{"payload":"p","user":{"address":{"city":"c","number":"1"},"lastName":"L"},"timestamp":"t"}"""),
      ("""{"storeId":"a","extra":1}""", """{"timestamp":"t","extra":{"a":[1,{"b":null}]},"user":{"nick":"x"}}"""),
      ("""{"storeId":null,"operatorId":"o"}""", """{"user":null,"payload":null}"""),
      ("[]", """{"user":{"address":null,"favoriteBeers":null}}"""),
      ("""{"storeId":"a"}""", """{"user":{"favoriteBeers":[]}}"""),
      ("""{"storeId":"a"}""", """{"user":{"favoriteBeers":[null,{"name":"n"},null]}}"""),
      ("{\"storeId\":\"a\tb\"}", "{\"payload\":\"p\u0001q\"}"),
      (s"""{"storeId":"$long"}""", s"""{"timestamp":"t","payload":"$long\\n$long"}"""),
      (s"""{"messageId":"m","storeId":"$long"}""", s"""{"payload":"$long","timestamp":"t"}"""),
      ("""{"storeId":123,"operatorId":true,"messageId":false}""",
        """{"timestamp":1.5e3,"payload":-0,"user":{"lastName":false}}"""),
      ("""{"storeId":"a"}x""", """{"payload":"p"},"""),
      ("""{"storeId":"a",}""", "{\"payload\":\"p\""),
      ("""{"storeId":nul}""", """{"payload":nullx}"""))
    // byte-level cases: invalid UTF-8, a BOM, NULs in the first 4 bytes
    def bytes(parts: Any*): Array[Byte] = parts.toArray.flatMap {
      case s: String => s.getBytes(UTF_8)
      case b: Int => Array(b.toByte)
    }
    val byteCases = Seq[(Array[Byte], Array[Byte])](
      (bytes("{\"storeId\":\"", 0xC3, 0x28, "\"}"), bytes("{\"payload\":\"", 0xFF, "\"}")),
      (bytes(0xEF, 0xBB, 0xBF, "{\"storeId\":\"a\"}"), bytes(0xEF, 0xBB, 0xBF, "{\"payload\":\"p\"}")),
      (bytes(0, "{\"storeId\":\"a\"}"), bytes("{", 0, "\"payload\":\"p\"}")),
      ("{\"storeId\":\"a\"}".getBytes(UTF_16BE), "{\"payload\":\"p\"}".getBytes(UTF_16LE)))
    val utf8Cases = cases.map { case (k, v) =>
      (Option(k).map(_.getBytes(UTF_8)).orNull, Option(v).map(_.getBytes(UTF_8)).orNull) }
    val wire = (utf8Cases ++ byteCases).toDF("key", "value").select(
      lit("t").as("topic"), lit(0).as("partition"), col("key"), col("value"),
      lit(null).as("headers"))
    assertParsesLikeFromJson(wire)
  }

  test("every generated key and value is in the canonical form FromJson reads itself") {
    val wire = RecordGen.toWire(RecordGen.records(spark, 5000, seed = 11L))
      .select("key", "value").collect()
    assert(wire.length == 5000)
    val rejected = wire.filter { r =>
      FromJson.readCanonical(UTF8String.fromBytes(r.getAs[Array[Byte]](0)), Schemas.keySchema) == null ||
        FromJson.readCanonical(UTF8String.fromBytes(r.getAs[Array[Byte]](1)), Schemas.valueSchema) == null
    }
    assert(rejected.isEmpty, s"${rejected.length} rejected, first: ${rejected.headOption}")
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
