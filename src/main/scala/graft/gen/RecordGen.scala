package graft.gen

import graft.functions.FromJson
import graft.schema.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch record generator: the reference's producer hot path (SURVEY §3.2)
  * re-expressed as a declarative plan over `spark.range(n)`.
  *
  * Reference semantics reproduced:
  *  - key JSON {storeId, operatorId, messageId} (DataGenerator.java:474-480)
  *  - value JSON {timestamp, user{...favoriteBeers[2]}, payload}
  *    (DataGenerator.java:482-503)
  *  - headers X-Country / X-Animal (DataGenerator.java:509-510)
  *  - round-robin topic routing record i -> topics[i % n]
  *    (DataGenerator.java:507, SURVEY §2.4 J3)
  *  - topic names pattern.format(group, type-base36suffix)
  *    (DataGenerator.java:204-210, SURVEY §1.5)
  *
  * Scale: `spark.range(n, numPartitions)` is an embarrassingly parallel
  * source with no shuffle anywhere in the generation path, so it scales
  * linearly with executors. `CollapseProject` inlines the generator and
  * `to_json` into the parse's projection, so one `CodegenFallback` among
  * them would run the whole tree interpreted. None is there: the parse
  * goes through `FromJson`, and the `Fake` fields are built-in codegen'd
  * expressions or `DeterministicBase64` (pinned by PlanSpec).
  */
object RecordGen {

  val groupTypes: Seq[String] = Seq("consumer", "share", "streams")

  /** Topic-name dimension (reference DataGenerator.java:204-210):
    * pattern.formatted(groupNumber, type + '-' + base36(t + 10)).
    */
  def topicNames(groups: Int, topicsPerGroup: Int,
                 pattern: String = "console_datagen_%03d-%s",
                 types: Seq[String] = groupTypes): Seq[String] =
    for {
      g <- 0 until groups
      tpe <- types
      t <- 0 until topicsPerGroup
    } yield pattern.format(g, tpe + "-" + java.lang.Integer.toString(t + 10, 36))

  /** Same dimension as a distributed plan (used by the oracle query). */
  def topicNamesDF(spark: SparkSession, groups: Int, topicsPerGroup: Int): DataFrame = {
    import spark.implicits._
    val types = groupTypes.zipWithIndex.toDF("group_type", "type_idx")
    spark.range(groups).toDF("group_no")
      .crossJoin(types)
      .crossJoin(spark.range(topicsPerGroup).toDF("topic_no"))
      .select(
        $"group_no", $"group_type", $"topic_no",
        format_string("console_datagen_%03d-%s", $"group_no",
          concat($"group_type", lit("-"),
            lower(conv($"topic_no" + 10, 10, 36)))).as("topic"))
  }

  /** Generate `n` full records: typed columns + wire-format JSON bytes. */
  def records(spark: SparkSession, n: Long, seed: Long = 42L,
              numTopics: Int = 3, numPartitions: Int = 4,
              payloadBytes: Int = 500,
              baseEpochSec: Long = 1704067200L /* 2024-01-01T00:00:00Z */): DataFrame = {
    val topicDim = topicNames(groups = 1, topicsPerGroup = (numTopics + groupTypes.size - 1) / groupTypes.size)
      .take(numTopics)
    val id = col("id")

    val address = struct(
      Fake.streetNumber(seed, id).as("number"),
      Fake.street(seed, id).as("street"),
      Fake.city(seed, id).as("city"),
      Fake.state(seed, id).as("region"),
      Fake.zipCode(seed, id).as("postalCode"))

    val user = struct(
      Fake.lastName(seed, id).as("lastName"),
      Fake.firstName(seed, id).as("firstName"),
      Fake.birthDate(seed, id).as("birthDate"),
      address.as("address"),
      array(Fake.beer(seed, "beer0", id), Fake.beer(seed, "beer1", id))
        .as("favoriteBeers"))

    // Event time: deterministic virtual clock (1 record/sec per slot) in
    // place of the reference's wall-clock Instant.now() (:484) — SURVEY §7.3.
    val ts = timestamp_seconds(lit(baseEpochSec) + id)

    spark.range(0L, n, 1L, numPartitions)
      .select(
        id,
        Fake.idNumber(seed, "storeId", id).as("storeId"),
        Fake.idNumber(seed, "operatorId", id).as("operatorId"),
        Fake.idNumber(seed, "messageId", id).as("messageId"),
        date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp"),
        user.as("user"),
        Fake.payloadBase64(seed, id, payloadBytes).as("payload"),
        Fake.country(seed, id).as("country"),
        Fake.animal(seed, id).as("animal"),
        // J3 round-robin routing (DataGenerator.java:507)
        element_at(typedLit(topicDim), (pmod(id, lit(topicDim.size)) + 1).cast("int")).as("topic"),
        pmod(id, lit(numPartitions)).cast("int").as("partition"))
  }

  /** Wire format: key/value JSON bytes + Kafka headers column (P1/P2/P5). */
  def toWire(records: DataFrame): DataFrame =
    records.select(
      col("topic"), col("partition"),
      to_json(struct(col("storeId"), col("operatorId"), col("messageId")))
        .cast("binary").as("key"),
      to_json(struct(col("timestamp"), col("user"), col("payload")))
        .cast("binary").as("value"),
      array(
        struct(lit("X-Country").as("key"), encode(col("country"), "UTF-8").as("value")),
        struct(lit("X-Animal").as("key"), encode(col("animal"), "UTF-8").as("value"))
      ).as("headers"))

  /** Consumer-side parse: wire bytes back to typed columns (SURVEY §1.6),
    * with `from_json` semantics through the codegen'd `FromJson`.
    *
    * A key or value in the form `toWire` writes (compact JSON, fields of
    * the declared schema, strings of printable ASCII with no escapes) is
    * read straight from its bytes by `FromJson`'s canonical-form reader.
    * Anything else (escapes, non-ASCII or invalid UTF-8, whitespace,
    * unknown or repeated keys, numbers or booleans, malformed or trailing
    * bytes) goes whole to Spark's `JsonToStructsEvaluator`. Both give the
    * rows Spark's `from_json` gives.
    */
  def parseWire(wire: DataFrame): DataFrame =
    wire.select(
      col("topic"), col("partition"),
      FromJson.from_json(col("key").cast("string"), Schemas.keySchema).as("key"),
      FromJson.from_json(col("value").cast("string"), Schemas.valueSchema).as("value"),
      col("headers"))
}
