package graft.streaming

import graft.gen.{Fake, RecordGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The producer/consumer pipelines (SURVEY §3.2-3.3) as streaming plans.
  *
  * Transport is pluggable (SURVEY §5.2 item 4): the same wire DataFrame
  * goes to `format("kafka")` in production or `format("memory")` /
  * MemorySink in tests — no broker exists in this environment, so
  * everything up to the sink boundary is exercised without Kafka. The
  * Kafka side of the boundary is [[KafkaSink]]: connector-resolution
  * check (ServiceLoader, same lookup `format("kafka")` does), per-cluster
  * option resolution via [[graft.config.ClusterConfigs]], and the
  * fail-fast `writeStream.format("kafka")` writer over these exact
  * columns (topic, key, value, headers).
  */
object Pipelines {

  /** Producer pipeline: rate source at peak -> square-wave admission (S1)
    * -> full record synthesis (S2/S3, P1-P7) -> wire columns ready for a
    * Kafka sink (K1). `rowsPerSecond` defaults to the reference's peak.
    */
  def producer(spark: SparkSession, numTopics: Int = 3, seed: Long = 42L,
               rowsPerSecond: Long = RateShape.peakRate): DataFrame = {
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    val admitted = RateShape.shape(rate, rowsPerSecond)
    wireFrom(admitted.select(col("value").as("id")), numTopics, seed)
  }

  /** Deterministic batch equivalent for tests/bench: same transforms over
    * a virtual clock instead of the wall-coupled rate source.
    */
  def producerBatch(spark: SparkSession, seconds: Int, numTopics: Int = 3,
                    seed: Long = 42L): DataFrame =
    wireFrom(RateShape.virtualWave(spark, seconds).select(col("id")), numTopics, seed)

  /** Record synthesis + wire encoding from an id column — shared by the
    * streaming and batch forms (all pure Column expressions).
    */
  private def wireFrom(ids: DataFrame, numTopics: Int, seed: Long): DataFrame = {
    val topicDim = RecordGen.topicNames(1,
      (numTopics + RecordGen.groupTypes.size - 1) / RecordGen.groupTypes.size)
      .take(numTopics)
    val id = col("id")
    val user = struct(
      Fake.lastName(seed, id).as("lastName"),
      Fake.firstName(seed, id).as("firstName"),
      Fake.birthDate(seed, id).as("birthDate"),
      struct(
        Fake.streetNumber(seed, id).as("number"),
        Fake.street(seed, id).as("street"),
        Fake.city(seed, id).as("city"),
        Fake.state(seed, id).as("region"),
        Fake.zipCode(seed, id).as("postalCode")).as("address"),
      array(Fake.beer(seed, "beer0", id), Fake.beer(seed, "beer1", id)).as("favoriteBeers"))
    ids.select(
      element_at(typedLit(topicDim), (pmod(id, lit(topicDim.size)) + 1).cast("int")).as("topic"),
      pmod(id, lit(4)).cast("int").as("partition"),
      to_json(struct(
        Fake.idNumber(seed, "storeId", id).as("storeId"),
        Fake.idNumber(seed, "operatorId", id).as("operatorId"),
        Fake.idNumber(seed, "messageId", id).as("messageId"))).cast("binary").as("key"),
      to_json(struct(
        date_format(timestamp_seconds(lit(1704067200L) + id), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp"),
        user.as("user"),
        Fake.payloadBase64(seed, id).as("payload"))).cast("binary").as("value"),
      array(
        struct(lit("X-Country").as("key"), encode(Fake.country(seed, id), "UTF-8").as("value")),
        struct(lit("X-Animal").as("key"), encode(Fake.animal(seed, id), "UTF-8").as("value"))).as("headers"))
  }
}
