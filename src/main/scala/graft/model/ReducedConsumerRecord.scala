package graft.model

import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge}
import org.apache.spark.sql.catalyst.expressions.Base64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's single canonical row type, mirroring the reference's
  * `ReducedConsumerRecord` (reference: core/src/main/scala/io/aiven/guardian/
  * kafka/models/ReducedConsumerRecord.scala:24-31).
  *
  * `key` and `value` hold Base64-encoded bytes (the reference makes no
  * assumption about payload formats); `timestampType` is the Kafka
  * TimestampType int id (-1 NO_TIMESTAMP_TYPE, 0 CREATE_TIME,
  * 1 LOG_APPEND_TIME). The JSON wire names (snake_case `timestamp_type`)
  * follow the reference's Circe codec (core/.../codecs/Circe.scala:19-37).
  */
final case class ReducedConsumerRecord(
    topic: String,
    partition: Int,
    offset: Long,
    key: Option[String],
    value: String,
    timestamp: Long,
    timestampType: Int
)

object ReducedConsumerRecord {

  /** On-disk / wire schema with the reference's JSON field names. */
  val jsonSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("timestamp_type", IntegerType, nullable = false)
  ))

  /** Columns in wire order, renaming `timestampType` -> `timestamp_type`. */
  def wireColumns: Seq[Column] = Seq(
    col("topic"), col("partition"), col("offset"), col("key"),
    col("value"), col("timestamp"), col("timestamp_type")
  )

  /** JSON text of one record with exactly the Circe field order/names
    * (reference emits noSpaces with fields in declaration order, and
    * `"key":null` for a missing key — so keep null fields).
    */
  def toJsonColumn: Column =
    to_json(struct(wireColumns: _*), Map("ignoreNullFields" -> "false"))

  /** Base64 of the bytes in `c` on one unbroken line. Spark's `base64()`
    * follows `spark.sql.chunkBase64String.enabled`, which by default
    * breaks its output with CRLF every 76 characters; the reference
    * decodes with `java.util.Base64.getDecoder`, which rejects line
    * breaks. This encoder never chunks, whatever the session conf says.
    */
  def base64Unchunked(c: Column): Column =
    GraftExprBridge.toColumn(Base64(GraftExprBridge.toExpression(c), chunkBase64 = false))

  /** Map the harness `events` table into the record schema (FIXTURES.md §4):
    * one logical topic, partitions hash-bucketed by user, per-partition
    * offsets assigned by event order, payloads Base64 encoded.
    *
    * This is the rebuild's analog of the reference's ingest projection
    * (core-backup/.../KafkaConsumer.scala:127-138).
    */
  def fromEvents(events: DataFrame, topic: String = "events", partitions: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("partition").orderBy("event_id")
    // events.ts is TIMESTAMP(NANOS) in the harness parquet; with
    // spark.sql.legacy.parquet.nanosAsLong it surfaces as LongType nanos.
    val tsMillis = events.schema("ts").dataType match {
      // integer division (not `/` which is double and can misround at
      // integer boundaries vs the DuckDB oracle's epoch_ms truncation)
      case LongType => expr("ts div 1000000")
      case _        => unix_millis(col("ts").cast(TimestampType))
    }
    events
      .withColumn("partition", (col("user_id") % partitions).cast(IntegerType))
      .withColumn("offset", row_number().over(w).cast(LongType) - 1L)
      .select(
        lit(topic).as("topic"),
        col("partition"),
        col("offset"),
        base64Unchunked(col("user_id").cast(StringType).cast(BinaryType)).as("key"),
        base64Unchunked(col("props").cast(BinaryType)).as("value"),
        tsMillis.as("timestamp"),
        lit(0).as("timestamp_type")
      )
  }
}
