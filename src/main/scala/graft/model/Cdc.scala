package graft.model

import org.apache.spark.sql.types._

/** Data model of the CDC pipeline (SURVEY.md §1, FIXTURES.md): the
  * schemas the stream parses and the target tables carry, which mirror
  * the reference's typed tables (ref sql/create_target_tables.sql:5-37;
  * Redshift VARCHAR→String, FLOAT→Double, TIMESTAMP→Timestamp with the
  * session TZ pinned UTC).
  */
object CdcSchemas {

  /** DynamoDB AttributeValue — every scalar is `{"S": ...}` or `{"N": "..."}`
    * (numbers arrive as strings and need explicit casts, mirroring the
    * reference's `."N"::float`, ref sql/initial_load_member_quests.sql:6). */
  val attributeValue: StructType = StructType(Seq(
    StructField("S", StringType),
    StructField("N", StringType)))

  /** Open-ended item image: map attrName → AttributeValue. */
  val image: MapType = MapType(StringType, attributeValue)

  /** `dynamodb` body of a change record (FIXTURES.md §2). */
  val dynamodbStruct: StructType = StructType(Seq(
    StructField("ApproximateCreationDateTime", LongType), // epoch millis
    StructField("Keys", StructType(Seq(
      StructField("pk", attributeValue),
      StructField("sk", attributeValue)))),
    StructField("NewImage", image), // absent on REMOVE
    StructField("OldImage", image)))

  /** One CDC change record as carried in our file-based stream: the Kinesis
    * transport metadata as sibling fields (ref scripts/setup_redshift.sh:91-94)
    * plus the DynamoDB stream envelope (ref scripts/setup_redshift.sh:95-103). */
  val envelope: StructType = StructType(Seq(
    StructField("approximate_arrival_timestamp", TimestampType),
    StructField("partition_key", StringType),
    StructField("shard_id", StringType),
    StructField("sequence_number", StringType),
    StructField("eventID", StringType),
    StructField("awsRegion", StringType),
    StructField("eventName", StringType), // INSERT | MODIFY | REMOVE
    StructField("userIdentity", StringType),
    StructField("tableName", StringType),
    StructField("eventSource", StringType),
    StructField("dynamodb", dynamodbStruct)))

  /** What actually travels INSIDE a Kinesis record's data blob: the
    * DynamoDB stream envelope WITHOUT the four transport-metadata fields
    * — those are the CONNECTOR's record columns (ref scripts/
    * setup_redshift.sh:91-94 selects them from the stream itself; :95-103
    * parses only these fields out of `kinesis_data`). */
  val streamPayload: StructType = StructType(envelope.fields.drop(4))

  /** DynamoDB PITR export line: `{"Item": {attr: AttributeValue}}`
    * (FIXTURES.md §3; ref scripts/initial_load_from_export.sh:168). */
  val exportLine: StructType = StructType(Seq(
    StructField("Item", image)))

  /** Extraction-view output schema — the materialized view's column list
    * (ref scripts/setup_redshift.sh:89-104). */
  val extractColumns: Seq[String] = Seq(
    "approximatearrivaltimestamp", "partitionkey", "shardid", "sequencenumber",
    "eventID", "awsRegion", "eventName", "userIdentity", "tableName",
    "eventSource", "pk", "sk", "eventData")

  /** The Keys/NewImage attributes each entity's typed extraction actually
    * consumes (ref sql/incremental_sync_members.sql:26-31 and siblings) —
    * the projection lists the schema-drift detectors (q234 batch,
    * SchemaDriftStream continuous) anti-join against: any NewImage key
    * outside this list is a producer-side schema change the fixed-column
    * pipeline would silently drop. */
  val extractedAttrs: Seq[(String, String)] = Seq(
    "member" -> "pk", "member" -> "sk", "member" -> "memberId",
    "quest" -> "pk", "quest" -> "sk", "quest" -> "questId",
    "member_quest" -> "pk", "member_quest" -> "sk",
    "member_quest" -> "questId", "member_quest" -> "dollarsEarned")
}
