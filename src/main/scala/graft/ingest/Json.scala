package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON ingest/egress — the consumer's parse path (P1–P3, reference:
  * spark_consumer.py:61-62) and the producer's serialize path (S6,
  * kafka_producer.py:51-65). Both are single codegen'd projections; the
  * parse is PERMISSIVE, so malformed messages become null structs rather
  * than failing the stream.
  */
object Json {

  /** P1–P3 — Kafka-shaped records (binary `value`) → parsed struct →
    * flattened columns: `cast(string)` → `from_json(schema)` →
    * `select("data.*")`.
    */
  def parseStream(df: DataFrame, schema: StructType): DataFrame = df
    .select(from_json(col("value").cast("string"), schema).as("data"))
    .select("data.*")

  /** P14 — NaN → null normalization (kafka_producer.py:57-59): floating
    * NaNs become JSON nulls rather than non-standard `NaN` tokens.
    */
  def normalizeNaN(df: DataFrame): DataFrame = {
    val fixed = df.schema.fields.map {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType ||
                f.dataType == org.apache.spark.sql.types.FloatType =>
        when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(fixed.toSeq: _*)
  }

  /** S6 — producer-side serialization: row → JSON `value` with a string
    * `key` (kafka_producer.py:51-65,98), NaNs normalized to nulls first
    * (P14); metadata enrichment (P15) is applied by the caller via
    * [[graft.etl.Enrich.withProducerMetadata]].
    */
  def toKeyedJson(df: DataFrame, key: Column): DataFrame = {
    val clean = normalizeNaN(df)
    clean.select(
      key.cast("string").as("key"),
      to_json(struct(clean.columns.toIndexedSeq.map(col): _*)).as("value"))
  }
}
