package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Partition-key derivation — the producer's keying cascade
  * (reference: kafka_producer.py:85-95): location id if present, else a
  * 1000-way hash bucket of the coordinates, else a 100-way hash bucket of
  * the vendor. The reference uses Python's `hash` (seed-unstable across
  * runs); the semantic contract is "deterministic bucket", which Spark's
  * Murmur3 `hash` satisfies stably.
  */
object Keys {

  /** P16 — keying cascade as a single `coalesce`. */
  def partitionKey(locationId: Column, lon: Column, lat: Column,
                   vendorId: Column): Column =
    coalesce(
      locationId.cast("string"),
      when(lon.isNotNull && lat.isNotNull,
        pmod(hash(concat_ws("_", lon, lat)), lit(1000)).cast("string")),
      pmod(hash(vendorId), lit(100)).cast("string"))
}
