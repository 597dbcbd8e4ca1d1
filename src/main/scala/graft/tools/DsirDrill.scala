package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis

/** DSIR scale drill (`dsir [docs]`, default 2M): builds the persisted target model from a 50k-doc in-domain
  * slice (its own vocabulary partition), scores the full mixed corpus
  * against it, and measures the two claims the operator docs make —
  * the model stays `buckets`-row-bounded regardless of corpus size,
  * and the scores SEPARATE in-domain from out-of-domain docs (the
  * selection property; asserted on group means, not just timed). 10%
  * of corpus docs draw from the target vocabulary, 90% from a general
  * vocabulary 50× larger. Numbers in SCALE.md.
  */
private[tools] object DsirDrill extends DrillDef("dsir", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(2000000L)(_.toLong)
    val spark = r.spark

    def textOf(seed: org.apache.spark.sql.Column,
               vocabPrefix: String, vocabSize: Long) =
      concat_ws(" ", transform(sequence(lit(0), lit(29)), i =>
        concat(lit(vocabPrefix),
          pmod(xxhash64(seed * 1117 + i), lit(vocabSize)))))

    // in-domain docs share the small "sp" vocabulary; the rest draw
    // from a 50×-larger general vocabulary
    val docs = spark.range(rows).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0, textOf(col("id"), "sp", 1000L))
          .otherwise(textOf(col("id") + rows, "g", 50000L)).as("text"))
      .localCheckpoint()
    val target = spark.range(50000).select(
        (col("id") + 10 * rows).as("doc_id"),
        textOf(col("id") + 3 * rows, "sp", 1000L).as("text"))
      .localCheckpoint()
    // Bucket count is the RESOLUTION knob: at 1024 buckets the 50k
    // general unigrams fold onto buckets carrying target mass, which
    // dampens the ratio (collisions are the model's quantization
    // noise); widening the table sharpens separation at the cost of a
    // proportionally larger — still tiny — model. Measure both.
    val separations = Seq(1024, 65536).map { buckets =>
      val idx = r.dir(s"dsir-$buckets")
      r.phase(f"buildDsirIndex (50k-doc target, $buckets%d buckets)") {
        TextAnalysis.buildDsirIndex(target, idx, buckets)
      }
      val modelRows = spark.read.parquet(idx).count()
      assert(modelRows <= buckets)
      val means = r.phase(f"dsirWeightsIndexed over $rows%d docs") {
        TextAnalysis.dsirWeightsIndexed(spark, idx, docs)
          .groupBy((col("doc_id") % 10 === 0).as("in_domain"))
          .agg(avg(col("mean_log_ratio")).as("m"), count(lit(1)).as("n"))
          .collect().map(m => m.getBoolean(0) -> (m.getDouble(1),
            m.getLong(2))).toMap
      }
      val ((inM, inN), (outM, outN)) = (means(true), means(false))
      println(f"buckets=$buckets%d model_rows=$modelRows%d " +
        f"mean log-ratio: in-domain $inM%.3f (n=$inN%d), " +
        f"general $outM%.3f (n=$outN%d)")
      // the selection property: in-domain strictly positive (more
      // likely under the target), general strictly negative
      assert(inM > 0 && outM < 0,
        f"expected sign separation, got $inM%.3f vs $outM%.3f")
      buckets -> (inM - outM)
    }
    // wider table → sharper separation (the resolution claim, measured)
    assert(separations(1)._2 > separations(0)._2,
      s"expected 64k buckets to separate more than 1024: $separations")
  }
}
