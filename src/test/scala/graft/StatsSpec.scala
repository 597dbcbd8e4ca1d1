package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.Stats
import graft.ext.TextAnalysis

/** Second-moment statistics on hand-computed fixtures: the regression
  * algebra, window-frame boundaries, interval weighting, and share
  * ratios where the right answer is checkable by hand — the DuckDB
  * oracle then pins engine-vs-engine equality at sf0.01.
  */
class StatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("regressionStats recovers an exact linear relationship") {
    // y = 3x + 2 exactly: corr = 1, slope = 3, intercept = 2.
    val df = Seq(("a", 1.0, 5.0), ("a", 2.0, 8.0), ("a", 3.0, 11.0),
        ("a", 4.0, 14.0))
      .toDF("g", "x", "y")
    val r = Stats.regressionStats(df, col("g"), col("x"), col("y"))
      .collect().head
    assert(r.getAs[Double]("corr_xy") === 1.0)
    assert(r.getAs[Double]("slope") === 3.0)
    assert(r.getAs[Double]("intercept") === 2.0)
  }

  test("regressionStats covariance matches the sample formula") {
    // x=(1,2,3), y=(2,1,3): mean 2,2 → cov = ((−1)(0)+(0)(−1)+(1)(1))/2 = 0.5
    val df = Seq(("g", 1.0, 2.0), ("g", 2.0, 1.0), ("g", 3.0, 3.0))
      .toDF("g", "x", "y")
    val r = Stats.regressionStats(df, col("g"), col("x"), col("y"))
      .collect().head
    assert(r.getAs[Double]("covar_xy") === 0.5)
  }

  test("rollingStats frame is trailing-inclusive and clipped at the start") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0),
        (2L, 4L, 5.0))
      .toDF("part_id", "ord", "value")
    val out = Stats.rollingStats(df, col("part_id"), col("ord"),
        col("value"), frame = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getDouble(3)))
    // frame=1 → current + 1 preceding; row 1 has no predecessor.
    assert(out.toSeq === Seq((1L, 1L, 10.0), (2L, 2L, 15.0),
      (3L, 2L, 25.0), (4L, 1L, 5.0)))
  }

  test("timeWeightedAvg weights by forward interval and drops the last event") {
    // One user-day: v=10 held for 3 ns, v=40 held for 1 ns, v=99 has no
    // successor → twap = (10*3 + 40*1) / 4 = 17.5.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
    val df = Seq((7L, base, 1000L, 10.0, 1L), (7L, base, 1003L, 40.0, 2L),
        (7L, base, 1004L, 99.0, 3L))
      .toDF("user_id", "tu", "ts_ns", "value", "event_id")
      .withColumn("ts", timestamp_micros(col("tu")))
    val out = Stats.timeWeightedAvg(df, col("user_id"), col("ts"),
      col("ts_ns"), col("value")).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_intervals") === 2L)
    assert(out.head.getAs[Double]("twap") === 17.5)
  }

  test("shareOfTotal percentages sum to 100") {
    val df = Seq(("a", 10.0), ("a", 30.0), ("b", 40.0), ("c", 20.0))
      .toDF("g", "amt")
    val rows = Stats.shareOfTotal(df, col("g"), col("amt")).collect()
    val pcts = rows.map(_.getAs[Double]("pct_of_total"))
    assert(math.abs(pcts.sum - 100.0) < 1e-9)
    assert(pcts.toSeq === Seq(40.0, 40.0, 20.0))
  }

  test("welchTTest matches the hand-computed statistic") {
    // a = (1,2,3): mean 2, var 1. b = (2,4,6,8): mean 5, var 20/3.
    // t = (2−5)/√(1/3 + 5/3) = −3/√2 ≈ −2.1213
    // df = (1/3+5/3)² / ((1/3)²/2 + (5/3)²/3) = 4/(53/54) ≈ 4.0755
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
        Seq(2.0, 4.0, 6.0, 8.0).map(("b", _)))
      .toDF("g", "v")
    val r = Stats.welchTTest(df, col("g"), col("v"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("na") === 3L)
    assert(r.getAs[Long]("nb") === 4L)
    assert(r.getAs[Double]("mean_a") === 2.0)
    assert(r.getAs[Double]("mean_b") === 5.0)
    assert(math.abs(r.getAs[Double]("t_stat") - (-3.0 / math.sqrt(2.0))) < 5e-4)
    assert(math.abs(r.getAs[Double]("welch_df") - 216.0 / 53.0) < 5e-4)
  }

  test("chiSquare matches the hand-computed 2x2 statistic") {
    // Observed [[10,20],[20,10]]: all expected = 15 → chi2 = 4·25/15.
    val rows = Seq.fill(10)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
      Seq.fill(20)(("r2", "c1")) ++ Seq.fill(10)(("r2", "c2"))
    val df = rows.toDF("r", "c")
    val out = Stats.chiSquare(df, col("r"), col("c")).collect().head
    assert(math.abs(out.getAs[Double]("chi2") - 100.0 / 15.0) < 5e-4)
    assert(out.getAs[Long]("dof") === 1L)
    assert(out.getAs[Long]("n_cells") === 4L)
  }

  test("bigramLogProb scores the corpus MLE exactly on a tiny corpus") {
    // Corpus: "a b a b" and "a b". Unigrams: a=3, b=3.
    // Bigrams: "a b"=3, "b a"=1.
    // Doc 1: lp = [ln(3/3), ln(1/3), ln(3/3)] → mean = ln(1/3)/3.
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs).collect()
    val d1 = out.find(_.getLong(0) == 1L).get
    assert(d1.getAs[Long]("n_bigrams") === 3L)
    assert(math.abs(d1.getAs[Double]("mean_logp")
      - math.log(1.0 / 3.0) / 3.0) < 1e-4)
    val d2 = out.find(_.getLong(0) == 2L).get
    assert(d2.getAs[Double]("mean_logp") === 0.0)
  }

  test("vocabRollup estimates match exact distincts and the union merges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.vocabRollup(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val exact = docs
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("lang").agg(countDistinct("t").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, n) =>
      val est = out(lang)
      assert(math.abs(est - n) / n < 0.05, s"$lang est=$est exact=$n")
    }
    // The ALL row is a sketch union, not a re-scan — it must still agree
    // with the exact global distinct within HLL error.
    val globalExact = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct("t")).head().getLong(0)
    assert(math.abs(out("ALL") - globalExact) / globalExact < 0.05)
  }

  test("vocabRollupChecked: exact twins agree with vocabRollup's frame and flags hold") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val checked = TextAnalysis.vocabRollupChecked(docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("exact_distinct_tokens"),
        r.getAs[Boolean]("est_err_le_2pct"))).toMap
    val base = TextAnalysis.vocabRollup(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_tokens")).toMap
    // Same language set + same raw token counts as the production path.
    assert(checked.keySet === base.keySet)
    checked.foreach { case (lang, (n, _, _)) => assert(n === base(lang)) }
    // Exact distincts match an independent computation, per lang and ALL.
    val exactPer = docs
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("lang").agg(countDistinct("t").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exactPer.foreach { case (lang, n) => assert(checked(lang)._2 === n) }
    val globalExact = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct("t")).head().getLong(0)
    assert(checked("ALL")._2 === globalExact)
    // The ≤2% estimate flag holds everywhere on this corpus.
    checked.foreach { case (lang, (_, _, ok)) => assert(ok, lang) }
  }

  test("zipfSlope recovers the exponent of an exact power law") {
    // Token k repeated floor(1000/k) times → counts ~ 1/rank → slope ≈ −1.
    val text = (1 to 20).flatMap(k => Seq.fill(1000 / k)(s"tok$k"))
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.zipfSlope(docs, topK = 20).collect().head
    assert(r.getAs[Long]("n_tokens") === 20L)
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < -0.95 && slope > -1.05, s"slope=$slope")
  }
}
