package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Enrich, Quality}
import graft.ingest.Json
import graft.model.Schemas

/** Property tests (SURVEY §5.3): structural invariants of the ETL DAG on
  * ScalaCheck-generated trip batches (fixed seeds — deterministic in CI).
  */
class PropertySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private case class RawTrip(vendor: Int, pick: String, durMin: Int,
                             dist: Double, fare: Double, tip: Double)

  private val tripGen: Gen[RawTrip] = for {
    vendor <- Gen.choose(1, 2)
    hourOff <- Gen.choose(0, 23)
    durMin <- Gen.choose(-10, 400)
    dist <- Gen.choose(-5.0, 50.0)
    fare <- Gen.choose(-5.0, 200.0)
    tip <- Gen.choose(0.0, 50.0)
  } yield RawTrip(vendor, f"2015-01-15 $hourOff%02d:00:00", durMin, dist, fare, tip)

  private def batches(n: Int): Seq[List[RawTrip]] = (1 to n).map { i =>
    Gen.listOfN(40, tripGen).pureApply(Gen.Parameters.default, Seed(i.toLong))
  }

  private def toDf(trips: List[RawTrip]) = trips.map { t =>
    val drop = java.time.LocalDateTime.parse(t.pick.replace(' ', 'T'))
      .plusMinutes(t.durMin.toLong).toString.replace('T', ' ')
    (t.vendor, t.pick, drop, 1, t.dist, t.fare, t.tip, t.fare + t.tip)
  }.toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "fare_amount", "tip_amount",
    "total_amount")

  test("enrichment preserves row count; filter output satisfies its predicates") {
    batches(5).foreach { trips =>
      val enriched = Enrich.enrich(toDf(trips))
      assert(enriched.count() == trips.length)
      val violations = Quality.validTrips(enriched).filter(
        col("trip_distance") < 0 || col("fare_amount") < 0 ||
        col("trip_duration_minutes") <= 0 ||
        col("trip_duration_minutes") >= 300)
      assert(violations.isEmpty)
    }
  }

  test("to_json then from_json is identity on schema fields") {
    batches(3).foreach { trips =>
      val df = toDf(trips)
      val roundTripped = Json.parseStream(
        Json.toKeyedJson(df, col("VendorID")), Schemas.tripStream)
      assert(roundTripped.exceptAll(df).isEmpty && df.exceptAll(roundTripped).isEmpty)
    }
  }

  test("enrichment columns honor their value-domain invariants") {
    batches(5).foreach { trips =>
      val e = Enrich.enrich(toDf(trips))
      assert(e.filter(col("pickup_hour") < 0 || col("pickup_hour") > 23).isEmpty)
      assert(e.filter(!col("trip_category").isin("short", "medium", "long")).isEmpty)
      assert(e.filter(col("speed_mph") < 0).isEmpty)
      assert(e.filter(col("fare_amount") <= 0 && col("tip_percentage") =!= 0).isEmpty)
    }
  }

  test("asof join: exactly one output row per left row; picks satisfy <=") {
    val evGen = for {
      k <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 1000L)
    } yield (k, t)
    (1 to 5).foreach { seed =>
      val lefts = Gen.listOfN(30, evGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val rights = Gen.listOfN(30, evGen)
        .pureApply(Gen.Parameters.default, Seed(seed + 100L))
        .zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) }
      val l = lefts.toDF("lid", "k", "t")
      val r = rights.toDF("rid", "k", "t")
      val out = graft.operators.Temporal
        .asofJoinBackward(l, r, "k", "t", "t", "rid", Seq.empty)
        .collect()
      assert(out.length == lefts.length)
      // Every pick is the max right (t, rid) with t <= left t in the key.
      out.foreach { row =>
        val (k, lt) = (row.getAs[Long]("k"), row.getAs[Long]("t"))
        val expected = rights.filter(x => x._2 == k && x._3 <= lt)
          .map(x => (x._3, x._1)).sorted.lastOption
        val got = if (row.isNullAt(row.fieldIndex("asof_rid"))) None
          else Some((row.getAs[Long]("asof_t"), row.getAs[Long]("asof_rid")))
        assert(got == expected, s"key=$k t=$lt")
      }
    }
  }

  test("sessionize: partitions the input (session sizes sum to row count)") {
    val evGen = for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 500L)
    } yield (k, t)
    (1 to 5).foreach { seed =>
      val rows = Gen.listOfN(60, evGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      val df = rows.toDF("k", "tu", "id")
      val sess = graft.operators.Temporal
        .sessionize(df, "k", "tu", "id", gapUs = 50L).collect()
      assert(sess.map(_.getAs[Long]("n_events")).sum == rows.length)
      // Within a key, sessions are disjoint and gap-separated.
      sess.groupBy(_.getAs[Long]("k")).foreach { case (_, ss) =>
        val spans = ss.map(r => (r.getAs[Long]("session_start_us"),
          r.getAs[Long]("session_end_us"))).sortBy(_._1)
        spans.toSeq.sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(s2 - e1 > 50L)
          case _ =>
        }
      }
    }
  }

  test("top-k aggregator equals sort-and-take on random groups") {
    val rowGen = for {
      g <- Gen.choose(0, 3)
      v <- Gen.choose(-100.0, 100.0)
    } yield (g, v)
    (1 to 3).foreach { seed =>
      val rows = Gen.listOfN(80, rowGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val got = rows.toDF("g", "v").repartition(5)
        .groupBy("g")
        .agg(graft.functions.TopKAgg.top_k_values(col("v"), 4).as("t"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      rows.groupBy(_._1).foreach { case (g, vs) =>
        val expect = vs.map(_._2).sorted(Ordering[Double].reverse).take(4)
        assert(got(g) == expect, s"group $g")
      }
    }
  }

  test("indexed ANN equals full-scan IVF for random corpora and queries") {
    // The driver-side probeCells/lookup path must reproduce the in-plan
    // centroid scoring BIT-exactly (same fold order, same tie-break) —
    // any drift silently changes which cells are probed. Random vectors,
    // fixed seed; equality is on full rows (id, label, rounded cosine).
    import graft.ext.Similarity
    val rng = new scala.util.Random(7)
    val emb = (0L until 40L).map(i =>
        (i, (i % 3).toInt, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "label", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf-prop").toString
    Similarity.buildIvfIndex(emb, path, nlist = 8, dim = 16)
    // The index's quantizer is TRAINED at build; the full-scan
    // comparator must score under the SAME stored centroids.
    val storedCs = Similarity.loadCentroidsMeta(spark, path)._1
    Seq(0L, 7L, 23L).foreach { q =>
      val ivf = Similarity.annTopKIvfWith(emb, q, k = 5, storedCs,
        nprobe = 3).collect().toSeq
      val (qv, qn) = Similarity.lookupVec(spark, path, q)
      val idx = Similarity.annTopKIndexed(spark, path, qv, qn, k = 5,
        nprobe = 3).collect().toSeq
      assert(idx == ivf, s"query $q: $idx vs $ivf")
    }
  }

  test("opaque quantizer nodes equal their composed expression forms") {
    // IvfCellAssign / LshBucketAssign exist to stop projection collapse
    // from inlining the quantizer into every consumer; their VALUES must
    // stay bit-identical to the composed vec_dot forms they replaced.
    import graft.ext.Similarity
    import graft.functions.VectorFunctions.vec_dot
    val rng = new scala.util.Random(13)
    val emb = (0L until 50L).map(i =>
        (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cs = Similarity.centroids(8, 16, 7L)
    val composedCell = {
      val scores = array(cs.map(c => vec_dot(col("embedding"), typedLit(c))): _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    val ps = Similarity.planes(6, 16, 42L)
    val composedBucket = ps.zipWithIndex.map { case (p, i) =>
      shiftleft(when(vec_dot(col("embedding"), typedLit(p)) >= 0, 1L)
        .otherwise(0L), i)
    }.reduce(_ bitwiseOR _)
    val diff = emb.select(
        Similarity.ivfCell(col("embedding"), 8, 16).as("cell"),
        composedCell.as("cell0"),
        Similarity.lshBucket(col("embedding"), 6, 16).as("bucket"),
        composedBucket.as("bucket0"))
      .filter(col("cell") =!= col("cell0") || col("bucket") =!= col("bucket0"))
    assert(diff.isEmpty)
  }

  test("vec_sum_fixed equals the driver-side fixed-point sum on any layout") {
    val rng = new scala.util.Random(11)
    val dim = 16
    val vecs = Seq.fill(300)(Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
    val expected = (0 until dim).map { i =>
      vecs.map(v => Math.round(v(i).toDouble * (1L << 24))).sum / (1L << 24).toDouble
    }
    for (parts <- Seq(1, 7, 32)) {
      val got = vecs.map(v => Tuple1(v)).toDF("embedding").repartition(parts)
        .agg(graft.functions.VecSumAgg.vec_sum_fixed(col("embedding"), dim)
          .as("s"))
        .head().getSeq[Double](0)
      assert(got == expected, s"parts=$parts") // exact, not approximate
    }
  }

  test("NaN normalization: NaN doubles serialize as JSON nulls (P14)") {
    val df = Seq((1, Double.NaN, 2.5)).toDF("VendorID", "fare_amount", "trip_distance")
    val parsed = Json.parseStream(Json.toKeyedJson(df, col("VendorID")),
      Schemas.tripStream).head()
    assert(parsed.isNullAt(parsed.fieldIndex("fare_amount")))
    assert(parsed.getAs[Double]("trip_distance") == 2.5)
  }

  private val wordGen: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
  private def docBatch(seed: Long, nDocs: Int): Seq[(Long, String)] =
    (0 until nDocs).map { i =>
      val words = Gen.listOfN(30, wordGen)
        .pureApply(Gen.Parameters.default, Seed(seed * 1000 + i))
      (i.toLong, words.mkString(" "))
    }

  test("property: domain KL divergence is non-negative on random corpora") {
    import graft.ext.Retrieval
    (1L to 3L).foreach { seed =>
      val docs = docBatch(seed, 30).toDF("doc_id", "text")
        .withColumn("source", (col("doc_id") % 3).cast("string"))
      val kl = Retrieval.domainDivergence(docs).collect()
        .map(_.getDouble(2))
      // Gibbs' inequality (up to the 6-dp output rounding)
      assert(kl.forall(_ >= -1e-6), kl.toSeq.toString)
    }
  }

  test("property: BM25 score increases with term frequency, all else fixed") {
    import graft.ext.Retrieval
    // Same length, same df: doc 2 holds the query term twice.
    val docs = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta alpha delta epsilon zeta"),
        (3L, "theta eta zeta delta epsilon beta"))
      .toDF("doc_id", "text")
    val s = Retrieval.bm25TopK(docs, Seq("alpha"), k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(2L) > s(1L))
    assert(!s.contains(3L))
  }

  test("property: dropRepeatedSpans shrinks monotonically to a fixpoint") {
    // NOT idempotent by design: removing a span makes new tokens
    // adjacent, which can form a fresh repeat (single-pass greedy, the
    // C4-style trade). The honest properties: text never grows, and
    // iterating converges to a repeat-free fixpoint in a few passes
    // (each dropping pass strictly shrinks some doc, so it terminates).
    import graft.ext.TextAnalysis
    (1L to 3L).foreach { seed =>
      val docs = docBatch(seed, 25).toDF("doc_id", "text")
      val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      var cur = docs
      var pass = 0
      var dropped = 1L
      while (dropped > 0 && pass < 10) {
        val out = TextAnalysis.dropRepeatedSpans(cur, n = 3)
        val rows = out.collect()
        rows.foreach { r =>
          assert(r.getString(1).length <= orig(r.getLong(0)).length)
        }
        dropped = rows.map(_.getLong(2)).sum
        cur = out.select(col("doc_id"), col("clean_text").as("text"))
        pass += 1
      }
      assert(dropped === 0L, s"no fixpoint after $pass passes")
    }
  }

  test("property: dedupLines equals the sequential reference on random multi-line docs") {
    // Reference implementation in plain Scala: walk docs in (doc_id,
    // pos) order, keep a non-blank normalized line iff unseen, always
    // keep blanks. Lines draw from a SMALL pool (heavy duplication),
    // with case/pad variants and blanks mixed in.
    import graft.ext.TextAnalysis
    val pool = Vector("alpha beta", "Alpha Beta", " gamma ", "delta e",
      "", "  ", "zeta y", "ETA theta", "eta theta", "iota k")
    (1L to 3L).foreach { seed =>
      val docs = (0 until 25).map { i =>
        val lines = Gen.listOfN(8, Gen.oneOf(pool))
          .pureApply(Gen.Parameters.default, Seed(seed * 500 + i))
        (i.toLong, lines.mkString("\n"))
      }
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = docs.map { case (id, text) =>
        val kept = text.split("\n", -1).filter { l =>
          val k = l.trim.toLowerCase
          k.isEmpty || seen.add(k)
        }
        (id, kept.mkString("\n"),
          (text.split("\n", -1).length - kept.length).toLong)
      }
      val got = TextAnalysis.dedupLines(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq == expected)
    }
  }

  test("property: dq audit violations never exceed row counts") {
    import graft.warehouse.DataQuality
    import graft.warehouse.DataQuality.RuleCheck
    (1L to 3L).foreach { seed =>
      val vals = Gen.listOfN(60, Gen.choose(-100.0, 100.0))
        .pureApply(Gen.Parameters.default, Seed(seed))
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val out = DataQuality.checkTable(df, "t", Seq(
          RuleCheck("neg", col("v") < 0),
          RuleCheck("big", col("v") > 50),
          RuleCheck("nonzero", col("v") =!= 0.0)))
        .collect()
      out.foreach { r =>
        assert(r.getLong(3) >= 0L && r.getLong(3) <= r.getLong(2))
      }
      // conditional sums must agree with direct filter counts
      val neg = df.filter(col("v") < 0).count()
      assert(out.find(_.getString(0) == "neg").get.getLong(3) === neg)
    }
  }
}
