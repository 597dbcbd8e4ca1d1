package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Dedup scale drill: runs the LLM-pipeline dedup operators over a
  * synthetic corpus orders of magnitude past the testdata documents
  * table (`dedup [docs] [skewDocs]`, default 2M / 200k — 4000× the
  * sf0.01 corpus). Content derives deterministically from the doc
  * id (30 tokens over a 5k vocab); 5% of docs are exact duplicates
  * (every 20th doc repeats the content of the doc 7 below it), so the
  * expected duplicate count is known and asserted, not just timed.
  * Demonstrates the dedup family's cost tracks the scan/shuffle of
  * hashes — not pairs — at volume.
  */
private[tools] object DedupDrill
    extends DrillDef("dedup", Seq("2000", "20100")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(2000000L)(_.toLong)
    val spark = r.spark
    val docs = spark.range(rows).select(
        col("id").as("doc_id"),
        when(col("id") % 20 === 7, col("id") - 7).otherwise(col("id"))
          .as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("tok"),
            pmod(xxhash64(col("seed") * 31 + i), lit(5000)))))
          .as("text"))
      .localCheckpoint() // materialize once; drills measure the operators

    val expectedDups = rows / 20 // every id ≡ 7 (mod 20) repeats id-7
    val dups = r.phase("exact dedup (digest hash-agg)") {
      Dedup.exactStats(docs).head().getAs[Long]("duplicate_docs")
    }
    assert(dups == expectedDups, s"expected $expectedDups dups, got $dups")
    r.phase("minhash signatures") {
      Dedup.minhashSignatures(docs).count()
    }
    val pairs = r.phase("minhash near-dup pairs (join-back)") {
      Dedup.minhashNearDupPairs(docs, threshold = 0.9).count()
    }
    assert(pairs >= expectedDups,
      s"LSH must surface every exact-dup pair: $pairs < $expectedDups")
    val pairsFused = r.phase("minhash near-dup pairs (fused)") {
      Dedup.minhashNearDupPairsFused(docs, threshold = 0.9).count()
    }
    assert(pairsFused == pairs,
      s"fused form must find the same pairs: $pairsFused != $pairs")
    r.phase("incremental dedup (new 1% vs rest)") {
      val cut = rows - rows / 100
      Dedup.dedupAgainstSeen(
        docs.filter(col("doc_id") >= cut),
        docs.filter(col("doc_id") < cut)).count()
    }
    // Incremental MinHash screen: a 1%-sized ingest batch vs the whole
    // standing corpus — recompute form (re-derives the corpus side per
    // batch) against the persisted-index form (corpus sets/bands at
    // rest). The per-batch asymptotics are the whole point at 100 TB:
    // recompute pays the corpus scan + signature pipeline EVERY batch;
    // the index pays it once at build, then each batch costs
    // batch-sized work + the band-bucket join against at-rest band
    // rows. The batch is half planted exact copies of corpus docs (even
    // ids replay corpus seed (id−rows)·20+1 — ≡1 mod 20, so the source
    // is not itself a dup copy) and half fresh seeds ≥ rows; exactly
    // the fresh half must survive, in both forms — asserted.
    val batchN = rows / 100
    val batch = spark.range(rows, rows + batchN).select(
        col("id").as("doc_id"),
        when(col("id") % 2 === 0, (col("id") - rows) * 20 + 1)
          .otherwise(col("id")).as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          i => concat(lit("tok"),
            pmod(xxhash64(col("seed") * 31 + i), lit(5000)))))
          .as("text"))
      .localCheckpoint()
    val expectedNovel = batchN - batchN / 2 // the fresh (odd-id) half
    val novelRecompute = r.phase("minhash novel (recompute corpus side)") {
      Dedup.minhashNovel(batch, docs, threshold = 0.9).count()
    }
    val idxPath = r.dir("minhash")
    r.phase("minhash index build (full corpus)") {
      Dedup.buildMinhashIndex(docs, idxPath)
      spark.read.parquet(s"$idxPath/sets").count()
    }
    val novelIndexed = r.phase("minhash novel (persisted index)") {
      Dedup.minhashNovelAgainstIndex(batch, idxPath, threshold = 0.9)
        .filter(col("is_novel")).count()
    }
    assert(novelIndexed == novelRecompute,
      s"indexed screen must equal recompute: $novelIndexed != $novelRecompute")
    assert(novelRecompute == expectedNovel,
      s"exactly the fresh half must survive: $novelRecompute novel " +
        s"of $batchN, expected $expectedNovel")
    // Small-file decay and compaction (the Bm25Drill story on this
    // index): a stream feeding the index creates one ingest partition
    // per trigger; measure the screen after 20 small appends (one per
    // 1,000 docs below 20k), compact, re-measure — the fold must restore
    // query cost AND verdicts exactly.
    def fileCount(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(p))
    }
    val appends = (rows / 1000).max(1L).min(20L).toInt
    (1 to appends).foreach { i =>
      // tiny per-trigger batches of fresh docs (ids past the drill space)
      val b = spark.range(10L * rows + i * 100L, 10L * rows + i * 100L + 100L)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            j => concat(lit("tok"),
              pmod(xxhash64(col("id") * 31 + j), lit(5000)))))
            .as("text"))
      Dedup.appendMinhashIndex(b, idxPath, ingestId = i)
    }
    println(f"after $appends%d appends: ${fileCount(idxPath)}%d parquet files")
    val vPre = r.phase(s"screen after $appends appends") {
      Dedup.minhashNovelAgainstIndex(batch, idxPath, threshold = 0.9)
        .filter(col("is_novel")).count()
    }
    assert(Dedup.compactMinhashIndex(spark, idxPath))
    println(f"after compaction:  ${fileCount(idxPath)}%d parquet files")
    val vPost = r.phase("screen after compaction") {
      Dedup.minhashNovelAgainstIndex(batch, idxPath, threshold = 0.9)
        .filter(col("is_novel")).count()
    }
    assert(vPre == vPost,
      s"compaction must be verdict-invariant: $vPre != $vPost")

    // -------------------------------------------------------------------
    // Planted boilerplate skew: the adversarial corpus the hot-bucket
    // cap exists for. 5% of docs (id ≡ 3 mod 20) share IDENTICAL
    // template text — identical signatures, so every one of the
    // cluster's 8 band buckets holds the whole cluster and the uncapped
    // candidate space is ~C(cluster, 2) in eight copies of ONE join
    // key. 0.1% of docs (id ≡ 9 mod 1000) are planted TRUE near-dups of
    // doc id−4 (29 of 30 tokens shared → exact J = 27/29 ≈ 0.93) whose
    // buckets stay cold — the cap must keep every one of those pairs
    // while dropping the boilerplate blowup. Uncapped baseline runs at
    // a bounded size (the blowup is quadratic — the point); the capped
    // form runs at full skew scale. Plant J is kept high (29/30 tokens
    // shared → J = 27/29 ≈ 0.93) so BANDING recall is not the variable
    // under test: at J ≈ 0.93 a pair misses all 8 bands w.p.
    // (1−0.93⁴)⁸ ≈ 1.5e-5 (an earlier 0.81-J plant lost the expected
    // ~1.2% of pairs to banding, not to the cap).
    // -------------------------------------------------------------------
    val skewRows = args.lift(1).fold(200000L)(_.toLong)
    def skewCorpus(n: Long) = {
      def toks(seed: org.apache.spark.sql.Column, from: Int, to: Int) =
        transform(sequence(lit(from), lit(to)),
          i => concat(lit("tok"), pmod(xxhash64(seed * 31 + i), lit(5000))))
      spark.range(n).select(col("id").as("doc_id"),
          when(col("id") % 20 === 3,
            lit((0 to 29).map(i => s"boiler$i").mkString(" ")))
          .when(col("id") % 1000 === 9, concat_ws(" ",
            concat(toks(col("id") - 4, 0, 28), toks(col("id"), 29, 29))))
          .otherwise(concat_ws(" ", toks(col("id"), 0, 29)))
          .as("text"))
        .localCheckpoint()
    }
    val smallN = math.min(skewRows, 50000L)
    val small = skewCorpus(smallN)
    val uncappedPairs = r.phase(f"skew $smallN%d: pairs UNCAPPED") {
      Dedup.minhashNearDupPairs(small, maxBucket = 0).count()
    }
    val cappedSmall = r.phase(f"skew $smallN%d: pairs capped@1000") {
      Dedup.minhashNearDupPairs(small).count()
    }
    val cluster = (smallN + 16) / 20 // ids ≡ 3 (mod 20)
    println(f"  boilerplate cluster $cluster%d docs → " +
      f"${cluster * (cluster - 1) / 2}%d pair blowup uncapped")
    assert(uncappedPairs - cappedSmall >= cluster * (cluster - 1) / 2,
      "uncapped run must contain the full boilerplate pair space")
    val skew = if (skewRows == smallN) small else skewCorpus(skewRows)
    val cappedFull =
      if (skewRows == smallN) cappedSmall
      else r.phase(f"skew $skewRows%d: pairs capped@1000") {
        Dedup.minhashNearDupPairs(skew).count()
      }
    println(f"  capped pair count at full skew scale: $cappedFull%d")
    // Recall pin: EVERY planted cold-bucket near-dup pair survives the
    // cap (the boilerplate cluster's internal pairs are the documented
    // loss — they are exact dups, the exact-dedup pre-pass' job).
    val planted = r.phase("skew recall: planted pairs found") {
      val found = Dedup.minhashNearDupPairs(skew)
        .filter(col("doc_b") % 1000 === 9 && col("doc_a") === col("doc_b") - 4)
        .count()
      val expected = skew.filter(col("doc_id") % 1000 === 9).count()
      assert(found == expected,
        s"cap lost ${expected - found} of $expected planted near-dup pairs")
      found
    }
    println(f"  planted-pair recall under cap: $planted%d/$planted%d (1.0)")
    // Cluster assignment under the cap: the 10k-doc template cluster's
    // LSH pairs are gone, but the exact-digest star edges must still
    // collapse it to ONE survivor (star diameter 2 → CC converges in a
    // couple of iterations — no pair blowup anywhere).
    val boilerDocs = (skewRows + 16) / 20
    r.phase("skew clusters capped (star edges)") {
      val nonKeep = Dedup.nearDupClusters(skew).filter(!col("keep")).count()
      assert(nonKeep >= boilerDocs - 1 + skewRows / 1000,
        s"template cluster dissolved: only $nonKeep non-survivors, " +
          s"expected ≥ ${boilerDocs - 1 + skewRows / 1000}")
      nonKeep
    }

    // -------------------------------------------------------------------
    // SimHash indexed screen at the same scale: the Hamming-radius
    // sibling of the minhash screen above — 16 bytes/doc at rest, band
    // rows derived at scan. The batch re-uses the minhash drill's
    // half-copies/half-fresh plant: copies are byte-identical (Hamming
    // 0 — caught at ANY radius by construction), fresh docs are random
    // token streams (fingerprints ~uniform, so a radius-3 chance hit
    // needs P ≈ 43745/2⁶⁴ ≈ 2.4e-15 per pair — asserting exact novel
    // counts is sound even at 2e10 pairs). Radius 7 runs the 17×
    // batch-side multi-index expansion on the broadcast plan; its
    // chance-collision expectation is ~7e8/2⁶⁴ per pair (≈ 0.8 hits at
    // this scale), so the copies' catch is asserted and the novel
    // count reported.
    // -------------------------------------------------------------------
    val shPath = r.dir("simhash")
    r.phase("simhash index build (full corpus)") {
      Dedup.buildSimhashIndex(docs, shPath)
      spark.read.parquet(s"$shPath/fps").count()
    }
    val shNovelR3 = r.phase("simhash novel r3 (broadcast probe)") {
      Dedup.simhashNovelAgainstIndex(batch, shPath, maxHamming = 3)
        .filter(col("is_novel")).count()
    }
    assert(shNovelR3 == expectedNovel,
      s"radius-3 screen: $shNovelR3 novel of $batchN, expected " +
        s"$expectedNovel (copies Hamming 0, fresh beyond chance radius)")
    val shNovelR3m = r.phase("simhash novel r3 (merge plan)") {
      Dedup.simhashNovelAgainstIndex(batch, shPath, maxHamming = 3,
        broadcastBatch = false).filter(col("is_novel")).count()
    }
    assert(shNovelR3m == shNovelR3,
      s"join plans must agree: $shNovelR3m != $shNovelR3")
    val shCaughtR7 = r.phase("simhash novel r7 (MIH probe)") {
      Dedup.simhashNovelAgainstIndex(batch, shPath, maxHamming = 7)
        .filter(!col("is_novel") && col("best_hamming") === 0).count()
    }
    assert(shCaughtR7 >= batchN / 2,
      s"radius-7 must catch every planted copy at distance 0: " +
        s"$shCaughtR7 < ${batchN / 2}")
    println(f"  simhash r7 caught-at-0: $shCaughtR7%d of ${batchN / 2}%d planted copies")
  }
}
