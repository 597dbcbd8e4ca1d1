package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.Retrieval

/** BM25 scale drill: builds the persisted inverted index over a
  * synthetic corpus (default 2M docs — 4000× the sf0.01 documents
  * table) and measures repeated-query cost of the two paths — the
  * corpus-scan form (tokenize + filter per query) and the
  * bucket-pruned persisted index (`bm25 [docs]`). The indexed path
  * must return exactly the scan form's rows.
  */
private[tools] object Bm25Drill extends DrillDef("bm25", Seq("2000")) {
  def run(r: DrillRun, args: Seq[String]): Unit = {
    val rows = args.lift(0).fold(2000000L)(_.toLong)
    val spark = r.spark
    // Synthetic docs from a fixed vocabulary with a skewed (hash-mixed)
    // term draw: volume and a realistic df spread, not linguistics.
    val vocab = (0 until 1000).map(i => s"w$i")
    val vlit = typedlit(vocab)
    // One generator for corpus and append batch: the append-vs-rebuild
    // equality below compares distributions, so they must never diverge.
    def gen(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(39)),
          i => element_at(vlit,
            (pmod(xxhash64(col("id") * 131 + i),
              pmod(xxhash64(col("id") * 17 + i), lit(1000)) + 1) + 1)
              .cast("int"))), " ").as("text"))
      .localCheckpoint()
    val docs = gen(0L, rows)

    val terms = Seq("w7", "w423", "w999")
    val path = r.dir("bm25")
    r.phase("build inverted index (one-off)") {
      Retrieval.buildBm25Index(docs, path)
    }
    val scan = r.phase("BM25 top-10 (corpus scan)") {
      Retrieval.bm25TopK(docs, terms, k = 10).collect()
    }
    val idx = r.phase("BM25 top-10 (pruned postings)") {
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
    }
    assert(idx.toSeq == scan.toSeq, "indexed must equal the scan form")
    r.phase("BM25 top-10 (repeat query, warm)") {
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
    }
    r.phase("BM25 corpus scan (repeat query, warm)") {
      Retrieval.bm25TopK(docs, terms, k = 10).collect()
    }

    // Incremental maintenance: fold in a 1% batch of new docs and
    // compare against rebuilding over the enlarged corpus — the cost a
    // daily-ingest deployment pays per batch vs per rebuild.
    val batch = gen(rows, rows + rows / 100)
    r.phase(s"append 1% batch (${rows / 100} docs)") {
      Retrieval.appendBm25Index(batch, path)
    }
    val appended = r.phase("BM25 top-10 (after append)") {
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
    }
    val fullPath = r.dir("bm25-full")
    r.phase("full rebuild over 101% corpus") {
      Retrieval.buildBm25Index(docs.unionByName(batch), fullPath)
    }
    val rebuilt = Retrieval.bm25Indexed(spark, fullPath, terms, k = 10)
      .collect()
    assert(appended.toSeq == rebuilt.toSeq,
      "appended index must equal the rebuilt index")

    // Streaming-sink decay: a 10 s-trigger stream lands 8,640 ingest
    // partitions a day. Simulate ~1% of a day (120 micro-batch appends
    // on top of the two ingests above; one per 1,000 docs below 120k,
    // so a smoke-sized corpus runs the same path in a few appends),
    // measure the query cost the small-files metadata work adds, then
    // compact and measure what the fold gives back. File counts printed
    // alongside: the query cost IS the listing+footer cost at this
    // corpus size.
    val perBatch = math.max(rows / 10000L, 100L)
    val appends = (rows / 1000).max(1L).min(120L).toInt
    val ingests = appends + 2
    r.phase(s"append $appends micro-batches ($perBatch docs each)") {
      (0 until appends).foreach { b =>
        val lo = rows + rows / 100 + b * perBatch
        Retrieval.appendBm25Index(gen(lo, lo + perBatch), path,
          ingestId = 100L + b)
      }
    }
    def fileCount(p: String): Long = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    println(f"postings files at $ingests%d ingests: ${fileCount(s"$path/postings")}%d")
    val fragmented = r.phase(s"BM25 top-10 ($ingests-ingest index, warm)") {
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
    }
    r.phase(s"compactBm25Index (fold $ingests ingests)") {
      Retrieval.compactBm25Index(spark, path)
    }
    println(f"postings files after compaction: ${fileCount(s"$path/postings")}%d")
    val folded = r.phase("BM25 top-10 (compacted index, warm)") {
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
      Retrieval.bm25Indexed(spark, path, terms, k = 10).collect()
    }
    assert(folded.toSeq == fragmented.toSeq,
      "compacted index must equal the fragmented index")
  }
}
