package graft

import graft.ops.{DedupOps, JoinOps, SimOps}
import org.apache.spark.sql.functions._

/** Dev utility: dump the physical plans of the headline operators to
  * stdout (source for PLANS.md). Not part of the driver contract.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Launcher.local(8)
    spark.conf.set("spark.sql.shuffle.partitions", 32L)

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"===== $name =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      println()
    }

    dump("extract_hot_path", graft.pipeline.ExtractJob.extract(
      graft.pipeline.TranscriptGen.turns(spark, 1000, 42, 8)).toDF())
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    dump("minhash_rep_agg",
      DedupOps.minhashRepAgg(docs, "doc_id", "text", 3, 64, 16))
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    dump("ann_bruteforce_topk",
      SimOps.bruteForceTopK(e.filter(col("vec_id") < 5), e, 3))
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "user_id", "ts")
    val cp = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max(col("value")).as("cp_value"))
    dump("asof_join", JoinOps.asofJoin(ev, cp, "user_id", "ts", Seq("cp_value")))
    dump("dim_join", SparkEntry.queries("q_join_segment_sales")(spark, sf))
    dump("pruned_scan", SparkEntry.queries("q_topk_docs")(spark, sf))
    // on-disk ANN index serving plans: both must show non-empty
    // PartitionFilters (only probed cells / signature buckets are read)
    def scratch(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_plan_$name")
      def purge(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(purge)
        f.delete(): Unit
      }
      purge(d)
      d.getAbsolutePath
    }
    val tmpIvf = scratch("ivf")
    SimOps.writeIvfIndex(SimOps.buildIvfIndex(e, nCells = 16), tmpIvf)
    dump("ivf_disk_query", SimOps.ivfQuery(SimOps.readIvfIndex(spark, tmpIvf),
      e.filter(col("vec_id") < 5), k = 3, nprobe = 4))
    val tmpLsh = scratch("lsh")
    SimOps.writeLshIndex(SimOps.buildLshIndex(e, bits = 6), tmpLsh)
    dump("lsh_disk_query", SimOps.lshQuery(SimOps.readLshIndex(spark, tmpLsh),
      e.filter(col("vec_id") < 5), k = 3))
    // round-5: the three most expensive queries' scale-critical final
    // stages (their upstream stages are pinned by the sections above).
    // Building these runs the eager dedup/CC work — plans reflect what a
    // caller's action actually executes afterward.
    dump("dedup_keepers_antijoin",
      DedupOps.dedupCorpus(docs, "doc_id", "text", threshold = 0.5))
    dump("dup_spans_default",
      DedupOps.duplicateSpans(docs, "doc_id", "text", k = 5))
    dump("dup_spans_skew_safe",
      DedupOps.duplicateSpans(docs, "doc_id", "text", k = 5, skewSafe = true))
    dump("pretrain_e2e_final_stage", SparkEntry.queries("q_pretrain_e2e")(spark, sf))
    // round-5 second half: PDF extraction must stay shuffle-free above the
    // scan (both stages are mapPartitions); conversation stats must plan as
    // hash aggregates + one near-unique-key join, with no Window operator.
    dump("pdf_extract", graft.ops.PdfOps.extractText(
      graft.ops.PdfOps.synthesize(docs)).toDF())
    dump("conv_stats", graft.pipeline.ConvOps.convStats(
      docs.selectExpr("cast(doc_id % 40 as string) as conv_id",
        "cast(doc_id div 40 as int) as turn_idx", "'user' as role",
        "text", "'none' as tool")))
    // incremental ingest serving plans: (1) candidate stage — the index
    // scan must sit on the STREAM side of a BroadcastHashJoin (the
    // corpus-scale band rows never shuffle; only candidate id pairs leave);
    // (2) verification stage — the corpus text scans must carry a
    // candidate-id broadcast LEFT-SEMI so shingling costs O(candidates).
    val tmpInc = scratch("inc") + "/idx"
    DedupOps.writeMinhashIndex(docs, "doc_id", "text", tmpInc,
      k = 3, numHashes = 64, bands = 16)
    val incBatch = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    dump("incremental_neardup_candidates", DedupOps.incrementalCandidates(
      incBatch, "doc_id", "text", tmpInc))
    dump("incremental_neardup_verify", DedupOps.incrementalNearDups(
      incBatch, "doc_id", "text", tmpInc, docs, threshold = 0.5))
    // LM scoring: document text must stay below the first projection —
    // everything crossing an exchange is (token|gram, count) rows
    val lm = graft.ops.LmOps.bigramLm(docs, "text")
    dump("lm_perplexity", graft.ops.LmOps.perplexityBits(
      docs, "doc_id", "text", lm._1, lm._2, lm._3))
    // conversation near-dup: exchanges carry (conv_id, 32-char fp) only
    val convs = docs.selectExpr("cast(doc_id % 40 as string) as conv_id",
      "cast(doc_id div 40 as int) as turn_idx", "text")
    dump("conv_neardup", graft.pipeline.ConvOps.convNearDups(convs))
    // BM25 serving: the df aggregate and every join above the corpus scan
    // must be restricted to query terms (BroadcastHashJoin LeftSemi on the
    // tf stream); the per-query ranking is the bounded heap, no Window
    val qs = spark.createDataFrame(Seq((1L, "spark window merge"),
      (2L, "customer filter query"))).toDF("query_id", "qtext")
    dump("bm25_serving", graft.ops.RetrievalOps.bm25TopDocs(
      docs, "doc_id", "text", qs, "query_id", "qtext", topK = 5))
    // Bloom decontamination: the probe (UDF filter over the broadcast
    // bitset) must sit in the train-side scan stage BELOW the verify
    // join's exchange — clean shingles die before any shuffle
    dump("contamination_bloom", graft.ops.BloomOps.contaminationBloom(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", k = 5, hashed = true))
    spark.stop()
  }
}
