package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase, Tables}

/** Physical-plan audits: the properties that decide whether a query
  * survives a 100× scale-up are visible in `explain` — filters reaching
  * the parquet scan, column pruning, dimension broadcasts, top-k without a
  * global sort, and single-scan plans where the operator was rewritten to
  * avoid re-reading the fact table. These assertions pin them so a future
  * refactor that silently reintroduces a scan or a shuffle fails the
  * suite, not just the benchmark.
  */
class PlanAuditSpec extends SparkTestBase {

  /** Execute (drives AQE to its final plan), then return the plan text. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter and projection both push down to the parquet scan") {
    val df = Tables.t(spark, sf, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:") && !p.contains("l_extendedprice"),
      s"scan must read only the projected columns:\n$p")
  }

  test("star join broadcasts the dimension side") {
    val p = finalPlan(SparkEntry.queries("q10_star_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"dims must broadcast, not shuffle:\n$p")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = finalPlan(SparkEntry.queries("q30_topk_orders")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("TPC-H Q21 single-pass form scans lineitem exactly once") {
    val df = SparkEntry.queries("q181_tpch21_waiting_suppliers")(spark, sf)
    val p = finalPlan(df)
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans == 1,
      s"the aggregate rewrite exists to avoid re-scanning lineitem; found $scans scans:\n$p")
  }

  test("TPC-H Q1 aggregation stays inside whole-stage codegen") {
    val p = finalPlan(SparkEntry.queries("q160_tpch01_pricing")(spark, sf))
    // codegen stages print as "*(n) Operator" in the plan's toString
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined,
      s"agg must be codegen'd:\n$p")
    assert(p.contains("partial_sum"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("ANN probe scans exactly the probed cells' files, never the table") {
    // the flagship scale claim: a probe at nprobe < nlist must file-prune
    // to its cells — a FileIndex regression silently turning probes into
    // full scans would still return correct rows, so only a plan audit
    // catches it
    import graft.vector.AnnIndex
    val emb = Tables.t(spark, sf, "embeddings")
    val t = AnnIndex.buildIvf(emb, scratch("annplan"), nlist = 8, iters = 2)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val df = AnnIndex.topK(t, qv, 10, nprobe = 2)
    df.collect()
    // the snapshot's index lists every live file; the scan's numFiles
    // metric counts the files it kept and opened
    val scanned = graft.tools.Prof.filesRead(df.queryExecution.executedPlan)
    val (kept, total) = AnnIndex.probeCost(t, AnnIndex.probedCells(t, qv, 2))
    assert(scanned == kept,
      s"probe must open exactly the probed cells' files: scanned $scanned, cells hold $kept")
    assert(kept < total, s"probe must prune: $kept/$total files")
  }

  test("media gates shuffle only at the spine repartition, rollup, and output sort") {
    // the media family's 100 TB claim is "decode never shuffles": the
    // whole encode→corrupt→walk→stats chain must live in scan-side
    // projections between exactly two exchanges — the explicit by-num
    // spine repartition (AQE-exempt; see mediaRows) and the
    // deterministic output sort — with the parquet scan pruned to the
    // one column the fixtures derive from. The quarantine-report
    // gates (q253/q255) legitimately add ONE keyed exchange for their
    // small rollup, nothing else. A refactor that slips a join or an
    // extra shuffle into any family member (or widens the scan) would
    // still return correct rows, so only this audit catches it.
    // (q248/q251/q252/q256/q257 are excluded: their fingerprint stage
    // is cut by a localCheckpoint barrier, so their visible plan is
    // the pair join, audited by the near-dup tests below.)
    val family = Seq(
      "q246_image_decode" -> 0,
      "q247_audio_decode" -> 0,
      "q249_video_decode" -> 0,
      "q250_video_frame_sample" -> 0,
      "q254_mp4_decode" -> 0,
      "q258_container_normalize" -> 0,
      "q260_mp4_audio_demux" -> 0,
      "q261_mixed_audio_decode" -> 0,
      "q253_media_quarantine" -> 1, // + the rollup's group-key exchange
      "q255_media_quarantine_stages" -> 1)
    family.foreach { case (gate, rollupExchanges) =>
      val df = SparkEntry.queries(gate)(spark, sf)
      val full = finalPlan(df)
      // AQE's toString appends the pre-execution "Initial Plan" — audit
      // only the final one or every exchange double-counts
      val p = full.split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning.*REPARTITION_BY_NUM".r
        .findAllIn(p).size == 1, s"[$gate] expected exactly the spine repartition:\n$p")
      assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
        s"[$gate] expected exactly the output-sort exchange:\n$p")
      assert("Exchange".r.findAllIn(p).size == 2 + rollupExchanges,
        s"[$gate] no other shuffle may exist in a decode chain:\n$p")
      assert(!p.contains("Join"), s"[$gate] decode must not join:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
        s"[$gate] the scan must read only the fixture spine column:\n$p")
    }
  }

  test("exact near-dup verification never explodes pair×shingle") {
    // the candidate-verify join must be bounded by candidate pairs (per-doc
    // array_intersect), not a shingle-level join — a cartesian/position
    // explode here is the classic quadratic blow-up at corpus scale.
    // Composed from the pre-checkpoint stages: jaccardPairs itself returns
    // an eager localCheckpoint whose plan is just an RDD scan.
    import graft.text.DedupOps
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val grams = DedupOps.shingleTable(docs, 3)
    val pairs = DedupOps.verifyPairs(
      DedupOps.prefixCandidates(grams, 0.8), grams, 0.8)
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("Join"), s"plan must actually contain the joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian/unconditioned join in the dedup path:\n$p")
  }

  test("dedup-index probe prunes the posting scan to (doc_id, shingle)") {
    // the probe reads the index table twice (candidate join + the verify
    // read of the touched docs' postings); if projection pruning
    // regressed, each read would drag a partitioned index's __part_
    // copies — and on a real index, any future wide columns — through
    // every shuffle of the pipeline. The batch prefix is sliced inside
    // each doc's row, so no Window (and no exchange of the batch for one)
    // may come back. Composed from the pre-cut pipeline: dedupBatch
    // itself returns an eager lineage cut whose plan is just an RDD scan.
    import graft.text.{DedupIndex, DedupOps}
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val t = DedupIndex.build(docs, scratch("dedupplan"), n = 5)
    val batch = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 900000).as("doc_id"),
        concat(col("text"), lit(" t")).as("text"))
    val df = DedupOps.incrementalPipeline(
      t.read().select("doc_id", "shingle"),
      DedupOps.shingleSets(batch, 5), 0.5, materializeCandidates = false)
    val p = finalPlan(df)
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
      .filter(_.contains("shingle"))
    assert(schemas.nonEmpty, s"expected posting scans in the plan:\n$p")
    assert(schemas.forall(s => !s.contains("__band") && !s.contains("__part_")),
      s"posting scans must prune to (doc_id, shingle):\n$schemas")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian/unconditioned join in the probe path:\n$p")
    assert(!p.contains("Window"), s"the batch prefix must not window:\n$p")
  }

  test("curation pipeline plans as one flow with exactly two shuffles") {
    // funnel filter rides the scan; dedup is the single keyed exchange;
    // the split is a projection; the report aggregate is the second —
    // an extra Exchange means a stage stopped composing declaratively
    val df = SparkEntry.queries("q223_curation_pipeline")(spark, sf)
    val p = finalPlan(df)
    // (+1 for the 3-row output sort's range exchange); count only the
    // final plan — AQE's toString repeats every node under Initial Plan
    val finalSection = p.split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(finalSection).size
    assert(exchanges <= 3,
      s"pipeline must shuffle only for dedup + final agg + output sort, saw $exchanges:\n$p")
  }

  test("budget mixture windows over (domain, bucket), never one partition per domain") {
    // the two-phase prefix sum only scales if the running-sum window's
    // exchange keys include the hash bucket — partitioning on the domain
    // alone would serialize a 100 TB domain through one task
    val df = SparkEntry.queries("q224_budget_mixture")(spark, sf)
    val p = finalPlan(df)
    val windowParts = "hashpartitioning\\((lang[^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).filter(_.contains("__b")).toSeq
    assert(windowParts.nonEmpty,
      s"running-sum window must partition by (lang, __b):\n$p")
  }

  test("LM surprisal count aggregates partial-combine before the exchange") {
    val df = SparkEntry.queries("q226_lm_surprisal")(spark, sf)
    val p = finalPlan(df)
    assert(p.contains("partial_count") || p.contains("functions=[partial_"),
      s"bigram counts must map-side combine (partial aggregate):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the scoring join path:\n$p")
  }

  test("token chunking is a zero-shuffle narrow projection over the scan") {
    val df = graft.text.CorpusOps.chunkTokens(
      Tables.t(spark, sf, "documents"), window = 20, stride = 15)
    val p = finalPlan(df)
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle — it rides the scan projection:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:") && !p.contains("n_chars"),
      s"scan must read only (doc_id, text):\n$p")
  }

  test("bloom dedup verify broadcasts candidates; corpus side never shuffles") {
    // the membership-sketch fast path: when the verify candidate set
    // (true dups + fpp survivors, i.e. batch-bounded) measures under the
    // broadcast threshold, the corpus is scanned, not exchanged. A
    // SortMergeJoin here means the corpus got shuffled.
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val batch = corpus.limit(50)
    val bf = graft.text.BloomDedup.buildFilter(corpus)
    val p = finalPlan(graft.text.BloomDedup.dedupBatch(bf, corpus, batch))
    assert(p.contains("BroadcastHashJoin"),
      s"verify join must broadcast the candidate side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle for the verify join:\n$p")
  }

  test("bloom dedup verify falls back to a hash shuffle join above the threshold") {
    // a duplicate-heavy batch must NOT broadcast (candidates carry the
    // batch's normalized text); the fallback is a fingerprint-keyed
    // ShuffledHashJoin — never a broadcast, and never a sort-merge (the
    // hint keeps the corpus side sort-free)
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val batch = corpus.limit(50)
    val bf = graft.text.BloomDedup.buildFilter(corpus)
    val p = finalPlan(graft.text.BloomDedup.dedupBatch(
      graft.text.BloomDedup.BloomIndex(1, Map(0 -> bf)), corpus, batch,
      broadcastMaxCandidates = 0L))
    assert(!p.contains("BroadcastHashJoin"),
      s"above-threshold verify must not broadcast candidate text:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"fallback verify must be a hash shuffle join on the fingerprint:\n$p")
  }

  test("recall harness ground truth is a broadcast pass, never a shuffled cartesian") {
    // the Q × corpus exact pass must ride crossJoin(broadcast(queries)) —
    // every corpus partition scores all queries locally and only (qid,
    // id, sim) triples shuffle for the top-k rank. A CartesianProduct
    // here means the corpus got exchanged against the query sample.
    val emb = Tables.t(spark, sf, "embeddings")
    val p = finalPlan(graft.vector.AnnEval.pqRecall(
      emb, k = 10, fetch = 100, m = 8, ksub = 16, iters = 1, nQueries = 10))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"ground truth must broadcast the query sample:\n${p.take(4000)}")
    assert(!p.contains("CartesianProduct"),
      s"no shuffled cartesian in the recall harness:\n${p.take(4000)}")
  }

  test("frequent-items sketch partial-aggregates before the single-partition exchange") {
    // the MG summary must combine per partition (ObjectHashAggregate
    // partial) so only ≤capacity-entry maps cross the wire — raw words
    // reaching the final aggregate would shuffle the whole corpus.
    // q228's gate collects its audited rows (the returned plan is a
    // LocalTableScan), so the audit drives the gate's OWN internal
    // aggregate via the shared builders — not an inline copy that could
    // drift from the production pipeline.
    val df = ExtAnalyticsQueries.mgSketchAgg(
      ExtAnalyticsQueries.corpusWords(spark, sf))
    val p = finalPlan(df)
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"MG summary must partial-aggregate map-side:\n$p")
  }

  test("sketch rollup's daily merge reads the rollup table, not raw events") {
    // the rollup exists so later distinct-count queries never rescan raw
    // data: the union-merge subtree must scan the persisted sketch table
    // (binary sk column) — seeing user_id there means it recomputed
    val df = SparkEntry.queries("q229_sketch_rollup")(spark, sf)
    val p = finalPlan(df)
    val sketchScans = "ReadSchema: struct<[^>]*sk:binary[^>]*>".r.findAllIn(p).size
    assert(sketchScans >= 1,
      s"daily estimate must read persisted hourly sketches:\n$p")
  }

  test("BM25 filters query terms before the shuffle; df broadcasts; top-k takes") {
    val df = SparkEntry.queries("q233_bm25_topk")(spark, sf)
    val p = finalPlan(df)
    // the isin filter must sit under the partial aggregate, so only
    // query-term tokens ever reach an exchange
    assert(p.contains("IN (merge,vector,spark)"),
      s"query-term filter must run before the tf shuffle:\n$p")
    assert(p.contains("partial_count"),
      s"tf must map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"|Q|-row df table must broadcast, never shuffle the tf side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must take, not globally sort:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"document scan must prune to (doc_id, text):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("importance weights broadcast the vocabulary LLR table over the token stream") {
    val df = SparkEntry.queries("q235_importance_sampling")(spark, sf)
    val p = finalPlan(df)
    // scoring join: corpus tokens stay put, the vocabulary-bounded
    // log-ratio table broadcasts — a shuffle on `w` here would move
    // every corpus token twice
    assert(p.contains("BroadcastHashJoin"),
      s"LLR table must broadcast into the scoring join:\n$p")
    assert(p.contains("partial_avg"),
      s"per-doc weight must partial-combine before the doc exchange:\n$p")
    // both models come out of ONE count aggregate (conditional sum), so
    // exactly one token-keyed exchange exists (count only the final
    // plan — AQE's toString repeats every node under Initial Plan)
    val finalSection = p.split("== Initial Plan ==")(0)
    val wExchanges = "Exchange hashpartitioning\\(w#".r.findAllIn(finalSection).size
    assert(wExchanges == 1,
      s"raw+target counts must share a single token shuffle, saw $wExchanges:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("shard export shuffles once, on the shard key") {
    val df = SparkEntry.queries("q237_shuffle_shards")(spark, sf)
    val p = finalPlan(df)
    val finalSection = p.split("== Initial Plan ==")(0)
    // one hash exchange on shard for the in-shard rank; the final
    // orderBy adds its range exchange — no third shuffle may exist
    val hashEx = "Exchange hashpartitioning\\(shard#".r.findAllIn(finalSection).size
    assert(hashEx == 1, s"exactly one shard-keyed shuffle, saw $hashEx:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size == 1,
      s"no shuffle beyond the shard key:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan must prune to the id column:\n$p")
  }

  test("domain report: one corpus scan, map-side combine, window over grouped rows") {
    val df = SparkEntry.queries("q238_domain_report")(spark, sf)
    val p = finalPlan(df)
    // count only the final plan — AQE's toString repeats the tree under
    // "== Initial Plan =="
    val finalSection = p.split("== Initial Plan ==")(0)
    val scans = "documents\\.parquet".r.findAllIn(finalSection).size
    assert(scans == 1, s"the report must scan the corpus once, saw $scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-domain stats must map-side combine:\n$p")
  }

  test("range search is a pure scan: no exchange, no collect, pruned read") {
    import graft.vector.VectorOps
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val df = VectorOps.rangeSearch(emb, q, 0.3)
    val p = finalPlan(df)
    assert(!p.contains("Exchange"),
      s"a similarity-floor filter must ride the scan shuffle-free:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"scan must prune to (vec_id, embedding):\n$p")
  }

  test("MMR's distributed stage is the bounded top-N candidate take") {
    import graft.vector.VectorOps
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    // the candidate query Mmr.rerank collects — top-nCand must TAKE
    val candQuery = emb.select(col("vec_id"),
        round(VectorOps.cosine(col("embedding"),
          array(q.map(lit): _*)) + lit(1e-9), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(50)
    val p = finalPlan(candQuery)
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate selection must take, not globally sort:\n$p")
  }

  test("tokenizer encode stages are shuffle-free broadcast projections") {
    // both tokenizers train eagerly (bounded collect), then tokenize as
    // a pure projection — a shuffle appearing here would mean the encode
    // stage stopped scaling with input splits alone
    val docs = Tables.t(spark, sf, "documents")
    val subword = graft.text.Subword.tokenizeStats(docs, topK = 10)
    val pS = finalPlan(subword)
    assert(!pS.contains("Exchange"),
      s"subword encode must not shuffle:\n$pS")
    val merges = graft.text.Bpe.train(docs, nMerges = 3)
    val pB = finalPlan(graft.text.Bpe.tokenStats(docs, merges))
    assert(!pB.contains("Exchange"), s"BPE encode must not shuffle:\n$pB")
    assert(pS.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"subword scan must prune to (doc_id, text):\n$pS")
  }

  test("phrase scan prunes postings with a semi-join before any positional join") {
    import graft.text.PhraseIndex
    val docs = Tables.t(spark, sf, "documents")
    val df = PhraseIndex.phraseScan(docs,
      PhraseIndex.phrasesFromDocs(docs, every = 10, residue = 3))
    val p = finalPlan(df)
    assert(p.contains("LeftSemi"),
      s"postings must be pruned to the phrase vocabulary first:\n$p")
    // the phrase side must broadcast — a shuffled phrases side would mean
    // the metadata-scale table drives a corpus-scale exchange
    assert(p.contains("BroadcastHashJoin"),
      s"positional joins must hash-join with the broadcast side:\n$p")
  }

  test("blocklist scan, text cleaning, and charset stats are shuffle-free projections") {
    val docs = Tables.t(spark, sf, "documents")
    Seq(
      "blocklist" -> graft.text.Blocklist.scan(docs, Seq("spark", "merge batch")),
      "cleanText" -> docs.select(graft.text.TextOps.cleanText(col("text"))),
      "charStats" -> docs.select(graft.text.TextOps.charEntropy(col("text")),
        graft.text.TextOps.bagFingerprint(col("text")))
    ).foreach { case (name, df) =>
      val p = finalPlan(df)
      assert(!p.contains("Exchange"), s"[$name] must not shuffle:\n$p")
    }
  }

  test("curation v2 composes in two keyed corpus-scale shuffles, dims broadcast") {
    // the q273 contract: clean → blocklist → bag-dedup → funnel as ONE
    // plan whose corpus-scale exchanges are exactly the fingerprint
    // group and the domain rollup family (partial-agged lang rollups
    // move domain-cardinality rows); the funnel⋈kept meet must
    // broadcast, never sort-merge, and the only range exchange is the
    // deterministic output sort. A composition refactor that slips in a
    // third corpus-scale shuffle or un-broadcasts the domain join would
    // still return correct rows — only this audit catches it.
    val df = SparkEntry.queries("q273_curation_v2")(spark, sf)
    val full = finalPlan(df)
    val p = full.split("== Initial Plan ==")(0)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(hashEx <= 3,
      s"budget: fp group + funnel/kept lang rollups = at most 3 keyed exchanges, found $hashEx:\n$p")
    assert(rangeEx == 1, s"only the output sort may range-partition:\n$p")
    val bcastEx = "BroadcastExchange".r.findAllIn(p).size
    assert(bcastEx == 1,
      s"exactly the kept-side domain broadcast, found $bcastEx:\n$p")
    assert("Exchange".r.findAllIn(p).size == hashEx + rangeEx + bcastEx,
      s"no other exchange kind may appear:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the domain-keyed funnel join must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the funnel/kept broadcast join:\n$p")
  }

  test("CDC shared-chunk pairing joins on the chunk hash, never cartesian") {
    // the cross-doc pair stage is the one corpus-scale shuffle of the
    // q275 composition — a dropped join key would still return correct
    // rows on planted pairs while going quadratic at scale
    import graft.text.CdcChunk
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val df = CdcChunk.sharedChunks(CdcChunk.chunks(docs))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay an equi-join on chunk_hash:\n$p")
  }

  test("weighted sample plans as TakeOrderedAndProject, not a global sort") {
    // the Efraimidis-Spirakis draw is top-k by race key: per-partition
    // top-k + driver merge, never a rangepartitioned global sort of the
    // corpus
    val df = graft.text.CorpusOps.weightedSample(
      Tables.t(spark, sf, "documents").select("doc_id", "n_chars"),
      "n_chars", 50)
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must top-k, not sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort exchange in a sample draw:\n$p")
  }

  test("corpus health: zipf rank filter plans as WindowGroupLimit, no single-partition window") {
    val df = graft.text.CorpusOps.corpusHealth(
      Tables.t(spark, sf, "documents"))
    val p = finalPlan(df)
    assert(p.contains("WindowGroupLimit"),
      s"rank <= topK must push a per-partition group limit:\n$p")
    // every window is per-domain — a global (empty-partition-spec)
    // window would serialize the corpus through one task; check the
    // logical Window nodes structurally, the plan STRING can't express
    // "empty partition spec" unambiguously
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"no global window allowed (empty partitionSpec):\n${w.simpleString(5)}"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"word counts must map-side combine:\n$p")
  }
}
