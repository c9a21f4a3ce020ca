package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora: exact (fingerprint
  * group-by), n-gram Jaccard, MinHash+LSH, SimHash. Public algorithms
  * (Broder '97 minhash/shingling, Charikar '02 simhash) re-expressed as
  * Spark dataflows.
  *
  * Scale design: every method is shuffle-bounded by (doc_id, shingle) or
  * candidate-pair cardinality — never all-pairs. MinHash banding and
  * SimHash chunk-blocking keep candidate generation sub-quadratic, which
  * is the difference between "works on 60k docs" and "works on 10B docs".
  */
object DedupOps {

  /** Exact dedup: keep the lowest-id document per fingerprint.
    *
    * `min_by` aggregation rather than a row_number window: the aggregate
    * partial-combines map-side, so the exchange carries one surviving row
    * per (fingerprint, input partition) instead of every input row — on a
    * corpus that is mostly duplicates (the common 100-TB case) that is the
    * difference between shuffling the deduped output and shuffling the
    * whole corpus. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cols = docs.columns.toSeq
    docs.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .groupBy("__fp")
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** Surviving ids only — for callers that don't need the full rows the
    * exchange carries just (fingerprint, min id), nothing else; min_by in
    * `exactDedup` would drag every column through the shuffle inside its
    * struct (aggregate buffers defeat nested-column pruning). */
  def exactDedupIds(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(TextOps.fingerprint(col(textCol)).as("__fp"), col(idCol))
      .groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** (doc_id, shingle) exploded distinct-shingle pairs, with the shingle
    * *hashed to int64* (xxhash64) at birth: every downstream exchange,
    * group-by, and set intersection then moves 8-byte longs instead of
    * ~40-byte strings — ~4× less shuffle width across the whole dedup
    * family. Jaccard over hashed sets equals Jaccard over string sets up
    * to 64-bit collisions (P ≈ k²/2⁶⁴ per document — negligible at any
    * corpus size). The words array is materialized first so the
    * tokenizing split runs once per document (see
    * TextOps.shinglesFromWords). */
  def shingleTable(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextOps.words(col(textCol)).as("__w"))
      .select(col("doc_id"),
        explode(TextOps.shinglesFromWords(col("__w"), n)).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("shingle"))

  /** All-pairs n-gram Jaccard ≥ threshold, exact.
    *
    * Candidate generation uses *prefix filtering* (PPJoin family, exact):
    * order each doc's shingles rarest-first (global frequency, shingle as
    * tie-break) and index only the first `|x| - ceil(t·|x|) + 1` — any
    * pair with Jaccard ≥ t must share an indexed shingle, and hot
    * shingles (the quadratic blowup in a naive inverted-index join) drop
    * out of the index almost entirely. Candidates are then verified with
    * full-set intersection counts, so the output is exactly the naive
    * join's. */
  /** Prefix-filter candidate pairs (d1 < d2, distinct) over a shingle
    * table: exact for Jaccard ≥ threshold (see jaccardPairs doc).
    * Visible to the plan-audit spec, which inspects this stage's physical
    * plan before `jaccardPairs` checkpoints it away. */
  private[graft] def prefixCandidates(grams: DataFrame, threshold: Double): DataFrame = {
    // two exchanges total: one by shingle (global frequency as an
    // unordered window — same partition count as a groupBy+join back, but
    // no second shuffle of the gram table and no join), then one by
    // doc_id, where the ordered rank window and the unordered size window
    // share the single exchange (same partitioning, two WindowExec passes)
    val wDf = Window.partitionBy("shingle")
    val wRn = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val wSz = Window.partitionBy("doc_id")
    val prefix = grams
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("sz", count(lit(1)).over(wSz))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("doc_id", "shingle")
    prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = shingleTable(docs, n, idCol, textCol).persist()
    // materialize before unpersisting grams (a lazy return would
    // recompute the shingle table three times in verifyPairs)
    try graft.perf.Lineage.cut(
      verifyPairs(prefixCandidates(grams, threshold), grams, threshold))
    finally grams.unpersist()
  }

  /** Asymmetric containment pairs: C(a→b) = |a∩b| / |a| ≥ threshold over
    * distinct n-gram shingles, a ≠ b — the quote-inclusion detector.
    * Jaccard misses wholesale inclusion (a page embedding a whole short
    * document scores J = |a|/|b| ≈ 0 when b is much larger), so corpus
    * curation runs containment alongside it to kill documents that
    * already ride inside another.
    *
    * Exactness via a ONE-sided prefix (the [[incrementalJaccardPairs]]
    * bound, applied to the contained side): |a∩b| ≥ ceil(t·|a|) forces a
    * to share one of its first |a| − ceil(t·|a|) + 1 rarest shingles
    * with b; the container side needs no prefix — and can't have one, as
    * containment puts no lower bound on |b|'s overlap fraction.
    * Candidates are (a-prefix shingle ⋈ full gram table) — cost ∝ prefix
    * postings, never all-pairs; verification intersects only candidate
    * pairs' shingle sets.
    *
    * Output: (contained_id, container_id, containment), one row per
    * direction that clears the threshold.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val grams = shingleTable(docs, n, idCol, textCol).persist()
    try {
      val wDf = Window.partitionBy("shingle")
      val wRn = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
      val wSz = Window.partitionBy("doc_id")
      val prefix = grams
        .withColumn("df", count(lit(1)).over(wDf))
        .withColumn("rn", row_number().over(wRn))
        .withColumn("sz", count(lit(1)).over(wSz))
        .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
        .select(col("doc_id").as("a"), col("shingle"))
      val cands = prefix
        .join(grams.select(col("doc_id").as("b"), col("shingle")), "shingle")
        .filter(col("a") =!= col("b"))
        .select("a", "b").distinct()
      val sets = grams.groupBy("doc_id")
        .agg(collect_list("shingle").as("sh"), count(lit(1)).as("sz"))
      graft.perf.Lineage.cut(cands
        .join(sets.toDF("a", "sha", "sza"), "a")
        .join(sets.toDF("b", "shb", "szb"), "b")
        .withColumn("inter",
          size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .withColumn("containment", col("inter").cast("double") / col("sza"))
        .filter(col("containment") >= threshold)
        .select(col("a").as("contained_id"), col("b").as("container_id"),
          round(col("containment") + lit(1e-9), 4).as("containment")))
    } finally grams.unpersist()
  }

  /** Incremental near-dup detection: dedup a NEW ingest batch against an
    * already-indexed corpus without re-scanning corpus text — the shape
    * ingest actually takes at 100 TB, where re-shingling the whole corpus
    * per batch is a non-starter. `corpusGrams` is the persisted index:
    * the corpus's `shingleTable` output (in production a table bucketed
    * on the 8-byte shingle hash, appended per ingest).
    *
    * Exactness: only the batch side is prefix-filtered. One-sided prefix
    * probing of a FULL index is exact — J(x,y) ≥ t forces |x∩y| ≥
    * ceil(t·|x|), and a pair sharing none of x's first
    * |x| − ceil(t·|x|) + 1 shingles (any consistent order) caps the
    * intersection at ceil(t·|x|) − 1 — so no corpus-side prefix, no
    * global document frequencies, and the index needs no per-batch
    * rebuild. Batch-vs-batch pairs use the two-sided prefix join.
    *
    * Cost ∝ batch shingles + corpus postings matching a batch prefix
    * shingle + candidate pairs; verification reads corpus grams through a
    * candidate-id semi-join, never grouping the whole index.
    *
    * Id collisions (a batch doc reusing an id already in the index — a
    * re-ingest) resolve as SUPERSEDE: verification uses the batch
    * version's shingles for that id, never a merged set, so Jaccard
    * values stay exact for whichever version the pair references. The
    * exactness argument is unaffected — the superseding doc is in the
    * batch, so its prefix probes the index like any other batch doc.
    * A batch doc with no shingle (fewer than n words) neither probes nor
    * supersedes. Batch ids are unique: one row is one document.
    *
    * @return exact-Jaccard pairs (d1 < d2, ≥ threshold) where at least
    *         one side is a batch document
    */
  def incrementalJaccardPairs(corpusGrams: DataFrame, batch: DataFrame,
      n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batchSets = shingleSets(batch, n, idCol, textCol).persist()
    try graft.perf.Lineage.cut(
      incrementalPipeline(corpusGrams, batchSets, threshold))
    finally batchSets.unpersist()
  }

  /** One row per document: `sh`, the hashed shingles `shingleTable`
    * explodes for it, as an array, and `sz`, their count — a per-doc
    * shingle set built inside the document's own row, with no group-by. */
  private[graft] def shingleSets(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextOps.words(col(textCol)).as("__w"))
      .select(col("doc_id"),
        transform(TextOps.shinglesFromWords(col("__w"), n), s => xxhash64(s)).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))

  /** The un-materialized probe pipeline behind [[incrementalJaccardPairs]]
    * — exposed pre-cut so the plan-audit spec can inspect the joins and
    * scans that the eager lineage cut otherwise collapses to an RDD scan.
    * `batchSets` is the batch's [[shingleSets]] (callers persist it: the
    * plan references it five times).
    *
    * Two actions: the candidate cut and the verify. A batch doc's prefix
    * is its shingles in hash order, sliced inside its own row — a global
    * order, so the one-sided probe and the two-sided batch self-join stay
    * exact (see above) with no window and no exchange over the batch.
    * Each candidate is oriented (batch doc `b`, other doc `o`); the verify
    * reads the index once — the touched docs' postings, minus superseded
    * ids, grouped to arrays once — and takes every batch doc's array
    * from its row. */
  private[graft] def incrementalPipeline(corpusGrams: DataFrame,
      batchSets: DataFrame, threshold: Double,
      materializeCandidates: Boolean = true): DataFrame = {
    val batch = batchSets.filter(col("sz") > 0).select("doc_id", "sh", "sz")
    val prefixLen = greatest(lit(0),
      col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")
    val prefix = batch.select(col("doc_id"),
      explode(slice(sort_array(col("sh")), lit(1), prefixLen)).as("shingle"))
    // one probe join for both candidate kinds: the prefix against the
    // index postings (one-sided) and against the batch's own prefix rows
    // (two-sided, lower id first)
    val postings = corpusGrams.select(col("doc_id"), col("shingle"), lit(false).as("batch"))
      .unionByName(prefix.withColumn("batch", lit(true)))
    val candidatesRaw = prefix.alias("p")
      .join(postings.alias("c"), col("p.shingle") === col("c.shingle") &&
        col("p.doc_id") =!= col("c.doc_id") &&
        (!col("c.batch") || col("p.doc_id") < col("c.doc_id")))
      .select(col("p.doc_id").as("b"), col("c.doc_id").as("o"))
      .distinct()
    // the candidates are consumed twice (touched ids, verify join): cut
    // them once (∝ matches, bounded); the plan audit passes
    // materializeCandidates=false to inspect the declarative plan
    val candidates =
      if (materializeCandidates) graft.perf.Lineage.cut(candidatesRaw)
      else candidatesRaw
    // the batch supersedes the index on id collision: its ids' OLD
    // postings leave the verify's index side, so per-doc sets never
    // merge two versions and a batch `o` takes its array from its row
    val live = corpusGrams.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
    val others = live
      .join(candidates.select(col("o").as("doc_id")), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list("shingle").as("sh"), count(lit(1)).as("sz"))
      .withColumn("batch", lit(false))
      .unionByName(batch.withColumn("batch", lit(true)))
    // verifyPairs' arithmetic, so values equal jaccardPairs' bit for bit
    candidates
      .join(batch.toDF("b", "shb", "szb"), "b")
      .join(others.toDF("o", "sho", "szo", "ob"), "o")
      // a pair of batch docs also reaches the probe through a re-ingested
      // id's old postings, in either orientation: keep (lower, higher),
      // which the prefix self-join always yields
      .filter(!col("ob") || col("b") < col("o"))
      .withColumn("inter", size(array_intersect(col("shb"), col("sho"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("szb") + col("szo") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("b"), col("o")).as("d1"), greatest(col("b"), col("o")).as("d2"),
        round(col("jaccard") + lit(1e-9), 4).as("jaccard"))
  }

  /** Substring-level duplicated-span statistics (the published heavier
    * alternative to document-level dedup: remove repeated SPANS, not
    * whole documents — "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. '21, which uses suffix arrays).
    *
    * Spark-native formulation: hash every rolling `windowTokens`-token
    * window (int64 at birth), find windows shared across ≥2 documents,
    * and merge each document's overlapping duplicated windows into
    * maximal spans (gaps-and-islands over window starts). A shared span
    * of length L ≥ W is covered by all of its L−W+1 windows, so coverage
    * is EXACT for spans ≥ W; spans shorter than W are not counted — W is
    * the published minimum-match length (50 tokens in the paper), not an
    * approximation knob.
    *
    * Scale: one (doc, window-hash) table shuffled on the 8-byte hash for
    * the shared-window group-by + join-back, then one shuffle by doc for
    * the interval merge — linear in corpus token count, no suffix-array
    * construction, no all-pairs. Span *removal* is a trivial projection
    * on top (keep tokens whose position falls outside the merged spans).
    *
    * @return (doc_id, n_tokens, dup_tokens, dup_ratio) for every doc
    */
  def duplicatedSpans(docs: DataFrame, windowTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = windowTokens
    val words = docs.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("__w"))
    val allDocs = words.select(col("doc_id"), size(col("__w")).as("n_tokens"))
    val wins = words.filter(size(col("__w")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__w) - $w), i -> xxhash64(concat_ws(' ', slice(__w, i + 1, $w))))"))
        .as(Seq("start", "wh")))
    val shared = wins.groupBy("wh").agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= 2).select("wh")
    val dupWins = wins.join(shared, "wh").select("doc_id", "start")
    val byDoc = Window.partitionBy("doc_id").orderBy("start")
    val perDoc = dupWins
      .withColumn("__prevMax",
        max(col("start") + w).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevMax").isNull || col("start") > col("__prevMax"), 1).otherwise(0))
      .withColumn("__island", sum("__new").over(byDoc))
      .groupBy("doc_id", "__island")
      .agg((max(col("start") + w) - min("start")).as("__covered"))
      .groupBy("doc_id")
      .agg(sum("__covered").as("dup_tokens"))
    allDocs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ratio",
        round(col("dup_tokens") / col("n_tokens") + lit(1e-9), 4))
  }

  /** MinHash signatures: numHashes independent permutations approximated by
    * seeded xxhash64; signature j = min hash over the doc's shingles. */
  def minhashSignatures(grams: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(j =>
      min(xxhash64(lit(j), col("shingle"))).as(s"h$j"))
    grams.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding + exact-Jaccard verification.
    *
    * Bands of `rowsPerBand` signature values are hashed to buckets; docs
    * sharing any bucket are candidates (P[detect] = 1-(1-J^r)^b), then
    * candidates are verified with exact Jaccard so the output contains no
    * false positives. Verification joins only candidate pairs — the
    * all-pairs product never materializes.
    */
  def minhashLshPairs(docs: DataFrame, n: Int, threshold: Double,
      numHashes: Int = 24, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bands = numHashes / rowsPerBand
    val grams = shingleTable(docs, n, idCol, textCol).persist()
    try {
      val sigs = minhashSignatures(grams, numHashes)
      // band buckets: (band, hash(sig values in band))
      val buckets = sigs.select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j")): _*)
              .as("bucket"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      val candidates = buckets.alias("x")
        .join(buckets.alias("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      graft.perf.Lineage.cut(verifyPairs(candidates, grams, threshold))
    } finally grams.unpersist()
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * table (no false positives escape the sketch stage).
    *
    * Intersections come from `array_intersect` over per-doc shingle-set
    * arrays joined to each side of the pair — two hash joins keyed on
    * doc id (broadcast when the set table is small) instead of an
    * exploded (pair × shingle) join, which blows up to |candidates|·|doc|
    * rows when a weak sketch over-generates candidates. */
  def verifyPairs(candidates: DataFrame, grams: DataFrame, threshold: Double): DataFrame = {
    val sets = grams.groupBy("doc_id")
      .agg(collect_list("shingle").as("sh"), count(lit(1)).as("sz"))
    candidates
      .join(sets.toDF("d1", "sh1", "sz1"), "d1")
      .join(sets.toDF("d2", "sh2", "sz2"), "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard") + lit(1e-9), 4).as("jaccard"))
  }

  /** Connected components over a near-dup pair graph: every node gets the
    * minimum doc id of its component as `cluster_rep` (the canonical
    * "keep one doc per duplicate cluster" resolution step that follows
    * pair mining in a dedup pipeline).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14): each round rewires
    * strictly-larger neighbors (large-star) then smaller neighbors
    * (small-star) to the neighborhood minimum. Converges in O(log n)
    * rounds *independent of component diameter* — a 10⁶-node chain costs
    * ~20 rounds, not 10⁶, which is what makes the operator usable on a
    * 100-TB pair graph. Each star op is a single keyed exchange (window
    * min over the node key); convergence is detected by an order-free
    * xxhash signature of the edge set folded into the same pass (one small
    * aggregate instead of a full self-join diff), and `maxIters` bounds
    * the loop defensively.
    *
    * @param edges (d1, d2) undirected pair edges
    * @param nodes (doc_id) full node universe (singletons keep themselves)
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 64): DataFrame =
    ccWithRounds(edges, nodes, maxIters)._1

  /** As `connectedComponents`, also reporting the rounds-to-convergence
    * (exposed for tests asserting the O(log n) bound). */
  private[graft] def ccWithRounds(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 64): (DataFrame, Int) = {
    val wU = Window.partitionBy("u")

    // large-star: for every node u, point each strictly-larger neighbor at
    // min(Γ(u) ∪ {u}); keeps every component connected, strictly shrinks
    // large-id fan-out
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: orient edges big→small, point each node and its smaller
    // neighbors at the neighborhood minimum
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withM = or.withColumn("m", min(col("v")).over(wU))
      withM.select(col("v").as("u"), col("m").as("v"))
        .unionAll(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // order-free edge-set signature: equal sets ⇒ equal (count, hash-xor);
    // unequal sets collide with P ≈ 2⁻⁶⁴ — the cheap fixed-point test
    // (xor, not sum: ANSI-safe, cannot overflow; edges are distinct so
    // nothing self-cancels)
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // one Chain for the round frames: each round's cut deletes the
    // previous round's reliable checkpoint (nothing reads it once the
    // next round materialized), bounding checkpoint-dir usage at O(1)
    val chain = new graft.perf.Lineage.Chain
    var cur = chain.cut(
      edges.select(col("d1").as("u"), col("d2").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var sig = signature(cur)
    var rounds = 0
    var converged = cur.isEmpty
    while (!converged) {
      rounds += 1
      if (rounds > maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds")
      val next = chain.cut(smallStar(largeStar(cur)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      cur = next
    }
    // fixed point is a star forest: every non-root u carries (u, root)
    val labels = nodes.select(col("doc_id"))
      .join(cur.select(col("u").as("doc_id"), col("v").as("__rep")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__rep"), col("doc_id")).as("cluster_rep"))
    (labels, rounds)
  }

  /** 64-bit SimHash over word unigrams: per-bit vote of each word's
    * xxhash64, assembled into a long. Bit k is set iff more than half the
    * tokens have bit k set (a ±1 vote sum > 0).
    *
    * The 64 per-bit counts are aggregated SWAR-style: 16 packed sums,
    * each holding four 16-bit lane counters (bits k, k+16, k+32, k+48),
    * so the hash aggregate evaluates 17 codegen'd columns instead of 64
    * sum(CASE WHEN) columns — ~4× less aggregation work per token row.
    * Lanes carry at 65 536 tokens per document; cap or pre-truncate docs
    * above that (typical LLM-corpus docs are orders of magnitude below). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashFromWords(docs.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("__w")))

  /** As `simhash`, over a pre-tokenized (doc_id, __w: array) frame —
    * lets callers tokenize once and share the pass with shingling. */
  def simhashFromWords(wordsDf: DataFrame): DataFrame = {
    val tokens = wordsDf.select(col("doc_id"), explode(col("__w")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val laneMask = 0x0001000100010001L
    val aggs = (0 until 16).map { i =>
      sum(shiftrightunsigned(col("h"), i).bitwiseAND(lit(laneMask))).as(s"p$i")
    } :+ count(lit(1)).as("n")
    tokens.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map { k =>
          val cnt = shiftrightunsigned(col(s"p${k % 16}"), (k / 16) * 16)
            .bitwiseAND(lit(0xFFFFL))
          // vote sum = 2*cnt - n; set the bit when it is positive
          when(cnt * 2 > col("n"), lit(1L << k)).otherwise(0L)
        }.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Hamming-radius pairs over an ARBITRARY persisted 64-bit fingerprint
    * column — perceptual image aHash, simhash, any locality-preserving
    * signature. Public modality-agnostic face of the pigeonhole chunk
    * blocking simhashPairs uses internally: pairs within the radius must
    * share one of maxHamming+1 chunks, so the join touches only
    * same-chunk-value buckets — no quadratic candidate stage, shuffle
    * keyed on (chunk, value) exactly like any other bucketed join at
    * 100 TB. Output (d1, d2, hamming), exact within the radius.
    * Requires maxHamming ≤ 7 so chunks are ≥ 8 bits (smaller chunks
    * bucket too coarsely to prune — the same bound simhashPairs
    * enforces before falling back to prefix candidates).
    *
    * The self-join references `df` TWICE (probe + build). If `fpCol`
    * is computed by an expensive chain (a media decode, not a hash of
    * a column already at rest), materialize (id, fp) first —
    * `.localCheckpoint()` or persist — or each side re-runs the chain,
    * and AQE's local shuffle read around a broadcast build can
    * additionally collapse the probe side to per-mapper parallelism
    * (see q248/q251/q252 for the idiom). */
  def fingerprintPairs(df: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && 64 / (maxHamming + 1) >= 8,
      s"maxHamming=$maxHamming outside 64-bit chunk blocking range (0..7)")
    chunkBlockCandidates(
      df.select(col(idCol).as("doc_id"), col(fpCol).as("simhash")),
      maxHamming, keepHamming = true)
  }

  /** Batch-vs-corpus variant of [[fingerprintPairs]]: which BATCH rows
    * sit within hamming ≤ maxHamming of ANY corpus row. Same pigeonhole
    * chunk blocking, asymmetric join — batch chunks × corpus chunks on
    * (chunk, value), so per-ingest cost scales with the batch (times
    * bucket collisions), never corpus × corpus and never batch × batch
    * — the ingest-loop discipline [[graft.text.DedupIndex]] enforces
    * for shingles, here for 64-bit perceptual fingerprints (q259's
    * streaming media loop). Returns (batch_id, corpus_id, hamming);
    * dedup callers typically keep `batch_id` distinct as the loser set. */
  def fingerprintProbe(batch: DataFrame, corpus: DataFrame, idCol: String,
      fpCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && 64 / (maxHamming + 1) >= 8,
      s"maxHamming=$maxHamming outside 64-bit chunk blocking range (0..7)")
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    def chunksOf(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"), col(fpCol).as("fp"))
      .select(col("doc_id"), col("fp"),
        explode(array((0 until nChunks).map { c =>
          struct(lit(c).as("chunk"),
            shiftrightunsigned(col("fp"), c * chunkBits)
              .bitwiseAND(lit(chunkMask)).as("val"))
        }: _*)).as("cc"))
      .select(col("doc_id"), col("fp"), col("cc.chunk"), col("cc.val"))
    chunksOf(batch).alias("x")
      .join(chunksOf(corpus).alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.val") === col("y.val"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct (see above)
      .distinct()
  }

  /** Chunk-blocked candidate pairs with hamming ≤ maxHamming: pairs within
    * the radius must share at least one of maxHamming+1 chunks
    * (pigeonhole), so only same-chunk-value buckets are joined. */
  private def chunkBlockCandidates(sigs: DataFrame, maxHamming: Int,
      keepHamming: Boolean = false): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 64 / nChunks
    // radius 0 → ONE 64-bit chunk; (1L << 64) is a mod-64 no-op in both
    // Scala and the JVM, so the naive mask would be 0 and every row
    // would share one bucket — a full cross join. -1L is the true mask.
    val chunkMask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * chunkBits)
            .bitwiseAND(lit(chunkMask)).as("val"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk"), col("cc.val"))
    chunks.alias("x")
      .join(chunks.alias("y"),
        col("x.chunk") === col("y.chunk") && col("x.val") === col("y.val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: random pairs
      .distinct()                           // sit at hamming ≈ 32 and vanish
      .select((Seq("d1", "d2") ++ (if (keepHamming) Seq("hamming") else Nil))
        .map(col): _*)
  }

  /** SimHash near-dup pairs: {hamming ≤ maxHamming} ∩ {jaccard ≥ threshold},
    * exactly.
    *
    * Candidate generation adapts to the radius. At small radii the classic
    * chunk blocking (Manku et al. '07: 4 × 16-bit chunks for radius 3)
    * applies — buckets are sparse and the join is sub-quadratic. At high
    * radii pigeonhole blocking is *provably* dense, independent of data
    * skew: radius 12 forces 13 chunks of 4 bits, so every bucket holds
    * ~n/16 docs and the self-join is Θ(n²). There, candidates come from
    * the exact Jaccard prefix filter instead (sub-quadratic; recall 1.0
    * for the jaccard side of the intersection) and the simhash signature
    * is applied as a cheap per-pair hamming filter — same output, no
    * quadratic stage at any scale. */
  def simhashPairs(docs: DataFrame, maxHamming: Int, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunkBits = 64 / (maxHamming + 1)
    // tokenize once; signatures and shingles both derive from the array
    val wordsDf = docs.select(col(idCol).as("doc_id"),
      TextOps.words(col(textCol)).as("__w")).persist()
    val sigs = simhashFromWords(wordsDf).persist() // read by both join sides
    val grams = wordsDf.select(col("doc_id"),
      explode(TextOps.shinglesFromWords(col("__w"), n)).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("shingle")).persist()
    try {
      val raw =
        if (chunkBits >= 8) chunkBlockCandidates(sigs, maxHamming)
        else prefixCandidates(grams, threshold)
      val candidates = raw
        .join(sigs.select(col("doc_id").as("d1"), col("simhash").as("__s1")), "d1")
        .join(sigs.select(col("doc_id").as("d2"), col("simhash").as("__s2")), "d2")
        .filter(bit_count(col("__s1").bitwiseXOR(col("__s2"))) <= maxHamming)
        .select("d1", "d2")
      graft.perf.Lineage.cut(verifyPairs(candidates, grams, threshold))
    } finally { grams.unpersist(); sigs.unpersist(); wordsDf.unpersist() }
  }
}
