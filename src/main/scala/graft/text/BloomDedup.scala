package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.tables.GraftTable

/** Bloom-membership exact dedup: dedup an ingest batch against a corpus
  * whose membership is summarized as a SHARDED Bloom filter over 64-bit
  * text fingerprints — the sketch counterpart of the exact persisted
  * postings index ([[DedupIndex]]), for the common production case where
  * the question is only "is this exact text already in the corpus?".
  *
  * Scale shape (the reason this exists next to q209/q216): the persisted
  * index is `shards` rows of (shard, filter bytes, items), partitioned
  * by `fp % shards`. The build is one keyed aggregation — each shard's
  * filter is built and merged ON THE EXECUTORS by a custom mergeable
  * [[Aggregator]] and written distributed, so no single process ever
  * holds the whole corpus's bits (Spark's own `stat.bloomFilter`
  * driver-merges every partial — a driver bottleneck once the corpus
  * needs gigabit filters; that convenience form survives here as
  * [[buildFilter]] for in-session use). The probe broadcasts the shard
  * map (bits ∝ corpus size / shards each) and filters the batch
  * scan-locally — the corpus is NOT shuffled, read, or joined at probe
  * time. Only the filter's survivors (true dups + fpp false positives)
  * reach the exact verification join; when that candidate set is small
  * (the low-duplication common case) it broadcasts and the verify pass
  * is a corpus scan with a broadcast-hash join — zero shuffles end to
  * end — while a duplicate-heavy batch falls back to one fingerprint-
  * keyed shuffle join (see [[dedupBatch]]). False negatives are
  * impossible (Bloom guarantee), so the output equals the exact
  * batch-vs-corpus text join.
  *
  * Build-once/probe-many contract as [[graft.vector.AnnIndex]] /
  * [[DedupIndex]]; membership-sketch design per Broder & Mitzenmacher,
  * "Network Applications of Bloom Filters" (2004).
  */
object BloomDedup {

  private val FppProp = "graft.bloom.fpp"
  private val ShardsProp = "graft.bloom.shards"
  /** Per-shard expectedItems each persisted filter was SIZED for — the
    * denominator of the saturation ratio, and the create() parameter that
    * makes append-time partial filters bit-compatible for OR-merge. */
  private val CapacityProp = "graft.bloom.capacity"

  /** The reopened sharded index: filters keyed by `fp % shards`. */
  final case class BloomIndex(shards: Int, filters: Map[Int, BloomFilter]) {
    def mightContain(f: Long): Boolean =
      filters.get((math.floorMod(f, shards.toLong)).toInt)
        .exists(_.mightContainLong(f))
  }

  /** 64-bit fingerprint of whitespace-normalized lower-cased text — the
    * same normalization as [[TextOps.fingerprint]], hashed to a long so
    * the filter stores 8-byte keys. */
  def fp(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Mergeable per-shard Bloom build: partial filters OR-merge on the
    * executors (BloomFilterImpl is Serializable; buffers travel as the
    * partial aggregation's state, bounded by the bit-array size). */
  private final class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[Long, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(math.max(expectedItems, 1L), fpp)
    def reduce(b: BloomFilter, x: Long): BloomFilter = { b.putLong(x); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
      a.mergeInPlace(b).asInstanceOf[BloomFilter]
    def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** In-session single filter (driver-merged partials — fine below the
    * gigabit-filter scale; the persisted path shards instead). */
  def buildFilter(corpus: DataFrame, textCol: String = "text",
      fpp: Double = 0.01): BloomFilter = {
    val fps = corpus.select(fp(col(textCol)).as("fp"))
    val n = fps.count()
    // Spark's stat.bloomFilter NPEs on an empty frame (null aggregate
    // buffer); an empty corpus has an empty membership set
    if (n == 0) BloomFilter.create(1, fpp)
    else fps.stat.bloomFilter("fp", n, fpp)
  }

  /** Build and persist the sharded membership index: one keyed
    * aggregation, filters merged executor-side, written as `shards` rows
    * of (shard, filter, items). An empty corpus persists zero rows —
    * an empty membership set. */
  def build(corpus: DataFrame, path: String, textCol: String = "text",
      fpp: Double = 0.01, shards: Int = 16): GraftTable = {
    require(shards > 0, s"shards must be positive, got $shards")
    val s = corpus.sparkSession
    val fps = corpus.select(fp(col(textCol)).as("fp"))
    val n = fps.count()
    val perShard = math.max(n / shards, 1L) * 2 // uniform xxhash64 + slack
    val t = GraftTable.create(s, path, indexSchema,
      Map(FppProp -> fpp.toString, ShardsProp -> shards.toString,
        CapacityProp -> perShard.toString))
    t.append(shardRows(fps, shards, perShard, fpp), "BLOOM INDEX BUILD")
    t
  }

  private val indexSchema = StructType(Seq(
    StructField("shard", IntegerType), StructField("filter", BinaryType),
    StructField("items", LongType)))

  /** The keyed executor-side shard build: (shard, filter, items) rows. */
  private def shardRows(fps: DataFrame, shards: Int, perShard: Long,
      fpp: Double): DataFrame = {
    val agg = udaf(new BloomAgg(perShard, fpp))
    fps
      .withColumn("shard", pmod(col("fp"), lit(shards.toLong)).cast("int"))
      .groupBy("shard")
      .agg(agg(col("fp")).as("filter"), count(lit(1)).as("items"))
      .select("shard", "filter", "items")
  }

  // ---- saturation tracking + rebuild ------------------------------------
  //
  // A Bloom filter's fpp guarantee holds only up to the expectedItems it
  // was SIZED for; append past capacity and the bit array saturates — the
  // filter stays CORRECT (no false negatives, so dedupBatch's exact
  // verify keeps the output exact) but the false-positive rate degrades,
  // pushing ever more of each batch through the verify join. The index
  // therefore tracks items-vs-capacity and rebuilds (re-sized from the
  // live corpus) once any shard crosses the threshold — the same
  // build-once / maintain-incrementally / compact-on-trigger lifecycle as
  // DedupIndex's ingest-loop compaction.

  /** The per-shard capacity the persisted filters were sized for, which
    * [[build]] and [[rebuildIfSaturated]] record. */
  private def capacityOf(t: GraftTable): Long =
    t.properties.getOrElse(CapacityProp, throw new IllegalArgumentException(
      s"${t.path} is not a bloom index table: property $CapacityProp missing " +
        "(build one with BloomDedup.build)")).toLong

  /** OR-merge (filter bytes, items) rows that share a shard id. Duplicate
    * shard rows are LEGAL: two appends racing on an EMPTY index both
    * publish with removed=Nil — a pure append, which the commit protocol
    * deliberately never conflicts on — so the table can carry one row per
    * writer for a shard. Collapsing such duplicates with `.toMap` would
    * silently keep one writer's filter and drop the other's fingerprints
    * = Bloom false negatives, the module's forbidden failure (review
    * finding). Every reader therefore merges, never picks. */
  private def orMergeRows(rows: Seq[(Int, Array[Byte], Long)]):
      Map[Int, (Array[Byte], Long)] =
    rows.groupBy(_._1).map { case (sh, grp) =>
      if (grp.size == 1) sh -> (grp.head._2, grp.head._3)
      else {
        val merged = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(grp.head._2))
        grp.tail.foreach(g => merged.mergeInPlace(
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(g._2))))
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        sh -> (bos.toByteArray, grp.map(_._3).sum)
      }
    }

  /** Incremental append: merge `docs`' fingerprints into the persisted
    * shard filters. New partial filters are built executor-side with the
    * index's ORIGINAL per-shard capacity + fpp — BloomFilter.create is
    * deterministic in (expectedItems, fpp), so bit arrays stay
    * OR-merge-compatible with the persisted ones. The merge itself is
    * shard-cardinality work (≤ `shards` rows on each side — the same
    * bounded working set [[load]] collects), then one overwrite commit. */
  def append(t: GraftTable, docs: DataFrame, textCol: String = "text"): Unit = {
    val s = docs.sparkSession
    val props = t.properties
    val shards = props(ShardsProp).toInt
    val fpp = props(FppProp).toDouble
    val capacity = capacityOf(t)
    // the files this read-modify-write READS condition the publish below:
    // an interleaved append/rebuild then surfaces as a
    // ConcurrentCommitException instead of a silently lost update (lost
    // fingerprints = Bloom false negatives, which the module contract
    // forbids — review finding). Multi-writer callers wrap in
    // Concurrency.retry, the engine-wide discipline. One hole remains by
    // design: with an EMPTY snapshot the publish has nothing to condition
    // on (removed=Nil is a pure append and never conflicts), so two
    // racing first appends BOTH land — which is safe, because they also
    // read nothing, and every reader OR-merges duplicate shard rows
    // ([[orMergeRows]]): the union of both writers' fingerprints
    // survives, no false negatives.
    val snapshotFiles = t.filesAt()
    val fps = docs.select(fp(col(textCol)).as("fp"))
    val fresh = shardRows(fps, shards, capacity, fpp)
      .collect().map(r => r.getInt(0) -> (r.getAs[Array[Byte]](1), r.getLong(2)))
      .toMap
    if (fresh.isEmpty) return
    // read exactly the conditioned snapshot: an empty snapshot reads
    // NOTHING (reading the live tip here would fold in an interleaved
    // writer's rows without conditioning on its files — review finding)
    val existing =
      if (snapshotFiles.isEmpty) Map.empty[Int, (Array[Byte], Long)]
      else orMergeRows(t.readFiles(snapshotFiles)
        .select("shard", "filter", "items")
        .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1), r.getLong(2)))
        .toSeq)
    val merged = (existing.keySet ++ fresh.keySet).toSeq.sorted.map { sh =>
      (existing.get(sh), fresh.get(sh)) match {
        case (Some((eb, en)), Some((fb, fn))) =>
          val e = BloomFilter.readFrom(new java.io.ByteArrayInputStream(eb))
          val f = BloomFilter.readFrom(new java.io.ByteArrayInputStream(fb))
          e.mergeInPlace(f)
          val bos = new java.io.ByteArrayOutputStream()
          e.writeTo(bos)
          (sh, bos.toByteArray, en + fn)
        case (Some((eb, en)), None) => (sh, eb, en)
        case (None, Some((fb, fn))) => (sh, fb, fn)
        case _ => throw new IllegalStateException("unreachable")
      }
    }
    import s.implicits._
    t.overwriteSnapshot(merged.toDF("shard", "filter", "items"),
      snapshotFiles, "BLOOM INDEX APPEND")
  }

  /** Saturation ratio: max over shards of items / sized-for capacity.
    * > 1.0 means at least one shard holds more items than its filter was
    * sized for and its effective fpp now exceeds the configured one. */
  def saturation(t: GraftTable): Double = {
    val capacity = math.max(capacityOf(t), 1L)
    // per-shard items are SUMMED across duplicate rows first (racing
    // first-appends can leave one row per writer for a shard; the
    // shard's filter effectively holds the union, so the summed count is
    // the honest — if slightly over- on shared fingerprints — load)
    val row = t.read().groupBy(col("shard"))
      .agg(sum(col("items")).as("items"))
      .agg(max(col("items"))).head()
    if (row.isNullAt(0)) 0.0 else row.getLong(0).toDouble / capacity
  }

  /** Rebuild trigger: when [[saturation]] exceeds `threshold`, rebuild
    * every shard filter from the live corpus, re-sized (same ×2 slack
    * rule as [[build]]) so the configured fpp holds again. The resized
    * filters and the new capacity property land in ONE
    * snapshot-conditioned commit: a separate property commit would leave
    * a crash window where big filters carry the old small capacity
    * (saturation() > 1 → a spurious immediate re-rebuild), and an
    * interleaved append between the saturation check and the publish
    * must conflict, not be silently overwritten (review findings).
    * Probe results are unchanged by construction — dedupBatch verifies
    * exactly. Returns true iff a rebuild ran; multi-writer callers wrap
    * in `Concurrency.retry`. */
  def rebuildIfSaturated(t: GraftTable, corpus: DataFrame,
      textCol: String = "text", threshold: Double = 1.0): Boolean = {
    val snapshotFiles = t.filesAt() // BEFORE the saturation read
    if (saturation(t) <= threshold) return false
    val props = t.properties
    val shards = props(ShardsProp).toInt
    val fpp = props(FppProp).toDouble
    val fps = corpus.select(fp(col(textCol)).as("fp"))
    val n = fps.count()
    val perShard = math.max(n / shards, 1L) * 2
    t.overwriteSnapshot(shardRows(fps, shards, perShard, fpp),
      snapshotFiles, "BLOOM INDEX REBUILD",
      extraProps = Map(CapacityProp -> perShard.toString))
    true
  }

  /** Reopen a persisted sharded index (collect is a handful of rows per
    * shard, each bounded by its filter's bit array — the probe-side
    * working set). Duplicate shard rows OR-merge ([[orMergeRows]]). */
  def load(t: GraftTable): BloomIndex = {
    val shards = t.properties.getOrElse(ShardsProp,
      throw new IllegalArgumentException(
        s"${t.path} is not a bloom index table: property $ShardsProp missing " +
          "(build one with BloomDedup.build)")).toInt
    val filters = orMergeRows(t.read().select("shard", "filter", "items")
        .collect().map(r => (r.getInt(0), r.getAs[Array[Byte]](1), r.getLong(2)))
        .toSeq)
      .map { case (sh, (bytes, _)) =>
        sh -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)) }
    BloomIndex(shards, filters)
  }

  /** Exact (batch_id, corpus_id) duplicate pairs of an ingest batch vs
    * the corpus, bloom-prefiltered: rows the filter rejects never reach
    * the join (no false negatives), survivors are verified exactly on
    * the normalized text so fpp and 64-bit collisions cannot leak into
    * the output.
    *
    * The verify join's candidate set is true duplicates + fpp false
    * positives — so it is BATCH-bounded, not fpp-bounded: a re-crawl-
    * heavy ingest batch that is 50% dups carries half the batch's
    * normalized text through the filter. The broadcast fast path
    * (corpus side stays a shuffle-free scan) is therefore gated on the
    * BATCH count — the cheap safe upper bound on candidates; above
    * `broadcastMaxCandidates` the verify falls back to a shuffle hash
    * join keyed on (fp, text) — both sides partition on the
    * fingerprint, so the corpus shuffles once but nothing is driver- or
    * broadcast-bounded.
    *
    * The membership probe is a scala UDF over the broadcast shard map —
    * a bitmap lookup Spark exposes no column function for; its input is
    * already the codegen'd xxhash64 column, so the non-codegen island is
    * one long→boolean call per batch row. */
  def dedupBatch(index: BloomIndex, corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastMaxCandidates: Long = 100000L): DataFrame = {
    val s = corpus.sparkSession
    val bcast = s.sparkContext.broadcast(index)
    val might = udf((f: Long) => bcast.value.mightContain(f))
    val norm = (c: Column) => regexp_replace(lower(trim(c)), "\\s+", " ")
    val candidates = batch
      .select(col(idCol).as("b_id"), norm(col(textCol)).as("__bt"),
        fp(col(textCol)).as("__fp"))
      .filter(might(col("__fp")))
    val corpusKeyed = corpus
      .select(col(idCol).as("c_id"), norm(col(textCol)).as("__ct"),
        fp(col(textCol)).as("__cfp"))
    val cond = col("__cfp") === col("__fp") && col("__ct") === col("__bt")
    // size the join on the BATCH count — a cheap upper bound on the
    // candidate count (candidates ⊆ batch), so the broadcast gate stays
    // safe without materializing the probe pipeline for a sizing pass.
    // (An exact candidate count would need either a second probe run or
    // a persist the caller can never release — Spark's CacheManager
    // pins cached plans until explicit unpersist, and the returned plan
    // still references the cache.) Conservative: a huge batch with few
    // candidates takes the shuffle path, where a small join is cheap
    // anyway.
    val nCand = batch.count()
    val verified =
      if (nCand <= broadcastMaxCandidates)
        corpusKeyed.join(broadcast(candidates), cond)
      else corpusKeyed.join(candidates.hint("shuffle_hash"), cond)
    verified.select(col("b_id"), col("c_id"))
  }

  /** In-session convenience: probe a single unsharded filter. */
  def dedupBatch(bf: BloomFilter, corpus: DataFrame, batch: DataFrame):
      DataFrame =
    dedupBatch(BloomIndex(1, Map(0 -> bf)), corpus, batch)
}
