package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Persisted near-dup shingle index: the corpus's `shingleTable` output
  * — (doc_id, shingle int64) postings — materialized as a [[GraftTable]]
  * that ingest batches probe WITHOUT re-shingling corpus text. This is
  * the persisted artifact [[DedupOps.incrementalJaccardPairs]]'s contract
  * assumes ("in production a table bucketed on the 8-byte shingle hash,
  * appended per ingest"), in the same build-once/query-many pattern as
  * the vector indexes ([[graft.vector.AnnIndex]], [[graft.vector.PqIndex]]).
  *
  * Layout: rows are partitioned by a `__band = shingle mod numBands`
  * column, so the index writes as `numBands` independent directory
  * partitions — co-located for band-wise joins and parallel appends
  * (xxhash64 shingles are uniform, so bands are balanced by
  * construction; value-based file skipping can't help a probe here for
  * the same reason, and the probe instead bounds cost by the one-sided
  * prefix filter). The shingle size `n` rides TBLPROPERTIES: a probe
  * MUST shingle its batch identically or Jaccard values are garbage, so
  * [[dedupBatch]] recovers n from the table rather than trusting the
  * caller to repeat it.
  *
  * Ingest loop at scale: `pairs = dedupBatch(t, batch)` (exact pairs vs
  * index + within batch, cost ∝ batch + matched postings, never corpus
  * text), drop/quarantine the batch's dups, then `append(t, survivors)`
  * — index maintenance is an append of the new docs' postings, never a
  * rebuild. Each append adds up to `numBands` files, but probe planning
  * does not grow with them: the probe's read plans from the commit log's
  * file list ([[graft.tables.LogFileIndex]]), with no listing job over
  * the index's files.
  */
object DedupIndex {

  private val NProp = "graft.dedup.n"
  private val BandsProp = "graft.dedup.bands"

  private def grams(docs: DataFrame, n: Int, numBands: Int,
      idCol: String, textCol: String): DataFrame =
    DedupOps.shingleTable(docs, n, idCol, textCol)
      .withColumn("__band", pmod(col("shingle"), lit(numBands.toLong)).cast("int"))
      // cluster each band into one writer BEFORE the partitioned write:
      // without this, every input split writes a file into every band
      // directory (splits × bands tiny files), and a one-split input
      // serializes the whole shingle+write on one core. One shuffle of
      // 12-byte rows buys exactly numBands well-sized files and
      // numBands-way write parallelism.
      .repartition(numBands, col("__band"))

  /** Shingle the corpus once and persist its postings. */
  def build(docs: DataFrame, path: String, n: Int, numBands: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): GraftTable = {
    val df = grams(docs, n, numBands, idCol, textCol)
    val t = GraftTable.create(docs.sparkSession, path, df.schema,
      Map("graft.partitionBy" -> "__band",
        NProp -> n.toString, BandsProp -> numBands.toString))
    t.append(df, "DEDUP INDEX BUILD")
    t
  }

  private def intProp(t: GraftTable, key: String): Int =
    t.properties.getOrElse(key,
      throw new IllegalArgumentException(
        s"${t.path} is not a dedup index table: property $key missing " +
          "(build one with DedupIndex.build)")).toInt

  /** Ingest a new batch's postings — per-ingest index maintenance.
    *
    * Id collisions SUPERSEDE, matching [[dedupBatch]]'s probe semantics:
    * a re-ingested doc's OLD postings are merge-deleted before the new
    * ones append, so per-doc shingle sets never merge two versions —
    * merged sets would silently deflate every later Jaccard the doc
    * participates in. The delete's file discovery stats-prunes on doc_id,
    * so ingests of fresh ids (the common case — appends cluster id
    * ranges by arrival) touch no existing files and pay only the
    * metadata check. */
  def append(t: GraftTable, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // persist the banded grams: they are consumed TWICE (the supersede
    // merge's source ids, then the posting append) and re-shingling the
    // batch per consumer doubled the per-ingest maintenance cost
    // (guide §5: reuse beats recompute; bounded — one batch's postings)
    val df = grams(docs, intProp(t, NProp), intProp(t, BandsProp),
      idCol, textCol).persist()
    try {
      graft.tables.MergeOps.mergeInto(t, df.select("doc_id").distinct(),
        "target.doc_id = source.doc_id",
        matched = Seq(graft.tables.MergeOps.WhenMatched(None,
          graft.tables.MergeOps.DeleteAction)),
        extraProps = Map("graft.dedup.supersede" -> "true"))
      t.append(df, "DEDUP INDEX APPEND")
    } finally df.unpersist(blocking = false)
  }

  /** Exact near-dup pairs (Jaccard ≥ threshold) between a new batch and
    * the indexed corpus (plus within the batch), reading only postings
    * from the index — corpus TEXT is never touched. Shingle size comes
    * from the table properties; semantics (one-sided prefix exactness,
    * id-collision SUPERSEDE) are [[DedupOps.incrementalJaccardPairs]]'s. */
  def dedupBatch(t: GraftTable, batch: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = intProp(t, NProp) // validate the table IS an index before reading it
    DedupOps.incrementalJaccardPairs(
      t.read().select("doc_id", "shingle"), batch, n, threshold, idCol, textCol)
  }
}
