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
  * Layout: one unpartitioned posting table. No reader needs a finer
  * layout: the probe joins on `shingle`, and xxhash64 shingles are
  * uniform, so value-based file skipping cannot help it (the probe bounds
  * its cost by the one-sided prefix filter instead). The shingle size `n`
  * rides TBLPROPERTIES: a probe MUST shingle its batch identically or
  * Jaccard values are garbage, so [[dedupBatch]] recovers n from the
  * table rather than trusting the caller to repeat it.
  *
  * Ingest loop at scale: `pairs = dedupBatch(t, batch)` (exact pairs vs
  * index + within batch, cost ∝ batch + matched postings, never corpus
  * text; two Spark actions), drop/quarantine the batch's dups, then
  * `append(t, survivors)` — index maintenance is one commit adding the
  * new docs' postings, never a rebuild, and for fresh ids no Spark job
  * beyond the posting write. An append writes the batch's postings at
  * the batch's own parallelism (one file for a one-split batch), and
  * probe planning does not grow with the files: the probe's read plans
  * from the commit log's file list ([[graft.tables.LogFileIndex]]), with
  * no listing job over the index's files. Periodic
  * `Maintenance.optimize` compacts them.
  */
object DedupIndex {

  private val NProp = "graft.dedup.n"

  /** Shingle the corpus once and persist its postings. One shuffle on
    * `shingle` spreads the shingling and the write over the session's
    * shuffle parallelism, even for a corpus read as a single split. */
  def build(docs: DataFrame, path: String, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): GraftTable = {
    val df = DedupOps.shingleTable(docs, n, idCol, textCol)
      .repartition(col("shingle"))
    val t = GraftTable.create(docs.sparkSession, path, df.schema,
      Map(NProp -> n.toString))
    t.append(df, "DEDUP INDEX BUILD")
    t
  }

  private def intProp(t: GraftTable, key: String): Int =
    t.properties.getOrElse(key,
      throw new IllegalArgumentException(
        s"${t.path} is not a dedup index table: property $key missing " +
          "(build one with DedupIndex.build)")).toInt

  /** Ingest a new batch's postings — per-ingest index maintenance, as
    * one index version and, for fresh ids, no Spark job beyond the
    * posting write.
    *
    * Id collisions SUPERSEDE, matching [[dedupBatch]]'s probe semantics:
    * a re-ingested doc's OLD postings are deleted in the same commit that
    * adds the new ones ([[GraftTable.appendReplacing]]), so per-doc
    * shingle sets never merge two versions — merged sets would silently
    * deflate every later Jaccard the doc participates in — and the
    * version before the append still reads the old postings. The new
    * postings' footer stats give their doc_id ranges, and only live
    * files overlapping them are read, so ingests of fresh ids (the common
    * case — appends cluster id ranges by arrival) read no existing file.
    * A doc with no shingle (fewer than n words) adds and supersedes
    * nothing. */
  def append(t: GraftTable, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    t.appendReplacing(DedupOps.shingleTable(docs, intProp(t, NProp), idCol, textCol),
      "doc_id", "DEDUP INDEX APPEND")

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
