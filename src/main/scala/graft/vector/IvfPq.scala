package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Combined IVF + PQ persisted index — the production ANN shape (the
  * FAISS IVFADC layout, here with raw-vector codes, FAISS's
  * `by_residual=false` mode): every vector is assigned to a coarse IVF
  * cell AND compressed to an m-byte PQ code word, persisted as ONE
  * cell-partitioned [[GraftTable]] carrying both the coarse centroids and
  * the PQ codebooks in TBLPROPERTIES.
  *
  * Why both: [[AnnIndex]] (IVF alone) prunes WHICH files a probe opens
  * but still reranks full-precision vectors inside them; [[PqIndex]] (PQ
  * alone) compresses WHAT a scan reads 32× but scans every code. The
  * composition multiplies: a probe opens only its `nprobe` cells' files
  * (stats-skipping partition pruning, zero reads elsewhere) and those
  * files hold m-byte codes, not d·4-byte vectors — at 10⁹ 64-dim
  * float32 vectors (256 GB) a nprobe=8/nlist=64 search touches ~1 GB of
  * codes, then reranks just `fetch` full-precision rows via a broadcast
  * semi-join.
  *
  * Search quality composes the two approximations: cell recall (the
  * probed cells must contain the true neighbors) × ADC rank fidelity
  * (the shortlist must keep them). nprobe = nlist removes the first,
  * making the result identical to [[PqIndex.topKRerank]] — the
  * correctness gate (q215) exploits exactly that to replay the whole
  * train/encode/shortlist/rerank chain in SQL.
  *
  * Raw-vector codes (not FAISS's default residual codes) keep codebooks
  * cell-independent: one m×ksub table serves every cell, encode stays a
  * single narrow projection, and an oracle can replay it. Residual
  * encoding buys precision at the cost of per-cell codebook coupling —
  * the right trade only once cells are tight, which needs far more
  * k-means iterations than a deterministic gate affords.
  */
object IvfPq {

  /** Cluster (IVF), train codebooks (PQ), and persist one row per vector
    * `(idCol, cell, codes)` partitioned by cell — assignment and
    * encoding ride a single zero-shuffle projection over the assigned
    * frame; the only wide stages are the two trainings' metadata-sized
    * partial-sum aggregations. */
  def build(emb: DataFrame, path: String, nlist: Int, m: Int = 8,
      ksub: Int = 16, ivfIters: Int = 3, pqIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): GraftTable = {
    val (assigned, centroids) = Ivf.index(emb, nlist, ivfIters, idCol, vecCol)
    val cents = centroids.select("cell", "c").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val cbs = Pq.trainCodebooks(emb, m, ksub, pqIters, idCol, vecCol)
    // assigned's `v` is already double-cast (Ivf.index) — encode inline,
    // carrying the cell through, instead of joining Pq.encode's output
    val df = assigned.select(col("id").as(idCol), col("cell"),
      Pq.codesExpr(cbs, m, col("v")).as("codes"))
    val t = GraftTable.create(emb.sparkSession, path, df.schema,
      Map("graft.partitionBy" -> "cell",
        AnnIndex.CentroidsProp -> AnnIndex.encodeCentroids(cents),
        PqIndex.CodebooksProp -> PqIndex.encodeCodebooks(cbs)))
    t.append(df, "IVFPQ INDEX BUILD")
    t
  }

  /** Probe a (possibly reopened) index table: pick `nprobe` cells from
    * the PROPERTIES centroids (zero data reads — [[AnnIndex.probedCells]]
    * verbatim, the props share names), ADC-shortlist `fetch` ids from
    * those cells' code files only, then exact-rerank just the shortlist
    * against the full-precision vectors.
    *
    * Contract: `queryVec` must have non-zero norm (enforced in both the
    * probe and the ADC scorer). */
  def search(t: GraftTable, emb: DataFrame, queryVec: Seq[Double], k: Int,
      nprobe: Int, fetch: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probe = AnnIndex.probedCells(t, queryVec, nprobe)
    val cells = t.read().filter(col("cell").isin(probe: _*))
    val short = Pq.adcScore(cells, PqIndex.codebooks(t), queryVec, fetch, idCol)
      .select(col(idCol))
    VectorOps.cosineTopK(
      emb.join(broadcast(short), Seq(idCol), "left_semi"),
      queryVec, k, idCol, vecCol)
  }
}
