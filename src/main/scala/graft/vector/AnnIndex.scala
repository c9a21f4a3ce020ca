package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Persisted ANN index: the IVF assignment materialized as a
  * cell-partitioned [[GraftTable]] with the coarse-quantizer centroids in
  * table properties — build once, query many, the shape index-backed
  * similarity search actually takes at 100 TB (re-clustering the corpus
  * per query is a non-starter; a probe must open only its cells' files).
  *
  * Because the table partitions on `cell`, each probe is a
  * `read().filter(col("cell").isin(...))` whose scan file-prunes to
  * those cells' files through the ordinary stats skipping — the ANN
  * index IS the table layout, no side-car index format. Centroids are
  * metadata (nlist·d doubles) and ride `TBLPROPERTIES`, so reopening the
  * table recovers the full index with zero reads of vector data.
  */
object AnnIndex {

  private[vector] val CentroidsProp = "graft.ann.centroids"

  /** `cell:v1,v2,...;cell:v1,...` — a flat, escaping-free encoding (the
    * values are doubles and cell ids; no reserved characters occur). */
  private[vector] def encodeCentroids(cents: Seq[(Int, Seq[Double])]): String =
    cents.sortBy(_._1)
      .map { case (cell, c) => s"$cell:" + c.mkString(",") }
      .mkString(";")

  private[vector] def decodeCentroids(s: String): Seq[(Int, Seq[Double])] =
    s.split(";").toSeq.filter(_.nonEmpty).map { part =>
      val Array(cell, vec) = part.split(":", 2)
      (cell.toInt, vec.split(",").toSeq.map(_.toDouble))
    }

  /** Cluster, assign, and persist: one row per vector `(idCol, cell, v)`
    * in a table partitioned by cell, centroids in properties. */
  def buildIvf(emb: DataFrame, path: String, nlist: Int, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): GraftTable = {
    val (assigned, centroids) = Ivf.index(emb, nlist, iters, idCol, vecCol)
    val cents = centroids.select("cell", "c").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val df = assigned.select(col("id").as(idCol), col("cell"), col("v"))
    val t = GraftTable.create(emb.sparkSession, path, df.schema,
      Map("graft.partitionBy" -> "cell", CentroidsProp -> encodeCentroids(cents)))
    t.append(df, "ANN INDEX BUILD")
    t
  }

  /** The `nprobe` cells nearest the query per the PROPERTIES centroids —
    * the file-pruning decision [[topK]] makes, exposed so plan audits and
    * [[probeCost]] callers can name the exact cells a probe opens. A
    * zero-norm CENTROID (an all-zero-vector cell) ranks last rather than
    * NaN-poisoning the probe order. */
  def probedCells(t: GraftTable, queryVec: Seq[Double], nprobe: Int): Seq[Int] = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val cents = decodeCentroids(t.properties.getOrElse(CentroidsProp,
      throw new IllegalArgumentException(
        s"${t.path} is not an ANN index table: property $CentroidsProp missing " +
          "(build one with AnnIndex.buildIvf)")))
    require(cents.nonEmpty, s"${t.path}: $CentroidsProp holds no centroids")
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    require(qn > 0, "query vector must have non-zero norm (cosine is undefined for it)")
    cents.map { case (cell, c) =>
      val dot = c.zip(queryVec).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      val cn = math.sqrt(c.map(x => x * x).sum)
      (cell, if (cn > 0) dot / (qn * cn) else -1.0)
    }.sortBy { case (cell, sim) => (-sim, cell) }.take(nprobe).map(_._1)
  }

  /** Probe an index table reopened from storage: pick the `nprobe` cells
    * nearest the query from the PROPERTIES centroids (zero data reads),
    * then exact-rerank inside those cells only — one read whose scan
    * opens only the probed cells' files. nprobe = nlist is exact brute
    * force.
    *
    * Contract: `queryVec` must have non-zero norm (cosine similarity to a
    * zero vector is undefined; an unguarded division would turn every sim
    * into NaN and silently scramble the ordering). */
  def topK(t: GraftTable, queryVec: Seq[Double], k: Int, nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    val probe = probedCells(t, queryVec, nprobe)
    val q = graft.functions.VecLit.doubles(queryVec)
    val cells = t.read().filter(col("cell").isin(probe: _*))
    val vn = VectorOps.normPre(col("v"))
    cells.select(col(idCol),
        // zero-norm data vectors rank last (sim -1) — an unguarded
        // division would emit NaN, which sorts FIRST under desc
        round(when(vn > 0, VectorOps.dotPre(col("v"), q) /
            (vn * VectorOps.normPre(q))).otherwise(lit(-1.0)) + lit(1e-9), 4)
          .as("sim"),
        col("cell"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Cell-pruned cosine range search: every indexed vector within
    * `minSim` of the query, reading ONLY the `nprobe` nearest cells —
    * the scale path behind [[VectorOps.rangeSearch]]'s brute scan. Like
    * any IVF probe it is approximate below nprobe = nlist (a qualifying
    * vector in an unprobed cell is missed — RangeSearchSpec measures the
    * containment and the full-probe equivalence); the filter cuts on the
    * ROUNDED sim with the same zero-norm sentinel as [[topK]]. */
  def rangeSearch(t: GraftTable, queryVec: Seq[Double], minSim: Double,
      nprobe: Int, idCol: String = "vec_id"): DataFrame = {
    require(minSim > -1.0, s"minSim must exceed the -1 zero-norm sentinel, got $minSim")
    val probe = probedCells(t, queryVec, nprobe)
    val q = graft.functions.VecLit.doubles(queryVec)
    val cells = t.read().filter(col("cell").isin(probe: _*))
    val vn = VectorOps.normPre(col("v"))
    cells.select(col(idCol),
        round(when(vn > 0, VectorOps.dotPre(col("v"), q) /
            (vn * VectorOps.normPre(q))).otherwise(lit(-1.0)) + lit(1e-9), 4)
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Diagnostic: data files the probe opens vs the table total. */
  def probeCost(t: GraftTable, cellsProbed: Seq[Int]): (Int, Int) = {
    val kept = cellsProbed.flatMap(c => t.pruneFiles(s"cell = $c")._1).distinct
    (kept.size, t.filesAt().size)
  }

  /** In-plan per-row probe order: the `n` nearest cells of a double-array
    * vector per the PROPERTIES centroids (a literal array — no join, no
    * broadcast variable). Sorts (negSim, cell) structs so ties go to the
    * lowest cell and zero-norm query/centroid ranks last — exactly
    * [[probedCells]]' ordering, shared by [[probePairs]] and [[append]]. */
  private def nearestCellsCol(cents: Seq[(Int, Seq[Double])],
      v: org.apache.spark.sql.Column, vn: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    // one collapsed centroid literal + the IvfProbeCells codegen kernel —
    // same (negSim, cell) ascending order with the +1.0 ranks-last
    // zero-denominator sentinel as the former array_sort(transform(...))
    // lambda chain (VecNativeSpec pins bit-equality)
    val rows = cents.map { case (cell, c) =>
      org.apache.spark.sql.Row(cell, c, math.sqrt(c.map(x => x * x).sum))
    }
    org.apache.spark.sql.graftbridge.ExprColumn.column(
      graft.functions.IvfProbeCells(
        org.apache.spark.sql.graftbridge.ExprColumn.expression(v),
        org.apache.spark.sql.graftbridge.ExprColumn.expression(vn),
        org.apache.spark.sql.graftbridge.ExprColumn.expression(
          graft.functions.VecLit.of(rows, graft.functions.IvfCentsData.schema)),
        n))
  }

  /** Incremental index maintenance: assign new vectors to their nearest
    * EXISTING cell (no retrain — the FAISS `add` contract) and append them
    * to the cell-partitioned table, so the ingest loop's survivors become
    * probe-able without touching stored vectors. Pure in-plan assignment
    * (the same arithmetic every probe uses, so an appended vector's own
    * re-probe always opens its cell first) + one partitioned append;
    * centroids drift only under an explicit rebuild, the standard
    * IVF trade (re-cluster periodically via [[buildIvf]] when the drift
    * measured by the q222 recall harness warrants it).
    *
    * IDEMPOTENT under micro-batch replay (the foreachBatch at-least-once
    * contract — a retried batch must not double-insert its vectors):
    * already-present ids are anti-joined away before the write, reading
    * ONLY the id column of the cells this batch lands in (file-pruned,
    * so the replay guard costs touched-cells ids, not an index scan) —
    * the same supersede discipline `DedupIndex.append` keeps. */
  def append(t: GraftTable, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = decodeCentroids(t.properties.getOrElse(CentroidsProp,
      throw new IllegalArgumentException(
        s"${t.path} is not an ANN index table: property $CentroidsProp missing " +
          "(build one with AnnIndex.buildIvf)")))
    require(cents.nonEmpty, s"${t.path}: $CentroidsProp holds no centroids")
    val assigned = batch
      .select(col(idCol), transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("__vn", VectorOps.normPre(col("v")))
      .withColumn("cell",
        element_at(nearestCellsCol(cents, col("v"), col("__vn"), 1), 1))
      .select(col(idCol), col("cell"), col("v"))
      .persist() // two actions below (cell collect + write) — compute once
    try {
      val touched = assigned.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted // bounded by nlist
      val existing =
        if (touched.isEmpty) return
        else t.read().filter(col("cell").isin(touched: _*))
          .select(col(idCol))
      val fresh = assigned.join(existing, Seq(idCol), "left_anti")
      t.append(fresh, "ANN INDEX APPEND")
    } finally assigned.unpersist()
    ()
  }

  /** Batched ANN search: EVERY batch vector probes the index in one
    * distributed job — the shape ingest-time embedding dedup takes
    * ([[topK]]'s driver-side probe is one query; a 100 TB ingest batch
    * carries millions). Per batch vector the `nprobe` nearest cells are
    * picked in-plan from the PROPERTIES centroids as a literal array
    * (same similarity, tie, and zero-norm rules as [[probedCells]]); the
    * index is then read once for the UNION of probed cells — a
    * nlist-bounded collect drives per-cell file-pruned reads — and pairs
    * score through a cell-keyed equi-join, never batch × corpus.
    * nprobe = nlist makes the result the exact cosine join.
    *
    * Output: (id1 = batch id, id2 = indexed id, sim), rounded like every
    * cosine gate, filtered to sim ≥ threshold post-rounding.
    *
    * Contract: `threshold` must be positive — zero-norm vectors on
    * either side score the −1 sentinel and therefore never pair, instead
    * of NaN-poisoning the join. */
  def probePairs(t: GraftTable, batch: DataFrame, threshold: Double,
      nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    require(threshold > 0,
      s"threshold must be positive, got $threshold (zero-norm vectors score -1)")
    val cents = decodeCentroids(t.properties.getOrElse(CentroidsProp,
      throw new IllegalArgumentException(
        s"${t.path} is not an ANN index table: property $CentroidsProp missing " +
          "(build one with AnnIndex.buildIvf)")))
    require(cents.nonEmpty, s"${t.path}: $CentroidsProp holds no centroids")
    val q = batch.select(col(idCol).as("id1"),
        transform(col(vecCol), x => x.cast("double")).as("__qv"))
      .withColumn("__qn", VectorOps.normPre(col("__qv")))
      .withColumn("__cells",
        nearestCellsCol(cents, col("__qv"), col("__qn"), nprobe))
    val probed = q.select(explode(col("__cells")).as("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded by nlist
    // index-side norm once per stored vector BEFORE the join (computed
    // after it, the higher-order norm re-runs per candidate PAIR), and
    // the pair dot product through the codegen'd DotProduct expression —
    // the HOF aggregate(zip_with) evaluates a lambda per element, ~7 s
    // per 200k 64-dim pairs (see functions/DotProduct.scala). Sequential
    // double sums in both forms: bit-identical results.
    val idx = t.read().filter(col("cell").isin(probed: _*))
      .select(col(idCol).as("id2"), col("cell"), col("v"))
      .withColumn("__vn", VectorOps.normPre(col("v")))
    // register on BOTH sessions: inside foreachBatch the micro-batch
    // DataFrame analyzes in the stream's CLONED session, whose function
    // registry does not inherit temp functions registered on the root —
    // registering only on t.spark leaves dot_product unresolvable there
    graft.functions.DotProduct.register(t.spark)
    val dp = graft.functions.DotProduct.dot_product(
      batch.sparkSession, col("__qv"), col("v"))
    q.select(col("id1"), col("__qv"), col("__qn"), explode(col("__cells")).as("cell"))
      .join(idx, "cell")
      .select(col("id1"), col("id2"),
        round(when(col("__qn") * col("__vn") > 0,
            dp / (col("__qn") * col("__vn")))
          .otherwise(lit(-1.0)) + lit(1e-9), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
