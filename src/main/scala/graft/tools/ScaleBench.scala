package graft.tools

import graft.SparkEntry

/** Scaling-curve measurement (dev tool backing SCALING.md): run a set of
  * gates at two dataset scale points (typically `ScaleGen` mult=1 and
  * mult=10 — identical distributions, 10× the rows) and report the
  * wall-clock ratio per gate. A sub-quadratic claim (dedup prefix
  * filters, CC rounds, ANN cell probes, MERGE stats-pruned discovery,
  * prefix-sum packing) passes when its ratio stays near the input-size
  * ratio; anything super-linear beyond log factors gets attributed.
  * This mirrors the reference's discipline of publishing runtime tables
  * across 1 GB/100 GB/1 TB (`30-performance/TPC-DS Runner/README.md`).
  *
  * Methodology notes, honored by the harness:
  *  - per-gate MEDIAN of `repeat` reps, state reset + forced GC between
  *    gates (the Bench idioms), small scale measured before large;
  *  - fixed per-gate costs (session, commit-log writes, tiny-table
  *    overheads) do NOT scale with input, so ratios UNDER 10 are
  *    expected for gates dominated by them — the red flag is only the
  *    other direction;
  *  - both absolute times are printed so the reader can judge how much
  *    fixed cost the ratio hides.
  *
  * Usage: runMain graft.tools.ScaleBench <dirSmall> <dirLarge> [gates]
  */
object ScaleBench {

  /** The heavy gates whose 100 TB claims SCALING.md verifies, grouped by
    * claim family (family → gates). */
  val Families: Seq[(String, Seq[String])] = Seq(
    "merge-dml" -> Seq("q51_merge_clauses", "q50_merge_upsert"),
    "layout-optimize" -> Seq("q58_optimize_zorder", "q121_stats_skipping"),
    "exact-dedup" -> Seq("q73_exact_dedup"),
    "near-dedup" -> Seq("q74_ngram_jaccard", "q75_minhash_lsh", "q76_simhash",
      "q81_embedding_near_dup"),
    "dedup-clusters" -> Seq("q202_dedup_clusters"),
    "dedup-index" -> Seq("q216_dedup_index_table", "q209_incremental_dedup",
      "q218_stream_ingest_dedup"),
    "ann" -> Seq("q80_cosine_topk", "q208_pq_adc_topk", "q211_ann_index_table",
      "q215_ivfpq_index_table", "q217_ann_batch_probe"),
    "prefix-sums" -> Seq("q205_pack_sequences", "q224_budget_mixture"),
    "text-rank" -> Seq("q207_vocab_coverage", "q233_bm25_topk",
      "q226_lm_surprisal", "q263_phrase_scan", "q264_corpus_health",
      "q268_blocklist_scan"),
    // tokenizers: vocab/merge training is vocabulary-bounded (collect
    // of a dict, not corpus rows); encode is a shuffle-free broadcast
    // projection — the claim to verify is exactly-linear encode cost
    // with flat training cost across decades
    "tokenizer" -> Seq("q262_subword_tokenize", "q265_bpe_train",
      "q266_bpe_tokenize"),
    // cleaning/stat projections + the bag-dedup shuffle + the v2
    // composition — the claim is linear (projection) / single-keyed-
    // shuffle (dedup, report)
    "curation" -> Seq("q269_text_normalize", "q271_charset_entropy",
      "q272_bag_dedup", "q273_curation_v2"),
    "corpus-release" -> Seq("q237_shuffle_shards", "q223_curation_pipeline"),
    // round-16 additions: weighted draw is a TakeOrdered projection
    // (claim: linear scan cost, constant driver merge); budget cutoff is
    // one score-keyed rollup + score-cardinality cumsum (claim: linear);
    // CDC dedup is projection chunking + one chunk-hash-keyed pair join
    // (claim: near-linear while planted-pair output stays proportional);
    // SQ8 is train-aggregate + projection encode/search + TakeOrdered
    // (claim: linear)
    "round16" -> Seq("q274_weighted_sample", "q275_cdc_dedup",
      "q276_quality_budget_cutoff", "q277_sq8_search"),
    // observability/rewrite family: MV rewrite reads the key-cardinality
    // view (claim: view-scan cost, flat in source size once the view
    // exists — the gate REBUILDS source+view, so measured growth is the
    // build); drift/constraint reports are one-to-two aggregates (claim:
    // linear); the stream monitor adds micro-batch wall floors
    "quality-obs" -> Seq("q278_mv_rewrite", "q279_drift_psi",
      "q280_constraint_suite", "q281_drift_categorical",
      "q282_stream_drift_monitor"),
    // media codecs are pure per-row scan projections (encode→decode→stats
    // →transcode, no shuffle) — the claim to verify is exactly-linear.
    // the hamming pair-join gates (q248/q251/q252) are deliberately
    // absent: each fixes its group count (200/180/150) so output pairs
    // grow quadratically BY CONSTRUCTION at large mult (the
    // q81/ProfPairs artifact), and the join is the same
    // DedupOps.fingerprintPairs already measured via q76
    // q256/q257 are pair gates (fixed group count → quadratic output
    // by construction, like q248/q251/q252); q258 is a pure per-row
    // transcode and joins the linear-claim family
    "media-codec" -> Seq("q246_image_decode", "q247_audio_decode",
      "q249_video_decode", "q253_media_quarantine", "q254_mp4_decode",
      "q255_media_quarantine_stages", "q258_container_normalize",
      "q260_mp4_audio_demux"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench <dirSmall> <dirLarge> [gates]")
    val (dirA, dirB) = (args(0), args(1))
    val gates: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Families.flatMap(_._2)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    def reset(): Unit = Harness.resetRunState(spark)
    def median(xs: Seq[Double]): Double = Harness.median(xs)
    // a failing gate (e.g. a partial scale point missing its table) must
    // not abort the run and lose every prior gate's measurement — record
    // -1, keep going, and filter it from the JSON
    def time(name: String, dir: String): Double = {
      // the lookup itself is inside the guard: a typo'd gate name must
      // not abort the run and lose every prior gate's measurement
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[scalebench] unknown gate: $name")
          -1.0
        case Some(fn) =>
          val reps = (1 to repeat).map { _ =>
            reset()
            val t0 = System.nanoTime()
            try {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch { case e: Throwable =>
              System.err.println(s"[scalebench] $name failed at $dir: ${e.getMessage}")
              -1.0
            }
          }.filter(_ >= 0)
          if (reps.isEmpty) -1.0 else median(reps)
      }
    }

    // warm-up both scale points (file listing, codegen); a partial scale
    // point (ScaleGen's table filter) warms only what it has
    Seq(dirA, dirB).foreach { d =>
      graft.Tables.all.foreach { n =>
        try graft.Tables.t(spark, d, n).count()
        catch { case _: Throwable => () }
      }
    }

    val rows = gates.map { g =>
      val a = time(g, dirA)
      val b = time(g, dirB)
      val fam = Families.find(_._2.contains(g)).map(_._1).getOrElse("other")
      if (a < 0 || b < 0)
        println(f"[scalebench] $fam%-16s $g%-28s FAILED (small=$a%.2f large=$b%.2f)")
      else
        println(f"[scalebench] $fam%-16s $g%-28s $a%7.2f s -> $b%7.2f s  ratio ${b / a}%5.2f")
      (fam, g, a, b)
    }
    val json = rows.filter { case (_, _, a, b) => a >= 0 && b >= 0 }
      .map { case (fam, g, a, b) =>
        f"""{"family":"$fam","gate":"$g","small_sec":$a%.3f,"large_sec":$b%.3f,"ratio":${b / a}%.2f}"""
      }.mkString("[", ",", "]")
    val out = java.nio.file.Paths.get("target", "scalebench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    println(s"[scalebench] wrote $out")
    spark.stop()
  }
}
