package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.{GraftTable, Maintenance, Scd}
import graft.text.{CorpusOps, DedupOps, FuzzyJoin}
import graft.vector.AnnIndex

/** Degenerate-input contracts: operators must no-op cleanly on the empty
  * and boundary inputs a production pipeline actually hits — the first
  * run of a backfill, a quiet ingest window, a filter that matches
  * nothing, a top-k larger than the corpus. Each test pins behavior the
  * main-path specs never exercise. */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  test("OPTIMIZE on an empty table commits a clean no-op") {
    val t = GraftTable.create(spark, scratch("optempty"),
      StructType(Seq(StructField("id", LongType))))
    val before = t.currentVersion
    Maintenance.optimize(t, zorderBy = Seq("id"))
    assert(t.read().count() === 0)
    assert(t.filesAt().isEmpty)
    assert(t.commits.last.operation === "OPTIMIZE")
    assert(t.currentVersion === before + 1)
  }

  private val scd2Schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("_seq", StringType),
    StructField("_start_at", StringType), StructField("_end_at", StringType),
    StructField("_is_current", BooleanType)))

  private def cdcBatch(rows: (Long, String, String)*) =
    rows.toSeq.toDF("id", "name", "_seq")

  test("APPLY CHANGES SCD2: an empty batch leaves the table untouched") {
    val t = GraftTable.create(spark, scratch("scd2empty"), scd2Schema)
    Scd.applyChangesScd2(t, cdcBatch((1L, "a", "2024-01-01")),
      Seq("id"), "_seq")
    val version = t.currentVersion
    val rows = t.read().collect().toSeq

    Scd.applyChangesScd2(t, cdcBatch(), Seq("id"), "_seq")
    assert(t.currentVersion === version, "empty batch must not commit")
    assert(t.read().collect().toSeq === rows)
  }

  test("APPLY CHANGES SCD2: an empty batch with deleteWhen is also a no-op") {
    val t = GraftTable.create(spark, scratch("scd2emptydel"), scd2Schema)
    Scd.applyChangesScd2(t, cdcBatch((1L, "a", "2024-01-01")),
      Seq("id"), "_seq", deleteWhen = Some("name = 'gone'"))
    val version = t.currentVersion
    Scd.applyChangesScd2(t, cdcBatch(), Seq("id"), "_seq",
      deleteWhen = Some("name = 'gone'"))
    assert(t.currentVersion === version)
    assert(t.read().count() === 1)
  }

  test("ANN topK with k larger than the corpus returns every vector, ordered") {
    val emb = Tables.t(spark, sf, "embeddings").filter(col("vec_id") < 20)
    val n = emb.count()
    val t = AnnIndex.buildIvf(emb, scratch("annsmall"), nlist = 4, iters = 1)
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val out = AnnIndex.topK(t, qv, k = 1000, nprobe = 4)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    assert(out.size === n, "k > n must return the whole corpus, not fail")
    assert(out.map(_._2) === out.map(_._2).sorted.reverse, "sims must stay ordered")
  }

  test("connected components with no edges: every node is its own singleton cluster in zero rounds") {
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val (labels, rounds) = DedupOps.ccWithRounds(edges, nodes)
    assert(rounds === 0, "an empty edge set must converge without iterating")
    assert(labels.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("sequence packing of an empty corpus is empty") {
    val docs = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(CorpusOps.packSequences(docs, capacity = 100).count() === 0)
  }

  test("stratified sample at fraction 0 keeps nothing; at fraction 1 keeps everything") {
    val docs = (1L to 10L).map(i => (i, if (i <= 6) "a" else "b"))
      .toDF("doc_id", "domain")
    assert(CorpusOps.stratifiedSample(docs, "domain", 0.0).count() === 0)
    assert(CorpusOps.stratifiedSample(docs, "domain", 1.0).count() === 10)
  }

  test("fuzzy self-join over an empty input is empty") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "s")
    assert(FuzzyJoin.selfPairs(docs, k = 2).count() === 0)
  }

  test("PQ index build on an empty embeddings frame fails with a contract error") {
    val empty = Tables.t(spark, sf, "embeddings").filter(lit(false))
    val e = intercept[IllegalArgumentException] {
      graft.vector.PqIndex.build(empty, scratch("pqempty"))
    }
    assert(e.getMessage.contains("empty embeddings frame"))
  }

  test("IVF+PQ index build on an empty embeddings frame fails with a contract error") {
    val empty = Tables.t(spark, sf, "embeddings").filter(lit(false))
    val e = intercept[IllegalArgumentException] {
      graft.vector.IvfPq.build(empty, scratch("ivfpqempty"), nlist = 4)
    }
    assert(e.getMessage.contains("empty embeddings frame"))
    // the guard lives in the shared k-means, so the IVF-only index path
    // carries the same contract
    intercept[IllegalArgumentException] {
      graft.vector.AnnIndex.buildIvf(empty, scratch("annempty"), nlist = 4)
    }
  }

  test("dedup index: an empty ingest batch probes to zero pairs") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val t = graft.text.DedupIndex.build(docs, scratch("dedupemptyb"), n = 3)
    val empty = docs.filter(lit(false))
    assert(graft.text.DedupIndex.dedupBatch(t, empty, 0.5).count() === 0)
  }

  test("dedup index over an empty corpus: batch still dedups against itself") {
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val t = graft.text.DedupIndex.build(none, scratch("dedupemptyc"), n = 3)
    val batch = Seq((10L, "red orange yellow green blue"),
      (11L, "red orange yellow green blue")).toDF("doc_id", "text")
    val pairs = graft.text.DedupIndex.dedupBatch(t, batch, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((10L, 11L, 1.0)), s"got $pairs")
  }

  test("bloom dedup: empty batch and empty corpus both yield zero pairs") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val none = docs.filter(lit(false))
    val bf = graft.text.BloomDedup.buildFilter(docs)
    assert(graft.text.BloomDedup.dedupBatch(bf, docs, none).count() === 0)
    // empty corpus: the filter is built on max(n,1)=1 expected items and
    // matches nothing; the verify join is against zero corpus rows anyway
    val bfEmpty = graft.text.BloomDedup.buildFilter(none)
    assert(graft.text.BloomDedup.dedupBatch(bfEmpty, none, docs).count() === 0)
  }

  test("Misra-Gries over an empty input returns an empty summary") {
    val mg = org.apache.spark.sql.functions.udaf(new graft.functions.MisraGries(4))
    val none = Seq.empty[String].toDF("w")
    val m = none.agg(mg(col("w"))).head().getMap[String, Long](0)
    assert(m.isEmpty)
  }

  test("shard export of an empty corpus is empty; one shard gets everything") {
    val none = Seq.empty[Long].toDF("doc_id")
    assert(CorpusOps.shuffleShards(none, 4).isEmpty)
    val one = CorpusOps.shuffleShards(Seq(1L, 2L, 3L).toDF("doc_id"), 1)
    assert(one.select("shard").distinct().count() == 1)
    assert(one.agg(max("pos")).head().getLong(0) == 2)
  }

  test("domain report of an empty corpus is empty; winsorize of one row clamps nothing") {
    val noneDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(CorpusOps.domainReport(noneDocs).isEmpty)
    val r = CorpusOps.winsorize(Seq(("a", 7)).toDF("lang", "n_chars"),
      "lang", "n_chars").head()
    assert(r.getAs[Double]("p_lo") == 7.0 && r.getAs[Double]("p_hi") == 7.0)
    assert(r.getAs[Long]("n_below") == 0 && r.getAs[Long]("n_above") == 0)
    assert(r.getAs[Double]("mean_winsorized") == 7.0)
  }

  test("range search with an unreachable floor is empty, not an error") {
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    assert(graft.vector.VectorOps.rangeSearch(emb, q, 1.5).isEmpty)
  }

  test("MMR with k = nCand returns every candidate exactly once") {
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val picks = graft.vector.Mmr.rerank(emb, q, nCand = 6, k = 6)
      .select("vec_id").as[Long].collect()
    assert(picks.length == 6 && picks.distinct.length == 6)
  }

  test("profiler discover on an empty root and profile of an empty table list") {
    import graft.services.TableProfiler
    val root = scratch("profempty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    assert(TableProfiler.discover(root).isEmpty)
    assert(TableProfiler.profile(spark, Nil).isEmpty)
  }
  test("q21 dense-rank top-10 keeps a null revenue exactly when the window form ranks it ≤ 10") {
    def gateVsWindow(orders: Seq[(Long, Option[Double])]): (Seq[Row], Seq[Row]) = {
      val dir = scratch("q21nulls")
      orders.toDF("o_custkey", "o_totalprice").write.parquet(s"$dir/orders.parquet")
      Tables.t(spark, dir, "orders").createOrReplaceTempView("orders")
      (SparkEntry.queries("q21_dense_rank_topk")(spark, dir).collect().toSeq,
        spark.sql(SparkEntry.oracleSql("q21_dense_rank_topk")).collect().toSeq)
    }
    // three distinct revenues and a null one: the null ranks 4th
    val (few, fewWant) = gateVsWindow(
      Seq((1L, Some(5.0)), (2L, Some(7.0)), (3L, Some(7.0)), (4L, Some(9.0)), (5L, None)))
    assert(few == fewWant, s"gate $few, window form $fewWant")
    assert(few.exists(_.isNullAt(1)), s"the null revenue must keep: $few")
    // eleven distinct revenues: the null ranks 12th and drops
    val (many, manyWant) = gateVsWindow((1L to 11L).map(i => (i, Option(i * 10.0))) :+ ((12L, None)))
    assert(many == manyWant, s"gate $many, window form $manyWant")
    assert(many.size == 10 && !many.exists(_.isNullAt(1)))
  }
}
