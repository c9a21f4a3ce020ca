package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.MisraGries

/** Property-based pins for the operators whose correctness rests on an
  * algorithmic guarantee rather than an example: random inputs explore
  * the space the hand-written specs can't enumerate. Spark-free where
  * possible (pure summary algebra) so hundreds of cases stay fast; the
  * distributed forms of each operator are pinned by their example specs
  * and the DuckDB gate.
  */
class PropertySpec extends SparkTestBase {

  /** Deterministic sampling from a Gen (no scalatest bridge in the
    * offline resolver): fixed seed, n cases per property. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] = {
    var seed = Seed(42L)
    (1 to n).flatMap { _ =>
      val v = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
  }

  private def forAllSampled[T](g: Gen[T], n: Int = 60)(body: T => Unit): Unit = {
    val cases = samples(g, n)
    assert(cases.size >= n / 2, "generator produced too few cases")
    cases.foreach(body)
  }

  private val streamGen: Gen[List[Int]] =
    Gen.listOfN(400, Gen.frequency(
      (8, Gen.choose(0, 4)),     // heavy items
      (2, Gen.choose(5, 120)))) // long tail

  test("Misra-Gries: heavy-hitter guarantee and undercount bound hold on random streams") {
    val k = 6
    val agg = new MisraGries(k)
    forAllSampled(streamGen) { xs =>
      val words = xs.map(i => s"w$i")
      val summary = words.foldLeft(agg.zero)(agg.reduce)
      val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = words.size.toDouble / (k + 1)
      assert(summary.size <= k)
      exact.foreach { case (w, n) =>
        if (n > bound) assert(summary.contains(w), s"$w freq $n > $bound evicted")
      }
      summary.foreach { case (w, est) =>
        val truth = exact.getOrElse(w, 0L)
        assert(est <= truth && truth - est <= bound + 1)
      }
    }
  }

  test("Misra-Gries: arbitrary partition merges never break the guarantee") {
    val k = 5
    val agg = new MisraGries(k)
    val partsGen = for {
      xs <- streamGen
      nSplit <- Gen.choose(1, 6)
    } yield (xs.map(i => s"w$i"), nSplit)
    forAllSampled(partsGen) { case (words, nSplit) =>
      val parts = words.grouped(math.max(words.size / nSplit, 1)).toList
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = words.size.toDouble / (k + 1)
      assert(merged.size <= k)
      exact.foreach { case (w, n) =>
        if (n > bound) assert(merged.contains(w),
          s"$w freq $n > $bound lost in a ${parts.size}-way merge")
      }
    }
  }

  test("Bloom filter: no member is ever rejected (random member sets)") {
    import org.apache.spark.util.sketch.BloomFilter
    forAllSampled(Gen.nonEmptyListOf(Gen.long)) { xs =>
      val bf = BloomFilter.create(math.max(xs.size, 1), 0.03)
      xs.foreach(bf.putLong)
      xs.foreach(x => assert(bf.mightContainLong(x)))
    }
  }

  // ---- persisted-index reopen equivalence --------------------------------
  // build→close→load→probe must equal the in-session pipeline on the same
  // input: the codebooks/centroids/shingle-n round-trip through table
  // properties and the data files round-trip through parquet, so any
  // lossy encode (a truncated double, a dropped posting, a mis-keyed
  // shard) shows up as a probe divergence on some random input.

  /** Random doc set over a tiny token vocabulary — small vocab forces
    * shingle collisions, near-dups, and supersede-relevant overlap. */
  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(6, 20)
    texts <- Gen.listOfN(n, Gen.listOfN(8, Gen.oneOf(
      "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
      .map(_.mkString(" ")))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("DedupIndex: reopen-probe equals the in-session pipeline on random corpora") {
    import spark.implicits._
    var i = 0
    forAllSampled(Gen.zip(docsGen, docsGen), n = 5) { case (corpus, batchRaw) =>
      i += 1
      val docs = corpus.toDF("doc_id", "text")
      val batch = batchRaw.map { case (id, t) => (id + 1000, t) }
        .toDF("doc_id", "text")
      val path = scratch(s"propdedup$i")
      graft.text.DedupIndex.build(docs, path, n = 3)
      val reopened = graft.tables.GraftTable.load(spark, path)
      val viaTable = graft.text.DedupIndex.dedupBatch(reopened, batch, 0.5)
        .as[(Long, Long, Double)].collect().toSet
      val inSession = graft.text.DedupOps.incrementalJaccardPairs(
          graft.text.DedupOps.shingleTable(docs, 3), batch, n = 3,
          threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaTable === inSession, s"corpus=$corpus batch=$batchRaw")
    }
  }

  /** An indexed corpus and an ingest batch over a six-word vocabulary,
    * 1–9 words a doc (n = 3, so some docs have no shingle). Batch ids
    * come from a range that half overlaps the corpus ids (re-ingests, some
    * of them too short to shingle), a third of the batch copies corpus
    * texts (pairs at Jaccard 1), and some batches are empty. */
  private val ingestGen: Gen[(List[(Long, String)], List[(Long, String)])] = {
    val text = Gen.choose(1, 9).flatMap(k => Gen.listOfN(k,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")).map(_.mkString(" ")))
    for {
      corpus <- Gen.choose(4, 12).flatMap(Gen.listOfN(_, text))
      ids <- Gen.frequency((1, Gen.const(Nil)),
        (5, Gen.someOf(0L until 2L * corpus.size).map(_.toList)))
      texts <- Gen.listOfN(ids.size, Gen.frequency((2, text), (1, Gen.oneOf(corpus))))
    } yield (corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }, ids.zip(texts))
  }

  test("DedupIndex: a probe equals jaccardPairs over corpus ∪ batch on its batch-side pairs") {
    import spark.implicits._
    val n = 3
    def shingles(text: String) = text.split(" ").length >= n
    val cases = samples(ingestGen, 8)
    // the generator must reach every corner the contract names
    assert(cases.exists(_._2.isEmpty), "no empty batch")
    assert(cases.exists { case (c, b) => b.exists(x => shingles(x._2) && c.exists(_._1 == x._1)) },
      "no re-ingested id")
    assert(cases.exists { case (c, b) => b.exists(x => !shingles(x._2) && c.exists(_._1 == x._1)) },
      "no re-ingest too short to shingle")
    cases.zipWithIndex.foreach { case ((corpus, batch), i) =>
      val t = graft.text.DedupIndex.build(corpus.toDF("doc_id", "text"), scratch(s"propdiff$i"), n)
      // a batch doc supersedes its id iff it has a shingle; the reference
      // corpus is what the index holds once the batch is appended
      val superseding = batch.filter(b => shingles(b._2)).map(_._1).toSet
      val union = (corpus.filterNot(c => superseding(c._1)) ++ batch).toDF("doc_id", "text")
      Seq(0.3, 0.5, 0.8, 1.0).foreach { th =>
        val got = graft.text.DedupIndex.dedupBatch(t, batch.toDF("doc_id", "text"), th)
          .as[(Long, Long, Double)].collect().toSeq
        val want = graft.text.DedupOps.jaccardPairs(union, n, th)
          .as[(Long, Long, Double)].collect()
          .filter { case (d1, d2, _) => superseding(d1) || superseding(d2) }.toSet
        assert(got.size == got.toSet.size, s"duplicate pairs at t=$th: $got")
        assert(got.toSet == want, s"t=$th corpus=$corpus batch=$batch")
      }
    }
  }

  /** Random float vectors with strictly positive coordinates (no zero
    * norms — the query contract) in 8 dims. */
  private val vecsGen: Gen[List[(Long, Seq[Float])]] = for {
    n <- Gen.choose(6, 16)
    vs <- Gen.listOfN(n, Gen.listOfN(8,
      Gen.choose(1, 100).map(_ / 100.0f)))
  } yield vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }

  test("PqIndex: reopened-codebook search equals the in-session PQ search") {
    import spark.implicits._
    var i = 0
    forAllSampled(vecsGen, n = 5) { vecs =>
      i += 1
      val emb = vecs.toDF("vec_id", "embedding")
      val q = vecs.head._2.map(_.toDouble)
      val path = scratch(s"proppq$i")
      graft.vector.PqIndex.build(emb, path, m = 2, ksub = 4, iters = 1)
      val reopened = graft.tables.GraftTable.load(spark, path)
      val viaTable = graft.vector.PqIndex.topKRerank(
          reopened, emb, q, k = 3, fetch = vecs.size)
        .as[(Long, Double)].collect().toSeq
      val inSession = graft.vector.Pq.topKRerank(
          emb, q, k = 3, fetch = vecs.size, m = 2, ksub = 4, iters = 1)
        .as[(Long, Double)].collect().toSeq
      assert(viaTable === inSession, s"vecs=$vecs")
    }
  }

  test("IvfPq: full-probe reopened search equals the pure-PQ in-session chain") {
    import spark.implicits._
    var i = 0
    forAllSampled(vecsGen, n = 4) { vecs =>
      i += 1
      val emb = vecs.toDF("vec_id", "embedding")
      val q = vecs.head._2.map(_.toDouble)
      val path = scratch(s"propivfpq$i")
      graft.vector.IvfPq.build(emb, path, nlist = 3, m = 2, ksub = 4,
        ivfIters = 2, pqIters = 1)
      val reopened = graft.tables.GraftTable.load(spark, path)
      // nprobe = nlist covers every cell: the combined search must
      // degenerate to exactly the pure-PQ shortlist+rerank (q215's law),
      // which pins BOTH quantizers' property round-trips at once
      val viaTable = graft.vector.IvfPq.search(
          reopened, emb, q, k = 3, nprobe = 3, fetch = vecs.size)
        .as[(Long, Double)].collect().toSeq
      val inSession = graft.vector.Pq.topKRerank(
          emb, q, k = 3, fetch = vecs.size, m = 2, ksub = 4, iters = 1)
        .as[(Long, Double)].collect().toSeq
      assert(viaTable === inSession, s"vecs=$vecs")
    }
  }

  test("BloomDedup: reopened sharded index dedups like the in-session filter") {
    import spark.implicits._
    var i = 0
    forAllSampled(Gen.zip(docsGen, docsGen, Gen.choose(1, 5)), n = 5) {
      case (corpusRaw, batchRaw, shards) =>
        i += 1
        val corpus = corpusRaw.toDF("doc_id", "text")
        val batch = batchRaw.map { case (id, t) => (id + 1000, t) }
          .toDF("doc_id", "text")
        val path = scratch(s"propbloom$i")
        graft.text.BloomDedup.build(corpus, path, shards = shards)
        val idx = graft.text.BloomDedup.load(
          graft.tables.GraftTable.load(spark, path))
        val viaTable = graft.text.BloomDedup.dedupBatch(idx, corpus, batch)
          .as[(Long, Long)].collect().toSet
        val inSession = graft.text.BloomDedup.dedupBatch(
            graft.text.BloomDedup.buildFilter(corpus), corpus, batch)
          .as[(Long, Long)].collect().toSet
        assert(viaTable === inSession,
          s"shards=$shards corpus=$corpusRaw batch=$batchRaw")
    }
  }

  test("connected components match a union-find reference on random graphs") {
    // small random graphs, exhaustive cross-check against sequential
    // union-find — pins the large-star/small-star rewiring, not examples
    val graphGen = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(0, 30)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, edges.distinct)
    import spark.implicits._
    forAllSampled(graphGen, n = 12) { case (n, edges) =>
      // sequential union-find ground truth
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n.toInt)
        .map(i => i.toLong -> {
          // min node id in the component = canonical rep
          val r = find(i)
          (0 until n.toInt).filter(j => find(j) == r).min.toLong
        }).toMap
      val nodes = spark.range(n).select(col("id").as("doc_id"))
      val edgeDf =
        if (edges.isEmpty)
          Seq.empty[(Long, Long)].toDF("d1", "d2")
        else edges.toDF("d1", "d2")
      val got = graft.text.DedupOps.connectedComponents(edgeDf, nodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  /** Random small corpora over a 6-word vocabulary (collision-rich, so
    * tf > 1 and shared df are common) with varying document lengths. */
  private val rankDocsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 12)
    texts <- Gen.listOfN(n, Gen.choose(2, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f"))
        .map(_.mkString(" "))))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def round4(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("BM25 matches a direct per-document reference on random corpora") {
    import spark.implicits._
    val query = Seq("a", "d")
    forAllSampled(rankDocsGen, n = 8) { corpus =>
      val got = graft.text.Rank.bm25(corpus.toDF("doc_id", "text"), query)
        .as[(Long, Double)].collect().toMap
      val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val nDocs = toks.size.toDouble
      val avgdl = toks.map(_._2.size).sum / nDocs
      val dfm = query.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
      val want = toks.flatMap { case (id, ws) =>
        val s = query.map { t =>
          val tf = ws.count(_ == t).toDouble
          if (tf == 0) 0.0
          else math.log((nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1) *
            tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * ws.size / avgdl))
        }.sum
        if (s == 0.0) None else Some(id -> round4(s))
      }.toMap
      assert(got === want, s"corpus=$corpus")
    }
  }

  test("importance weights match a direct two-model reference on random corpora") {
    import spark.implicits._
    forAllSampled(rankDocsGen, n = 8) { corpus =>
      if (corpus.exists(_._1 % 2 == 0)) {
        val got = graft.text.LmScore.importanceWeights(
            corpus.toDF("doc_id", "text"), col("doc_id") % 2 === 0)
          .as[(Long, Double, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }
        val all = toks.flatMap(_._2)
        val tgt = toks.filter(_._1 % 2 == 0).flatMap(_._2)
        val v = all.distinct.size.toDouble
        val cr = all.groupBy(identity).map { case (w, xs) => w -> xs.size.toDouble }
        val ct = tgt.groupBy(identity).map { case (w, xs) => w -> xs.size.toDouble }
        def llr(w: String): Double =
          math.log((ct.getOrElse(w, 0.0) + 0.5) / (tgt.size + 0.5 * v)) -
            math.log((cr(w) + 0.5) / (all.size + 0.5 * v))
        val want = toks.map { case (id, ws) =>
          id -> ((round4(ws.map(llr).sum / ws.size), ws.size.toLong))
        }.toMap
        assert(got === want, s"corpus=$corpus")
      }
    }
  }

  /** Random 1-based rank lists: distinct ids, ranks 1..n per list. */
  private val rankingsGen: Gen[List[List[(Long, Int)]]] = for {
    nLists <- Gen.choose(1, 4)
    lists <- Gen.listOfN(nLists, Gen.choose(1, 8).flatMap(n =>
      Gen.pick(n, 0L to 20L).map(_.toList.zipWithIndex
        .map { case (id, i) => (id, i + 1) })))
  } yield lists

  test("RRF fusion matches a direct reciprocal-rank sum on random rankings") {
    import spark.implicits._
    val round6 = (x: Double) =>
      BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    forAllSampled(rankingsGen, n = 12) { lists =>
      val got = graft.text.Rank.rrfFuse(lists.map(_.toDF("doc_id", "rank")))
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val flat = lists.flatten
      val want = flat.groupBy(_._1).map { case (id, rs) =>
        id -> ((round6(rs.map(r => 1.0 / (60 + r._2)).sum), rs.size.toLong))
      }
      assert(got === want, s"lists=$lists")
    }
  }

  private val shardIdsGen: Gen[(List[Long], Int)] = for {
    n <- Gen.choose(1, 40)
    // ids past 2^31 exercise the overflow-safe reduction; negative ids
    // (hash-minted keys) exercise the sign-safe pmod
    ids <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 5000L),
      Gen.choose(2147483648L, 9007199254740992L),
      Gen.choose(-9007199254740992L, -1L)))
    shards <- Gen.choose(1, 9)
  } yield (ids.distinct, shards)

  test("shuffleShards: partition + dense positions + determinism on random id sets") {
    import spark.implicits._
    forAllSampled(shardIdsGen, n = 12) { case (ids, nShards) =>
      val df = ids.toDF("doc_id")
      val out = graft.text.CorpusOps.shuffleShards(df, nShards)
        .as[(Long, Int, Long)].collect().toSeq.sortBy(r => (r._2, r._3))
      // exactly the input ids, each exactly once
      assert(out.map(_._1).sorted == ids.sorted, s"ids=$ids n=$nShards")
      // shards in range; positions dense 0..count-1 per shard
      assert(out.forall(r => r._2 >= 0 && r._2 < nShards))
      out.groupBy(_._2).foreach { case (shard, rows) =>
        assert(rows.map(_._3).sorted == (0L until rows.size).toSeq,
          s"shard $shard positions not dense: ${rows.map(_._3)}")
      }
      // placement is a pure function of the id — replay agrees
      val again = graft.text.CorpusOps.shuffleShards(df, nShards)
        .as[(Long, Int, Long)].collect().toSeq.sortBy(r => (r._2, r._3))
      assert(again == out)
    }
  }

  private val winsorGen: Gen[List[Int]] =
    Gen.choose(3, 60).flatMap(n => Gen.listOfN(n, Gen.choose(-1000, 1000)))

  test("winsorize: bounds bracket the clipped mean and clip counts respect the tails") {
    import spark.implicits._
    forAllSampled(winsorGen, n = 10) { xs =>
      val df = xs.map(("s", _)).toDF("lang", "n_chars")
      val r = graft.text.CorpusOps.winsorize(df, "lang", "n_chars").head()
      val (lo, hi) = (r.getAs[Double]("p_lo"), r.getAs[Double]("p_hi"))
      assert(lo <= hi, s"xs=$xs")
      val mw = r.getAs[Double]("mean_winsorized")
      assert(mw >= lo - 0.01 && mw <= hi + 0.01,
        s"clipped mean $mw outside [$lo, $hi] for $xs")
      // at most 5% strictly below p05 / above p95 (interpolated bounds)
      assert(r.getAs[Long]("n_below") <= math.ceil(xs.size * 0.05).toLong, s"xs=$xs")
      assert(r.getAs[Long]("n_above") <= math.ceil(xs.size * 0.05).toLong, s"xs=$xs")
    }
  }

  test("MMR at lambda = 1 degenerates to the cosine top-k order") {
    import spark.implicits._
    val emb = Tables.t(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val mmr = graft.vector.Mmr.rerank(emb, q, nCand = 20, k = 8, lambda = 1.0)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val topk = graft.vector.VectorOps.cosineTopK(emb, q, 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(mmr == topk, "with no diversity term MMR must be pure relevance")
  }

  test("file pruning is SOUND on random data + predicates (never drops a matching file)") {
    // the one property file skipping must never violate: if ANY row of a
    // file matches the predicate, mightMatch(stats(file)) must keep it.
    // Random nullable single-column files (the harvest's stats shape:
    // min/max over non-nulls + __nulls_ accounting) × random predicate
    // trees over =, <, <=, >, >=, BETWEEN, IN, IS [NOT] NULL, AND, OR —
    // evaluated by the SAME SQL text the engine parses, against a local
    // three-valued-logic row evaluator.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.tables.FileStats
    sealed trait P
    case class Cmp(op: String, k: Long) extends P
    case class Btw(a: Long, b: Long) extends P
    case class InP(ks: Seq[Long]) extends P
    case object NullP extends P
    case object NotNullP extends P
    case class AndP(l: P, r: P) extends P
    case class OrP(l: P, r: P) extends P
    def sqlOf(p: P): String = p match {
      case Cmp(op, k) => s"c $op $k"
      case Btw(a, b) => s"c BETWEEN $a AND $b"
      case InP(ks) => s"c IN (${ks.mkString(", ")})"
      case NullP => "c IS NULL"
      case NotNullP => "c IS NOT NULL"
      case AndP(l, r) => s"(${sqlOf(l)}) AND (${sqlOf(r)})"
      case OrP(l, r) => s"(${sqlOf(l)}) OR (${sqlOf(r)})"
    }
    def eval(row: Option[Long], p: P): Boolean = p match {
      case Cmp(op, k) => row.exists(v => op match {
        case "=" => v == k; case "<" => v < k; case "<=" => v <= k
        case ">" => v > k; case ">=" => v >= k })
      case Btw(a, b) => row.exists(v => v >= a && v <= b)
      case InP(ks) => row.exists(ks.contains)
      case NullP => row.isEmpty
      case NotNullP => row.nonEmpty
      case AndP(l, r) => eval(row, l) && eval(row, r)
      case OrP(l, r) => eval(row, l) || eval(row, r)
    }
    val kGen = Gen.choose(-30L, 30L)
    val leaf: Gen[P] = Gen.frequency(
      (5, for { op <- Gen.oneOf("=", "<", "<=", ">", ">="); k <- kGen } yield Cmp(op, k)),
      (2, for { a <- kGen; b <- kGen } yield Btw(math.min(a, b), math.max(a, b))),
      (2, Gen.nonEmptyListOf(kGen).map(ks => InP(ks.take(4)))),
      (1, Gen.const(NullP)),
      (1, Gen.const(NotNullP)))
    val predGen: Gen[P] = Gen.frequency(
      (3, leaf),
      (2, for { l <- leaf; r <- leaf } yield AndP(l, r)),
      (2, for { l <- leaf; r <- leaf } yield OrP(l, r)))
    val fileGen: Gen[Seq[Option[Long]]] =
      Gen.listOfN(12, Gen.frequency(
        (4, kGen.map(Some(_))), (1, Gen.const(None: Option[Long]))))
    val schema = StructType(Seq(StructField("c", LongType)))
    val parser = spark.sessionState.sqlParser
    forAllSampled(Gen.zip(fileGen, predGen), 300) { case (rows, p) =>
      val nonNull = rows.flatten
      val stats: FileStats.Stats =
        (if (nonNull.nonEmpty)
          Map("c" -> (nonNull.min.toString, nonNull.max.toString))
        else Map.empty[String, (String, String)]) ++
          Map("__nulls_c" ->
            ((rows.size - nonNull.size).toString, rows.size.toString))
      val anyMatch = rows.exists(eval(_, p))
      val kept = FileStats.mightMatch(stats, parser.parseExpression(sqlOf(p)), schema)
      assert(!anyMatch || kept,
        s"UNSOUND PRUNE: pred '${sqlOf(p)}' matches in $rows but stats $stats pruned the file")
    }
  }

  test("fingerprintPairs matches a brute-force hamming reference on random fingerprints") {
    import spark.implicits._
    // the pigeonhole blocking (pairs within radius r share one of r+1
    // chunks) claims EXACTNESS, not recall — pin it against the O(n²)
    // reference across every supported radius on clustered random
    // fingerprints (random bases + 0–4 planted bit flips, so the
    // within-radius population is dense enough to catch a lost pair)
    val rnd = new scala.util.Random(7)
    for (radius <- 0 to 3) {
      val base = Vector.fill(30)(rnd.nextLong())
      val fps: Seq[(Long, Long)] = (0 until 150).map { i =>
        val b = base(rnd.nextInt(base.size))
        val flips = rnd.nextInt(5)
        val fp = (0 until flips).foldLeft(b)((acc, _) =>
          acc ^ (1L << rnd.nextInt(64)))
        (i.toLong, fp)
      }
      val expect = (for {
        (i, fi) <- fps; (j, fj) <- fps if i < j
        h = java.lang.Long.bitCount(fi ^ fj) if h <= radius
      } yield (i, j, h)).toSet
      val got = graft.text.DedupOps
        .fingerprintPairs(fps.toDF("doc_id", "fp"), "doc_id", "fp", radius)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expect, s"radius $radius: blocked join must be exact")
      assert(expect.nonEmpty || radius == 0,
        s"radius $radius produced no reference pairs — fixture too sparse")
    }
  }
}
