package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tables.GraftTable

class BloomDedupSpec extends SparkTestBase {

  private lazy val corpus = graft.Tables.t(spark, sf, "documents")
    .select("doc_id", "text").cache()

  test("no false negatives and exact verified output") {
    val batch = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" qq fresh qq")).as("text")))
    val bf = BloomDedup.buildFilter(corpus)
    val out = BloomDedup.dedupBatch(bf, corpus, batch).cache()
    // every exact copy must pair with its source (Bloom cannot miss)
    val copies = corpus.filter(col("doc_id") % 9 === 0).count()
    assert(out.filter(col("b_id") === col("c_id") + 500000).count() === copies)
    // no novel doc may appear (exact verify kills fpp survivors)
    assert(out.filter(col("b_id") >= 600000).count() === 0)
    out.unpersist()
  }

  test("persisted sharded index reopens with no corpus member lost") {
    val path = scratch("bloom")
    BloomDedup.build(corpus, path, shards = 4)
    val idx = BloomDedup.load(GraftTable.load(spark, path))
    assert(idx.shards === 4)
    assert(idx.filters.nonEmpty && idx.filters.size <= 4)
    val probe = corpus.select(BloomDedup.fp(col("text")).as("f"))
      .limit(50).collect().map(_.getLong(0))
    probe.foreach(f => assert(idx.mightContain(f),
      "reopened sharded index lost a corpus member"))
  }

  test("sharded probe output equals the single-filter probe output") {
    val batch = corpus.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
    val path = scratch("bloomsh")
    BloomDedup.build(corpus, path, shards = 8)
    val idx = BloomDedup.load(GraftTable.load(spark, path))
    val sharded = BloomDedup.dedupBatch(idx, corpus, batch)
      .orderBy("b_id", "c_id").collect().toSeq
    val single = BloomDedup.dedupBatch(
        BloomDedup.buildFilter(corpus), corpus, batch)
      .orderBy("b_id", "c_id").collect().toSeq
    assert(sharded === single)
    assert(sharded.nonEmpty)
  }

  test("majority-duplicate batch: shuffle-join fallback matches broadcast path") {
    // a re-crawl-heavy batch: ~90% of it already in the corpus, so the
    // verify candidates are batch-bounded (true dups), far beyond any
    // fpp bound — exactly the case where an unconditional broadcast of
    // the candidate text would be wrong at scale
    val batch = corpus.filter(col("doc_id") % 10 < 9)
      .select((col("doc_id") + 800000).as("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") % 10 === 9)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(" zz novel zz")).as("text")))
    val idx = {
      val path = scratch("bloommaj")
      BloomDedup.build(corpus, path, shards = 4)
      BloomDedup.load(GraftTable.load(spark, path))
    }
    val viaBroadcast = BloomDedup.dedupBatch(idx, corpus, batch)
      .orderBy("b_id", "c_id").collect().toSeq
    // threshold 0 forces every candidate down the shuffle-join fallback
    val viaShuffle = BloomDedup.dedupBatch(idx, corpus, batch,
        broadcastMaxCandidates = 0L)
      .orderBy("b_id", "c_id").collect().toSeq
    assert(viaShuffle === viaBroadcast)
    // every duplicate found, no novel doc leaked
    val dups = corpus.filter(col("doc_id") % 10 < 9).count()
    assert(viaShuffle.count(r => r.getLong(0) < 900000) === dups.toInt)
    assert(viaShuffle.forall(_.getLong(0) < 900000))
  }

  test("append merges into shard filters; saturation tracks items vs capacity") {
    val path = scratch("bloomapp")
    val half = corpus.filter(col("doc_id") % 2 === 0)
    val rest = corpus.filter(col("doc_id") % 2 =!= 0)
    val t = BloomDedup.build(half, path, shards = 4)
    val s0 = BloomDedup.saturation(t)
    assert(s0 > 0 && s0 <= 1.0, s"fresh index must be under capacity, got $s0")
    BloomDedup.append(t, rest)
    // no false negatives after the merge: every corpus member still hits
    val idx = BloomDedup.load(t)
    corpus.select(BloomDedup.fp(col("text")).as("f")).collect()
      .foreach(r => assert(idx.mightContain(r.getLong(0)),
        "append lost a member"))
    // items accounting: shard items now cover the whole corpus
    val items = t.read().agg(sum(col("items"))).head().getLong(0)
    assert(items === corpus.count())
    assert(BloomDedup.saturation(t) >= s0)
  }

  test("an index without its capacity property is refused, naming the table") {
    val t0 = BloomDedup.build(corpus.limit(50), scratch("bloomnocap0"), shards = 4)
    val path = scratch("bloomnocap")
    val t = GraftTable.create(spark, path, t0.schemaAt(),
      t0.properties - "graft.bloom.capacity")
    t.append(t0.read(), "BLOOM INDEX BUILD")
    val before = t.currentVersion
    val err = intercept[IllegalArgumentException] {
      BloomDedup.append(t, corpus.limit(10))
    }
    assert(err.getMessage.contains(path) && err.getMessage.contains("graft.bloom.capacity"),
      err.getMessage)
    assert(t.currentVersion === before)
  }

  test("saturated index rebuilds; probe results unchanged; fpp restored") {
    val path = scratch("bloomsat")
    // size the index for a twentieth of the corpus, then append the rest:
    // every shard ends up far past its sized-for capacity
    val seed = corpus.filter(col("doc_id") % 20 === 0)
    val t = BloomDedup.build(seed, path, shards = 4)
    BloomDedup.append(t, corpus.filter(col("doc_id") % 20 =!= 0))
    assert(BloomDedup.saturation(t) > 1.0, "index should be saturated")

    val batch = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 300000).as("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" xx novel xx")).as("text")))
    val before = BloomDedup.dedupBatch(BloomDedup.load(t), corpus, batch)
      .orderBy("b_id", "c_id").collect().toSeq

    assert(BloomDedup.rebuildIfSaturated(t, corpus))
    assert(BloomDedup.saturation(t) <= 1.0,
      "rebuild must restore items <= capacity")
    // idempotent: a healthy index does not rebuild again
    assert(!BloomDedup.rebuildIfSaturated(t, corpus))

    val after = BloomDedup.dedupBatch(BloomDedup.load(t), corpus, batch)
      .orderBy("b_id", "c_id").collect().toSeq
    assert(after === before, "rebuild changed probe results")
    assert(after.nonEmpty)
  }

  test("racing first appends to an EMPTY index lose no fingerprint") {
    // an empty snapshot gives the publish nothing to condition on
    // (removed=Nil is a pure append, never a conflict), so BOTH racers
    // land and the table carries duplicate shard rows — legal by design;
    // every reader must OR-merge them, not Map-collapse to one writer's
    // filter (review finding: collapse = false negatives)
    val path = scratch("bloomrace0")
    val t = BloomDedup.build(corpus.limit(0), path, shards = 4)
    val a = corpus.filter(col("doc_id") % 2 === 0).cache()
    val b = corpus.filter(col("doc_id") % 2 =!= 0).cache()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def run(docs: org.apache.spark.sql.DataFrame): Thread = {
      val th = new Thread(() => {
        barrier.await()
        graft.tables.Concurrency.retry() { BloomDedup.append(t, docs) }
      })
      th.start(); th
    }
    val threads = Seq(run(a), run(b))
    threads.foreach(_.join())
    val idx = BloomDedup.load(t)
    corpus.select(BloomDedup.fp(col("text")).as("f")).collect()
      .foreach(r => assert(idx.mightContain(r.getLong(0)),
        "a racing first append's fingerprints were dropped"))
    // saturation must count BOTH writers' items (summed per shard)
    assert(t.read().agg(sum(col("items"))).head().getLong(0) === corpus.count())
    a.unpersist(); b.unpersist()
  }

  test("interleaved append vs rebuild: conflict + retry converge, no false negatives") {
    // the verdict's end-to-end race: one live writer appending while
    // another rebuilds a saturated index. Both publishes are
    // snapshot-conditioned, so an interleave must surface as a
    // ConcurrentCommitException (never a silent lost update) and retry
    // must converge to an index with zero false negatives.
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    def retryCounting[A](body: => A): A = {
      var out: Option[A] = None
      while (out.isEmpty) {
        try out = Some(body)
        catch { case _: GraftTable.ConcurrentCommitException =>
          conflicts.incrementAndGet(); Thread.sleep(20) }
      }
      out.get
    }
    (1 to 3).foreach { seedRun =>
      val path = scratch(s"bloomrace$seedRun")
      // sized for a twentieth of the corpus → saturated after the append
      val seed = corpus.filter(col("doc_id") % 20 === 0)
      val t = BloomDedup.build(seed, path, shards = 4)
      BloomDedup.append(t, corpus.filter(col("doc_id") % 20 =!= 0))
      assert(BloomDedup.saturation(t) > 1.0)
      // the racing append's docs are IN the corpus the rebuild reads, so
      // the final index must contain them regardless of interleave order
      val extra = corpus.filter(col("doc_id") % 13 === seedRun).cache()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val rebuilder = new Thread(() => {
        barrier.await()
        retryCounting { BloomDedup.rebuildIfSaturated(t, corpus) }
      })
      val appender = new Thread(() => {
        barrier.await()
        retryCounting { BloomDedup.append(t, extra) }
      })
      rebuilder.start(); appender.start()
      rebuilder.join(); appender.join()
      val idx = BloomDedup.load(t)
      corpus.select(BloomDedup.fp(col("text")).as("f")).collect()
        .foreach(r => assert(idx.mightContain(r.getLong(0)),
          s"run $seedRun: interleaved append/rebuild lost a member"))
      // the commit log must be gap-free (every version exactly once)
      val versions = t.history.select("version").collect().map(_.getLong(0)).sorted
      assert(versions === (versions.min to versions.max),
        s"run $seedRun: version gap under racing writers")
      extra.unpersist()
    }
    // across 3 seeded runs with a start barrier, at least one interleave
    // is overwhelmingly likely to collide; if none did, the pin still
    // holds (no false negatives) — log it rather than flake
    info(s"observed ${conflicts.get()} ConcurrentCommitException(s) across 3 runs")
  }

  test("bloom prefilter rejects most non-members") {
    val bf = BloomDedup.buildFilter(corpus, fpp = 0.01)
    // 1000 fingerprints that are not in the corpus: at 1% fpp the
    // filter should reject the overwhelming majority (allow 5x slack)
    val hits = (1 to 1000).count(i => bf.mightContainLong(0x9e3779b97f4a7c15L * i))
    assert(hits <= 50, s"false-positive rate implausibly high: $hits/1000")
  }
}
