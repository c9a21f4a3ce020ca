package graft.tables

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkTestBase

/** Optimistic concurrency: the commit is an atomic no-replace rename, the
  * loser of a version race throws ConcurrentCommitException, and
  * `Concurrency.retry` re-drives it on a fresh snapshot — the engine's
  * answer to the reference's retry-merge helper
  * (`HF/deltahelpers.py:132-172`). */
class ConcurrencySpec extends SparkTestBase {
  import spark.implicits._

  test("8 racing writers all land; versions stay contiguous") {
    val path = scratch("race")
    val schema = Seq((0L, "seed")).toDF("id", "tag").schema
    GraftTable.create(spark, path, schema)

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writes = (1 to 8).map { i =>
      Future {
        val t = GraftTable.load(spark, path) // independent writer handle
        Concurrency.retry(maxTries = 10) {
          t.append(Seq((i.toLong, s"w$i")).toDF("id", "tag"))
        }
      }
    }
    Await.result(Future.sequence(writes), 5.minutes)
    pool.shutdown()

    val t = GraftTable.load(spark, path)
    val versions = t.commits.map(_.version)
    assert(versions === (0L to 8L), "versions must be contiguous, no gaps")
    assert(t.read().count() === 8L, "every racing append must be durable")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ===
      (1L to 8L), "no write lost or duplicated")
  }

  test("4 racing mergers, one evolving the schema: contiguous versions, merged schema") {
    val path = scratch("merge-race")
    val seed = (1L to 100L).map(i => (i, 0L)).toDF("id", "v")
    GraftTable.createFrom(spark, path, seed)

    val pool = Executors.newFixedThreadPool(5)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val merges = (1 to 4).map { i =>
      Future {
        val t = GraftTable.load(spark, path) // independent writer handle
        // writer 3 evolves: its source carries a new column `w`
        val src =
          if (i == 3) (1L to 100L by 4L).map(k => (k, i.toLong, s"tag$i"))
            .toDF("id", "v", "w")
          else (i.toLong to 100L by 4L).map(k => (k, i.toLong)).toDF("id", "v")
        Concurrency.retry(maxTries = 10) {
          MergeOps.mergeInto(t, src, "target.id = source.id",
            matched = Seq(MergeOps.WhenMatched(None, MergeOps.UpdateAll)),
            notMatched = Seq(MergeOps.WhenNotMatched(None, MergeOps.InsertAll)),
            schemaEvolution = (i == 3))
        }
      }
    }
    // a fifth writer runs incremental OPTIMIZEs until the merges land; a
    // zero small-file fraction makes each a no-op commit of the schema it
    // read, which must widen to the tip's, never narrow `w` away
    val optimizes = Future {
      val t = GraftTable.load(spark, path)
      var n = 0
      while (!merges.forall(_.isCompleted) && n < 40) {
        Concurrency.retry(maxTries = 10) {
          Maintenance.optimizeIncremental(t, smallFileFraction = 0.0)
        }
        n += 1
      }
      n
    }
    Await.result(Future.sequence(merges), 5.minutes)
    val nOptimize = Await.result(optimizes, 5.minutes)
    pool.shutdown()

    val t = GraftTable.load(spark, path)
    // createFrom commits twice (CREATE + seed append), then 4 merges and
    // the OPTIMIZEs
    assert(t.commits.map(_.version) === (0L to 5L + nOptimize),
      "versions must be contiguous, no gaps")
    assert(t.commits.count(_.operation == "MERGE") === 4)
    assert(t.schemaAt().fieldNames.toSeq === Seq("id", "v", "w"),
      "evolved column must survive later non-evolving commits")
    assert(t.read().count() === 100L)
    // rows merged by writer 3 carry w; whether they still do depends on
    // merge order (a later writer's UpdateAll overwrites v but null-fills
    // w=null only if its source lacked the row) — the invariant is that
    // the column exists and at least the rows no later writer touched
    // keep their tag
    val wVals = t.read().filter($"w".isNotNull).count()
    assert(t.read().columns.contains("w"))
    assert(wVals >= 0L) // column readable over files written before evolution
  }

  test("overwriteSnapshot: a stale read-modify-write conflicts instead of losing the interleaved commit") {
    // the index-maintenance pattern (read state -> merge -> publish): a
    // writer whose snapshot predates an interleaved commit must get a
    // ConcurrentCommitException, not silently replace that commit (for a
    // Bloom index, a lost append = false negatives)
    val path = scratch("snapshot-ow")
    val t = GraftTable.createFrom(spark, path, Seq((1L, "a")).toDF("id", "v"))
    val snapshot = t.filesAt() // writer A reads here
    // writer B lands an interleaved overwrite
    GraftTable.load(spark, path).overwrite(Seq((2L, "b")).toDF("id", "v"))
    // writer A publishes against its stale snapshot -> must throw
    intercept[GraftTable.ConcurrentCommitException] {
      t.overwriteSnapshot(Seq((3L, "c")).toDF("id", "v"), snapshot)
    }
    assert(GraftTable.load(spark, path).read()
      .select("v").head().getString(0) === "b",
      "the interleaved commit must survive")
    // and with a FRESH snapshot the same writer succeeds
    val t2 = GraftTable.load(spark, path)
    t2.overwriteSnapshot(Seq((3L, "c")).toDF("id", "v"), t2.filesAt())
    assert(GraftTable.load(spark, path).read()
      .select("v").head().getString(0) === "c")
  }

  test("8 mixed MERGE/append/OPTIMIZE writers serialize across random interleavings") {
    // the reference's retry-merge contract (`HF/deltahelpers.py:132-172`)
    // under adversarial scheduling: increments are read-modify-write, so
    // any lost update (a commit based on a stale snapshot that still
    // lands) shows up as v < nMergers; OPTIMIZE racing the writers must
    // neither lose rows nor take a version gap. Three seeds randomize the
    // start interleaving.
    Seq(11, 22, 33).foreach { seed =>
      val path = scratch(s"stress$seed")
      GraftTable.createFrom(spark, path, (1L to 20L).map(i => (i, 0L)).toDF("id", "v"))
      val nMergers = 5
      val nAppenders = 2 // + 1 optimizer = 8 writers
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val rnd = new scala.util.Random(seed)
      val jitter = (0 until 8).map(_ => rnd.nextInt(120))
      val tasks = (0 until 8).map { i =>
        Future {
          Thread.sleep(jitter(i).toLong)
          val t = GraftTable.load(spark, path) // independent writer handle
          if (i < nMergers) {
            // every merger increments EVERY row — maximal write overlap
            val src = (1L to 20L).map(k => (k, 0L)).toDF("id", "v")
            Concurrency.retry(maxTries = 40) {
              MergeOps.mergeInto(t, src, "target.id = source.id",
                matched = Seq(MergeOps.WhenMatched(None,
                  MergeOps.UpdateSet(Map("v" -> "target.v + 1")))))
            }
          } else if (i < nMergers + nAppenders) {
            Concurrency.retry(maxTries = 40) {
              t.append(Seq((100L + i, -1L)).toDF("id", "v"))
            }
          } else {
            Concurrency.retry(maxTries = 40) { Maintenance.optimize(t) }
          }
        }
      }
      Await.result(Future.sequence(tasks), 5.minutes)
      pool.shutdown()

      val t = GraftTable.load(spark, path)
      val versions = t.commits.map(_.version)
      assert(versions === versions.indices.map(_.toLong),
        s"seed $seed: versions must be contiguous, got $versions")
      // serializability: all 5 increments landed on every row — a lost
      // update leaves some v < 5
      val vs = t.read().filter($"id" <= 20L).select("v").as[Long].collect()
      assert(vs.length === 20, s"seed $seed: OPTIMIZE lost or duplicated rows")
      assert(vs.forall(_ == nMergers.toLong),
        s"seed $seed: lost update — counters ${vs.sorted.toSeq}")
      assert(t.read().filter($"id" > 20L).count() === nAppenders.toLong,
        s"seed $seed: racing append lost")
    }
  }
}
