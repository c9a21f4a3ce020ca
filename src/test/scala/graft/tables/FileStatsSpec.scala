package graft.tables

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class FileStatsSpec extends SparkTestBase {

  test("ZORDER + stats skipping: point lookup prunes most files") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("skip"), li)
    // fragment, then cluster into 8 range files on the lookup key
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
    val total = t.filesAt().size
    assert(total >= 4, s"expected several files, got $total")

    val (kept, all) = t.pruneFiles("l_orderkey = 42")
    assert(all === total)
    assert(kept.size <= math.max(1, total / 4),
      s"point lookup should prune most of $total files, kept ${kept.size}")

    // correctness: pruned read == unpruned filter
    val a = t.read().filter("l_orderkey = 42").count()
    val b = li.filter(col("l_orderkey") === 42).count()
    assert(a === b && a > 0)
  }

  test("range predicate prunes and stays correct") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("range"), li)
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_quantity"))
    val (kept, all) = t.pruneFiles("l_quantity <= 3")
    assert(kept.size < all)
    assert(t.read().filter("l_quantity <= 3").count() ===
      li.filter(col("l_quantity") <= 3).count())
  }

  test("repeated read().filter and a write never replay the log") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("statscache"), li)
    t.pruneFiles("l_orderkey = 1") // warm the log cache
    val before = Snapshot.replays.get()
    (1 to 5).foreach(i => t.read().filter(s"l_orderkey = $i").count())
    // a write extends the cached tip snapshot by its own files
    t.append(li.limit(10))
    t.pruneFiles("l_orderkey = 1")
    t.pruneFiles("l_orderkey = 2")
    assert(Snapshot.replays.get() === before,
      "warm reads and a commit must extend the tip snapshot, not re-fold the log")
  }

  test("pruneFiles after restoreTo(v) keeps the files it kept at v") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("restoreprune"), li)
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
    val v = t.currentVersion
    val (keptAtV, allAtV) = t.pruneFiles("l_orderkey = 42")
    assert(keptAtV.size < allAtV)
    // rewrite every file away, then bring version v's files back
    Maintenance.optimize(t, zorderBy = Seq("l_quantity"))
    assert(t.filesAt().toSet.intersect(keptAtV.toSet).isEmpty)
    t.restoreTo(v)
    assert(t.pruneFiles("l_orderkey = 42") === ((keptAtV, allAtV)),
      "restored files must carry their stats back into the snapshot")
    assert(t.read().filter("l_orderkey = 42").count() ===
      li.filter(col("l_orderkey") === 42).count())
  }

  test("unknown predicate shapes never prune (conservative)") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("cons"), li)
    val (kept, all) = t.pruneFiles("l_returnflag LIKE 'A%'")
    assert(kept.size === all)
    val (kept2, all2) = t.pruneFiles("l_quantity + 1 = 5")
    assert(kept2.size === all2)
  }

  test("BETWEEN prunes exactly like its two-comparison desugaring") {
    // Spark 4's bare parseExpression keeps BETWEEN as an UNRESOLVED
    // between(x, lo, hi) call — it used to fall through to the
    // conservative keep-everything path (review finding: a 3-D box
    // workload written with BETWEEN read 15/15 files)
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("btwprune"), li)
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
    val total = t.filesAt().size
    val viaBetween = t.pruneFiles("l_orderkey BETWEEN 40 AND 60")._1.toSet
    val viaCmp = t.pruneFiles("l_orderkey >= 40 AND l_orderkey <= 60")._1.toSet
    assert(viaBetween == viaCmp, "BETWEEN must prune like >= AND <=")
    assert(viaBetween.size < total, "the narrow range must actually prune")
    val a = t.read().filter("l_orderkey BETWEEN 40 AND 60").count()
    val b = li.filter(col("l_orderkey").between(40, 60)).count()
    assert(a === b && a > 0)
    // NOT BETWEEN stays conservative (unknown shape)
    val (kept, all) = t.pruneFiles("l_orderkey NOT BETWEEN 40 AND 60")
    assert(kept.size === all)
  }

  test("IS NULL / IS NOT NULL prune on footer null counts") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // unit semantics on a crafted stats map first
    val schema = StructType(Seq(StructField("c", LongType)))
    val isNull = spark.sessionState.sqlParser.parseExpression("c IS NULL")
    val isNotNull = spark.sessionState.sqlParser.parseExpression("c IS NOT NULL")
    def m(stats: FileStats.Stats, p: org.apache.spark.sql.catalyst.expressions.Expression) =
      FileStats.mightMatch(stats, p, schema)
    assert(!m(Map("__nulls_c" -> ("0", "100")), isNull), "zero nulls ⇒ IS NULL prunes")
    assert(m(Map("__nulls_c" -> ("5", "100")), isNull))
    assert(m(Map.empty, isNull), "no null stats ⇒ conservative keep")
    assert(!m(Map("__nulls_c" -> ("100", "100")), isNotNull), "all null ⇒ IS NOT NULL prunes")
    assert(m(Map("__nulls_c" -> ("99", "100")), isNotNull))
    assert(m(Map("__nulls_c" -> ("garbage", "100")), isNull), "unparseable ⇒ keep")

    // end-to-end: two appends — one batch with the column entirely NULL,
    // one entirely non-NULL — land in disjoint files
    val o = Tables.t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    val allNull = o.limit(200).withColumn("o_end", lit(null).cast("timestamp"))
    val nonNull = o.limit(200).withColumn("o_end", col("o_orderdate"))
    val t = GraftTable.create(spark, scratch("nullprune"), allNull.schema)
    t.append(allNull)
    val nullFiles = t.filesAt().toSet
    t.append(nonNull)
    val allFiles = t.filesAt().toSet
    val (keptNull, total) = t.pruneFiles("o_end IS NULL")
    assert(keptNull.toSet == nullFiles, "IS NULL must keep exactly the null-bearing files")
    assert(keptNull.size < total)
    val (keptNotNull, _) = t.pruneFiles("o_end IS NOT NULL")
    assert(keptNotNull.toSet == (allFiles -- nullFiles),
      "IS NOT NULL must skip the all-null files")
    // correctness: pruned reads equal unpruned filters
    assert(t.read().filter("o_end IS NULL").count() == 200)
    assert(t.read().filter("o_end IS NOT NULL").count() == 200)
  }

  test("a real column named __nulls_<x> keeps its min/max and disables x's null pruning") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // harvest: the real column's min/max must survive the collision
    val df = spark.range(100).select(
      col("id").as("x"), (col("id") + 200).as("__nulls_x"))
    val t = GraftTable.createFrom(spark, scratch("nullclash"), df.coalesce(1))
    val st = t.statsAt().values.head
    assert(st("__nulls_x") === (("200", "299")),
      s"real column min/max must win the key: ${st("__nulls_x")}")
    // mightMatch: pruning on the REAL column works off its true range...
    val (kept, total) = t.pruneFiles("__nulls_x = 250")
    assert(kept.size === total, "the file containing 250 must be kept")
    assert(t.read().filter("__nulls_x = 250").count() === 1)
    // ...and IS NULL on x refuses to prune (ambiguous key — schema guard)
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("__nulls_x", LongType)))
    val isNull = spark.sessionState.sqlParser.parseExpression("x IS NULL")
    assert(FileStats.mightMatch(Map("__nulls_x" -> ("0", "100")), isNull, schema),
      "with a shadowing real column the null-count key is untrusted")
  }

  test("distributed footer harvest returns the same map as the driver pool") {
    val li = Tables.t(spark, sf, "lineitem")
      .withColumn("l_nullable",
        when(col("l_orderkey") % 7 === 0, col("l_quantity")))
    val t = GraftTable.createFrom(spark, scratch("distharv"), li.repartition(6))
    val files = t.filesAt()
    assert(files.size >= 4)
    val viaDriver = FileStats.harvestWithRows(spark, files)
    val viaJob = FileStats.harvestDistributed(spark, files)
    assert(viaJob == viaDriver,
      "the mapPartitions harvest must be byte-identical to the driver pool's")
    // and the stats carry null counts for the nullable column
    assert(viaDriver.values.exists(_._2.contains("__nulls_l_nullable")))
  }

  test("harvestWithRows returns the same map from its driver pool and its Spark job") {
    val li = Tables.t(spark, sf, "lineitem")
      .withColumn("l_nullable",
        when(col("l_orderkey") % 7 === 0, col("l_quantity")))
    val t = GraftTable.createFrom(spark, scratch("harvcut"), li.repartition(6))
    val files = t.filesAt()
    assert(files.size >= 4 && files.size < FileStats.DistributedHarvestFiles)
    val sc = spark.sparkContext
    def jobsOf(body: => Map[String, (Long, FileStats.Stats)]) = {
      val g = s"harvest-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(g, "harvest")
      val out = try body finally sc.clearJobGroup()
      (out, sc.statusTracker.getJobIdsForGroup(g).length)
    }
    val (viaPool, poolJobs) = jobsOf(FileStats.harvestWithRows(spark, files))
    val (viaJob, jobJobs) = jobsOf(FileStats.harvestWithRows(spark, files, distThreshold = 4))
    assert(poolJobs === 0 && jobJobs > 0, s"pool ran $poolJobs jobs, distributed $jobJobs")
    assert(viaJob == viaPool)
    assert(viaPool.values.exists(_._2.contains("__nulls_l_nullable")))
  }

  test("IN-list and OR predicates prune to the union of their members' files") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("inprune"), li)
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
    val total = t.filesAt().size
    val single1 = t.pruneFiles("l_orderkey = 42")._1.toSet
    val single2 = t.pruneFiles("l_orderkey = 5000")._1.toSet
    val inKept = t.pruneFiles("l_orderkey IN (42, 5000)")._1.toSet
    assert(inKept == (single1 ++ single2),
      s"IN must keep exactly the union of its members' files")
    assert(inKept.size < total, "IN over two keys must still prune")
    val orKept = t.pruneFiles("l_orderkey = 42 OR l_orderkey = 5000")._1.toSet
    assert(orKept == inKept, "OR of equalities must prune like the IN form")
    // correctness through the pruning scan
    val a = t.read().filter("l_orderkey IN (42, 5000)").count()
    val b = li.filter(col("l_orderkey").isin(42, 5000)).count()
    assert(a === b && a > 0)
    // conservative on non-literal members
    val (kept3, all3) = t.pruneFiles("l_orderkey IN (l_partkey, 5)")
    assert(kept3.size === all3)
  }

  test("a malformed predicate throws from pruneFiles, and DELETE commits nothing") {
    val t = GraftTable.createFrom(spark, scratch("badpred"), Tables.t(spark, sf, "nation"))
    val v = t.currentVersion
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      t.pruneFiles("n_nationkey = = 5")
    }
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      MergeOps.delete(t, "n_nationkey = = 5")
    }
    assert(t.currentVersion === v)
  }

  test("partition values that need path escaping prune by their value") {
    import spark.implicits._
    val df = Seq(("a:b", 1), ("c/d", 2), ("e%f", 3), (null, 4)).toDF("k", "v")
    val t = GraftTable.create(spark, scratch("escprune"), df.schema,
      Map("graft.partitionBy" -> "k"))
    t.append(df)
    assert(t.filesAt().exists(_.contains("__part_k=a%3Ab")), t.filesAt())
    // the null partition's all-null k has no bounds, so every probe keeps it
    val nullPart = t.filesAt().filter(_.contains("__HIVE_DEFAULT_PARTITION__")).toSet
    assert(nullPart.size === 1)
    for (k <- Seq("a:b", "c/d", "e%f")) {
      assert((t.pruneFiles(s"k = '$k'")._1.toSet -- nullPart).size === 1, k)
      assert(t.read().filter(col("k") === k).select("v").as[Int].collect().toSeq.size === 1, k)
    }
    assert(t.read().filter(col("k").isNull).count() === 1)
  }

  test("a string column compared with a number keeps files of numeric strings") {
    import spark.implicits._
    val t = GraftTable.createFrom(spark, scratch("strnum"),
      Seq("05", "06").toDF("s").coalesce(1))
    // Spark casts s to a number: "05" = 5
    assert(t.pruneFiles("s = 5")._1.size === 1)
    assert(t.read().filter("s = 5").count() === 1)
    assert(t.pruneFiles("s = '5'")._1.isEmpty, "a string literal still prunes")
  }
}
