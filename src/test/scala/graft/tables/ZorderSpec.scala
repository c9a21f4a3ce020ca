package graft.tables

import graft.{SparkTestBase, Tables}

/** Multi-column Z-order layout: the interleaved z-curve must (a) preserve
  * the data exactly and (b) prune a 2-column box predicate to no more
  * files than the lexicographic range-cluster layout — the whole point of
  * interleaving is that files subdivide every clustering dimension, not
  * just the leading one. */
class ZorderSpec extends SparkTestBase {

  private def boxPred(lo1: Long, hi1: Long, lo2: Long, hi2: Long) =
    s"l_orderkey >= $lo1 AND l_orderkey <= $hi1 AND l_partkey >= $lo2 AND l_partkey <= $hi2"

  test("2-column interleaved z-order preserves data and prunes box queries") {
    val li = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val expected = li.count()

    def layout(interleave: Boolean): GraftTable = {
      val t = GraftTable.createFrom(spark, scratch(s"zorder-$interleave"), li)
      t.setProperties(Map("graft.targetFileSize" -> (2 * 1024).toString))
      Maintenance.optimize(t, zorderBy = Seq("l_orderkey", "l_partkey"),
        interleave = interleave)
      t
    }
    val z = layout(interleave = true)
    val r = layout(interleave = false)

    // data unchanged by the rewrite (same rows, same aggregate)
    assert(z.read().count() === expected)
    assert(z.read().agg(org.apache.spark.sql.functions.sum("l_orderkey")).head().getLong(0) ===
      r.read().agg(org.apache.spark.sql.functions.sum("l_orderkey")).head().getLong(0))

    // boxes over ~1/4 of each dimension at several offsets: any single
    // box can land adversarially on a quad boundary (where the z-curve
    // fragments and lexicographic happens to win), so the comparison is
    // aggregate files read over a spread of boxes — the honest model of a
    // box-query workload
    val stats = li.agg(
      org.apache.spark.sql.functions.min("l_orderkey"),
      org.apache.spark.sql.functions.max("l_orderkey"),
      org.apache.spark.sql.functions.min("l_partkey"),
      org.apache.spark.sql.functions.max("l_partkey")).head()
    val (okLo, okHi, pkLo, pkHi) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    def pct(lo: Long, hi: Long, f: Double): Long = lo + ((hi - lo) * f).toLong
    val preds = Seq(0.05, 0.3, 0.55, 0.7).map { f =>
      boxPred(pct(okLo, okHi, f), pct(okLo, okHi, f + 0.25),
        pct(pkLo, pkHi, f), pct(pkLo, pkHi, f + 0.25))
    }
    val zTotal = z.pruneFiles(preds.head)._2
    val zSum = preds.map(p => z.pruneFiles(p)._1.size).sum
    val rSum = preds.map(p => r.pruneFiles(p)._1.size).sum
    info(s"files=$zTotal zSum=$zSum rSum=$rSum")
    assert(zTotal > 4, s"layout produced too few files to test pruning ($zTotal)")
    assert(zSum < rSum,
      s"z-order read $zSum files over ${preds.size} boxes, range-cluster $rSum")
    preds.foreach { p =>
      assert(z.read().filter(p).count() ===
        li.filter(org.apache.spark.sql.functions.expr(p)).count())
      assert(r.read().filter(p).count() ===
        li.filter(org.apache.spark.sql.functions.expr(p)).count())
    }
  }

  test("OPTIMIZE WHERE rewrites exactly the in-scope files and preserves content") {
    import org.apache.spark.sql.functions._
    val o = Tables.t(spark, sf, "orders")
    val cut = o.agg(max("o_orderkey")).head().getLong(0) / 2
    val t = GraftTable.create(spark, scratch("optwhere"), o.schema)
    t.append(o.filter(col("o_orderkey") <= cut).repartition(5))
    t.append(o.filter(col("o_orderkey") > cut).coalesce(1))
    def rel(f: String) = java.nio.file.Paths.get(t.path)
      .relativize(java.nio.file.Paths.get(f)).toString
    val low = t.pruneFiles(s"o_orderkey <= $cut")._1.toSet
    val high = t.pruneFiles(s"o_orderkey > $cut")._1.toSet
    assert(low.size === 5 && low.intersect(high).isEmpty)

    val c = Maintenance.optimizeWhere(t, s"o_orderkey <= $cut",
      zorderBy = Seq("o_orderkey"))
    // commit-log pin: removed ≡ the in-scope files, nothing else
    assert(c.removedFiles.toSet === low.map(rel))
    assert(high.subsetOf(t.filesAt().toSet), "out-of-scope files untouched")
    assert(c.operationParameters("predicate") === s"o_orderkey <= $cut")
    // content identical to the source
    assert(t.read().count() === o.count())
    assert(t.read().agg(sum("o_orderkey")).head().getLong(0) ===
      o.agg(sum("o_orderkey")).head().getLong(0))
    // the scoped slice is now range-clustered: a point probe prunes within it
    val (kept, total) = t.pruneFiles("o_orderkey = 1")
    assert(kept.size < total)

    // a predicate matching <2 files is a recorded no-op
    val before = t.filesAt().toSet
    val noop = Maintenance.optimizeWhere(t, "o_orderkey = 1")
    assert(noop.addedFiles.isEmpty && noop.removedFiles.isEmpty)
    assert(t.filesAt().toSet === before)
  }

  test("OPTIMIZE WHERE materializes rewritten-slice DVs and compacts the sidecars") {
    import org.apache.spark.sql.functions._
    val o = Tables.t(spark, sf, "orders")
    val cut = o.agg(max("o_orderkey")).head().getLong(0) / 2
    val t = GraftTable.create(spark, scratch("optwheredv"), o.schema,
      Map("graft.deletionVectors" -> "true"))
    t.append(o.filter(col("o_orderkey") <= cut).repartition(4))
    t.append(o.filter(col("o_orderkey") > cut).repartition(2))
    MergeOps.delete(t, "o_custkey = 1") // DV rows across both slices
    val expected = t.read().count()
    val dvRowsBefore = spark.read.parquet(t.dvAt(): _*).count()
    Maintenance.optimizeWhere(t, s"o_orderkey <= $cut", Seq("o_orderkey"))
    // the rewrite applied the DVs of the files it read; untouched files'
    // DV entries stay live — the visible row set never changes
    assert(t.read().count() === expected)
    assert(t.read().filter(col("o_custkey") === 1).count() === 0)
    // sidecars are COMPACTED, not accumulated: one fresh sidecar holding
    // only the untouched slice's entries (rewritten-file entries are
    // dead and dropped) — a table maintained by partial OPTIMIZEs alone
    // must not grow its DV file list (review finding)
    val dvAfter = t.dvAt()
    assert(dvAfter.size === 1, s"expected one compacted sidecar, got $dvAfter")
    val dvRowsAfter = spark.read.parquet(dvAfter: _*).count()
    assert(dvRowsAfter < dvRowsBefore && dvRowsAfter > 0,
      s"surviving entries only: $dvRowsBefore -> $dvRowsAfter")
    // a second scoped pass over the OTHER slice clears the rest
    Maintenance.optimizeWhere(t, s"o_orderkey > $cut", Seq("o_orderkey"))
    assert(t.dvAt().isEmpty, "all entries dead after both slices rewrote")
    assert(t.read().count() === expected)
  }

  test("OPTIMIZE WHERE rejects an unparsable predicate instead of rewriting everything") {
    val li = Tables.t(spark, sf, "lineitem").limit(200)
    val t = GraftTable.createFrom(spark, scratch("optwherebad"), li)
    val before = t.currentVersion
    val e = intercept[IllegalArgumentException] {
      // the regex-swallowed-ZORDER shape: garbage reaches the predicate
      Maintenance.optimizeWhere(t, "l_orderkey > 1 ZORDER BY (substr(b,1,3))")
    }
    assert(e.getMessage.contains("cannot parse OPTIMIZE WHERE predicate"))
    assert(t.currentVersion === before, "no commit on a rejected predicate")
  }
}
