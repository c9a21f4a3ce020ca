package graft.tables

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class IncrementalMvSpec extends SparkTestBase {

  private def orders = Tables.t(spark, sf, "orders")

  private def expect(src: GraftTable): Map[String, (Long, Double)] = src.read()
    .groupBy("o_orderstatus")
    .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("sum_o_totalprice"))
    .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private def got(view: GraftTable): Map[String, (Long, Double)] = view.read()
    .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("incremental refresh equals full recompute across appends") {
    val src = GraftTable.createFrom(spark, scratch("mvsrc"),
      orders.filter(col("o_orderkey") % 3 === 0))
    val view = IncrementalMv.create(spark, scratch("mv"),
      src, Seq("o_orderstatus"), Seq("o_totalprice"))
    assert(got(view).keySet === expect(src).keySet)

    src.append(orders.filter(col("o_orderkey") % 3 === 1))
    val r1 = IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    assert(r1.incremental, "append-only delta must take the incremental path")
    val (g1, e1) = (got(view), expect(src))
    assert(g1.keySet === e1.keySet)
    g1.foreach { case (k, (c, s)) =>
      assert(c === e1(k)._1)
      assert(math.abs(s - e1(k)._2) < 1e-6, k)
    }

    // idempotent when nothing changed
    val r2 = IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    assert(r2.incremental && got(view) === g1)
  }

  test("appliedVersion rides in the same commit as the data change") {
    val src = GraftTable.createFrom(spark, scratch("mvsrc3"), orders)
    val view = IncrementalMv.create(spark, scratch("mv3"),
      src, Seq("o_orderstatus"), Seq("o_totalprice"))
    src.append(orders.limit(500))
    val before = view.currentVersion
    IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    // exactly one commit: the MERGE carries the new watermark — no separate
    // SET TBLPROPERTIES that a crash could split off
    assert(view.currentVersion === before + 1)
    val c = view.commitAt(view.currentVersion)
    assert(c.operation === "MERGE")
    assert(c.properties("graft.mv.appliedVersion") === src.currentVersion.toString)
  }

  test("a view without cnt_<col> is refused, naming the missing columns") {
    val src = GraftTable.createFrom(spark, scratch("mvsrc4"),
      orders.filter(col("o_orderkey") % 2 === 0))
    val noCounts = src.read().groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("sum_o_totalprice"))
    val view = GraftTable.createFrom(spark, scratch("mv4"), noCounts)
    view.setProperties(Map("graft.mv.appliedVersion" -> "-1"))
    val before = view.currentVersion
    val err = intercept[IllegalArgumentException] {
      IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    }
    assert(err.getMessage.contains(view.path) && err.getMessage.contains("cnt_o_totalprice"),
      err.getMessage)
    assert(view.currentVersion === before, "a refused refresh commits nothing")
  }

  test("non-append history falls back to a full recompute") {
    val src = GraftTable.createFrom(spark, scratch("mvsrc2"), orders)
    val view = IncrementalMv.create(spark, scratch("mv2"),
      src, Seq("o_orderstatus"), Seq("o_totalprice"))
    MergeOps.delete(src, "o_totalprice > 100000")
    val r = IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    assert(!r.incremental, "a delete must force the full path")
    val (g, e) = (got(view), expect(src))
    assert(g.keySet === e.keySet)
    g.foreach { case (k, (c, s)) =>
      assert(c === e(k)._1); assert(math.abs(s - e(k)._2) < 1e-6)
    }
  }
}
