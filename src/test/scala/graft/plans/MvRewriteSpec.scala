package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tables.{GraftTable, IncrementalMv}

/** MV-rewrite mechanism pins: the rewrite fires exactly when the view
  * is fresh and the aggregate is structurally rewritable, never
  * changes results, and scans the view's files instead of the source's. */
class MvRewriteSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterEach {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** source over orders-like rows + fresh registered view. */
  private def fixture(tag: String): (GraftTable, GraftTable) = {
    val o = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
    val src = GraftTable.createFrom(spark, scratch(s"$tag-src"), o)
    val view = IncrementalMv.create(spark, scratch(s"$tag-view"), src,
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
    MvRewrite.enable(spark)
    MvRewrite.register(src, view,
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
    (src, view)
  }

  override def afterEach(): Unit = { MvRewrite.clear(); super.afterEach() }

  test("fresh view: count/sum/avg rewrites to a view scan, results identical") {
    val (src, _) = fixture("mv1")
    val q = src.read().groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"),
        avg("o_totalprice").as("a"))
    val p = planOf(q)
    assert(p.contains("mv1-view") && !p.contains("mv1-src"),
      s"must scan the view:\n$p")
    MvRewrite.clear()
    val direct = src.read().groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"),
        avg("o_totalprice").as("a"))
      .orderBy("o_orderstatus", "o_orderpriority").collect().toSeq
    assert(q.orderBy("o_orderstatus", "o_orderpriority").collect().toSeq
      == direct)
  }

  test("subset grouping rolls the view up; superset/other grouping does not rewrite") {
    val (src, _) = fixture("mv2")
    val sub = src.read().groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("s"))
    assert(planOf(sub).contains("mv2-view"), "subset keys must rewrite")
    // grouping by a non-key column cannot be served by the view
    val other = src.read().groupBy("o_custkey")
      .agg(sum("o_totalprice").as("s"))
    assert(!planOf(other).contains("mv2-view"), "non-key grouping must not rewrite")
  }

  test("staleness disables the rewrite; refresh re-enables it") {
    val (src, view) = fixture("mv3")
    def q = src.read().groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(planOf(q).contains("mv3-view"))
    // a commit the view has not applied makes the rewrite WRONG — it
    // must silently turn off, and results must track the new data
    src.append(graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .limit(10))
    val stale = q
    assert(!planOf(stale).contains("mv3-view"), "stale view must not serve")
    val nAfter = stale.agg(sum("n")).head().getLong(0)
    assert(nAfter == src.read().count(), "stale path must read fresh source")
    IncrementalMv.refresh(src, view,
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
    assert(planOf(q).contains("mv3-view"), "refresh must re-enable")
    assert(q.agg(sum("n")).head().getLong(0) == nAfter)
  }

  test("avg divides by the non-null count: NULL groups exact through the rewrite") {
    import spark.implicits._
    val df = Seq(
      ("a", Option(10.0)), ("a", Option.empty[Double]), ("a", Option(20.0)),
      ("b", Option.empty[Double]), ("b", Option.empty[Double]), // all-NULL group
      ("c", Option(7.0))).toDF("k", "v")
    val src = GraftTable.createFrom(spark, scratch("mv5-src"), df)
    val view = IncrementalMv.create(spark, scratch("mv5-view"), src,
      Seq("k"), Seq("v"))
    MvRewrite.enable(spark)
    MvRewrite.register(src, view, Seq("k"), Seq("v"))
    // def: each use re-lists the source's CURRENT files (a val would pin
    // the pre-append file list and dodge both the rewrite and the append)
    def q = src.read().groupBy("k")
      .agg(avg("v").as("a"), sum("v").as("s"))
    assert(planOf(q).contains("mv5-view"), s"must rewrite:\n${planOf(q)}")
    val got = q.orderBy("k").collect()
    // avg skips NULLs: a = (10+20)/2, NOT 30/3 — the sum/count(*) bug
    assert(got(0).getDouble(1) == 15.0, s"avg must divide by non-null count, got ${got(0)}")
    // all-NULL group: avg AND sum read NULL, not 0
    assert(got(1).isNullAt(1) && got(1).isNullAt(2), s"all-NULL group must stay NULL, got ${got(1)}")
    assert(got(2).getDouble(1) == 7.0)
    // same invariants through the incremental MERGE path (whose partial
    // fold coalesces NULL sums to 0 — cnt_v restores the NULL at read)
    src.append(Seq(("b", Option.empty[Double]), ("c", Option(9.0))).toDF("k", "v"))
    IncrementalMv.refresh(src, view, Seq("k"), Seq("v"))
    val got2 = q.orderBy("k").collect()
    assert(planOf(q).contains("mv5-view"))
    assert(got2(1).isNullAt(1) && got2(1).isNullAt(2),
      s"all-NULL group must stay NULL after a merge refresh, got ${got2(1)}")
    assert(got2(2).getDouble(1) == 8.0, s"got ${got2(2)}")
  }

  test("count(NULL) is 0 per group, never served by the view's cnt") {
    val (src, _) = fixture("mv6")
    val q = src.read().groupBy("o_orderstatus")
      .agg(count(lit(null)).as("n"))
    assert(!planOf(q).contains("mv6-view"), "count(NULL) must not rewrite")
    assert(q.collect().forall(_.getLong(1) == 0L))
  }

  test("decimal avg keeps its result type: no double expression under the original exprId") {
    val o = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderstatus").as("k"),
        col("o_totalprice").cast("decimal(12,2)").as("v"))
    val src = GraftTable.createFrom(spark, scratch("mv7-src"), o)
    val view = IncrementalMv.create(spark, scratch("mv7-view"), src,
      Seq("k"), Seq("v"))
    MvRewrite.enable(spark)
    MvRewrite.register(src, view, Seq("k"), Seq("v"))
    val q = src.read().groupBy("k").agg(avg("v").as("a"))
    assert(!planOf(q).contains("mv7-view"), "decimal avg must not rewrite")
    // and the untouched plan still answers correctly
    assert(q.count() > 0)
  }

  test("snapshot cache keeps one (latest) version per source; unregister evicts") {
    val (src, view) = fixture("mv8")
    def fire(): Unit = src.read().groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("s")).queryExecution.executedPlan
    fire() // populates the cache at the current version
    val key = MvRewrite.cachedSnapshotVersions.keys
      .find(_.contains("mv8-src")).getOrElse(fail("no cache entry after a rewrite"))
    assert(MvRewrite.cachedSnapshotVersions(key) == src.currentVersion)
    // append + refresh, re-fire: the cache must hold ONLY the new
    // version (a long-lived session on a frequently-appended source
    // must not accumulate one file-set per version — review finding)
    val v0 = src.currentVersion
    src.append(graft.Tables.t(spark, "/root/testdata/sf0.001", "orders").limit(100))
    IncrementalMv.refresh(src, view,
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
    fire()
    assert(MvRewrite.cachedSnapshotVersions(key) == src.currentVersion)
    assert(src.currentVersion != v0)
    assert(MvRewrite.cachedSnapshotVersions.count(_._1.contains("mv8-src")) == 1)
    MvRewrite.unregister(src)
    assert(!MvRewrite.cachedSnapshotVersions.contains(key),
      "unregister must evict the source's snapshot entry")
  }

  test("non-rewritable shapes stay untouched: distinct, max, filtered scans, other tables") {
    val (src, _) = fixture("mv4")
    val d = src.read().groupBy("o_orderstatus")
      .agg(countDistinct("o_custkey").as("n"))
    assert(!planOf(d).contains("mv4-view"), "DISTINCT must not rewrite")
    val m = src.read().groupBy("o_orderstatus")
      .agg(max("o_totalprice").as("m"))
    assert(!planOf(m).contains("mv4-view"), "max must not rewrite")
    val f = src.read().filter(col("o_totalprice") > 1000)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!planOf(f).contains("mv4-view"), "a filtered scan must not rewrite")
    val unrelated = graft.Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!planOf(unrelated).contains("mv4-view"),
      "a different scan (raw testdata) must not rewrite")
  }

  test("a source under a path with a space rewrites: the scan's URIs decode to its files") {
    val (src, _) = fixture("mv sp")
    val q = src.read().groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val p = planOf(q)
    assert(p.contains("mv sp-view") && !p.contains("mv sp-src"), s"must scan the view:\n$p")
    assert(q.agg(sum("n")).head().getLong(0) == src.read().count())
  }

  test("a view without cnt_<col> is refused at register, naming the missing columns") {
    val o = graft.Tables.t(spark, sf, "orders")
    val src = GraftTable.createFrom(spark, scratch("mv5-src"), o)
    val view = GraftTable.createFrom(spark, scratch("mv5-view"), src.read()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("sum_o_totalprice")))
    val err = intercept[IllegalArgumentException] {
      MvRewrite.register(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
    }
    assert(err.getMessage.contains(view.path) && err.getMessage.contains("cnt_o_totalprice"),
      err.getMessage)
    assert(MvRewrite.cachedSnapshotVersions.isEmpty)
    MvRewrite.enable(spark)
    val q = src.read().groupBy("o_orderstatus").agg(sum("o_totalprice").as("s"))
    assert(!planOf(q).contains("mv5-view"), "a refused view is never registered")
  }
}
