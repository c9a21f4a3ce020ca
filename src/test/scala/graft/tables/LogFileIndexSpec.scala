package graft.tables

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkTestBase, Tables}
import graft.tools.Prof

/** Snapshot reads plan from the commit log: `LogFileIndex` takes the
  * live file list as given, so planning a read starts no listing job,
  * its `_metadata.file_path` matches what a listed read reports (DV
  * records keep anti-joining), two reads of one snapshot are the same
  * plan for the cache manager, and the scan skips files by the
  * snapshot's stats without changing any result. */
class LogFileIndexSpec extends SparkTestBase {

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), (col("id") % 7).as("band"),
      concat(lit("doc "), col("id").cast("string")).as("text"))

  /** Table of `10 * nFiles` rows in `nFiles` live files. */
  private def manyFiles(tag: String, nFiles: Int,
      props: Map[String, String] = Map.empty): GraftTable = {
    val t = GraftTable.create(spark, scratch(tag), rows(0).schema, props)
    t.append(rows(10 * nFiles).repartition(nFiles))
    t
  }

  /** Spark jobs started on this thread while `body` runs. Listener
    * events arrive asynchronously but in order, so a marker job run
    * after `body` flushes every job start `body` caused. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"lfi-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(group + "-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-end"), "listener never saw the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("planning a read of 45 live files starts no Spark job") {
    val t = manyFiles("lfi-many", 45)
    assert(t.filesAt().size == 45)
    val jobs = jobsDuring {
      t.read().filter(col("band") === 3).queryExecution.executedPlan
    }
    assert(jobs == 0, s"read planning must not list the files: $jobs job(s)")
    assert(t.read().count() == 450)
  }

  test("planning a read of a table with 40 live DV files starts no Spark job") {
    val t = manyFiles("lfi-dv", 4, Map("graft.deletionVectors" -> "true"))
    // one DV sidecar per deleted row, as 40 single-row DELETEs leave them
    val dvFiles = (0 until 40).flatMap { i =>
      t.writeDv(t.readFilesWithPos(t.filesAt()).filter(col("doc_id") === i)
        .select(GraftTable.DvFileCol, GraftTable.DvPosCol).coalesce(1))._1
    }
    t.commit("DELETE", Nil, Nil, t.schemaAt(), addedDv = dvFiles)
    assert(t.dvAt().size == 40)
    val jobs = jobsDuring(t.read().queryExecution.executedPlan)
    assert(jobs == 0, s"read planning must not list the files: $jobs job(s)")
    assert(t.read().count() == 0)
  }

  test("_metadata.file_path matches a listed read under __part_k=v and a space") {
    val t = GraftTable.create(spark, scratch("lfi space"), rows(0).schema,
      Map("graft.partitionBy" -> "band", "graft.deletionVectors" -> "true"))
    t.append(rows(70))
    val files = t.filesAt()
    assert(files.exists(_.contains("/__part_band=")) && files.forall(_.contains("lfi space")))
    val fromIndex = t.readFilesWithPos(files).select(GraftTable.DvFileCol)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val listed = spark.read.option("recursiveFileLookup", "true").parquet(files: _*)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(fromIndex == listed)
    assert(fromIndex.size == files.size)
    // a DV record keyed the way a listed read named the file still hides
    // its row through the index
    val dvRows = spark.read.option("recursiveFileLookup", "true").parquet(files: _*)
      .filter(col("doc_id") === 12)
      .select(col("_metadata.file_path").as(GraftTable.DvFileCol),
        col("_metadata.row_index").as(GraftTable.DvPosCol))
    val (dvFiles, n) = t.writeDv(dvRows)
    assert(n == 1)
    t.commit("DELETE", Nil, Nil, t.schemaAt(), addedDv = dvFiles)
    assert(t.read().filter(col("doc_id") === 12).isEmpty)
    assert(t.read().count() == 69)
  }

  test("plain reads scan no provenance metadata; position reads and DV tables do") {
    val plain = manyFiles("lfi-plain", 2)
    def scanOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    assert(!scanOf(plain.read().select("doc_id")).contains("row_index"),
      scanOf(plain.read().select("doc_id")))
    assert(!scanOf(plain.readFiles(plain.filesAt())).contains("file_path"))
    assert(scanOf(plain.readFilesWithPos(plain.filesAt())).contains("row_index"))
    val dv = manyFiles("lfi-plaindv", 2, Map("graft.deletionVectors" -> "true"))
    MergeOps.delete(dv, "doc_id = 3")
    assert(scanOf(dv.read().select("doc_id")).contains("row_index"))
    assert(dv.read().columns.toSeq == Seq("doc_id", "band", "text"))
    assert(dv.read().count() == 19)
  }

  test("a non-nullable column added by a later append reads as null in older files") {
    val t = GraftTable.create(spark, scratch("lfi-evolve"), rows(0).schema)
    t.append(rows(10))
    t.append(rows(10).withColumn("extra", col("doc_id") + 1))
    assert(!t.schemaAt()("extra").nullable, "the fixture must declare the column non-nullable")
    assert(t.read().filter(col("extra").isNull).count() == 10)
  }

  test("two reads of one version are the same plan and share a persist") {
    val t = manyFiles("lfi-cache", 3)
    t.append(rows(10))
    val v = t.currentVersion
    val first = t.read(v)
    val second = t.read(v)
    assert(first.sameSemantics(second))
    assert(!first.sameSemantics(t.read(v - 1)), "another version must not match")
    first.persist()
    try {
      assert(first.count() == 40)
      val hits = second.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(hits.nonEmpty,
        s"second read must hit the persist:\n${second.queryExecution.withCachedData}")
      assert(second.count() == 40)
    } finally first.unpersist(blocking = true)
  }

  /** Files `df`'s scans read when it runs, by their `numFiles` metric. */
  private def filesRead(df: DataFrame): Long =
    Prof.measure(spark)(df.collect()).filesRead

  test("read().filter and a GraftSql WHERE read exactly the files pruneFiles keeps") {
    val li = Tables.t(spark, sf, "lineitem")
    val t = GraftTable.createFrom(spark, scratch("lfi-point"), li)
    t.setProperties(Map("graft.targetFileSize" -> (16 * 1024).toString))
    Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
    val (kept, total) = t.pruneFiles("l_orderkey = 42")
    assert(kept.nonEmpty && kept.size < total, s"${kept.size}/$total")
    val viaRead = t.read().filter(col("l_orderkey") === 42)
    assert(filesRead(viaRead) === kept.size)
    assert(viaRead.count() === li.filter(col("l_orderkey") === 42).count())
    val g = new graft.sql.GraftSql(spark, scratch("lfi-point-sql"))
    g.register("li", t)
    val viaSql = g.sql("SELECT l_orderkey, l_linenumber FROM li WHERE l_orderkey = 42")
    assert(filesRead(viaSql) === kept.size)
    // the unpruned read still opens every file
    assert(filesRead(t.readFiles(t.filesAt()).filter(col("l_orderkey") === 42)) === total)
  }

  test("an ANN probe of 12 cells prunes through the optimizer's InSet form") {
    val emb = Tables.t(spark, sf, "embeddings")
    val t = graft.vector.AnnIndex.buildIvf(emb, scratch("lfi-inset"), nlist = 24, iters = 1)
    val qv = emb.filter(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val probed = graft.vector.AnnIndex.probedCells(t, qv, nprobe = 12)
    assert(probed.size === 12)
    val (kept, total) = graft.vector.AnnIndex.probeCost(t, probed)
    assert(kept < total, s"the fixture must leave cells unprobed: $kept/$total")
    val probe = t.read().filter(col("cell").isin(probed: _*))
    assert(probe.queryExecution.optimizedPlan.toString.contains("INSET"),
      probe.queryExecution.optimizedPlan.toString)
    assert(filesRead(probe) === kept)
    assert(filesRead(graft.vector.AnnIndex.topK(t, qv, 5, nprobe = 12)) === kept)
  }

  test("a statement on one table ignores a lost data file of another") {
    val g = new graft.sql.GraftSql(spark, scratch("lfi-lazy"))
    g.createTable("a", rows(0).schema)
    g.createTable("b", rows(0).schema)
    g.table("a").append(rows(20).repartition(2))
    g.table("b").append(rows(20).repartition(2))
    java.nio.file.Files.delete(java.nio.file.Paths.get(g.table("b").filesAt().head))
    // every statement re-registers both tables' reads; only a names its files
    assert(g.sql("SELECT count(*) FROM a").head().getLong(0) === 20L)
    assert(g.sql("SELECT count(*) FROM a WHERE doc_id < 5").head().getLong(0) === 5L)
  }

  // ---- differential check: a pruned scan equals the unpruned read ----------

  private val diffSchema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("dt", DateType), StructField("n", IntegerType),
    StructField("dec", DecimalType(10, 2))))

  /** Per-batch string prefixes whose UTF-16 and code-point orders differ:
    * U+E000 < U+FFFD < U+1F600 by code point, the reverse in UTF-16. */
  private val prefixes = Seq("a", "zz", "\u00e9t\u00e9", "\uFFFDx",
    "\uD83D\uDE00", "\uE000", "\u4E2D\u6587")

  /** Batch `b` of `rows` rows: each column draws from a window that moves
    * with `b`, so the batch's files have narrow, overlapping ranges. */
  private def diffBatch(r: scala.util.Random, b: Int, rows: Int): Seq[Row] =
    (0 until rows).map { _ =>
      val d = r.nextInt(12) match {
        case 0 if b % 2 == 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 if b == 3 => Double.PositiveInfinity
        case _ => b * 10.0 + r.nextInt(150) / 10.0 - 20.0
      }
      Row(
        if (r.nextInt(10) == 0) null else b * 100 + r.nextInt(150),
        b * 1000000000L + r.nextInt(1000),
        d,
        if (r.nextInt(15) == 0) null else prefixes(b % prefixes.size) + r.nextInt(50),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(b * 400L + r.nextInt(500))),
        if (b % 3 == 0 || r.nextInt(3) == 0) null else r.nextInt(100),
        java.math.BigDecimal.valueOf(b * 1000L + r.nextInt(1500), 2))
    }

  /** A random predicate over `diffSchema`, built as the Column API builds
    * it, so the scan sees the optimizer's resolved filters. */
  private def diffPredicate(r: scala.util.Random, batches: Int, depth: Int): Column = {
    def b = r.nextInt(batches + 1)
    def intLit = b * 100 + r.nextInt(160) - 5
    def dLit = r.nextInt(8) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => 0.0
      case _ => b * 10.0 + r.nextInt(170) / 10.0 - 21.0
    }
    def sLit = prefixes(r.nextInt(prefixes.size)) + r.nextInt(60)
    def dtLit = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(b * 400L + r.nextInt(520)))
    def decLit = java.math.BigDecimal.valueOf(b * 1000L + r.nextInt(1600), 2)
    def cmp(c: Column, v: Any): Column = r.nextInt(5) match {
      case 0 => c === lit(v)
      case 1 => c < lit(v)
      case 2 => c <= lit(v)
      case 3 => c > lit(v)
      case _ => c >= lit(v)
    }
    def leaf: Column = r.nextInt(13) match {
      case 0 => cmp(col("i"), intLit)
      case 1 => cmp(col("l"), b * 1000000000L + r.nextInt(1100))
      case 2 => cmp(col("d"), dLit)
      case 3 => cmp(col("s"), sLit)
      case 4 => cmp(col("dt"), dtLit)
      case 5 => cmp(col("dec"), decLit)
      case 6 => cmp(col("n"), r.nextInt(110)) // int column, int literal
      case 7 => col("i").isin(Seq.fill(1 + r.nextInt(10))(intLit): _*)
      case 8 => // more than 10 members: OptimizeIn makes an InSet
        r.nextInt(3) match {
          case 0 => col("i").isin(Seq.fill(11 + r.nextInt(10))(intLit): _*)
          case 1 => col("s").isin(Seq.fill(11 + r.nextInt(10))(sLit): _*)
          case _ => col("d").isin(Seq.fill(11 + r.nextInt(10))(dLit): _*)
        }
      case 9 =>
        val lo = intLit
        col("i").between(lo, lo + r.nextInt(120))
      case 10 =>
        val c = Seq("i", "s", "n", "d")(r.nextInt(4))
        if (r.nextBoolean()) col(c).isNull else col(c).isNotNull
      case 11 => // an int column against a long literal, in and out of range
        cmp(col("i"), if (r.nextInt(4) == 0) 3000000000L * (if (r.nextBoolean()) 1 else -1)
          else intLit.toLong)
      case _ => cmp(col("d"), if (r.nextBoolean()) Double.PositiveInfinity else dLit)
    }
    if (depth == 0) leaf
    else r.nextInt(3) match {
      case 0 => diffPredicate(r, batches, depth - 1) && diffPredicate(r, batches, depth - 1)
      case 1 => diffPredicate(r, batches, depth - 1) || diffPredicate(r, batches, depth - 1)
      case _ => leaf
    }
  }

  for (seed <- Seq(7, 42, 1009))
    test(s"pruned scans equal unpruned reads on random predicates (seed $seed)") {
      val r = new scala.util.Random(seed)
      val t = GraftTable.create(spark, scratch(s"lfi-diff-$seed"), diffSchema,
        Map("graft.deletionVectors" -> "true"))
      def append(batches: Range): Unit = batches.foreach { b =>
        t.append(spark.createDataFrame(
          spark.sparkContext.parallelize(diffBatch(r, b, 40), 2), diffSchema))
      }
      append(0 until 4)
      val older = t.currentVersion
      append(4 until 7)
      MergeOps.delete(t, "l % 5 = 0") // live deletion vectors at the tip
      assert(t.dvAt().nonEmpty)
      append(7 until 8)
      val versions = Seq(older, t.currentVersion)
      var (opened, live) = (0L, 0L)
      for (_ <- 0 until 40) {
        val p = diffPredicate(r, 8, depth = 2)
        for (v <- versions) {
          val files = t.filesAt(v)
          var got = Seq.empty[String]
          opened += Prof.measure(spark) {
            got = t.read(v).filter(p).collect().map(_.toString).sorted.toSeq
          }.filesRead
          live += files.size + t.dvAt(v).size
          val want = t.readFilesWithPos(files, t.schemaAt(v), dvVersion = v)
            .drop(GraftTable.DvFileCol, GraftTable.DvPosCol).filter(p)
            .collect().map(_.toString).sorted.toSeq
          assert(got == want, s"predicate $p at v$v (seed $seed)")
        }
      }
      assert(opened < live * 0.9, s"the predicates must prune: opened $opened of $live")
    }

  test("a row group whose chunk stats carry no bounds keeps its file") {
    import spark.implicits._
    val big = "z" * 5000 // parquet-java writes no min/max for a binary chunk over 4 KB
    val df = Seq((1.0, "a"), (5.0, "b"), (Double.NaN, "c"), (2.0, big)).toDF("d", "s")
    // one row per row group
    val keys = Seq("parquet.block.size" -> "1", "parquet.page.size.row.check.min" -> "1",
      "parquet.page.size.row.check.max" -> "1")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val t = try GraftTable.createFrom(spark, scratch("lfi-rowgroups"), df.coalesce(1))
      finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    val files = t.filesAt()
    assert(files.size === 1)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head), spark.sessionState.newHadoopConf()))
    try assert(reader.getFooter.getBlocks.size === 4)
    finally reader.close()
    for (p <- Seq(col("d") > 50, col("d") === Double.NaN, col("s") > "m", col("s") === big)) {
      val got = t.read().filter(p).collect().map(_.toString).sorted.toSeq
      val want = t.readFiles(files).filter(p).collect().map(_.toString).sorted.toSeq
      assert(got.size === 1 && got == want, s"predicate $p")
    }
  }
}
