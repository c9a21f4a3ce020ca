package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.JavaConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sql.GraftSql
import graft.tables.GraftTable
import graft.text.DedupIndex

/** The streaming near-duplicate ingest loop of q218: a Structured
  * Streaming file source (`AvailableNow`, one file per trigger) feeds
  * `foreachBatch`, which probes the `DedupIndex` (built as q218 builds it:
  * n = 5, the default 32 bands), appends the survivors to a GraftTable and
  * appends them to the index. The corpus has the size of the sf0.1
  * `documents` table, and a batch file the size of q218's ingest batch.
  * The timed phase drops its seeded batch files into the source directory
  * and runs the query until it has processed them (one micro-batch op
  * each). After each micro-batch, before the query plans the next, a
  * reader looks up `LookupsPerBatch` seeded ids in the survivor table
  * through `GraftSql` (one op each), so that the lookups sample the whole
  * phase rather than a few seconds of it. Set up ends with one such
  * micro-batch, followed by `WarmLookups` lookups.
  * A batch file mixes near-copies of corpus documents and near-copies of
  * the previous batch's novel documents (both must be dropped) with novel
  * documents (which must survive). Checks: survivor ids, per-batch drop
  * counts and every lookup match the generator's ledger. */
object StreamDedup extends Workload {
  val name = "stream_dedup"
  /** Lookups outnumber micro-batches four to one, so `op_p50_ms` falls
    * near the middle of the lookups rather than at their tail. */
  val LookupsPerBatch = 4
  /** Untimed lookups at the end of set up: the JVM compiles the lookup
    * path during them, so the timed lookups run warm. */
  val WarmLookups = 20
  /** 35 ops (7 micro-batches) at `--seconds 24`. */
  val opsPerSecond = 35.0 / 24
  /** Documents of one batch file: near-copies of corpus documents, novel
    * documents, and near-copies of the previous file's novel documents. */
  val Copies = 400
  val Novel = 20
  val Echoes = 10

  final case class File(novel: Seq[Long], echoes: Seq[Long], docs: Long, dupes: Long)
  final case class In(dir: String, files: IndexedSeq[File], baseMs: Long, bytes: Long)
  final case class St(gs: GraftSql, index: GraftTable, survivors: GraftTable, src: String, ckpt: String) {
    /** Batch files processed so far. */
    var next = 0
  }

  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** Timed micro-batches: with their lookups, at least `nOps` ops. */
  def batches(nOps: Int): Int = math.max(1, math.ceil(nOps.toDouble / (1 + LookupsPerBatch)).toInt)

  def gen(b: Bench, nOps: Int): In = {
    val spark = b.spark
    val g = new Gen(b.seed)
    val dir = b.dir("input")
    val nDocs = b.n(5000, 50).toLong
    val corpus = g.documents(spark.range(nDocs).select(col("id").as("doc_id")))
    corpus.write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val nFiles = 1 + batches(nOps)
    val (copies, novel, echoes) = (b.n(Copies, 4), b.n(Novel, 2), b.n(Echoes, 1))
    val f = col("f"); val i = col("i")
    val slots = spark.range(nFiles.toLong).select(col("id").cast("int").as("f"))
    def ids(n: Int) = slots.select(f, explode(sequence(lit(0), lit(n - 1))).as("i"))
    // near-copies: a corpus document plus three tokens (Jaccard of 5-shingles > 0.5)
    val nearCopies = ids(copies).withColumn("src", g.mod(90, nDocs, f, i))
      .join(docs.withColumnRenamed("doc_id", "src"), "src")
      .select(f, (lit(1000000L) + f * 1000 + i).as("doc_id"),
        concat(col("text"), lit(" extra token "), concat(lit("dup"), f)).as("text"))
    def novelText(fc: org.apache.spark.sql.Column, ic: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 20).map(j => concat(lit("nv"), fc, lit("x"), ic, lit(s"w$j"))): _*)
    val fresh = ids(novel).select(f, (lit(2000000L) + f * 1000 + i).as("doc_id"), novelText(f, i).as("text"))
    // echoes: the previous file's novel documents plus three tokens
    val echo = ids(echoes).where(f > 0 && i < novel).select(f, (lit(3000000L) + f * 1000 + i).as("doc_id"),
      concat(novelText(f - 1, i), lit(" echo token tail")).as("text"))
    nearCopies.unionByName(fresh).unionByName(echo).repartition(f).write.partitionBy("f")
      .parquet(s"$dir/batches")
    val files = (0 until nFiles).map { k =>
      val echoIds = if (k == 0) Nil else (0 until math.min(echoes, novel)).map(j => 3000000L + k * 1000L + j)
      File((0 until novel).map(j => 2000000L + k * 1000L + j), echoIds, copies + novel + echoIds.size,
        copies + echoIds.size)
    }
    In(dir, files, System.currentTimeMillis() - 3600 * 1000L, Bench.bytesUnder(dir))
  }

  def build(b: Bench, in: In, dir: String): St = {
    val spark = b.spark
    val index = DedupIndex.build(spark.read.parquet(s"${in.dir}/docs"), s"$dir/index", n = 5)
    val survivors = GraftTable.create(spark, s"$dir/survivors", schema)
    val gs = new GraftSql(spark, dir)
    gs.register("survivors", survivors)
    Files.createDirectories(Paths.get(dir, "src"))
    val st = St(gs, index, survivors, s"$dir/src", s"$dir/ckpt")
    // bring the pipeline up: one micro-batch (file 0) and its lookups
    // before timing, so the timed ones run warm
    val warm = new Recorder(false)
    ingest(b, in, st, warm, 1, WarmLookups)
    st
  }

  def partFile(in: In, k: Int): java.nio.file.Path = {
    val s = Files.list(Paths.get(in.dir, "batches", s"f=$k"))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).next() finally s.close()
  }

  /** Drop the next `files` batch files into the source and run the query
    * until it has processed them (one micro-batch op each, followed by
    * `lookups` lookup ops). */
  def ingest(b: Bench, in: In, st: St, rec: Recorder, files: Int, lookups: Int): Unit = {
    var mark = 0L
    def onBatch(df: DataFrame, batchId: Long): Unit = {
      val file = in.files(st.next)
      st.next += 1
      rec.beginOp("micro_batch", read = false, write = true, rows = file.docs, startNs = mark)
      // from the previous batch's end (or query start) to this batch's body:
      // query start, offset planning and commit of the previous batch
      rec.spanFrom("streaming.trigger", mark)
      try {
        val (losers, dropped) = rec.span("text.dedup.probe") {
          val l = DedupIndex.dedupBatch(st.index, df, threshold = 0.5)
            .select(col("d2").as("doc_id")).distinct().persist()
          (l, l.count())
        }
        try {
          val kept = df.join(losers, Seq("doc_id"), "left_anti")
          rec.span("text.dedup.survivor_append")(st.survivors.append(kept, "INGEST SURVIVORS"))
          rec.span("text.dedup.index_append")(DedupIndex.append(st.index, kept))
          rec.endOp(ok = true, out = (file.docs, dropped))
        } finally losers.unpersist()
      } catch { case NonFatal(e) => rec.endOp(ok = false, err = Recorder.describe(e)) }
      // the lookups run inside foreachBatch, so that the query waits for
      // them; Spark counts them in this batch's durations, the traced run
      // takes them out again
      val s = System.nanoTime()
      if (!b.overDeadline) lookup(b, in, st, rec, lookups)
      rec.benchInBatch(batchId, s)
      mark = System.nanoTime()
    }
    val first = st.next
    (first until first + files).foreach { k =>
      val dst = Paths.get(st.src, f"part-$k%05d.parquet")
      Files.copy(partFile(in, k), dst, StandardCopyOption.REPLACE_EXISTING)
      // the source takes files oldest first
      Files.setLastModifiedTime(dst, FileTime.fromMillis(in.baseMs + k * 1000L))
    }
    mark = System.nanoTime()
    val q = b.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(st.src)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", st.ckpt)
      .foreachBatch((df: DataFrame, id: Long) => onBatch(df, id))
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
    // files the query did not process as their own batch show up as
    // wrong drop counts in verify
    st.next = first + files
  }

  def lookup(b: Bench, in: In, st: St, rec: Recorder, n: Int): Unit =
    lookupIds(b, in, st.next, n).foreach { id =>
      rec.op("survivor_lookup", read = true) {
        val df = rec.span("sql.resolve")(st.gs.sql(s"SELECT count(*) AS n FROM survivors WHERE doc_id = $id"))
        (st.next, id, rec.span("sql.exec")(df.collect()).head.getLong(0))
      }
    }

  /** Seeded ids to look up once `processed` files are in: novel ids (they
    * must be found) and echo ids (they must not). */
  def lookupIds(b: Bench, in: In, processed: Int, n: Int): Seq[Long] = {
    val r = b.rng(processed)
    val done = in.files.take(processed)
    Iterator.continually {
      val f = done(r.nextInt(done.size))
      val ids = if (f.echoes.nonEmpty && r.nextBoolean()) f.echoes else f.novel
      ids(r.nextInt(ids.size))
    }.take(n).toSeq
  }

  def run(b: Bench, in: In, st: St, rec: Recorder, nOps: Int): Unit =
    ingest(b, in, st, rec, batches(nOps), LookupsPerBatch)

  def verify(b: Bench, in: In, st: St, rec: Recorder): Verdict = {
    val ops = rec.ops.toSeq
    val batches = ops.filter(_.kind == "micro_batch")
    val fudge = if (b.corrupt) 1L else 0L
    // file 0 ran in set up; the k-th timed batch is file k + 1
    val badBatch = batches.zipWithIndex.filter { case (o, k) =>
      o.ok && o.out != ((in.files(k + 1).docs, in.files(k + 1).dupes + fudge))
    }.map(_._1.id)
    def novelUpTo(n: Int): Seq[Long] = in.files.take(n).flatMap(_.novel)
    val badRead = ops.filter(o => o.ok && o.kind == "survivor_lookup").filter { o =>
      val (n, id, found) = o.out.asInstanceOf[(Int, Long, Long)]
      found != (if (novelUpTo(n).contains(id)) 1L else 0L) + fudge
    }.map(_.id)
    val got = st.survivors.read().select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = novelUpTo(1 + batches.size).sorted.drop(fudge.toInt)
    val finalOk = got == want
    Verdict(Seq(
      ("micro-batch drop counts match the generator", badBatch.isEmpty, s"${badBatch.size} of ${batches.size} differ"),
      ("survivor reads match the generator", badRead.isEmpty, s"${badRead.size} differ"),
      ("survivor ids equal the novel ids", finalOk, s"got ${got.size} want ${want.size}")),
      (badBatch ++ badRead).toSet ++ (if (finalOk) Set.empty[Int] else batches.map(_.id).toSet))
  }

  def userBytes(in: In): Long = in.bytes
  def tables(st: St): Seq[GraftTable] = Seq(st.index, st.survivors)
}
