package graft.tables

import scala.collection.JavaConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.types._

/** Per-file column min/max statistics for cross-file data skipping
  * (SURVEY.md §4 "file pruning / data skipping"; the reference's ZORDER
  * demos, `DP/Step 2:114-202`, get exactly this from Delta).
  *
  * Stats are harvested from parquet footers at write time (driver-side,
  * one footer read per new file — the same metadata cost Delta pays in
  * its commit protocol) and stored in the commit log. `prune` evaluates
  * conjunctive `col <op> literal` predicates against the stats and
  * returns only the files whose [min,max] range can match — so a point
  * lookup on a range-clustered (OPTIMIZE ZORDER) table reads 1 file
  * instead of all of them, at any table size.
  */
object FileStats {

  type Stats = Map[String, (String, String)] // column -> (min, max) rendered

  /** Pseudo-column prefix for per-file NULL accounting: an entry
    * `__nulls_<col> -> (numNulls, numRows)` rides in the same Stats map
    * (and thus the same commit-log serialization) as min/max. It lets
    * `mightMatch` prune `IS NULL` probes (zero nulls in the file ⇒ skip)
    * and `IS NOT NULL` probes (all rows null ⇒ skip) — the SCD2
    * current-row scan (`_end_timestamp IS NULL`) hits this constantly.
    * Parquet footers carry null counts for free
    * (`Statistics.getNumNulls`), so the harvest cost is unchanged.
    * Tables committed before this landed simply lack the entries and
    * fall back to "never prune" — safe. */
  val NullsPrefix = "__nulls_"

  /** Read footer stats for `files` (absolute paths); returns per-file
    * column → (min,max) for primitive columns that carry stats. */
  def harvest(spark: SparkSession, files: Seq[String]): Map[String, Stats] =
    harvestWithRows(spark, files).map { case (f, (_, s)) => f -> s }

  /** One file's footer: (rows, column → (min,max) ++ __nulls_ entries).
    * Pure function of (hadoop conf, path) so the distributed harvest can
    * run it on executors. Any failure degrades to "no stats" — pruning
    * metadata is advisory, never worth failing a commit over. */
  private[tables] def readFooter(conf: Configuration, f: String): (Long, Stats) =
    try {
      val in = HadoopInputFile.fromPath(new HPath(f), conf)
      val reader = ParquetFileReader.open(in)
      try {
        var rows = 0L
        val acc = scala.collection.mutable.Map[String, (String, String)]()
        val nulls = scala.collection.mutable.Map[String, Long]()
        val nullsUnknown = scala.collection.mutable.Set[String]()
        reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { cc =>
            if (cc.getPath.size() == 1) {
              val name = cc.getPath.toDotString
              val st = cc.getStatistics
              // null counts: valid only when EVERY block reports one
              if (st == null || !st.isNumNullsSet) nullsUnknown += name
              else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
              if (st != null && st.hasNonNullValue) {
                val (mn, mx) = (render(st.genericGetMin), render(st.genericGetMax))
                if (mn != null && mx != null) {
                  val merged = acc.get(name) match {
                    case Some((a, b)) => (minOf(a, mn, st), maxOf(b, mx, st))
                    case None => (mn, mx)
                  }
                  acc(name) = merged
                }
              }
            }
          }
        }
        (nulls.keySet -- nullsUnknown).foreach { name =>
          val key = NullsPrefix + name
          // a REAL column named __nulls_<x> wins the key: its min/max
          // must not be overwritten by x's null accounting, which would
          // prune that column's reads incorrectly (review finding);
          // mightMatch also refuses null-count pruning when the schema
          // carries such a column
          if (!acc.contains(key)) acc(key) = (nulls(name).toString, rows.toString)
        }
        (rows, acc.toMap)
      } finally reader.close()
    } catch { case NonFatal(_) => (0L, Map.empty[String, (String, String)]) }

  /** As `harvest`, plus the footer row count per file — one footer read
    * yields both, so writers can record output-row metrics without an
    * extra count() pass over the data.
    *
    * Below [[DistributedHarvestFiles]] files the footers are read on the
    * driver (16-thread pool — the per-commit O(new files) cost Delta pays
    * too). ABOVE it, the reads run as a Spark job (`mapPartitions` over
    * the file list), so an OPTIMIZE of a 100 TB table writing 10⁵ files
    * doesn't serialize minutes of footer IO on the driver; the returned
    * map is the same either way (one bounded metadata row per file). */
  def harvestWithRows(spark: SparkSession, files: Seq[String]): Map[String, (Long, Stats)] =
    harvestWithRows(spark, files, DistributedHarvestFiles)

  /** File count from which `harvestWithRows` reads footers in a Spark job. */
  private[graft] val DistributedHarvestFiles = 4096

  /** As `harvestWithRows`, with the driver/job cut-over at `distThreshold`. */
  private[graft] def harvestWithRows(spark: SparkSession, files: Seq[String],
      distThreshold: Int): Map[String, (Long, Stats)] = {
    val conf = spark.sessionState.newHadoopConf()
    def one(f: String): (Long, Stats) = readFooter(conf, f)
    // footer reads are independent IO — harvest concurrently (an OPTIMIZE
    // that wrote hundreds of files would otherwise pay a serial driver
    // pass; Delta parallelizes its commit-stats collection the same way)
    if (files.size <= 2) files.map(f => f -> one(f)).toMap
    else if (files.size >= distThreshold) harvestDistributed(spark, files)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // stats are advisory pruning metadata: a stalled harvest must not
      // abort the commit, so on timeout fall back to whatever completed
      // (missing entries read as "no stats" → file is never pruned, which
      // is safe) instead of letting the TimeoutException escape
      val futures = files.map(f => f -> Future(f -> one(f)))
      try Await.result(Future.sequence(futures.map(_._2)), 10.minutes).toMap
      catch {
        case _: java.util.concurrent.TimeoutException =>
          futures.flatMap { case (f, fut) => fut.value.flatMap(_.toOption) }.toMap
      } finally pool.shutdown()
    }
  }

  /** Distributed footer harvest: the file list becomes a Dataset, each
    * partition re-materializes the session Hadoop conf from a broadcast
    * kv snapshot (Configuration itself is not serializable) and reads
    * its footers locally. The collect is one (rows, col-stats) metadata
    * tuple per file — the exact map the caller needs on the driver to
    * write the commit, i.e. the MINIMUM driver-side state, not a
    * shortcut. Used above the threshold where a driver thread pool
    * would serialize the IO (VERDICT r17 #3). */
  private[graft] def harvestDistributed(spark: SparkSession,
      files: Seq[String]): Map[String, (Long, Stats)] = {
    import spark.implicits._
    val kv = spark.sessionState.newHadoopConf().asScala
      .map(e => (e.getKey, e.getValue)).toSeq
    val bc = spark.sparkContext.broadcast(kv)
    val slices = math.max(1, math.min(files.size / 64,
      spark.sparkContext.defaultParallelism * 4))
    val rows = spark.createDataset(files)
      .repartition(slices)
      .mapPartitions { it =>
        val c = new Configuration(false)
        bc.value.foreach { case (k, v) => c.set(k, v) }
        it.map { f =>
          val (n, s) = readFooter(c, f)
          (f, n, s.toSeq)
        }
      }.collect()
    bc.destroy()
    rows.map { case (f, n, s) => f -> (n, s.toMap) }.toMap
  }

  private def render(v: Any): String = v match {
    case b: Binary =>
      try b.toStringUsingUTF8 catch { case NonFatal(_) => null }
    case null => null
    case other => other.toString
  }

  private def numeric(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case NonFatal(_) => None }

  private def minOf(a: String, b: String, st: Any): String =
    (numeric(a), numeric(b)) match {
      case (Some(x), Some(y)) => if (x <= y) a else b
      case _ => if (a <= b) a else b
    }

  private def maxOf(a: String, b: String, st: Any): String =
    (numeric(a), numeric(b)) match {
      case (Some(x), Some(y)) => if (x >= y) a else b
      case _ => if (a >= b) a else b
    }

  // ---- predicate evaluation against stats --------------------------------

  /** Conjuncts of `col <op> literal` shape extracted from a predicate. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Can a file with these stats possibly contain a matching row?
    * Unknown shapes / missing stats ⇒ true (never prune incorrectly). */
  def mightMatch(stats: Stats, predicate: Expression, schema: StructType): Boolean =
    conjuncts(predicate).forall {
      // `x BETWEEN lo AND hi`: Spark 4's parser keeps it as an
      // UNRESOLVED between(x, lo, hi) function (no analyzer runs on a
      // bare parseExpression), which used to fall through to the
      // conservative keep — desugar to the two comparisons
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("between") &&
            f.arguments.size == 3 =>
        mightMatch(stats,
          And(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
            LessThanOrEqual(f.arguments(0), f.arguments(2))), schema)
      // col IN (l1, l2, ...): prunable iff NO member can fall inside the
      // file's [min, max] — the single-read probe shape (`cell IN (...)`)
      // the ANN/index layers use instead of a union of per-cell reads
      case In(attr, members)
          if members.nonEmpty && members.forall(_.isInstanceOf[Literal]) =>
        attr match {
          case _: Attribute |
               _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            members.exists(m =>
              mightMatch(stats, EqualTo(attr, m.asInstanceOf[Literal]), schema))
          case _ => true
        }
      // disjunction: a file survives if EITHER branch might match
      case Or(l, r) =>
        mightMatch(stats, l, schema) || mightMatch(stats, r, schema)
      // col IS NULL: prunable iff the file's null count is known zero —
      // the SCD2 current-row probe (`_end_timestamp IS NULL`) skips
      // every fully-closed file this way. When the schema carries a REAL
      // column named __nulls_<col>, the stats key is ambiguous (that
      // column's min/max owns it) — refuse to prune (review finding).
      case IsNull(a) =>
        attrName(a).filterNot(n => schema.exists(_.name == NullsPrefix + n))
          .flatMap(n => nullCounts(stats, n)) match {
          case Some((numNulls, _)) => numNulls > 0
          case None => true
        }
      // col IS NOT NULL: prunable iff every row in the file is null
      case IsNotNull(a) =>
        attrName(a).filterNot(n => schema.exists(_.name == NullsPrefix + n))
          .flatMap(n => nullCounts(stats, n)) match {
          case Some((numNulls, numRows)) => numNulls < numRows
          case None => true
        }
      case cmp @ (_: EqualTo | _: LessThan | _: LessThanOrEqual |
                  _: GreaterThan | _: GreaterThanOrEqual) =>
        val (attrOpt, litOpt, flipped) = cmp.children match {
          case Seq(a: Attribute, l: Literal) => (Some(a.name), Some(l), false)
          case Seq(l: Literal, a: Attribute) => (Some(a.name), Some(l), true)
          case Seq(u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute, l: Literal) =>
            (Some(u.name), Some(l), false)
          case Seq(l: Literal, u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute) =>
            (Some(u.name), Some(l), true)
          case _ => (None, None, false)
        }
        (attrOpt, litOpt) match {
          case (Some(name), Some(lit)) =>
            stats.get(name) match {
              case Some((mn, mx)) =>
                compareRange(mn, mx, lit, schema.find(_.name == name).map(_.dataType)) match {
                  case None => true
                  case Some((litVsMin, litVsMax)) =>
                    cmp match {
                      case _: EqualTo => litVsMin >= 0 && litVsMax <= 0
                      case _: LessThan => // col < lit (or lit < col when flipped)
                        if (!flipped) litVsMin > 0 else litVsMax < 0
                      case _: LessThanOrEqual =>
                        if (!flipped) litVsMin >= 0 else litVsMax <= 0
                      case _: GreaterThan =>
                        if (!flipped) litVsMax < 0 else litVsMin > 0
                      case _: GreaterThanOrEqual =>
                        if (!flipped) litVsMax <= 0 else litVsMin >= 0
                      case _ => true
                    }
                }
              case None => true
            }
          case _ => true
        }
      case _ => true // non-comparison conjunct: cannot prune on it
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: Attribute => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  /** (numNulls, numRows) for `col` when the harvest recorded them. */
  private def nullCounts(stats: Stats, col: String): Option[(Long, Long)] =
    stats.get(NullsPrefix + col).flatMap { case (n, r) =>
      (for { nn <- n.toLongOption; rr <- r.toLongOption } yield (nn, rr))
    }

  /** (compare(lit,min), compare(lit,max)) or None when incomparable. */
  private def compareRange(mn: String, mx: String, lit: Literal,
      dt: Option[DataType]): Option[(Int, Int)] = {
    dt match {
      case Some(_: NumericType) =>
        for {
          l <- numeric(String.valueOf(lit.value))
          a <- numeric(mn); b <- numeric(mx)
        } yield (l.compare(a), l.compare(b))
      case Some(StringType) =>
        val l = String.valueOf(
          lit.value match { case u: org.apache.spark.unsafe.types.UTF8String => u.toString
                            case v => v })
        Some((l.compareTo(mn), l.compareTo(mx)))
      case _ => None
    }
  }
}
