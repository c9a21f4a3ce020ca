package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scaled testdata generator for the SCALING.md curve
  * (dev tool): emits the same ten-table schema as `/root/testdata`
  * (FIXTURES.md §A) at `mult`× the sf0.1 row counts, written under a
  * caller-chosen directory (never `/root/testdata`, which is read-only).
  *
  * Everything is a pure hash of the row id (`xxhash64`) — no RNG, no
  * driver-side loops, no collects — so the data is identical across
  * runs, thread counts, and partitionings, and generation is one
  * distributed projection per table. Distributional shape mirrors what
  * the scaling measurement needs from the driver data, not its exact
  * values: documents carry ~2% exact duplicates + ~2% near-duplicates
  * (one appended token) of earlier docs, text length 8–100 words over a
  * small vocabulary (shingle/minhash collisions happen, as in web text);
  * embeddings are 64-d with latent centers scaled at ~200 vectors per
  * center plus noise (diversity grows with corpus size, keeping IVF/LSH
  * cell occupancy constant — see [[embeddings]]); the TPC-H-ish tables
  * keep referential integrity (l_orderkey ⊂ o_orderkey, o_custkey ⊂
  * c_custkey).
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> [mult] [tables] [heaps]
  */
object ScaleGen {

  private val Vocab: Seq[String] = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "merge", "table", "index", "query",
    "plan", "join", "filter", "group", "stream", "write", "read", "file",
    "page", "block", "cache", "shard", "probe", "build", "stage", "task",
    "node", "core", "byte", "row", "key", "span", "range", "stats",
    "prune", "codec", "frame", "state", "event", "token", "vector",
    "text", "model", "train", "corpus", "sample", "weight", "score",
    "rank", "fetch", "store", "delta", "log", "commit", "version")

  /** word_i of a row: vocab[xxhash64(salt, id, i) mod |V|]. */
  private def word(salt: Int, id: Column, i: Column): Column =
    element_at(
      array(Vocab.map(lit): _*),
      (pmod(xxhash64(lit(salt), id, i), lit(Vocab.size.toLong)) + 1).cast("int"))

  /** `heapsVocab=false` (default): the fixed 61-word vocabulary — as
    * the corpus grows, the 5-gram shingle postings TAIL fattens and raw
    * candidate-pair mass super-linearizes (SCALING.md's q74
    * attribution, measured by `ProfVocab`). `heapsVocab=true`:
    * synthetic tokens "w<k>" drawn from a vocabulary that GROWS with the
    * corpus per Heap's law (V = √totalTokens, β = 0.5 — the empirical
    * web-text exponent), so the shingle type space outruns the token
    * count and postings-per-type stays near-flat at every scale — the
    * counter-experiment data for q74's saturation attribution. Dup/
    * near-dup structure (rates, seeds, lengths) is IDENTICAL in both
    * modes; only the token spelling changes. */
  def documents(spark: SparkSession, n: Long,
      heapsVocab: Boolean = false, parts: Int = 32): DataFrame = {
    val id = col("id")
    val mkWord: (Int, Column, Column) => Column =
      if (!heapsVocab) (s, c, i) => word(s, c, i)
      else {
        // ~54 = mean words/doc (uniform 8..100), so V tracks token count
        val v = math.max(61L, math.round(math.sqrt(n * 54.0)))
        (s, c, i) =>
          concat(lit("w"), pmod(xxhash64(lit(s), c, i), lit(v)).cast("string"))
      }
    val textOfV: Column => Column = seed => {
      val len = (pmod(xxhash64(lit(1), seed), lit(93L)) + 8).cast("int")
      concat_ws(" ", transform(sequence(lit(0), len - 1),
        i => mkWord(2, seed, i.cast("long"))))
    }
    // 2% exact dups + 2% near dups of an earlier doc. The seed must be a
    // BASE doc (kind >= 4): a dup-of-a-dup seed would copy textOf(seed),
    // which is NOT that doc's actual text, silently lowering the
    // effective duplicate rate (review finding). kind is hash-derived, so
    // base-ness can't be arranged by construction — probe up to three
    // hash candidates and take the first base one (~96% of ids are base,
    // so P(all three dups) ≈ 6e-5; the residual approximation is noted
    // here rather than chased further).
    def kindOf(c: Column): Column = pmod(xxhash64(lit(3), c), lit(100L))
    val kind = kindOf(id)
    def cand(salt: Int): Column = pmod(xxhash64(lit(salt), id), id)
    val baseSeed = when(kindOf(cand(4)) >= 4, cand(4))
      .otherwise(when(kindOf(cand(41)) >= 4, cand(41)).otherwise(cand(42)))
    val seed = when(kind < 4 && id > lit(0L), baseSeed).otherwise(id)
    val base = textOfV(seed)
    val text = when(kind >= 2 && kind < 4 && id > lit(0L),
      concat(base, lit(" "), mkWord(5, id, lit(0)))).otherwise(base)
    spark.range(0, n, 1, parts).select(
      id.as("doc_id"),
      text.as("text"),
      element_at(array(lit("en"), lit("en"), lit("en"), lit("en"),
        lit("en"), lit("en"), lit("en"), lit("en"), lit("de"), lit("fr")),
        (pmod(xxhash64(lit(6), id), lit(10L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(xxhash64(lit(7), id), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, n: Long, parts: Int = 32): DataFrame = {
    val id = col("id")
    // Diversity must GROW with corpus size (a real web corpus adds new
    // topics as it adds documents): ~200 vectors per latent center, so
    // LSH/IVF bucket occupancy stays constant as n scales. A fixed
    // center count makes every similarity bucket degenerate at scale —
    // in-bucket candidate pairing then grows quadratically in n, which
    // measures the GENERATOR's pathology, not the operator (observed:
    // q81 at mult=100 with 10 fixed centers). label keeps 10 classes for
    // the classifier-shaped gates.
    val nCenters = math.max(10L, n / 200L)
    val center = pmod(id, lit(nCenters))
    val emb = transform(sequence(lit(0), lit(63)), j => {
      val c = (pmod(xxhash64(center, j.cast("long")), lit(2001L)) - 1000)
        .cast("double") / 1250.0
      val noise = (pmod(xxhash64(lit(8), id, j.cast("long")), lit(401L)) - 200)
        .cast("double") / 1000.0
      (c + noise).cast("float")
    })
    spark.range(0, n, 1, parts).select(id.as("vec_id"), emb.as("embedding"),
      pmod(center, lit(10L)).cast("int").as("label"))
  }

  def customer(spark: SparkSession, n: Long, parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      pmod(xxhash64(lit(10), col("id")), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(xxhash64(lit(11), col("id")), lit(1099999L)) - 99999).cast("double")
        / 100.0).as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
        lit("HOUSEHOLD"), lit("MACHINERY")),
        (pmod(xxhash64(lit(12), col("id")), lit(5L)) + 1).cast("int"))
        .as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long, parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
      pmod(xxhash64(lit(13), col("id")), lit(25L)).cast("int").as("s_nationkey"),
      ((pmod(xxhash64(lit(14), col("id")), lit(1099999L)) - 99999).cast("double")
        / 100.0).as("s_acctbal"))

  def part(spark: SparkSession, n: Long, parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") + 1).as("p_partkey"),
      concat_ws(" ", word(15, col("id"), lit(0)), word(15, col("id"), lit(1)),
        word(15, col("id"), lit(2))).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(lit(16), col("id")), lit(5L)) + 1).cast("string"),
        (pmod(xxhash64(lit(17), col("id")), lit(5L)) + 1).cast("string"))
        .as("p_brand"),
      concat_ws(" ", word(18, col("id"), lit(0)), word(18, col("id"), lit(1)))
        .as("p_type"),
      (pmod(xxhash64(lit(19), col("id")), lit(50L)) + 1).cast("int").as("p_size"),
      ((pmod(xxhash64(lit(20), col("id")), lit(200000L)) + 90000).cast("double")
        / 100.0).as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, nCust: Long, parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(xxhash64(lit(21), col("id")), lit(nCust)) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("O"), lit("F"), lit("F"), lit("P")),
        (pmod(xxhash64(lit(22), col("id")), lit(5L)) + 1).cast("int"))
        .as("o_orderstatus"),
      ((pmod(xxhash64(lit(23), col("id")), lit(45000000L)) + 100000).cast("double")
        / 100.0).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(lit(24), col("id")), lit(1460L)).cast("int")))
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (pmod(xxhash64(lit(25), col("id")), lit(5L)) + 1).cast("int"))
        .as("o_orderpriority"))

  def lineitem(spark: SparkSession, n: Long, nPart: Long, nSupp: Long,
      parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(xxhash64(lit(26), col("id")), lit(nPart)) + 1).as("l_partkey"),
      (pmod(xxhash64(lit(27), col("id")), lit(nSupp)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(lit(28), col("id")), lit(50L)) + 1).cast("double")
        .as("l_quantity"),
      ((pmod(xxhash64(lit(29), col("id")), lit(9000000L)) + 100000).cast("double")
        / 100.0).as("l_extendedprice"),
      (pmod(xxhash64(lit(30), col("id")), lit(11L)).cast("double") / 100.0)
        .as("l_discount"),
      (pmod(xxhash64(lit(31), col("id")), lit(9L)).cast("double") / 100.0)
        .as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("N"), lit("R")),
        (pmod(xxhash64(lit(32), col("id")), lit(4L)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(xxhash64(lit(33), col("id")), lit(2L)) + 1).cast("int"))
        .as("l_linestatus"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(lit(34), col("id")), lit(1520L)).cast("int")))
        .as("l_shipdate"))

  def events(spark: SparkSession, n: Long, parts: Int = 32): DataFrame =
    spark.range(0, n, 1, parts).select(
      col("id").as("event_id"),
      // one week of events starting 2024-01-01 UTC, in id order (streams
      // assume roughly monotone event time)
      timestamp_seconds(lit(1704067200.0) +
        col("id").cast("double") * (604800.0 / n)).as("ts"),
      pmod(xxhash64(lit(35), col("id")), lit(math.max(n / 100, 1L))).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("view"), lit("buy"),
        lit("scroll")), (pmod(xxhash64(lit(36), col("id")), lit(5L)) + 1)
        .cast("int")).as("event_type"),
      (pmod(xxhash64(lit(37), col("id")), lit(100000L)).cast("double") / 100.0)
        .as("value"),
      concat(lit("{\"device\":\"d"), pmod(xxhash64(lit(38), col("id")), lit(9L)).cast("string"),
        lit("\",\"score\":"), pmod(xxhash64(lit(39), col("id")), lit(100L)).cast("string"),
        lit("}")).as("props"))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleGen <outDir> [mult] [tables] [heaps]")
    val out = args(0)
    val mult = if (args.length > 1) args(1).toInt else 10
    // optional comma-list restricts which tables are written (a
    // three-decade documents/embeddings point does not need 19 GB of
    // lineitem)
    val onlyTables: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    // optional 4th arg "heaps": growing-vocabulary documents (see
    // [[documents]]) for the q74 saturation counter-experiment
    val heaps = args.drop(3).headOption.contains("heaps")
    // 32 shuffle partitions whatever the core count: the generated files
    // do not depend on the box
    val spark = graft.GraftSession.localBuilder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val m = mult.toLong
    val nCust = 15000L * m
    val nSupp = 1000L * m
    val nPart = 20000L * m
    // partition count is given to spark.range at BIRTH (the generators'
    // content is a pure function of id, so no repartition shuffle is ever
    // needed — at m1000 the old post-hoc repartition of 600 M lineitem
    // rows spilled a 30 GB shuffle just to relayout files). Capped at
    // 256: file COUNT tracks parallelism, file SIZE absorbs scale (the
    // 100 TB discipline — 16×mult uncapped would write 16,000 tiny
    // files at m1000).
    def cap(p: Int): Int = math.max(1, math.min(p, 256))
    def write(name: String, df: => DataFrame): Unit = {
      if (onlyTables.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scalegen] $name written")
      }
    }
    // region/nation are fixed-size dimensions — copy from the driver data
    Seq("region", "nation").foreach { nm =>
      write(nm, spark.read.parquet(s"/root/testdata/sf0.1/$nm.parquet").coalesce(1))
    }
    write("customer", customer(spark, nCust, cap(4 * mult)))
    write("supplier", supplier(spark, nSupp, 1))
    write("part", part(spark, nPart, cap(4 * mult)))
    write("orders", orders(spark, 150000L * m, nCust, cap(8 * mult)))
    write("lineitem", lineitem(spark, 600000L * m, nPart, nSupp, cap(16 * mult)))
    write("events", events(spark, 100000L * m, cap(4 * mult)))
    write("documents", documents(spark, 5000L * m, heaps, cap(2 * mult)))
    write("embeddings", embeddings(spark, 2000L * m, cap(2 * mult)))
    spark.stop()
  }
}
