package graft.tools

import org.apache.spark.sql.functions._

import graft.text.Blocklist

/** Microbench for the Aho–Corasick blocklist scan (dev tool backing
  * SCALING.md): times `Blocklist.scan` aggregate over a documents
  * corpus with a synthetic many-phrase blocklist. The automaton's goto
  * representation is the hot path — every character of the corpus takes
  * at least one goto — so a constant-factor change there moves this
  * number and nothing else. A/B across commits (run, change, re-run);
  * the q268 oracle and BlocklistSpec pin that the semantics cannot move.
  *
  * Usage: runMain graft.tools.ProfAc <dir> [nPhrases] [reps]
  */
object ProfAc {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfAc <dir> [nPhrases] [reps]")
    val dir = args(0)
    val nPhrases = if (args.length > 1) args(1).toInt else 200
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.t(spark, dir, "documents")
    docs.count() // warm file listing

    // synthetic blocklist: 2-word phrases over the generator vocabulary
    // (hash-derived, deterministic) — enough phrases that the automaton
    // has real depth/branching, guaranteed distinct via index suffix
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().orderBy(desc("count"), asc("w"))
      .limit(100).collect().map(_.getString(0))
    val phrases = (0 until nPhrases).map { i =>
      s"${vocab(i % vocab.length)} ${vocab((i * 7 + 3) % vocab.length)} $i"
    } ++ Seq(s"${vocab(0)} ${vocab(1)}") // one phrase that actually hits

    def tm(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val times = (1 to reps).map { _ =>
      tm {
        Blocklist.scan(docs, phrases)
          .agg(sum("n_hits")).collect()
      }
    }
    println(f"[profac] dir=$dir phrases=${phrases.size} " +
      f"median=${Harness.median(times)}%.2f s " +
      f"(reps: ${times.map(t => f"$t%.2f").mkString(" ")})")
    spark.stop()
  }
}
