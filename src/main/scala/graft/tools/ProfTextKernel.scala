package graft.tools

import org.apache.spark.sql.functions._

import graft.text.TextOps

/** A/B microbench for the per-row text kernels (dev tool backing
  * SCALING.md): the NFC hop of the cleaning chain (q269) and the
  * charset entropy (q271), each as the ORIGINAL Scala UDF vs the
  * native codegen'd expression that replaced it, ALTERNATING arm by
  * arm in one sitting (the ProfMedia discipline — this box carries
  * recurring co-located load, so cross-sitting absolutes drift). The
  * UDF arms are reproduced inline here verbatim so the comparison
  * survives the production code having moved on; the q269/q271
  * oracles pin that the semantics did not.
  *
  * Usage: runMain graft.tools.ProfTextKernel <dir> [reps]
  */
object ProfTextKernel {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfTextKernel <dir> [reps]")
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.t(spark, dir, "documents")
    docs.count() // warm file listing

    // the pre-round-16 UDF arms, verbatim
    val nfcUdf = udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }
    val entropyUdf = udf { (s: String) =>
      if (s == null || s.isEmpty) Option.empty[Double]
      else {
        val cps = s.codePoints().toArray
        val hist = new scala.collection.mutable.HashMap[Int, Long]()
        cps.foreach(c => hist.update(c, hist.getOrElse(c, 0L) + 1L))
        val n = cps.length.toDouble
        Some(-hist.toSeq.sortBy(_._1).map { case (_, cnt) =>
          val p = cnt / n
          p * math.log(p)
        }.sum / math.log(2.0))
      }
    }

    def tm(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // max(h) CONSUMES the projection — count(1) would let Catalyst prune
    // the whole kernel out and time an empty scan
    def nfcArm(k: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      docs.select(md5(k(col("text"))).as("h")).agg(max("h")).collect()
    def entArm(k: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      docs.select(k(col("text")).as("e")).agg(sum("e")).collect()

    def ab(name: String, udfArm: => Unit, natArm: => Unit): Unit = {
      val pairs = (1 to reps).map(_ => (tm(udfArm), tm(natArm)))
      val u = Harness.median(pairs.map(_._1))
      val nv = Harness.median(pairs.map(_._2))
      println(f"[proftextkernel] $name%-8s udf=$u%.2f s native=$nv%.2f s " +
        f"ratio=${u / nv}%.2f " +
        f"(reps: ${pairs.map(p => f"${p._1}%.2f/${p._2}%.2f").mkString(" ")})")
    }
    ab("nfc", nfcArm(nfcUdf(_)), nfcArm(graft.functions.GraftFunctions.graft_nfc))
    ab("entropy", entArm(c => entropyUdf(c)), entArm(TextOps.charEntropy))
    spark.stop()
  }
}
