package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded generators for the benchmark's inputs. Every column is a pure
  * function of (seed, row key), via xxhash64, so the same seed gives the
  * same rows whatever the partitioning; each workload picks the row
  * counts. */
final class Gen(seed: Long) {

  def h(salt: Int, c: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: c): _*)
  def mod(salt: Int, n: Long, c: Column*): Column = pmod(h(salt, c: _*), lit(n))

  private val vocab: Seq[String] = {
    val r = new scala.util.Random(seed ^ 0x5eed)
    (0 until 400).map(_ => Iterator.continually(('a' + r.nextInt(26)).toChar).take(3 + r.nextInt(6)).mkString)
      .distinct
  }

  /** Corpus documents of 30 to 60 words drawn from a 400-word vocabulary. */
  def documents(ids: DataFrame): DataFrame = {
    val v = array(vocab.map(lit): _*)
    val id = col("doc_id")
    ids.select(id, concat_ws(" ", transform(sequence(lit(1), (mod(60, 31, id) + 30).cast("int")),
      i => element_at(v, (mod(61, vocab.size.toLong, id, i) + 1).cast("int")))).as("text"))
  }
}
