package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.functions.udaf
import scala.util.hashing.MurmurHash3

/** Count-min sketch as a typed Aggregator — the third member of the
  * sketch family beside HLL (q_agg_approx_hll) and the KLL-style
  * quantile sketch (q_agg_approx_quantile): mergeable fixed-size state
  * for approximate frequencies / heavy hitters over unbounded key
  * cardinality.
  *
  * Buffer = depth x width counter matrix (4 x 1024 longs = 32 KiB flat
  * array): reduce hashes the key once per row with fixed seeds, merge
  * is elementwise add — associative and commutative, so Spark runs the
  * sketch as a partial+final two-phase aggregate and the shuffle
  * carries one 32 KiB buffer per group, never the keys. At 100 TB the
  * sketch answers "how often does token X appear per language" in one
  * pass with O(langs) state, where the exact answer shuffles the whole
  * vocabulary.
  *
  * Estimates are deterministic for fixed seeds and data: point lookup =
  * min over the key's depth cells, guaranteed >= the true count, and
  * <= true + eps*N with probability 1 - delta (eps = e/width, delta =
  * exp(-depth)); CountMinSpec asserts both sides on real tokens.
  */
object CountMin {

  val depth = 4
  val width = 1024

  private def cell(r: Int, key: String): Int =
    r * width + math.floorMod(MurmurHash3.stringHash(key, 0x9747b28c + r), width)

  val aggregator: Aggregator[String, Array[Long], Array[Long]] =
    new Aggregator[String, Array[Long], Array[Long]] {
      override def zero: Array[Long] = new Array[Long](depth * width)
      override def reduce(b: Array[Long], key: String): Array[Long] = {
        // NULL keys are a no-op, matching COUNT(col) semantics — the
        // registered SQL surface accepts arbitrary columns, so a null
        // must not NPE the task (ADVICE r4)
        if (key eq null) return b
        var r = 0
        while (r < depth) { b(cell(r, key)) += 1; r += 1 }
        b
      }
      override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      override def finish(b: Array[Long]): Array[Long] = b
      override def bufferEncoder: Encoder[Array[Long]] =
        ExpressionEncoderHelp.longArray
      override def outputEncoder: Encoder[Array[Long]] =
        ExpressionEncoderHelp.longArray
    }

  /** column form: cms(col) -> array<bigint> sketch */
  def cms(c: Column): Column = udaf(aggregator).apply(c)

  /** point estimate: min over the key's depth cells. Null-safe on the
    * registered SQL surface (the reduce() rule applies here too): a
    * NULL sketch (outer join) or NULL key yields NULL instead of
    * NPE-ing the task — and so does an array that is not a cms()
    * sketch at all (wrong length), which would otherwise index out of
    * bounds inside every executor task. */
  def estimate(sketch: Seq[Long], key: String): java.lang.Long = {
    if (sketch == null || key == null) return null
    if (sketch.length != depth * width) return null
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = sketch(cell(r, key))
      if (v < best) best = v
      r += 1
    }
    java.lang.Long.valueOf(best)
  }

  private val estimateUdf =
    udf((sketch: Seq[Long], key: String) => estimate(sketch, key))

  def cmsEstimate(sketch: Column, key: Column): Column =
    estimateUdf(sketch, key)
}
