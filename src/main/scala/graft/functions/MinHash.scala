package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** 128-permutation MinHash sketch as a native Catalyst aggregate
  * (SURVEY §2B q_dedup_minhash_lsh — the 100 TB near-dup path).
  *
  * Input: one 64-bit shingle hash per row (e.g. xxhash64 of a word
  * 3-gram). Buffer: 128 unsigned-min values under 128 independent
  * affine hash functions h_j(x) = a_j*x + b_j (mod 2^64, odd a_j) —
  * a fixed-size 1 KiB buffer regardless of set cardinality, mergeable
  * (elementwise min), so Spark runs it partial+final with map-side
  * combine: the shuffle carries one sketch per document, never the
  * shingle sets. That is what makes MinHash+LSH banding linear at scale
  * while exact shingle-join dedup (q_dedup_near_jaccard) stays
  * quadratic in the worst case.
  */
case class MinHashAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ImplicitCastInputTypes {

  import MinHash.{NumHashes, A, B}

  // SQL-exposed surface (`minhash128(x)`): coerce/reject non-BIGINT
  // input at ANALYSIS time — update()'s asInstanceOf[Long] over, say,
  // an INT column would otherwise ClassCastException per task at
  // runtime (the FloatDot/LshSignatures rule applied here too)
  override def inputTypes = Seq(LongType)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(NumHashes)(-1L) // unsigned max

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var j = 0
      while (j < NumHashes) {
        val h = A(j) * x + B(j)
        if (java.lang.Long.compareUnsigned(h, buf(j)) < 0) buf(j) = h
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < NumHashes) {
      if (java.lang.Long.compareUnsigned(b(j), a(j)) < 0) a(j) = b(j)
      j += 1
    }
    a
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.clone()) // don't alias the mutable buffer

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(NumHashes * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](NumHashes)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): MinHashAgg = copy(child = c.head)
}

object MinHash {
  val NumHashes = 128

  /** splitmix64 — deterministic per-permutation coefficients. Shared
    * (private[graft]) so the one other deterministic-stream consumer
    * (AnnLsh's hyperplanes) uses the SAME generator instead of a
    * hand-copied clone that a future tweak could silently diverge. */
  private[graft] def splitmix(seed0: Long): Iterator[Long] = new Iterator[Long] {
    private var s = seed0
    override def hasNext = true
    override def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  /** One splitmix64 step as a pure function — the allocation-free form
    * for per-value hashing in hot paths (HNSW level assignment);
    * identical output to `splitmix(seed).next()`. */
  private[graft] def splitmixOnce(seed: Long): Long = {
    val s = seed + 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  val A: Array[Long] = splitmix(42L).map(_ | 1L).take(NumHashes).toArray
  val B: Array[Long] = splitmix(4242L).take(NumHashes).toArray
}
