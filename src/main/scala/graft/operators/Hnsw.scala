package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HNSW approximate nearest neighbor — the graph member of the
  * similarity family beside the hash (LSH), cell (IVF), and code (PQ)
  * approaches (queries/Llm.scala q_sim_ann_*). Library surface gated
  * by AnnLshSpec's recall contract, not a contract query key (the
  * 200-query contract is frozen).
  *
  * Single-shard index: the standard hierarchical navigable small world
  * graph (Malkov & Yashunin, IEEE TPAMI 2018) — greedy descent on the
  * sparse upper layers to a good entry point, beam search (`ef`) on
  * the dense bottom layer. Deterministic for a fixed input order:
  * level assignment draws its uniform from the shared splitmix64 hash
  * of the vector id (a function of the id alone — the one RNG-shaped
  * choice is insertion-order independent; graph EDGES, as in any HNSW
  * build, depend on arrival order, which a fixed input/partitioning
  * fixes), every candidate ordering ties on (distance, id), and
  * distances are sequential double folds over L2-normalized vectors,
  * so 1 - dot IS cosine distance and the zero-norm/non-finite guard
  * the whole family applies (a NaN cosine sorts first and poisons
  * top-k) is an insert-time refusal, as is dimension drift.
  *
  * Distributed shape (`annTopK`): shard-per-partition. The corpus
  * repartitions into `shards`; each partition builds an in-memory
  * graph over ITS rows inside one `mapPartitions` (the genuine
  * per-partition imperative case), searches the BROADCAST query set
  * against its local graph, and emits per-shard top-k; a global
  * per-query top-k over the shards * k candidates finishes. Corpus
  * vectors never leave their partition, no graph is ever collected,
  * and the merge handles shards * k rows per query — the same
  * scatter-gather shape production vector stores (and the IVF cell
  * layout above) use at 100 TB, where partition-sized graphs build in
  * parallel and rebuild incrementally per ingested split.
  */
object Hnsw {

  /** One in-memory shard graph. `m` = neighbors kept per node per
    * layer (2m on the bottom layer, per the paper), `efConstruction` =
    * build-time beam width. */
  final class Index(m: Int = 12, efConstruction: Int = 96) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    // neighbors(node)(layer) — layer 0 first
    private val neighbors = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var topLevel = -1
    private var dims = -1

    def size: Int = ids.length

    private def dist(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      1.0 - acc
    }

    /** deterministic geometric level from the id's splitmix64 hash —
      * a function of the id alone, never of insertion order. (The
      * graph EDGES do depend on insertion order — each insert can only
      * connect to nodes already present, as in any HNSW build — so the
      * determinism contract is: same rows in the same iterator order
      * build the same graph, and a fixed input/partitioning yields a
      * fixed iterator order. Level assignment being id-keyed removes
      * the one RNG-shaped source of drift.) */
    private def levelOf(id: Long): Int = {
      val h = graft.functions.MinHash.splitmixOnce(id)
      val u = math.max((h >>> 11).toDouble / (1L << 53).toDouble, 1e-12)
      (-math.log(u) * mL).toInt
    }

    private def maxM(layer: Int): Int = if (layer == 0) 2 * m else m

    /** beam search on one layer: the ef closest (dist, node) to q
      * reachable from ep, sorted ascending, ties by id */
    private def searchLayer(q: Array[Double], ep: Int, ef: Int,
        layer: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.BitSet(ep)
      val epd = dist(q, vecs(ep))
      // candidates: nearest-first; results: farthest-first (bounded).
      // Ties MUST break on the stable vector id, not the node's
      // insertion index — otherwise which equidistant node survives
      // the ef-bounded heap depends on iterator arrival order and the
      // documented insertion-order independence breaks (r14 review)
      implicit val byFar: Ordering[(Double, Int)] =
        Ordering.by[(Double, Int), (Double, Long)] {
          case (d, n) => (d, ids(n))
        }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      val cand = mutable.PriorityQueue((epd, ep))(byFar.reverse)
      val res = mutable.PriorityQueue((epd, ep))(byFar)
      while (cand.nonEmpty) {
        val (cd, c) = cand.dequeue()
        if (cd > res.head._1 && res.size >= ef) {
          cand.clear() // every remaining candidate is at least as far
        } else {
          val adj = neighbors(c)(layer)
          var i = 0
          while (i < adj.length) {
            val n = adj(i)
            if (!visited.contains(n)) {
              visited += n
              val nd = dist(q, vecs(n))
              if (res.size < ef || nd < res.head._1 ||
                  (nd == res.head._1 && ids(n) < ids(res.head._2))) {
                cand.enqueue((nd, n))
                res.enqueue((nd, n))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.from(res)
      // ascending distance, then ascending id — one total order
      out.sortInPlaceBy { case (dd, n) => (dd, ids(n)) }
      out
    }

    private def greedyDescend(q: Array[Double], ep0: Int, layer: Int): Int = {
      var ep = ep0
      var epd = dist(q, vecs(ep))
      var improved = true
      while (improved) {
        improved = false
        val adj = neighbors(ep)(layer)
        var i = 0
        while (i < adj.length) {
          val n = adj(i)
          val nd = dist(q, vecs(n))
          if (nd < epd || (nd == epd && ids(n) < ids(ep))) {
            ep = n; epd = nd; improved = true
          }
          i += 1
        }
      }
      ep
    }

    /** Insert a vector. Zero-norm vectors are refused (the family's
      * NaN-cosine guard); duplicates of an id are the caller's bug. */
    def insert(id: Long, vec: Array[Float]): Unit = {
      // dimension drift is the silent-truncation class FloatDot guards
      // with NULL; an index refuses loudly (r14 review)
      if (dims < 0) dims = vec.length
      require(vec.length == dims,
        s"vector $id has ${vec.length} dims, index holds $dims")
      var nrm = 0.0
      var i = 0
      while (i < vec.length) { nrm += vec(i).toDouble * vec(i); i += 1 }
      // finiteness too: an Infinity component passes nrm > 0 but
      // normalizes to NaN components, defeating the NaN-cosine guard
      require(java.lang.Double.isFinite(nrm) && nrm > 0,
        s"vector $id has non-finite or zero-norm components " +
          s"(norm^2 = $nrm) and cannot enter the index")
      val inv = 1.0 / math.sqrt(nrm)
      val v = Array.tabulate(vec.length)(j => vec(j) * inv)

      val node = ids.length
      val lvl = levelOf(id)
      ids += id
      vecs += v
      neighbors += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])

      if (entry < 0) { entry = node; topLevel = lvl; return }

      var ep = entry
      var lc = topLevel
      while (lc > lvl) { ep = greedyDescend(v, ep, lc); lc -= 1 }
      lc = math.min(lvl, topLevel)
      while (lc >= 0) {
        val w = searchLayer(v, ep, efConstruction, lc)
        val keep = math.min(m, w.length)
        var k = 0
        while (k < keep) {
          val n = w(k)._2
          neighbors(node)(lc) += n
          neighbors(n)(lc) += node
          if (neighbors(n)(lc).length > maxM(lc)) prune(n, lc)
          k += 1
        }
        ep = w.head._2
        lc -= 1
      }
      if (lvl > topLevel) { entry = node; topLevel = lvl }
    }

    /** shrink an over-full adjacency list to the maxM nearest */
    private def prune(node: Int, layer: Int): Unit = {
      val v = vecs(node)
      val adj = neighbors(node)(layer)
      val kept = adj.map(n => (dist(v, vecs(n)), ids(n), n))
        .sortBy { case (dd, nid, _) => (dd, nid) }
        .take(maxM(layer)).map(_._3)
      neighbors(node)(layer) = kept
    }

    /** top-k (id, cosine) for a query vector, nearest first. */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0 || q.length != dims) return Nil
      var nrm = 0.0
      var i = 0
      while (i < q.length) { nrm += q(i).toDouble * q(i); i += 1 }
      if (!java.lang.Double.isFinite(nrm) || nrm <= 0) return Nil
      val inv = 1.0 / math.sqrt(nrm)
      val v = Array.tabulate(q.length)(j => q(j) * inv)
      var ep = entry
      var lc = topLevel
      while (lc > 0) { ep = greedyDescend(v, ep, lc); lc -= 1 }
      searchLayer(v, ep, math.max(ef, k), 0).take(k)
        .map { case (dd, n) => (ids(n), 1.0 - dd) }.toSeq
    }
  }

  /** Distributed scatter-gather ANN over the fixture layout: corpus =
    * embeddings with a positive norm, queries = vec_id < 10 (the
    * family's probe set), k = 5. Shard graphs build per partition;
    * queries broadcast; global top-k merges shard candidates. */
  def annTopK(s: SparkSession, d: String, k: Int = 5, shards: Int = 4,
      ef: Int = 64): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.embeddings(s, d)
      .withColumn("nrm", expr("sqrt(fdot(embedding, embedding))"))
      // isnotnull+isfinite, not just > 0: a vector with an Infinity
      // component has norm = Inf > 0 and would pass the old filter
      // only to throw inside Index.insert, failing the whole job on
      // one degenerate row instead of excluding it like the rest of
      // the similarity family does (r14 ADVICE)
      .filter(col("nrm") > 0d && col("nrm") < Double.PositiveInfinity)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 10)
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
      .sortBy(_._1)
    val qb = s.sparkContext.broadcast(queries)
    val shardTop = emb.repartition(shards, col("vec_id"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val idx = new Index()
        it.foreach { case (id, v) => idx.insert(id, v.toArray) }
        if (idx.size == 0) Iterator.empty
        else qb.value.iterator.flatMap { case (qid, qv) =>
          // k+1 then drop self: the query's own shard contains it
          idx.search(qv, k + 1, ef)
            .filter(_._1 != qid).take(k)
            .map { case (id, cos) => (qid, id, cos) }
        }
      }
      .toDF("qid", "vec_id", "cos")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    shardTop.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }
}
