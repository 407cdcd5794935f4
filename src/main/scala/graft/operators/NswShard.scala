package graft.operators

import scala.collection.mutable

/**
 * Executor-side core of the NSW index ([[Ann.nswBuildIndex]],
 * [[Ann.nswQueryIndex]] and their maintenance): builds one single-layer
 * navigable-small-world graph over a shard's vectors and beam-searches a
 * probe through a stored graph (the flat predecessor of HNSW — Malkov et
 * al.; the search loop below is the standard SEARCH-LAYER with a bounded
 * result beam). Pure JVM code running inside Spark tasks — no Spark
 * types, no driver round-trips; the shard never leaves its task.
 *
 * Determinism contract (what makes the declared queries reproducible and
 * lets a reloaded index answer exactly as the in-memory build does):
 * vectors are inserted in id-sorted order, the entry point is node 0,
 * every similarity tie breaks on the smaller node index, and adjacency
 * lists keep their construction order (the beam admits neighbors against
 * a result set that mutates mid-scan, so edge ORDER is part of the
 * reproducibility contract, not an implementation detail — a persisted
 * index must store it verbatim).
 */
private[operators] object NswShard {

  private def cos(vecs: Array[Array[Double]], norms: Array[Double],
                  q: Array[Double], qn: Double, i: Int): Double = {
    if (qn == 0.0 || norms(i) == 0.0) return 0.0
    val v = vecs(i)
    var s = 0.0
    var j = 0
    val d = math.min(q.length, v.length)
    while (j < d) { s += q(j) * v(j); j += 1 }
    s / (qn * norms(i))
  }

  /** Standard NSW beam search for `q` over nodes [0, bound): returns up
    * to `width` node indices, best-similarity first (ties → smaller id). */
  private def beam(adj: Array[_ <: scala.collection.Seq[Int]],
                   vecs: Array[Array[Double]], norms: Array[Double],
                   q: Array[Double], qn: Double,
                   bound: Int, width: Int): Array[Int] = {
    if (bound <= 0) return Array.empty
    val simCache = mutable.HashMap.empty[Int, Double]
    def s(i: Int): Double = simCache.getOrElseUpdate(i, cos(vecs, norms, q, qn, i))
    val visited = new java.util.BitSet(bound)
    // frontier dequeues the BEST open candidate (max sim, then min id)
    val frontier = mutable.PriorityQueue(0)(Ordering.by[Int, (Double, Int)](i => (s(i), -i)))
    // results dequeues the WORST retained node (min sim, then max id)
    val results = mutable.PriorityQueue(0)(Ordering.by[Int, (Double, Int)](i => (-s(i), i)))
    visited.set(0)
    var done = false
    while (!done && frontier.nonEmpty) {
      val c = frontier.dequeue()
      if (results.size >= width && s(c) < s(results.head)) done = true
      else adj(c).foreach { nb =>
        if (nb < bound && !visited.get(nb)) {
          visited.set(nb)
          if (results.size < width || s(nb) > s(results.head)) {
            frontier.enqueue(nb)
            results.enqueue(nb)
            if (results.size > width) results.dequeue()
          }
        }
      }
    }
    results.toArray.sortBy(i => (-s(i), i))
  }

  /** L2 norm of each vector (the cosine denominators). */
  def norms(vecs: Array[Array[Double]]): Array[Double] =
    vecs.map(v => math.sqrt(v.map(x => x * x).sum))

  /** A shard graph as its persisted rows `(shardId, id, vec, neighbors)`:
    * `items` in insertion order, `adj` in local indices; neighbors become
    * GLOBAL ids, construction order kept. */
  def shardRows(shardId: Int, items: Array[(Long, Array[Double])],
                adj: Array[mutable.ArrayBuffer[Int]]): Iterator[(Int, Long, Array[Double], Array[Long])] =
    items.iterator.zipWithIndex.map { case ((id, vec), i) =>
      (shardId, id, vec, adj(i).map(j => items(j)._1).toArray)
    }

  /** The fresh graph of one shard: sort `items` by id (the insertion
    * order), connect each node to its m nearest among the
    * already-inserted — bidirectional edges, degree capped at 2m — and
    * emit the [[shardRows]]. The one builder behind a fresh index build
    * and the compaction of a tombstoned shard. */
  def buildShard(shardId: Int, items: Array[(Long, Array[Double])],
                 m: Int, ef: Int): Iterator[(Int, Long, Array[Double], Array[Long])] = {
    val sorted = items.sortBy(_._1)
    val vecs   = sorted.map(_._2)
    val adj    = Array.fill(vecs.length)(mutable.ArrayBuffer.empty[Int])
    insertRange(vecs, norms(vecs), adj, from = 1, m, ef)
    shardRows(shardId, sorted, adj)
  }

  /** The NSW insertion loop from node `from` onward, mutating `adj` in
    * place. `adj` must already hold a valid graph over nodes [0, from)
    * (empty for a fresh build) — this is what makes INCREMENTAL index
    * maintenance the same code path as a fresh build: appending a batch
    * to a persisted shard graph is insertRange(from = oldCount). */
  def insertRange(vecs: Array[Array[Double]], norms: Array[Double],
                  adj: Array[mutable.ArrayBuffer[Int]],
                  from: Int, m: Int, ef: Int): Unit = {
    val n = vecs.length
    var i = math.max(from, 1) // node 0 is the entry point; nothing to wire
    while (i < n) {
      val qn = norms(i)
      val near = beam(adj, vecs, norms, vecs(i), qn, bound = i,
        width = math.max(ef, m)).take(m)
      near.foreach { nb =>
        adj(i) += nb
        adj(nb) += i
        if (adj(nb).length > 2 * m) {
          // prune the weakest edge of the over-full node (ties → larger id)
          // SYMMETRICALLY — removing it from only one side would leave a
          // dangling reverse edge, and a node all of whose neighbors pruned
          // it that way becomes unreachable (nothing points TO it). Skip
          // candidates this edge is the last edge OF, so no node is
          // orphaned; if every neighbor hangs by this edge, keep them all.
          val vn = norms(nb)
          val cands = adj(nb).sortBy(e => (cos(vecs, norms, vecs(nb), vn, e), -e))
          cands.find(e => adj(e).length > 1).foreach { drop =>
            adj(nb)   -= drop
            adj(drop) -= nb
          }
        }
      }
      i += 1
    }
  }

  /** Beam-search a PREBUILT, possibly TOMBSTONED shard graph (items in the
    * build's insertion order — sorted by id; `adj` in local indices with
    * construction-order edges). Deleted nodes stay fully traversable
    * (their edges keep the graph navigable — the standard mark-and-filter
    * HNSW delete), they are only excluded from the EMITTED results; with
    * an all-false mask this is the plain beam search, so
    * [[Ann.nswQueryIndex]] routes every index through this one path.
    * Returns up to k (id, cosine) rows, best first. */
  def searchPrebuiltMasked(
      items: Array[(Long, Array[Double])],
      adj: Array[Array[Int]],
      deleted: Array[Boolean],
      probe: Array[Double],
      k: Int, ef: Int): Seq[(Long, Double)] = {
    val vecs  = items.map(_._2)
    val ns    = norms(vecs)
    val qn    = math.sqrt(probe.map(x => x * x).sum)
    beam(adj.map(_.toSeq), vecs, ns, probe, qn,
        bound = items.length, width = math.max(ef, k))
      .filterNot(deleted)
      .take(k)
      .map(idx => (items(idx)._1, cos(vecs, ns, probe, qn, idx)))
      .toSeq
  }
}
