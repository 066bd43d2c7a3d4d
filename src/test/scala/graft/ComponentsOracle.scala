package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Reference connected components for the specs, kept apart from the
  * engine's kernel so that the kernel and the incremental index are each
  * checked against code outside the main tree.
  */
object ComponentsOracle {

  /** (node -> smallest node connected to it) for every endpoint of
    * `edges`: a map-backed union-find that links the larger root under
    * the smaller and compresses each found path fully.
    */
  def labels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def root(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (root(a), root(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(x => x -> root(x)).toMap
  }

  /** [[labels]] over an (i, j) frame. */
  def labels(pairs: DataFrame): Map[Long, Long] =
    labels(pairs.select(col("i").cast("long"), col("j").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))))

  /** The engine's [[Dedup.components]] rows at a given one-task budget. */
  def kernel(pairs: DataFrame, budget: Long): Seq[(Long, Long)] = {
    val rows = Dedup.components(pairs, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Dedup.releaseCaches()
    rows
  }
}
