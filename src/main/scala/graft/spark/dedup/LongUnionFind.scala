package graft.spark.dedup

/** Driver-side union-find over Long ids: a component's root is its minimum
  * id, and `find` compresses the path it walks. */
private[graft] final class LongUnionFind {
  private val parent = new scala.collection.mutable.LongMap[Long]()

  def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x

  def find(x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Adds both ids and joins their components under the smaller root. */
  def union(a: Long, b: Long): Unit = {
    add(a); add(b)
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }

  /** Every id added, in the map's iteration order. */
  def ids: Iterator[Long] = parent.keysIterator
}
