package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** The driver-local gate and the pieces every driver-local replay shares.
  *
  * Many iterative operators have a driver-local twin: when the input fits
  * on the driver, one collect plus a linear pass replaces O(rounds)
  * serial Spark jobs, with identical results (each twin is locked by a
  * gate-forced parity spec). Beyond the gate the distributed loop runs
  * unchanged.
  *
  *  - One budget: `spark.graft.local.maxEntries` (default 8,000,000)
  *    bounds the entries a twin holds on the driver. Each call site
  *    measures what it collects and, where one row costs more than one
  *    entry, weights the measure (and says why). `0` forces every twin
  *    gated on it to its distributed path. It does not reach a method's
  *    own threshold parameter: `ConnectedComponents.run(smallThreshold)`
  *    keeps its default unless the caller passes one (`Pipeline` passes
  *    −1).
  *  - [[fits]] decides from a measure the caller already has; [[take]]
  *    sizes and collects in one action. Both log the operator, the
  *    measure, the limit and the path taken.
  *  - [[order]]: Spark's string order, the one the distributed twins'
  *    `min`, `<` and `orderBy` apply.
  *  - [[dense]] / [[denseOf]], then [[undirected]] or [[directed]]: dense
  *    ids and an int-array CSR adjacency over them.
  *  - [[ordered]]: String dense ids renumbered in [[order]], so the
  *    replays compare ints where the distributed twins compare strings.
  *  - [[UnionFind]]: the driver union-find, over dense ids;
  *    [[components]] labels String ids with it (min member under
  *    [[order]]).
  *  - [[Bfs]]: one level-synchronous BFS over a CSR, one source at a
  *    time with a depth bound, on int arrays (the distance, closure and
  *    path-count replays). */
object Local {
  val MaxEntriesKey = "spark.graft.local.maxEntries"

  private val log = org.slf4j.LoggerFactory.getLogger("graft.Local")

  def maxEntries(spark: SparkSession): Long =
    spark.conf.get(MaxEntriesKey, "8000000").toLong

  private def record(op: String, entries: Long, limit: Long, local: Boolean): Boolean = {
    log.info(s"gate $op: entries=$entries limit=$limit path=" +
      (if (local) "local" else "distributed"))
    local
  }

  /** Whether `entries` driver-held entries fit the budget. */
  def fits(spark: SparkSession, op: String, entries: Long): Boolean = {
    val limit = maxEntries(spark)
    record(op, entries, limit, entries <= limit)
  }

  /** One action both sizes and collects: the rows of `ds` when there are
    * at most `limit` of them (clamped below `Int.MaxValue`, which `take`
    * cannot exceed), else None. A negative limit is None without a job. */
  def take[T](ds: Dataset[T], op: String, limit: Long): Option[Array[T]] =
    if (limit < 0) None
    else {
      val lim = math.min(limit, Int.MaxValue - 1L).toInt
      val head = ds.take(lim + 1)
      if (record(op, head.length.toLong, lim.toLong, head.length <= lim)) Some(head)
      else None
    }

  /** Spark's string order: UTF-8 bytes, unsigned. Java's `String` order
    * compares UTF-16 units and disagrees once strings mix non-BMP chars
    * with U+E000–U+FFFF. */
  val order: Ordering[String] = (a, b) =>
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  def lt(a: String, b: String): Boolean = order.lt(a, b)

  /** An edge list over dense ids: `ids(i)` is the original id of dense id
    * `i`; edge `j` runs `src(j)` → `dst(j)`; `id(k)` is the dense id of
    * `k`, or −1 when `k` is no endpoint. */
  final class Dense[K](val ids: Array[K], val src: Array[Int], val dst: Array[Int],
      val id: K => Int) {
    def n: Int = ids.length
  }

  /** Long ids: a sorted distinct id array, endpoints found by binary
    * search. */
  def dense(src: Array[Long], dst: Array[Long]): Dense[Long] = {
    val all = java.util.Arrays.copyOf(src, src.length + dst.length)
    System.arraycopy(dst, 0, all, src.length, dst.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    def ix(a: Array[Long]): Array[Int] = a.map(java.util.Arrays.binarySearch(ids, _))
    new Dense(ids, ix(src), ix(dst), k => math.max(java.util.Arrays.binarySearch(ids, k), -1))
  }

  /** Any other id type: dense ids in first-seen order. */
  def denseOf[K: ClassTag](src: Array[K], dst: Array[K]): Dense[K] = {
    val ix = new java.util.HashMap[K, Integer]
    val ids = scala.collection.mutable.ArrayBuffer.empty[K]
    def id(x: K): Int = {
      val got = ix.get(x)
      if (got != null) got.intValue
      else { ix.put(x, ids.length); ids += x; ids.length - 1 }
    }
    val (s, d) = (src.map(id), dst.map(id))
    new Dense(ids.toArray, s, d, k => { val got = ix.get(k); if (got == null) -1 else got.intValue })
  }

  /** Union-find over the ints `0 until n`, with path halving; a union
    * keeps the smaller root. */
  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)

    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }

    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** Node → min id of its component under [[order]], for every node of
    * `es`: over [[ordered]] ids the smaller root is that min. */
  def components(es: Iterable[(String, String)]): Map[String, String] = {
    val pairs = es.toArray
    val g = ordered(denseOf(pairs.map(_._1), pairs.map(_._2)))
    val uf = new UnionFind(g.n)
    var i = 0
    while (i < g.src.length) { uf.union(g.src(i), g.dst(i)); i += 1 }
    g.ids.indices.iterator.map(v => g.ids(v) -> g.ids(uf.find(v))).toMap
  }

  /** `g` with its dense ids renumbered to ascend in [[order]], so that
    * comparing two ids compares their strings as Spark does. */
  def ordered(g: Dense[String]): Dense[String] = {
    val utf = g.ids.map(UTF8String.fromString)
    val byOrder = Array.range(0, g.n).sortWith((a, b) => utf(a).compareTo(utf(b)) < 0)
    val rank = new Array[Int](g.n)
    byOrder.indices.foreach(i => rank(byOrder(i)) = i)
    new Dense(byOrder.map(g.ids), g.src.map(rank), g.dst.map(rank),
      k => { val v = g.id(k); if (v < 0) -1 else rank(v) })
  }

  /** CSR adjacency: slots `off(v) until off(v + 1)` hold v's neighbours
    * in `nbr` and the index of the edge that put them there in `edge`. */
  final class Csr(val off: Array[Int], val nbr: Array[Int], val edge: Array[Int]) {
    def deg(v: Int): Int = off(v + 1) - off(v)
  }

  /** Every edge fills one slot at each endpoint. */
  def undirected(g: Dense[_]): Csr = csr(g, both = true)

  /** Edge `src → dst` fills one slot at `src`: out-neighbours only. */
  def directed(g: Dense[_]): Csr = csr(g, both = false)

  /** The counting sort behind both: slots at `src`, and at `dst` too when
    * `both`. */
  private def csr(g: Dense[_], both: Boolean): Csr = {
    val (n, m) = (g.n, g.src.length)
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < m) { off(g.src(i) + 1) += 1; if (both) off(g.dst(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val nbr = new Array[Int](off(n)); val edge = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val s = g.src(i); val d = g.dst(i)
      nbr(fill(s)) = d; edge(fill(s)) = i; fill(s) += 1
      if (both) { nbr(fill(d)) = s; edge(fill(d)) = i; fill(d) += 1 }
      i += 1
    }
    new Csr(off, nbr, edge)
  }

  /** Level-synchronous BFS over `g`, one source per [[run]]; the arrays
    * are reused across sources. After `run(s, maxDepth)`,
    * `order(0 until size)` holds the nodes within `maxDepth` hops of `s`
    * level by level (`s` first), `dist(v)` is v's hop count (−1 for every
    * node not reached) and `returned` says whether a node fewer than
    * `maxDepth` hops from `s` has an edge back to `s`: whether `s` lies
    * on a cycle of at most `maxDepth` edges. */
  final class Bfs(g: Csr) {
    val dist: Array[Int] = Array.fill(g.off.length - 1)(-1)
    val order = new Array[Int](g.off.length - 1)
    var size = 0
    var returned = false

    def run(s: Int, maxDepth: Int): Unit = {
      var i = 0
      while (i < size) { dist(order(i)) = -1; i += 1 }
      dist(s) = 0; order(0) = s; size = 1; returned = false
      var head = 0
      while (head < size) {
        val u = order(head); val du = dist(u)
        if (du < maxDepth) {
          var k = g.off(u)
          while (k < g.off(u + 1)) {
            val v = g.nbr(k)
            if (dist(v) < 0) { dist(v) = du + 1; order(size) = v; size += 1 }
            else if (v == s) returned = true
            k += 1
          }
        }
        head += 1
      }
    }
  }
}
