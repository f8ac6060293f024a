package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-node triangle counting over an undirected simple graph — the
  * clustering-structure pass a KG consumer runs for community detection,
  * dense-block (spam/mirror-farm) discovery in the doc–entity graph, and
  * local-clustering-coefficient features. Counterpart to PageRank in the
  * post-construction analytics family.
  *
  * Algorithm: DEGREE-ORDERED orientation (the "compact-forward" scheme).
  * Every undirected edge {a, b} is oriented from the endpoint with the
  * smaller (degree, id) key to the larger, a total order because ids are
  * unique. A triangle {x, y, z} with key(x) < key(y) < key(z) is then
  * discovered exactly once, as the wedge (x→y, x→z) closed by the oriented
  * edge y→z — an equi self-join on the wedge apex followed by a semi join
  * against the oriented edge set.
  *
  * Why degree ordering matters at scale: with an arbitrary orientation the
  * wedge join materializes Σ d⁺(v)² rows, which a single mega-hub (the
  * mega-vendor skew case) turns quadratic. Orienting by degree bounds
  * every out-degree by O(√m) on any graph, so the wedge set is O(m^1.5)
  * worst case and near-linear on the power-law graphs KGs actually are —
  * the hub's edges all point INTO it, so the hub apexes no wedges. All
  * joins are equi joins on node ids (AQE-skew-splittable); nothing is
  * collected to the driver.
  */
object Triangles {

  /** edges: undirected edge list, one row per edge in either or both
    * directions (duplicates and self-loops are dropped). Returns
    * (id: string, n_tri: long) for every node in at least one triangle.
    *
    * Two physical paths, same triangle set (r6):
    *  - INTERSECT path (node table within the [[graft.Hints]] broadcast
    *    gate): oriented out-adjacency lists are built once and
    *    broadcast; each oriented edge (u,v) closes its triangles as
    *    |N⁺(u) ∩ N⁺(v)| in one codegen'd `array_intersect` — a triangle
    *    x→y, x→z, y→z is found exactly once, at its lowest edge (x,y).
    *    Nothing materializes the Σ d⁺(v)² wedge set and the edge table
    *    is never shuffled into a wedge join (guide §2.3/§2.4: the wedge
    *    shuffle at bench scale was ~36M rows; here the only exchanges
    *    are the adjacency groupBy and the final count aggregate).
    *  - WEDGE path (beyond the gate): the original compact-forward
    *    wedge join + semi-join close — rows stay narrow (no adjacency
    *    arrays ride shuffles), the right trade at 10^9+-node scale.
    * Ids compute as LONGs when both input columns are integral (strings
    * only widen every exchange; the public schema keeps id: string), and
    * ANY total order orients correctly, so the (deg, long id) key of the
    * fast path and the (deg, string id) key of the generic path find the
    * identical triangle set. */
  def perNode(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val integral = Seq(srcCol, dstCol).forall { c =>
      edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val ty = if (integral) "long" else "string"
    val a = col(srcCol).cast(ty)
    val b = col(dstCol).cast(ty)
    // canonical undirected form: {min, max} pairs, self-loops out
    val und = graft.Materialize(edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())
    // r6: size-gated driver-local count (the k-core local-peel pattern).
    // Per-node triangle counts are a pure property of the undirected
    // graph — ANY orientation finds the same triangles — so the local
    // degree-ordered two-pointer count provably agrees with both
    // distributed paths (TrianglesSpec gate-forces all three).
    if (graft.Local.fits(edges.sparkSession, "triangles", und.count())) {
      val spark = edges.sparkSession
      import spark.implicits._
      val rows = und.collect()
      val g = graft.Local.denseOf(rows.map(_.get(0)), rows.map(_.get(1)))
      val (names, n, ea, eb) = (g.ids, g.n, g.src, g.dst)
      val deg0 = new Array[Int](n)
      var i = 0
      while (i < rows.length) { deg0(ea(i)) += 1; deg0(eb(i)) += 1; i += 1 }
      // orient low-key → high-key by (deg, dense id); build sorted CSR
      @inline def fwd(u: Int, v: Int): Boolean =
        deg0(u) < deg0(v) || (deg0(u) == deg0(v) && u < v)
      val outDeg = new Array[Int](n)
      i = 0; while (i < rows.length) { if (fwd(ea(i), eb(i))) outDeg(ea(i)) += 1 else outDeg(eb(i)) += 1; i += 1 }
      val off = new Array[Int](n + 1)
      i = 0; while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
      val nb = new Array[Int](rows.length)
      val fill = off.clone()
      i = 0
      while (i < rows.length) {
        val (u, v) = if (fwd(ea(i), eb(i))) (ea(i), eb(i)) else (eb(i), ea(i))
        nb(fill(u)) = v; fill(u) += 1; i += 1
      }
      i = 0; while (i < n) { java.util.Arrays.sort(nb, off(i), off(i + 1)); i += 1 }
      val tri = new Array[Long](n)
      i = 0
      while (i < rows.length) {
        val (u, v) = if (fwd(ea(i), eb(i))) (ea(i), eb(i)) else (eb(i), ea(i))
        var p = off(u); var q = off(v)
        while (p < off(u + 1) && q < off(v + 1)) {
          val x = nb(p); val y = nb(q)
          if (x == y) { tri(u) += 1; tri(v) += 1; tri(x) += 1; p += 1; q += 1 }
          else if (x < y) p += 1 else q += 1
        }
        i += 1
      }
      return (0 until n).collect {
        case v if tri(v) > 0 => (String.valueOf(names(v)), tri(v))
      }.toDF("id", "n_tri")
    }
    val deg = graft.Materialize(
      und.select(col("a").as("id")).union(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg")),
      eager = false)
    val nNodes = deg.count()
    def st(df: DataFrame): DataFrame = graft.Hints.bcastIf(df, nNodes)
    // orient by (deg, id): u → v iff key(u) < key(v)
    val keyed = und
      .join(st(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da")), Seq("a"))
      .join(st(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db")), Seq("b"))
    def key(d: String, id: String) = struct(col(d).as("kd"), col(id).as("kid"))
    val fwd = key("da", "a") < key("db", "b")
    val counts =
      if (nNodes <= graft.Hints.maxRows(edges.sparkSession)) {
        val o = graft.Materialize(keyed.select(
          when(fwd, col("a")).otherwise(col("b")).as("u"),
          when(fwd, col("b")).otherwise(col("a")).as("v")))
        val padj = graft.Materialize(
          o.groupBy("u").agg(collect_list("v").as("nb")), eager = false)
        // inner joins: u always has out-edges; a v with none closes no
        // triangle on this edge (its intersect would be empty anyway)
        val tri = o
          .join(st(padj.select(col("u"), col("nb").as("nb_u"))), Seq("u"))
          .join(st(padj.select(col("u").as("v"), col("nb").as("nb_v"))), Seq("v"))
          .select(col("u"), col("v"),
            array_intersect(col("nb_u"), col("nb_v")).as("c"))
          .where(size(col("c")) > 0)
        // each triangle (u,v,w∈c) credits u, v and every w exactly once
        tri.select(explode(concat(
            array(struct(col("u").as("id"), size(col("c")).cast("long").as("n")),
              struct(col("v").as("id"), size(col("c")).cast("long").as("n"))),
            transform(col("c"), w => struct(w.as("id"), lit(1L).as("n"))))).as("t"))
          .select(col("t.id").as("id"), col("t.n").as("n"))
          .groupBy("id").agg(sum("n").as("n_tri"))
      } else {
        val o = graft.Materialize(keyed.select(
          when(fwd, col("a")).otherwise(col("b")).as("u"),
          when(fwd, col("b")).otherwise(col("a")).as("v"),
          when(fwd, key("db", "b")).otherwise(key("da", "a")).as("vkey")))
        // wedges from a common lower-keyed apex, closed by an oriented edge
        val tri = o.as("e1").join(o.as("e2"),
            col("e1.u") === col("e2.u") && col("e1.vkey") < col("e2.vkey"))
          .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
          .join(o.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"), "left_semi")
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("n_tri"))
      }
    counts.select(col("id").cast("string").as("id"), col("n_tri"))
  }

  /** Local clustering coefficient per node — `2·T(v) / (deg(v)·(deg(v)−1))`
    * over the undirected simple graph (0 for degree < 2): the standard
    * density feature for community/spam structure, built from the same
    * degree-ordered triangle pass. Returns (id, deg, n_tri, coeff) for
    * EVERY node of the graph (nodes in no triangle report n_tri = 0),
    * coeff rounded to 6 dp for cross-engine equality.
    *
    * Scale shape: `perNode`'s oriented wedge join (O(m^1.5) worst case,
    * near-linear on power-law graphs) + the degree aggregate + one
    * node-scale left join — nothing new at data scale. */
  def clusteringCoefficient(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val a = col(srcCol).cast("string")
    val b = col(dstCol).cast("string")
    val und = edges
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(perNode(edges, srcCol, dstCol), Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(when(col("deg") < 2, 0.0).otherwise(
          coalesce(col("n_tri"), lit(0L)) * 2.0 /
            (col("deg") * (col("deg") - 1.0))), 6).as("coeff"))
  }

  /** Global triangle count — one extra tiny aggregate over `perNode`
    * (each triangle contributes 3 node increments). */
  def globalCount(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): Long = {
    val row = perNode(edges, srcCol, dstCol)
      .agg(coalesce(sum("n_tri"), lit(0L)).as("s")).head()
    row.getLong(0) / 3
  }
}
