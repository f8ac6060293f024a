package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Connected components over a candidate-match edge list, as an iterative
  * large-star / small-star computation on DataFrames (no RDDs, no GraphX) —
  * the alternating algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SOCC'14), which converges in O(log² n) rounds and
  * keeps every intermediate a plain shuffled aggregation (AQE/skew-join
  * friendly; a mega-vendor star stays a groupBy-min, never a collect).
  *
  * Node ids are strings (entity keys); the component label is the minimum id
  * under Spark's string order (UTF-8 bytes) — only a total order is
  * required, but the driver twins must use the same one.
  *
  * Each iteration `localCheckpoint`s to truncate lineage (SURVEY.md §4:
  * "CC iterations checkpoint every iteration pair to cut lineage").
  * Convergence = edge multiset fixpoint, detected by (count, hash-sum)
  * signature; bounded by maxIter as a safety net.
  *
  * The reference's in-memory analogue is the transitive proximity grouping of
  * vlm/utils/geometry_utils.py:139-204 (W6 in SURVEY.md §2.5).
  */
object ConnectedComponents {

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.where(col("dst") > col("src"))
      .join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min("v").as("m"))
    oriented.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def signature(e: DataFrame): (Long, Long) = {
    // bit_xor: order-independent and overflow-free (ANSI-safe)
    val row = e.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** @param edges DataFrame with string columns (src, dst)
    * @param smallThreshold below this edge count the problem is solved with
    *        driver-side union-find instead of the iterative distributed
    *        algorithm — identical result, none of the ~2s/iteration stage
    *        latency. The standard hybrid: a 10^12-doc corpus has ~10^6-10^8
    *        candidate edges over ENTITIES (not docs), so many real workloads
    *        take the driver path too; the distributed path is there for the
    *        ones that don't.
    * @return (id, component) for every node that appears in `edges`;
    *         component = min id of the node's component.
    */
  def run(edges: DataFrame, maxIter: Int = 20,
      smallThreshold: Long = 100000L): DataFrame = {
    val cleaned = edges.select(col("src").cast("string"), col("dst").cast("string"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // single action: Local.take both sizes the edge set AND collects it
    // when small — no separate count() pass over the linking chain (a
    // negative threshold skips the probe)
    val small = graft.Local.take(cleaned, "cc", smallThreshold)
    if (small.isDefined) {
      val spark = edges.sparkSession
      import spark.implicits._
      return spark.createDataset(graft.Local.components(
        small.get.map(r => (r.getString(0), r.getString(1)))).toSeq).toDF("id", "component")
    }

    // LAZY materialization + signature = ONE job per round: the signature
    // aggregate is the action that computes AND stores the checkpoint, so a
    // round costs one cross-process job instead of three (eager checkpoint,
    // isEmpty probe, signature) — the per-job scheduling latency of this
    // loop is the pipeline's serial component on a real cluster. Emptiness
    // falls out of the signature's count.
    var e = graft.Materialize(cleaned, eager = false)
    var sig = signature(e)
    var converged = sig._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      e = graft.Materialize(smallStar(largeStar(e)), eager = false)
      val s2 = signature(e)
      converged = s2 == sig
      sig = s2
      i += 1
    }
    // Refuse to return a half-converged forest: a node mapping to more than
    // one component would silently fan out every downstream join on the
    // canonical map. large/small-star converges in O(log² n) rounds, so
    // hitting maxIter means the input (or maxIter) is pathological — fail
    // loudly instead (ADVICE r1).
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not reach the edge-multiset fixpoint in $maxIter " +
          "iterations; raise maxIter (convergence is O(log² n) rounds)")
    // At the fixpoint every edge points child → component root.
    val nodes = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = e.select(col("dst").as("id"), col("dst").as("component")).distinct()
    nodes.union(roots).distinct()
  }

  /** Incremental label maintenance — fold a batch of NEW edges into an
    * existing (id, component) labeling WITHOUT re-reading the old edge
    * set: contract every new edge to its endpoints' current labels (new
    * vertices label themselves), run CC over that LABEL graph — its
    * size is bounded by the BATCH, not the corpus — and remap. Sound
    * because contraction preserves connectivity: old-graph paths are
    * within-label by construction, so any union-graph path factors
    * through label vertices. The canonicalizer's streaming ingest does
    * exactly this at the pipeline level; this is the graph-level
    * primitive (old labels = 10¹²-scale table touched by ONE join; the
    * CC itself runs on ≤ 2·|batch| edges).
    *
    * `labels`: (id, component) — a consistent labeling where each
    * component's label is ONE OF ITS MEMBER IDS (so labels are injective
    * across components and can't collide with brand-new vertex ids) and
    * every member is present. Min-member-id labeling (this object's
    * output) is the canonical case; any representative labeling — e.g.
    * the count-weighted canonicals `Pipeline`'s entity stage feeds in for
    * an increment whose verified edges or stored linked pairs outgrow
    * `graft.Local`'s budget (within it, the stage runs
    * [[canonicalMapLocal]]'s union-find over those pairs plus the new
    * edges: the same partition) — is equally valid. `newEdges`: (src,
    * dst). Returns the updated complete labeling; merged groups get the
    * min over the LABELS involved. Under min-id labels, min-of-mins = min
    * of the merged component, so the min-id invariant is preserved —
    * which is what makes the labeling equal CC over old ∪ new edges (the
    * spec law; whether a whole increment equals a rebuild is
    * `Pipeline.runIncremental`'s condition). */
  def incrementalUpdate(labels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 20, smallThreshold: Long = 100000L): DataFrame = {
    val lab = labels.select(col("id").cast("string").as("id"),
      col("component").cast("string").as("component"))
    val e = newEdges
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // endpoints' current labels; unknown vertices are their own label.
    // The isnew flag rides the SAME lookup join, so brand-new vertices
    // are known without a second corpus-scale pass.
    def resolve(c: String) = {
      val side = e.select(col(c).as("id"))
      side.join(lab, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as(s"l$c"),
          col("component").isNull.as("isnew"))
        .distinct()
    }
    val ls = resolve("src"); val ld = resolve("dst")
    val labelEdges = e
      .join(ls.withColumnRenamed("id", "src"), Seq("src"))
      .join(ld.withColumnRenamed("id", "dst"), Seq("dst"))
      .select(col("lsrc").as("src"), col("ldst").as("dst"))
    val merged = run(labelEdges, maxIter, smallThreshold) // label-scale
    // remap: old members via their label, brand-new batch vertices via
    // theirs. Endpoints already IN lab duplicate lab rows exactly, so
    // only the isnew rows union in — the distinct stays BATCH-scale and
    // lab itself is never deduplicated (r4 ADVICE: the old version ran
    // .distinct() over the full corpus labeling).
    val newV = ls.where(col("isnew"))
      .select(col("id"), col("lsrc").as("component"))
      .union(ld.where(col("isnew"))
        .select(col("id"), col("ldst").as("component")))
      .distinct()
    val all = lab.union(newV)
    // 1:≤1 join (merged ids are unique labels) — rows stay unique
    all.join(merged.select(col("id").as("component"),
        col("component").as("__new")), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))
  }

  /** Canonical member per component — the most plausible CLEAN surface form:
    * highest mention count first, then fewest digits (OCR confusions 0↔O,
    * S↔5 inject digits into words — model_evaluation.py:259-264), then the
    * longest form (truncated reads drop trailing tokens), then id for full
    * determinism. Matches the expected-triple convention (FIXTURES.md §3).
    *
    * @param counts (id, n) weight per node (mention frequency)
    * @return (id, canonical) for EVERY id in `counts` (singletons map to
    *         themselves)
    */
  def canonicalMap(components: DataFrame, counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = counts
      .join(components, counts("id") === components("id"), "left")
      .select(counts("id").as("id"),
        coalesce(components("component"), counts("id")).as("component"),
        col("n"))
    val w = Window.partitionBy("component").orderBy(
      col("n").desc,
      length(regexp_replace(col("id"), "[^0-9]", "")).asc,
      length(col("id")).desc,
      col("id").asc)
    val canon = labeled
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("component"), col("id").as("canonical"))
    labeled.join(canon, "component").select(col("id"), col("canonical"))
  }

  /** [[canonicalMap]] over [[run]]'s components, on the driver: union-find
    * over `edges`, then per component the member of `counts` that ranks
    * first under canonicalMap's window order (n desc, ASCII digit count
    * asc, code-point length desc, UTF-8 bytes asc). Returns (id, canonical)
    * for every id in `counts`; ids not in `edges` map to themselves. Null
    * endpoints and self loops are dropped as in [[run]]; null ids get no
    * row, as in canonicalMap's inner join on the component. */
  private[graft] def canonicalMapLocal(edges: Seq[(String, String)],
      counts: Seq[(String, Long)]): Seq[(String, String)] = {
    val comp = graft.Local.components(
      edges.filter { case (a, b) => a != null && b != null && a != b })
    def digits(s: String): Int = s.count(c => c >= '0' && c <= '9')
    // (n, digits, length) decide first; ties fall to the id's byte order
    def before(a: (String, Long), b: (String, Long)): Boolean =
      if (a._2 != b._2) a._2 > b._2
      else {
        val (da, db) = (digits(a._1), digits(b._1))
        if (da != db) da < db
        else {
          val (la, lb) = (UTF8String.fromString(a._1).numChars,
            UTF8String.fromString(b._1).numChars)
          if (la != lb) la > lb else graft.Local.lt(a._1, b._1)
        }
      }
    val labeled = counts.filter(_._1 != null).map(c => (c, comp.getOrElse(c._1, c._1)))
    val best = scala.collection.mutable.HashMap.empty[String, (String, Long)]
    labeled.foreach { case (c, k) => if (best.get(k).forall(before(c, _))) best(k) = c }
    labeled.map { case (c, k) => (c._1, best(k)._1) }
  }
}
