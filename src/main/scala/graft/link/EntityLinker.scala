package graft.link

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Entity linking of vendor/client surface forms.
  *
  * Blocking: MinHash-LSH over the name token set — k independent min-hashes
  * (xxhash64 with distinct seeds), banded b×1 for high recall at small
  * signature cost; pairs sharing any band bucket become candidates.
  * Re-scoring: token-set Jaccard + edit-distance similarity
  * (model_evaluation.py:312,330-336 semantics via built-in `levenshtein`).
  * An exact blocking key on the ICE identifier (the Moroccan VAT-id-class
  * field, complex_facture_generator.py:151) contributes additional edges —
  * standard identifier-based linking; the LSH path is exercised separately
  * in tests with `useIce = false`.
  *
  * The reference itself only ever matches exact gazetteer names
  * (complex_facture_generator.py:40-61 fixed pools); fuzzy EL is the
  * north_star extension (SURVEY.md §2.3 J6).
  *
  * Scale notes: blocking and verify are ONE grouped pass — every
  * (band, min-hash) bucket and every ICE group is a group of one member
  * table, verified by [[verifyGroup]] — plus one distinct; never a join,
  * never a cross join. Pathological buckets (stop-token collisions) over
  * `maxBucket` entities buffer at most `maxBucket + 1` members and drop out
  * of the LSH candidates (still recoverable via the identifier key),
  * bounding the quadratic blow-up; an ICE group streams a star, so it
  * needs no cap.
  *
  * Linking only yields edges ([[Hit]]s); `Pipeline`'s entity stage
  * clusters the collected hits of [[edgesLocal]] or [[verifiedHits]].
  */
object EntityLinker {

  /** Distinct entities with blocking attributes from the mention table
    * produced by FastExtract.vendorMentions. One shuffle (groupBy entity_key). */
  def entities(mentions: DataFrame): DataFrame =
    mentions
      .groupBy("entity_key")
      .agg(
        min("surface").as("surface"),
        count(lit(1)).as("n_mentions"),
        min(when(col("ice") =!= "", col("ice"))).as("ice"))
      .withColumn("tokens", array_distinct(split(col("entity_key"), "_")))
      // reused by the linker and the caller's later reads (canonical-map
      // weights, registry triples); materialization policy is config-gated
      // (graft.Materialize: default self-cleaning localCheckpoint;
      // "reliable" for preemptible clusters, "none" for pure lineage).
      // Lazy: audit callers (blockStats) may not consume it, so don't pay
      // a job until the first action.
      .transform(d => graft.Materialize(d, eager = false))

  /** Candidate sameAs edges (src < dst, entity_key level) over a
    * pre-built (persisted) entity table.
    *
    * HYBRID (same pattern as ConnectedComponents.run): below
    * `smallThreshold` entities the LSH→verify chain runs driver-side
    * ([[edgesLocal]]) over one collect, otherwise [[verifiedHits]], its
    * cap accounting and one distinct. Both paths verify every group with
    * the same [[verifyGroup]], and the driver twin's band hashes
    * (XxHash64Function) and group order (Spark's string order) are what the
    * Column expressions compute, so the edge sets agree by construction
    * (LocalElParitySpec). The distributed path is one grouped pass plus
    * one distinct — still fixed latency when the entity table fits on the
    * driver, which a 10^12-doc corpus with 10^5–10^7 DISTINCT vendors often
    * does. `smallThreshold = 0` forces the distributed path. `Pipeline`
    * does not call this: its entity stage collects [[edgesLocal]]'s or
    * [[verifiedHits]]' rows itself and ends in one driver union-find. */
  def candidateEdgesFromEntities(
      ents: DataFrame,
      numHashes: Int = 8,
      jaccardMin: Double = 0.6,
      editSimMin: Double = 0.85,
      useIce: Boolean = true,
      maxBucket: Int = 1000,
      smallThreshold: Long = 50000L): DataFrame = {
    // single action sizes AND collects (no separate count pass)
    val small = if (smallThreshold <= 0) None else graft.Local.take(
      ents.select("entity_key", "surface", "tokens", "ice"), "entity-link", smallThreshold)
    small match {
      case Some(head) =>
        val spark = ents.sparkSession
        import spark.implicits._
        spark.createDataset(edgesLocal(head.map(LocalEnt.of), numHashes, jaccardMin,
          editSimMin, useIce, maxBucket).map(h => (h.src, h.dst))).toDF("src", "dst")
      case None =>
        val hits = verifiedHits(ents, lit(true), lit(0L), numHashes, jaccardMin, editSimMin,
          useIce, maxBucket)
        warnCaps(hits, maxBucket)
        hits.where(col("src").isNotNull).select("src", "dst").distinct()
    }
  }

  /** MinHash signature: sig_i = min over tokens of xxhash64(token, seed=i),
    * null for a null or empty token set. The operator bands on these and
    * [[blockStats]] audits the same buckets. */
  private def bandSigs(numHashes: Int): Seq[Column] = (0 until numHashes).map { i =>
    array_min(transform(col("tokens"), t => xxhash64(t, lit(i))))
  }

  private def capWarning(buckets: Long, rows: Long, maxBucket: Int): String =
    s"EntityLinker: dropping $buckets over-cap LSH buckets covering $rows " +
      s"entity-band rows (maxBucket=$maxBucket); capped entities stay " +
      "recoverable via the ICE identifier key"

  /** The distributed LSH→verify chain as one grouped pass: [[verifyGroup]]
    * over every (band, min-hash) bucket and (useIce) every ICE group of one
    * member table. `t` is each entity's touched flag (`lit(true)` for the
    * full edge set; an increment passes its merged table's `t`): a pair is
    * verified only when an endpoint is touched. `n` is the count each
    * member carries into its edges. Every verified pair (duplicated across
    * the groups that verify it) and one row per over-cap bucket; lazily
    * materialized. With `n = n_mentions`, one collect of it ([[edgesOf]])
    * is all `Pipeline`'s entity stage needs to pick canonicals for the
    * linked entities: no accounting job, no second pass over the entity
    * table.
    *
    * Why verifying touched-incident pairs only is exact for an increment
    * (given the store was built by this pipeline with the same config): an
    * untouched entity's attributes (surface/tokens/ice) are bit-identical
    * to the prior run, its band hashes are per-entity deterministic, and
    * buckets only GROW, so any old–old pair surviving today's cap survived
    * the prior run's and verified identically — its edge is already inside
    * the stored components. ICE star edges are restricted the same way:
    * star groups without a touched member lie within one prior component.
    * Every group still reaches the kernel (it needs the whole group for
    * the cap and the ICE hub), but a group without a touched member emits
    * nothing, so verify work scales with the increment. */
  private[graft] def verifiedHits(
      ents: DataFrame,
      t: Column,
      n: Column,
      numHashes: Int,
      jaccardMin: Double,
      editSimMin: Double,
      useIce: Boolean,
      maxBucket: Int): Dataset[Hit] = {
    val spark = ents.sparkSession
    import spark.implicits._

    // one member row per (entity, group): band b's min-hash bucket, and
    // (band -1) the entity's ICE group; null keys and blocks never group
    val groups = bandSigs(numHashes).zipWithIndex.map { case (h, b) =>
      struct(lit(b).as("band"), h.cast("string").as("block"))
    } ++ (if (useIce) Seq(struct(lit(-1).as("band"), col("ice").as("block"))) else Nil)
    val members = ents
      .select(col("entity_key").as("key"), col("surface"), col("tokens"),
        col("ice"), t.as("t"), n.cast("long").as("n"), explode(array(groups: _*)).as("g"))
      .where(col("key").isNotNull && col("g.block").isNotNull)
      .select(col("g.band").as("band"), col("g.block").as("block"), col("key"),
        col("surface"), col("tokens"), col("ice"), col("t"), col("n"))

    // lazy checkpoint: the caller reads it for the edges and the cap
    // accounting (or collects both at once)
    graft.Materialize(
      members.groupBy("band", "block").as[(Int, String), LocalEnt]
        .flatMapSortedGroups(col("key"))((g, it) =>
          verifyGroup(g._1 < 0, it, jaccardMin, editSimMin, maxBucket)),
      eager = false)
  }

  /** In-operator cap accounting of a grouped pass, so the cap is never
    * silent; [[blockStats]] remains the deep-dive audit. Its aggregate is
    * the lazily checkpointed pass's materializing action. Skipped (warned)
    * under materialize=none, where it would run the grouped pass twice. */
  private[graft] def warnCaps(hits: Dataset[Hit], maxBucket: Int): Unit =
    if (graft.Materialize.materializing(hits.sparkSession)) {
      val dropped = hits.where(col("src").isNull)
        .agg(count(lit(1)), coalesce(sum(col("nSrc")), lit(0L))).head()
      if (dropped.getLong(0) > 0)
        graft.Audit.warn(capWarning(dropped.getLong(0), dropped.getLong(1), maxBucket))
    } else graft.Audit.warn("EntityLinker: materialize=none — in-operator " +
      "cap accounting skipped (it would double-compute the bucket " +
      "aggregate); audit caps via blockStats")

  /** The distinct edges among collected [[Hit]]s, after the cap warning for
    * the over-cap buckets among them — the accounting both driver paths
    * share (`Pipeline`'s collect of [[verifiedHits]] and [[edgesLocal]]). */
  private[graft] def edgesOf(hits: Iterator[Hit], maxBucket: Int): Seq[Hit] = {
    var (cappedB, cappedRows) = (0L, 0L)
    val out = scala.collection.mutable.LinkedHashSet.empty[Hit]
    hits.foreach { h =>
      if (h.src == null) { cappedB += 1; cappedRows += h.nSrc } else out += h
    }
    if (cappedB > 0) graft.Audit.warn(capWarning(cappedB, cappedRows, maxBucket))
    out.toSeq
  }

  /** One output row of [[verifyGroup]]: an edge `src < dst` with its
    * endpoints' counts, or (`src` null) an over-cap LSH bucket of `nSrc`
    * members. */
  private[graft] final case class Hit(src: String, dst: String, nSrc: Long, nDst: Long)

  /** One entity as the linker reads it; `t` is the touched flag (every
    * entity for the full edge set) and `n` the count its edges carry. */
  private[graft] final case class LocalEnt(key: String, surface: String,
      tokens: Seq[String], ice: String, t: Boolean = true, n: Long = 0L)

  private[graft] object LocalEnt {
    /** From a row carrying [[entities]]' columns (by name, any order). */
    def of(r: Row): LocalEnt = LocalEnt(r.getAs[String]("entity_key"),
      r.getAs[String]("surface"), r.getSeq[String](r.fieldIndex("tokens")), r.getAs[String]("ice"))
  }

  /** The verify kernel both paths run on each group, whose non-null keys
    * arrive in Spark's string order (so pairs come out src < dst).
    *
    *  - `star` (an ICE group): the hub is the first (min) key, and the star
    *    hub → member yields the same connected components as all pairs at
    *    group-size cost; streamed, no cap, so a degenerate shared ICE
    *    (OCR noise, placeholder '000000000' on 10^5 entities) stays linear.
    *  - an LSH bucket of more than `maxBucket` members emits no pair, only
    *    one accounting [[Hit]] `(null, null, size, 0)`; it buffers at most
    *    `maxBucket + 1` of them.
    *  - otherwise each pair with a touched endpoint and no ICE conflict is
    *    kept when token Jaccard ≥ `jaccardMin` or edit similarity ≥
    *    `editSimMin` ([[graft.tag.Taggers.editSimilarity]]: lower-cased
    *    levenshtein over the longer codepoint length). SQL semantics: a null
    *    surface fails the edit test and null tokens the Jaccard test.
    *
    * Emits one [[Hit]] per edge, carrying the members' `n`. */
  private def verifyGroup(star: Boolean, members: Iterator[LocalEnt],
      jaccardMin: Double, editSimMin: Double,
      maxBucket: Int): Iterator[Hit] =
    if (star) {
      if (!members.hasNext) Iterator.empty
      else {
        val hub = members.next()
        members.collect { case m if m.key != hub.key && (hub.t || m.t) =>
          Hit(hub.key, m.key, hub.n, m.n) }
      }
    } else {
      val buf = scala.collection.mutable.ArrayBuffer.empty[LocalEnt]
      while (members.hasNext && buf.length <= maxBucket) buf += members.next()
      if (buf.length > maxBucket) Iterator.single(Hit(null, null, buf.length + members.size.toLong, 0L))
      else if (!buf.exists(_.t)) Iterator.empty
      else {
        val m = buf.toArray
        val toks = m.map(e => if (e.tokens == null) null else e.tokens.toSet)
        // lower() = UTF8String.toLowerCase, not the default-locale
        // String.toLowerCase (tr dotless ı); length() = codepoints of the
        // original surface
        val surf = m.map(e => if (e.surface == null) null else UTF8String.fromString(e.surface))
        val len = surf.map(u => if (u == null) 0 else u.numChars())
        val low = surf.map(u => if (u == null) null else u.toLowerCase)
        def jaccardOk(i: Int, j: Int): Boolean = toks(i) != null && toks(j) != null && {
          val u = (toks(i) | toks(j)).size
          u > 0 && (toks(i) & toks(j)).size.toDouble / u >= jaccardMin
        }
        def editOk(i: Int, j: Int): Boolean = low(i) != null && low(j) != null && {
          val ml = math.max(len(i), len(j))
          (if (ml == 0) 1.0 else 1.0 - low(i).levenshteinDistance(low(j)).toDouble / ml) >= editSimMin
        }
        // Strong-identifier veto: two entities that BOTH carry a known ICE
        // that DISAGREES are never the same company, whatever their name
        // similarity ("RABAT BUILDING SOLUTIONS" ≁ "RABAT BUSINESS SOLUTIONS")
        def ok(i: Int, j: Int): Boolean = {
          val (a, b) = (m(i), m(j))
          (a.t || b.t) && a.key != b.key &&
            !(a.ice != null && b.ice != null && a.ice != b.ice) &&
            (jaccardOk(i, j) || editOk(i, j))
        }
        for (i <- m.indices.iterator; j <- (i + 1 until m.length).iterator if ok(i, j))
          yield Hit(m(i).key, m(j).key, m(i).n, m(j).n)
      }
    }

  /** Driver-side twin of the distributed pass: the same groups (band hashes
    * by [[graft.ops.Dedup.minhashSignatureScala]], what
    * `xxhash64(t, lit(i))` compiles to; members in Spark's string order),
    * verified by the same [[verifyGroup]], with the same cap warning. The
    * distinct edges, each carrying its endpoints' `n`. */
  private[graft] def edgesLocal(ents: Array[LocalEnt], numHashes: Int,
      jaccardMin: Double, editSimMin: Double, useIce: Boolean,
      maxBucket: Int): Seq[Hit] = {
    val groups = scala.collection.mutable.HashMap.empty[(Int, String),
      scala.collection.mutable.ArrayBuffer[LocalEnt]]
    def add(g: (Int, String), e: LocalEnt): Unit =
      groups.getOrElseUpdate(g, scala.collection.mutable.ArrayBuffer.empty) += e
    ents.filter(_.key != null).sortBy(_.key)(graft.Local.order).foreach { e =>
      // no token, no signature (SQL null)
      if (e.tokens != null && e.tokens.nonEmpty)
        graft.ops.Dedup.minhashSignatureScala(e.tokens, numHashes).iterator.zipWithIndex
          .foreach { case (h, b) => add((b, h.toString), e) }
      if (useIce && e.ice != null) add((-1, e.ice), e)
    }

    edgesOf(groups.iterator.flatMap { case ((band, _), members) =>
      verifyGroup(band < 0, members.iterator, jaccardMin, editSimMin, maxBucket)
    }, maxBucket)
  }

  /** Bucket-size audit for the LSH blocking — "no silent caps": rows with
    * `capped = true` are the buckets candidateEdgesFromEntities drops at
    * `maxBucket`. Run this alongside linking to quantify (and log) what
    * the cap costs. */
  def blockStats(mentions: DataFrame, numHashes: Int = 8,
      maxBucket: Int = 1000): DataFrame =
    entities(mentions).select(posexplode(array(bandSigs(numHashes): _*)).as(Seq("band", "h")))
      .groupBy("band", "h").count()
      .withColumn("capped", col("count") > maxBucket)
}
