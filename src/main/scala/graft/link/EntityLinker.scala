package graft.link

import graft.tag.Taggers
import org.apache.spark.sql.{DataFrame, Row}
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
  * Scale notes: the self-join is on (band, minhash) block keys, never a
  * cross join; pathological buckets (stop-token collisions) are capped at
  * `maxBucket` entities and dropped from LSH candidates (they are still
  * recoverable via the identifier key), bounding the quadratic blow-up.
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
      // reused by 4 scan branches (blocks × bucket sizes × 2 join sides);
      // materialization policy is config-gated (graft.Materialize: default
      // self-cleaning localCheckpoint; "reliable" for preemptible clusters,
      // "none" for pure lineage). Lazy: audit callers (blockStats) may not
      // consume it, so don't pay a job until the first action.
      .transform(d => graft.Materialize(d, eager = false))

  /** Candidate sameAs edges (src < dst, entity_key level) over a
    * pre-built (persisted) entity table.
    *
    * HYBRID (same pattern as ConnectedComponents.run): below
    * `smallThreshold` entities the whole LSH→verify chain runs driver-side
    * with EXACT parity (XxHash64Function band hashes,
    * UTF8String.levenshteinDistance — the very functions the Column
    * expressions compile to; LocalElParitySpec). The distributed chain is
    * 5+ stage barriers (blocks, bucket sizes, kept, self-join, distinct) —
    * pure fixed latency when the entity table fits on the driver, which a
    * 10^12-doc corpus with 10^5–10^7 DISTINCT vendors often still does.
    * `smallThreshold = 0` forces the distributed path. `Pipeline`'s full
    * builds gate the whole entity stage themselves (one collect feeding
    * [[edgesLocal]] directly), so in `Pipeline` this gate serves only the
    * incremental path ([[candidateEdgesTouched]]). */
  def candidateEdgesFromEntities(
      ents: DataFrame,
      numHashes: Int = 8,
      jaccardMin: Double = 0.6,
      editSimMin: Double = 0.85,
      useIce: Boolean = true,
      maxBucket: Int = 1000,
      smallThreshold: Long = 50000L): DataFrame =
    edges(ents, None, numHashes, jaccardMin, editSimMin, useIce, maxBucket,
      smallThreshold)

  /** Incremental-maintenance variant: the subset of
    * `candidateEdgesFromEntities(ents)` edges with at least one endpoint in
    * `touched` (a column `entity_key` — brand-new entities plus existing
    * entities whose registry attributes the increment changed). Blocking
    * still hashes EVERY entity (one narrow linear pass — touched entities
    * must find their old co-bucketed neighbours), but only buckets holding
    * a touched entity reach the quadratic verify, and only touched-incident
    * pairs are verified — so verify work scales with the INCREMENT, not the
    * entity corpus.
    *
    * Soundness (why dropping old–old pairs is exact, given the store was
    * built by this pipeline with the same config): an untouched entity's
    * attributes (surface/tokens/ice) are bit-identical to the prior run,
    * its band hashes are per-entity deterministic, and buckets only GROW,
    * so any old–old pair surviving today's cap survived the prior run's
    * and verified identically — its edge is already inside the prior
    * labeling that [[graft.canon.ConnectedComponents.incrementalUpdate]]
    * contracts over. ICE star edges are restricted the same way: star
    * groups without a touched member are fully within one prior component.
    */
  def candidateEdgesTouched(
      ents: DataFrame,
      touched: DataFrame,
      numHashes: Int = 8,
      jaccardMin: Double = 0.6,
      editSimMin: Double = 0.85,
      useIce: Boolean = true,
      maxBucket: Int = 1000,
      smallThreshold: Long = 50000L): DataFrame =
    edges(ents, Some(touched), numHashes, jaccardMin, editSimMin, useIce,
      maxBucket, smallThreshold)

  /** The size gate shared by both public entry points: the driver-local
    * chain below `smallThreshold` entities, otherwise [[distributedEdges]];
    * `touched` restricts either to touched-incident pairs (None = the full
    * edge set). */
  private def edges(
      ents: DataFrame,
      touched: Option[DataFrame],
      numHashes: Int,
      jaccardMin: Double,
      editSimMin: Double,
      useIce: Boolean,
      maxBucket: Int,
      smallThreshold: Long): DataFrame = {
    if (smallThreshold > 0) {
      // single action sizes AND collects (no separate count pass)
      val head = ents.select("entity_key", "surface", "tokens", "ice")
        .take(math.min(smallThreshold, Int.MaxValue - 1).toInt + 1)
      if (head.length <= smallThreshold) {
        val spark = ents.sparkSession
        import spark.implicits._
        val all = edgesLocal(head.map(LocalEnt.of), numHashes, jaccardMin,
          editSimMin, useIce, maxBucket)
        // exact parity with the distributed restriction: the full local
        // edge set filtered to touched-incident pairs
        val kept = touched.fold(all) { t =>
          val tset = t.select(col("entity_key").cast("string"))
            .collect().map(_.getString(0)).toSet
          all.filter(e => tset(e._1) || tset(e._2))
        }
        return spark.createDataset(kept).toDF("src", "dst")
      }
    }
    distributedEdges(ents, touched, numHashes, jaccardMin, editSimMin, useIce,
      maxBucket)
  }

  /** The distributed LSH→verify chain, optionally restricted to pairs with
    * a `touched` endpoint (None = the full edge set). */
  private def distributedEdges(
      ents: DataFrame,
      touched: Option[DataFrame],
      numHashes: Int,
      jaccardMin: Double,
      editSimMin: Double,
      useIce: Boolean,
      maxBucket: Int): DataFrame = {
    val tkeys = touched.map(t => graft.Materialize(
      t.select(col("entity_key").cast("string").as("entity_key")).distinct(),
      eager = false))

    // MinHash signature: sig_i = min over tokens of xxhash64(token, seed=i)
    val sigs = (0 until numHashes).map { i =>
      array_min(transform(col("tokens"), t => xxhash64(t, lit(i))))
    }
    val blocks = ents
      .select(col("entity_key"), col("surface"), col("tokens"), col("ice"),
        posexplode(array(sigs: _*)).as(Seq("band", "h")))

    // cap pathological buckets — with in-operator accounting (r3 verdict
    // #3): the (band,h)-scale size table is materialized once (it gates the
    // join anyway) and the dropped bucket/row counts go to Audit.warn, so
    // the cap is never silent; blockStats remains the deep-dive audit.
    // Lazy checkpoint: the accounting agg below is the materializing
    // action, so sizing + accounting cost ONE serial job, deliberately run
    // when the operator is built. Skipped (warned) under materialize=none,
    // where it would double-compute the bucket aggregate.
    val bucketSizes = graft.Materialize(
      blocks.groupBy("band", "h").count(), eager = false)
    if (graft.Materialize.accountingEnabled(ents.sparkSession)) {
      val droppedB = bucketSizes.where(col("count") > maxBucket)
        .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L))).head()
      if (droppedB.getLong(0) > 0)
        graft.Audit.warn(s"EntityLinker: dropping ${droppedB.getLong(0)} " +
          s"over-cap LSH buckets covering ${droppedB.getLong(1)} entity-band " +
          s"rows (maxBucket=$maxBucket); capped entities stay recoverable " +
          "via the ICE identifier key")
    } else graft.Audit.warn("EntityLinker: materialize=none — in-operator " +
      "cap accounting skipped (it would double-compute the bucket " +
      "aggregate); audit caps via blockStats")
    val keptBlocks0 = blocks
      .join(bucketSizes.where(col("count") <= maxBucket), Seq("band", "h"))
      .drop("count")

    // touched restriction: flag rides the block rows; only buckets with a
    // touched member can yield a touched-incident pair, so the rest never
    // reach the self-join. For the full (None) chain the flag is a literal
    // true that constant-folds out of the plan.
    val keptBlocks = tkeys match {
      case Some(t) =>
        val flagged = keptBlocks0
          .join(t.withColumn("is_t", lit(true)), Seq("entity_key"), "left")
          .withColumn("is_t", coalesce(col("is_t"), lit(false)))
        flagged.join(
          flagged.where(col("is_t")).select("band", "h").distinct(),
          Seq("band", "h"), "left_semi")
      case None => keptBlocks0.withColumn("is_t", lit(true))
    }

    val l = keptBlocks.select(
      col("band"), col("h"), col("entity_key").as("src"),
      col("surface").as("s_surface"), col("tokens").as("s_tokens"),
      col("ice").as("s_ice"), col("is_t").as("s_t"))
    val r = keptBlocks.select(
      col("band"), col("h"), col("entity_key").as("dst"),
      col("surface").as("d_surface"), col("tokens").as("d_tokens"),
      col("ice").as("d_ice"), col("is_t").as("d_t"))

    val jaccard =
      size(array_intersect(col("s_tokens"), col("d_tokens"))).cast("double") /
        size(array_union(col("s_tokens"), col("d_tokens"))).cast("double")

    // Strong-identifier veto: two entities that BOTH carry a known ICE that
    // DISAGREES are never the same company, whatever their name similarity
    // ("RABAT BUILDING SOLUTIONS" ≁ "RABAT BUSINESS SOLUTIONS").
    val iceConflict =
      col("s_ice").isNotNull && col("d_ice").isNotNull && col("s_ice") =!= col("d_ice")

    val lshEdges = l.join(r, Seq("band", "h"))
      .where(col("src") < col("dst"))
      .where(col("s_t") || col("d_t")) // cheap gate BEFORE the verify work
      .where(!iceConflict)
      .where(jaccard >= jaccardMin ||
        Taggers.editSimilarity(col("s_surface"), col("d_surface")) >= editSimMin)
      .select("src", "dst")
      .distinct()

    if (!useIce) lshEdges
    else {
      // STAR topology per identifier group (hub = min entity_key): these
      // edges only ever feed connected components, where a star yields the
      // exact same components as all-pairs — but a degenerate shared ICE
      // (OCR noise, placeholder '000000000' on 10^5 entities) costs
      // group-size rows instead of a quadratic self-join bucket
      val withIce0 = ents.where(col("ice").isNotNull)
      // touched restriction: only groups holding a touched member need new
      // edges (an untouched group is fully inside one prior component); the
      // hub is still the min over the FULL group, matching the rebuild
      val withIce = tkeys match {
        case Some(t) =>
          withIce0.join(
            withIce0.join(t, Seq("entity_key"), "left_semi")
              .select("ice").distinct(),
            Seq("ice"), "left_semi")
        case None => withIce0
      }
      val iceMin = withIce.groupBy("ice").agg(min(col("entity_key")).as("src"))
      val iceEdges0 = withIce.select(col("ice"), col("entity_key").as("dst"))
        .join(iceMin, "ice")
        .where(col("src") < col("dst")) // src IS the group min; drops self
        .select("src", "dst")
      val iceEdges = tkeys match {
        case Some(t) =>
          // keep only touched-incident star edges: old–old members of a
          // touched group are already co-labeled in the prior map
          val ts = t.withColumn("t1", lit(true))
          iceEdges0
            .join(ts.withColumnRenamed("entity_key", "src"), Seq("src"), "left")
            .join(ts.withColumnRenamed("entity_key", "dst")
              .withColumnRenamed("t1", "t2"), Seq("dst"), "left")
            .where(coalesce(col("t1"), lit(false)) ||
              coalesce(col("t2"), lit(false)))
            .select("src", "dst")
        case None => iceEdges0
      }
      lshEdges.union(iceEdges).distinct()
    }
  }

  /** One collected row of the entity table, as [[edgesLocal]] reads it. */
  private[graft] final case class LocalEnt(key: String, surface: String,
      tokens: Seq[String], ice: String)

  private[graft] object LocalEnt {
    /** From a row carrying [[entities]]' columns (by name, any order). */
    def of(r: Row): LocalEnt = LocalEnt(r.getAs[String]("entity_key"),
      r.getAs[String]("surface"), r.getSeq[String](r.fieldIndex("tokens")), r.getAs[String]("ice"))
  }

  /** Driver-side twin of the distributed LSH→verify chain. Parity by
    * construction: band hashes via XxHash64Function (what `xxhash64(t,
    * lit(i))` compiles to), edit distance via UTF8String.levenshteinDistance
    * (what `levenshtein` compiles to), keys ordered by their UTF-8 bytes
    * (what `<` and `min` compare), same bucket cap, same ICE veto. */
  private[graft] def edgesLocal(ents: Array[LocalEnt], numHashes: Int,
      jaccardMin: Double, editSimMin: Double, useIce: Boolean,
      maxBucket: Int): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}

    // Spark's string order; Java's String order compares UTF-16 units
    val keyOrder: Ordering[String] = (a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

    // minhash signature per entity: sig_i = min over tokens of
    // xxhash64(token, i) — the expression folds args left-to-right from
    // seed 42: hash(token, 42) first, then i with that as seed (same chain
    // Dedup.minhashSignatureScala locks)
    def sig(tokens: Seq[String]): Array[Long] = {
      val s = Array.fill(numHashes)(Long.MaxValue)
      tokens.foreach { t =>
        val h1 = XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
        var i = 0
        while (i < numHashes) {
          val h = XxHash64Function.hash(i, IntegerType, h1)
          if (h < s(i)) s(i) = h
          i += 1
        }
      }
      s
    }

    // buckets: (band, hash) → entity indices, capped at maxBucket
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
    val sigs = ents.map(e => sig(e.tokens))
    ents.indices.foreach { i =>
      var b = 0
      while (b < numHashes) {
        buckets.getOrElseUpdate((b, sigs(i)(b)), scala.collection.mutable.ArrayBuffer.empty) += i
        b += 1
      }
    }

    def editSim(a: String, b: String): Double = {
      // mirror Taggers.editSimilarity exactly: length() = codepoint count,
      // lower() = UTF8String.toLowerCase — NOT java.lang.String.toLowerCase,
      // whose default-locale mapping diverges (e.g. tr dotless ı) and would
      // break driver/distributed edge parity
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val ml = math.max(ua.numChars(), ub.numChars())
      if (ml == 0) 1.0
      else 1.0 - ua.toLowerCase.levenshteinDistance(ub.toLowerCase).toDouble / ml
    }
    def jaccard(a: Seq[String], b: Seq[String]): Double = {
      val (sa, sb) = (a.toSet, b.toSet)
      val u = (sa ++ sb).size
      if (u == 0) 0.0 else (sa & sb).size.toDouble / u
    }

    // same cap accounting as the distributed chain (parity includes the log)
    val oversized = buckets.valuesIterator.filter(_.size > maxBucket).map(_.size).toSeq
    if (oversized.nonEmpty)
      graft.Audit.warn(s"EntityLinker: dropping ${oversized.length} " +
        s"over-cap LSH buckets covering ${oversized.sum} entity-band rows " +
        s"(maxBucket=$maxBucket); capped entities stay recoverable via the " +
        "ICE identifier key")

    val out = scala.collection.mutable.TreeSet.empty[(String, String)]
    buckets.valuesIterator.filter(_.size <= maxBucket).foreach { members =>
      val m = members.toArray
      var i = 0
      while (i < m.length) {
        var j = i + 1
        while (j < m.length) {
          val (a, b) = (ents(m(i)), ents(m(j)))
          val (src, dst) = if (keyOrder.lt(a.key, b.key)) (a, b) else (b, a)
          if (src.key != dst.key && !out.contains((src.key, dst.key))) {
            val iceConflict = src.ice != null && dst.ice != null && src.ice != dst.ice
            if (!iceConflict &&
              (jaccard(src.tokens, dst.tokens) >= jaccardMin ||
                editSim(src.surface, dst.surface) >= editSimMin))
              out += ((src.key, dst.key))
          }
          j += 1
        }
        i += 1
      }
    }
    if (useIce) {
      // star per ICE group — must mirror the distributed iceEdges exactly
      // (LocalElParitySpec pins the edge sets equal)
      val byIce = ents.filter(_.ice != null).groupBy(_.ice)
      byIce.valuesIterator.foreach { es =>
        val keys = es.map(_.key).distinct.sorted(keyOrder)
        val hub = keys.head
        keys.iterator.drop(1).foreach(k => out += ((hub, k)))
      }
    }
    out.toSeq
  }

  /** Bucket-size audit for the LSH blocking — "no silent caps": rows with
    * `capped = true` are the buckets candidateEdgesFromEntities drops at
    * `maxBucket`. Run this alongside linking to quantify (and log) what
    * the cap costs. */
  def blockStats(mentions: DataFrame, numHashes: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    val ents = entities(mentions)
    val sigs = (0 until numHashes).map { i =>
      array_min(transform(col("tokens"), t => xxhash64(t, lit(i))))
    }
    ents.select(posexplode(array(sigs: _*)).as(Seq("band", "h")))
      .groupBy("band", "h").count()
      .withColumn("capped", col("count") > maxBucket)
  }
}
