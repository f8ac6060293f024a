package graft.run

import graft.canon.ConnectedComponents
import graft.graph.TripleStore
import graft.link.EntityLinker
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline:
  *
  *   docs ──(narrow)──► mention-detect + per-doc triples   [FastExtract]
  *        └─(narrow)──► vendor mentions ──► entities ──► candidate edges
  *                                                [EntityLinker]
  *                      edges ──► connected components ──► canonical map
  *                                                [ConnectedComponents]
  *   triples ⋈ canonical map ──► canonical graph + sameAs edges
  *
  * Every entry point (run, runResumable, runBootstrap, runIncremental) runs
  * the one [[entityStage]] and writes the one graph: [[docTriples]] ∪
  * [[vendorTriples]], plus [[stateTriples]] wherever a store needs them.
  *
  * Shuffle inventory (the whole point at 100 TB):
  *   0 shuffles to raw triples (one per-doc kernel over span arrays);
  *   the triple scan reads 9 leaf columns (doc_id and the spans' kind,
  *     text, offset, conf and bbox) and decodes no `OcrDoc`;
  *   the mention scan reads 5 leaf columns (doc_id and the spans' text,
  *     conf, bbox.y, bbox.h) and is not cached in the materializing
  *     `spark.graft.materialize` modes: the entity table's checkpoint
  *     consumes it once;
  *   1 groupBy(entity_key) over the SMALL mention projection — it yields
  *     the entity table AND the per-entity mention counts (n_mentions)
  *     that weight canonical-representative selection;
  *   the entity stage then has ONE edge source and ONE ending: below
  *     `Config.elSmallThreshold` entities a collect of the entity table
  *     (linking on the driver), above it one grouped LSH/ICE verify pass
  *     over the MUCH smaller entity set and a collect of its verified
  *     edges (with their endpoints' counts and the cap-accounting rows);
  *     union-find and canonical choice then run on the driver over the
  *     LINKED entities only, for an increment together with the stored
  *     linked pairs. Only beyond `graft.Local`'s budget do a distinct, CC
  *     iterations (or an increment's label contraction) and the
  *     canonical-map window run;
  *   the stage carries the LINKED part of the canonical map (id ≠
  *     canonical); every other entity is its own canonical and needs no
  *     map row: the rewrite, sameAs and hasICE coalesce it to itself;
  *   1 broadcast-able join to rewrite vendor/client objects;
  *   1 final repartition at write.
  */
object Pipeline {

  final case class Config(
      numHashes: Int = 8,
      jaccardMin: Double = 0.6,
      editSimMin: Double = 0.85,
      useIce: Boolean = true,
      /** canonical-map rewrite strategy: the map is broadcast when its row
        * count is ≤ this limit, otherwise the rewrite falls back to a
        * shuffled join (identical output — PipelineSpec forces the fallback
        * with limit=0). At 10^8+ entities a broadcast would blow the driver/
        * executor memory budget; the fallback trades 2 triple-stream
        * shuffles for that safety. */
      broadcastEntityLimit: Long = 10000000L,
      /** entity count up to which the entity stage links on the driver,
        * over one collect of the entity table; above it linking is one
        * distributed verify pass whose edges are collected instead. Either
        * way components and canonical choice run on the driver while the
        * edges (and an increment's stored linked pairs) fit `graft.Local`'s
        * budget — identical results on every side (PipelineSpec,
        * LocalElParitySpec, ConnectedComponentsSpec, IncrementalSpec). An
        * increment gates the registry merged with it; its result equals a
        * full rebuild only while every prior link still verifies over the
        * merged table (see runIncremental). 0 forces distributed linking —
        * what ScalingBench measures, since the driver shortcut deliberately
        * does NOT scale with executors. */
      elSmallThreshold: Long = 50000L)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.run.Pipeline")

  /** Snapshot id of the canonical-map + entity-registry stage commit. */
  private val CanonBatch = 1000000

  /** Internal bookkeeping predicates: the canonical map and the entity
    * registry ride in the triple store (they need its atomic-snapshot
    * semantics) but are never part of the user-visible graph. */
  private[run] val InternalPreds: Seq[String] =
    Seq("canonicalOf", "_reg_surface", "_reg_n", "_reg_ice")

  private def vendorNode(key: Column): Column = concat(lit("vendor:"), key)

  /** The (surf_node, canon_node) projection of an (id, canonical) map,
    * broadcast only while it fits the broadcast budget; the choice is
    * logged either way (the 0-vs-2-full-corpus-shuffle decision is worth a
    * line in any run log). `mapRows` must bound the map's row count —
    * callers have it for free because the map is materialized
    * (localCheckpoint) before use. */
  private def mapNodes(map: DataFrame, mapRows: Long, limit: Long): DataFrame = {
    val m = map.select(vendorNode(col("id")).as("surf_node"),
      vendorNode(col("canonical")).as("canon_node"))
    if (mapRows <= limit) { log.info(s"canonical map: broadcast ($mapRows rows <= $limit)"); broadcast(m) }
    else { log.warn(s"canonical map: shuffled-join fallback ($mapRows rows > $limit)"); m }
  }

  /** Objects of hasVendor/hasClient are vendor nodes: point them at their
    * canonical node through `m` (a [[mapNodes]] projection). */
  private def rewriteObjects(triples: DataFrame, m: DataFrame): DataFrame =
    triples
      .join(m, triples("obj") === m("surf_node"), "left")
      .withColumn("obj",
        when(col("pred").isin("hasVendor", "hasClient"), coalesce(col("canon_node"), col("obj")))
          .otherwise(col("obj")))
      .drop("surf_node", "canon_node")

  /** The doc-scoped stream of `docs` with objects rewritten through `m`:
    * a single pass, one broadcast join, no dedup needed (doc-scoped
    * subjects embed the doc_id). hasICE is vendor-scoped — see
    * [[vendorTriples]]. */
  private def docTriples(docs: DataFrame, m: DataFrame): DataFrame =
    rewriteObjects(rawTriples(docs).where(col("pred") =!= "hasICE"), m)
      .select("subj", "pred", "obj")

  /** Vendor-scoped triples regenerated from the ENTITY table (not the doc
    * stream): hasICE per canonical vendor (an unlinked entity is its own)
    * + sameAs per linked surface form. */
  private def vendorTriples(s: Stage): DataFrame = {
    val iceTriples = s.ents.where(col("entity_key").isNotNull && col("ice").isNotNull)
      .select(col("entity_key").as("id"), col("ice"))
      .join(s.linked, Seq("id"), "left")
      .select(vendorNode(coalesce(col("canonical"), col("id"))).as("subj"),
        lit("hasICE").as("pred"), col("ice").as("obj"))
      .distinct()
    iceTriples.unionByName(sameAsTriples(s.linked))
  }

  /** sameAs per linked surface form, from the unhinted map: a broadcast
    * hint outside a join is dropped with a warning. */
  private def sameAsTriples(canonMap: DataFrame): DataFrame =
    canonMap.where(col("id") =!= col("canonical"))
      .select(vendorNode(col("id")).as("subj"), lit("sameAs").as("pred"),
        vendorNode(col("canonical")).as("obj"))

  /** The graph of `docs` over an entity stage: [[docTriples]] through its
    * linked map (unlinked vendors keep their node) ∪ [[vendorTriples]]. */
  private def graph(docs: DataFrame, s: Stage, cfg: Config): DataFrame =
    docTriples(docs, mapNodes(s.linked, s.linkedRows, cfg.broadcastEntityLimit))
      .unionByName(vendorTriples(s))

  private def asOcrDocs(docs: DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("doc_id", "page_w", "page_h", "spans").as[graft.model.OcrDoc]
  }

  /** `f` over the doc-scale vendor-mention table of `docs`. It is
    * persisted for the call only under `spark.graft.materialize=none`,
    * where each branch that reads the entity table re-reads the mentions;
    * in the materializing modes the entity table's checkpoint runs the
    * groupBy's map stage once, so the mentions are scanned once and a
    * cache would only cost its build. */
  private def withMentions[A](docs: DataFrame)(f: DataFrame => A): A = {
    val vm = FastExtract.vendorMentions(asOcrDocs(docs)).toDF()
    if (graft.Materialize.materializing(docs.sparkSession)) f(vm)
    else {
      vm.persist()
      try f(vm) finally vm.unpersist()
    }
  }

  private def rawTriples(docs: DataFrame): DataFrame =
    FastExtract.triples(asOcrDocs(docs)).toDF()

  /** What [[entityStage]] returns: the entity table; the LINKED part of
    * its canonical map, (id, canonical) for every entity whose canonical is
    * another entity (an entity absent from it is its own canonical); that
    * part's row count; and the candidate-edge count (an increment's
    * `inc_el_edges`; 0 where a full build runs the distributed components,
    * which do not count their edges). Only stores need [[map]], the full
    * map. */
  private[graft] final case class Stage(ents: DataFrame, linked: DataFrame, linkedRows: Long,
      edges: Long) {
    /** The full canonical map, one row per entity: ents ⟕ linked, lazily. */
    def map: DataFrame = ents.select(col("entity_key").as("id")).where(col("id").isNotNull)
      .join(linked, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"))
  }

  /** Bucket cap of every linking call of the entity stage. */
  private val MaxBucket = 1000

  /** The entity stage of every entry point: vendor mentions → entities →
    * one edge source → one driver ending. The mention counts that weight
    * canonical-representative selection are the entity table's
    * `n_mentions` — the same groupBy, not a second pass over the mentions.
    *
    * With a `prior` ([[storedEntities]] of a store) the entity table is the
    * increment's entities and the stored registry folded by ONE groupBy:
    * the attributes re-aggregate decomposably (min / sum / min), so it is
    * the table a full extract over old ∪ new gives, plus `t` (the key
    * appears in the increment) and `prior` (its stored canonical). Linking
    * then verifies only pairs with a `t` endpoint, and components grow the
    * prior ones (a learned merge is never un-learned).
    *
    * The edge source is ONE collect: of the entity table while it has at
    * most `cfg.elSmallThreshold` rows (linking on the driver), else of the
    * verify pass's [[EntityLinker.Hit]]s. Both carry their endpoints'
    * `n_mentions` into [[linkedLocal]], an increment's after ONE collect
    * of its stored linked pairs ([[priorHits]]) under the same
    * `graft.Local` budget. Beyond that budget the stage ends in
    * [[linkedDistributed]].
    *
    * Cache discipline (r1 leak post-mortem, ADVICE): the DOC-SCALE mention
    * table is cached only under `spark.graft.materialize=none` (see
    * [[withMentions]]) and only for the duration of this call: everything
    * returned is ENTITY-scale and materialized via self-cleaning
    * localCheckpoint (or a driver-local relation) before the call ends.
    * Nothing doc-scale outlives the call. */
  private[graft] def entityStage(docs: DataFrame, cfg: Config,
      prior: Option[DataFrame] = None): Stage =
    withMentions(docs) { vm =>
      // entity-scale, materialized inside (the increment's merge as well)
      val ents = prior.fold(EntityLinker.entities(vm)) { p =>
        graft.Materialize(EntityLinker.entities(vm)
          .select(col("entity_key"), col("surface"), col("n_mentions"), col("ice"),
            lit(true).as("t"), lit(null).cast("string").as("prior"))
          .unionByName(p)
          .groupBy("entity_key")
          .agg(min("surface").as("surface"), sum("n_mentions").as("n_mentions"),
            min("ice").as("ice"), max("t").as("t"), min("prior").as("prior"))
          .withColumn("tokens", array_distinct(split(col("entity_key"), "_"))),
          eager = false)
      }
      val incremental = prior.isDefined
      val spark = ents.sparkSession
      // a hit adds up to two ids to the union-find and two counts
      val budget = graft.Local.maxEntries(spark) / 2
      val stored = if (!incremental) Some(Array.empty[EntityLinker.Hit])
        else graft.Local.take(priorHits(ents), "entity-prior", budget)
      lazy val hits = EntityLinker.verifiedHits(ents, if (incremental) col("t") else lit(true),
        col("n_mentions"), cfg.numHashes, cfg.jaccardMin, cfg.editSimMin, cfg.useIce, MaxBucket)
      stored.flatMap { st =>
        // the edge source: the entity table while it is small (linking on
        // the driver), else the verify pass
        val small = if (cfg.elSmallThreshold <= 0) None
          else graft.Local.take(ents, "entity-stage", cfg.elSmallThreshold)
        small.map(head => (spark.createDataFrame(java.util.Arrays.asList(head: _*), ents.schema),
            EntityLinker.edgesLocal(head.map(r => EntityLinker.LocalEnt.of(r).copy(
                t = !incremental || r.getAs[Boolean]("t"), n = r.getAs[Long]("n_mentions"))),
              cfg.numHashes, cfg.jaccardMin, cfg.editSimMin, cfg.useIce, MaxBucket)))
          .orElse(graft.Local.take(hits, "entity-edges", budget - st.length)
            .map(rows => (ents, EntityLinker.edgesOf(rows.iterator, MaxBucket))))
          .map { case (e, hs) => linkedLocal(e, hs, st) }
      }.getOrElse(linkedDistributed(ents, hits, incremental))
    }

  /** The driver ending of every entity stage: union-find and
    * representative choice ([[ConnectedComponents.canonicalMapLocal]]) over
    * the linking `hits` and an increment's `stored` pairs, weighted by the
    * counts they carry. An entity on neither is its own canonical and needs
    * no row; the linked map is a local relation, so its row count is free. */
  private def linkedLocal(ents: DataFrame, hits: Seq[EntityLinker.Hit],
      stored: Seq[EntityLinker.Hit]): Stage = {
    val spark = ents.sparkSession
    import spark.implicits._
    val es = hits ++ stored
    val linked = ConnectedComponents.canonicalMapLocal(es.map(h => (h.src, h.dst)),
        es.flatMap(h => Seq(h.src -> h.nSrc, h.dst -> h.nDst)).distinct)
      .filter { case (id, c) => id != c }
    Stage(ents, linked.toDF("id", "canonical"), linked.size.toLong, hits.size.toLong)
  }

  /** An increment's stored linked pairs as hits: (id, stored canonical)
    * for each entity whose canonical is another entity, with both sides'
    * merged `n_mentions`. */
  private def priorHits(ents: DataFrame): Dataset[EntityLinker.Hit] = {
    val spark = ents.sparkSession
    import spark.implicits._
    ents.where(col("prior") =!= col("entity_key"))
      .select(col("entity_key").as("src"), col("prior").as("dst"), col("n_mentions").as("nSrc"))
      .join(ents.select(col("entity_key").as("dst"), col("n_mentions").as("nDst")), "dst")
      .select("src", "dst", "nSrc", "nDst").as[EntityLinker.Hit]
  }

  /** The entity stage when the verified `hits` outgrow `graft.Local`'s
    * budget: a full build runs the distributed components over the edges'
    * endpoints only; an increment contracts its distinct edges into the
    * stored labels ([[ConnectedComponents.incrementalUpdate]], whose inner
    * CC runs on the batch-bounded label graph) and weighs every entity.
    * Either ends in [[ConnectedComponents.canonicalMap]]'s rows with
    * `id ≠ canonical`, a LAZY materialize + count in ONE job. Must run
    * inside `withMentions`, as the hits' lineage reads the entity table. */
  private def linkedDistributed(ents: DataFrame, hits: Dataset[EntityLinker.Hit],
      incremental: Boolean): Stage = {
    EntityLinker.warnCaps(hits, MaxBucket)
    val e = hits.where(col("src").isNotNull)
    val (comps, counts, n) =
      if (!incremental)
        // the budget above measured the edges: no second probe in run
        (ConnectedComponents.run(e.select("src", "dst"), smallThreshold = -1L),
          e.select(col("src").as("id"), col("nSrc").as("n"))
            .union(e.select(col("dst"), col("nDst"))).distinct(), 0L)
      else {
        val edges = graft.Materialize(e.select("src", "dst").distinct(), eager = false)
        // the count materializes the batch-bounded edge set: label
        // contraction's CC input never grows with the corpus
        val n = edges.count()
        (ConnectedComponents.incrementalUpdate(
            priorMap(ents).withColumnRenamed("canonical", "component"), edges),
          ents.select(col("entity_key").as("id"), col("n_mentions").as("n")), n)
      }
    val linked = graft.Materialize(ConnectedComponents.canonicalMap(comps, counts)
      .where(col("id") =!= col("canonical")), eager = false)
    Stage(ents, linked, linked.count(), n)
  }

  /** The store-side state of an entity stage: one canonicalOf triple per
    * entity (its full map) plus the registry triples. */
  private def stateTriples(s: Stage): DataFrame =
    s.map.select(vendorNode(col("id")).as("subj"), lit("canonicalOf").as("pred"),
        vendorNode(col("canonical")).as("obj"))
      .unionByName(registryTriples(s.ents))

  /** Encode the entity table (entity_key, surface, n_mentions, ice) as
    * registry triples so it rides the store's snapshot protocol. All three
    * attributes re-aggregate decomposably (min / sum / min), which is what
    * lets `runIncremental` extend it: merged registry == the entity table
    * of a full extract over old ∪ new. */
  private def registryTriples(ents: DataFrame): DataFrame = {
    val base = ents.select(vendorNode(col("entity_key")).as("s"),
      col("surface"), col("n_mentions"), col("ice"))
    base.select(col("s").as("subj"), lit("_reg_surface").as("pred"),
        col("surface").as("obj"))
      .unionByName(base.select(col("s").as("subj"), lit("_reg_n").as("pred"),
        col("n_mentions").cast("string").as("obj")))
      .unionByName(base.where(col("ice").isNotNull).select(col("s").as("subj"),
        lit("_reg_ice").as("pred"), col("ice").as("obj")))
  }

  /** Inverse of [[stateTriples]] without a groupBy of its own: one row of
    * the merged entity table per internal triple (the attribute it carries,
    * `t` false, `prior` = the stored canonical), which [[entityStage]]'s
    * merge groupBy folds into one row per entity. */
  private def storedEntities(store: DataFrame): DataFrame = {
    def key(c: Column) = regexp_replace(c, "^vendor:", "")
    def attr(pred: String, v: Column) = when(col("pred") === pred, v)
    store.where(col("pred").isin(InternalPreds: _*)).select(
      key(col("subj")).as("entity_key"),
      attr("_reg_surface", col("obj")).as("surface"),
      attr("_reg_n", col("obj").cast("long")).as("n_mentions"),
      attr("_reg_ice", col("obj")).as("ice"),
      lit(false).as("t"),
      attr("canonicalOf", key(col("obj"))).as("prior"))
  }

  /** The stored canonical map (id, canonical) of entity-table rows. */
  private def priorMap(ents: DataFrame): DataFrame =
    ents.where(col("prior").isNotNull)
      .select(col("entity_key").as("id"), col("prior").as("canonical"))

  /** Rewrite surface vendor nodes to canonical ones and add sameAs edges —
    * for callers that rewrite a raw triple stream themselves (kgbench's
    * traced layer pass); the entry points here write [[graph]] instead.
    * The map's row count is supplied by the caller — when the map comes
    * from a store read, the count is already in the snapshot's lineage
    * counters (`canonicalOf`), so counting it again per call is an extra
    * entity-scale job.
    *
    * The canonical map is tiny relative to the triples (entities, not docs)
    * but its size estimate is opaque to Catalyst (it comes through a window
    * over joins), so without the explicit hint the rewrite degrades to a
    * sort-merge join that shuffles ALL triples twice — broadcast() is the
    * difference between 0 and 2 full-corpus shuffles here. */
  def canonicalize(rawTriples: DataFrame, canonMap: DataFrame, mapRows: Long,
      broadcastEntityLimit: Long): DataFrame = {
    val m = mapNodes(canonMap, mapRows, broadcastEntityLimit)

    // objects of hasVendor/hasClient and subjects of hasICE are vendor nodes
    val objRewritten = rewriteObjects(rawTriples, m)
    val rewritten = objRewritten
      .join(m, objRewritten("subj") === m("surf_node"), "left")
      .withColumn("subj",
        when(col("pred") === "hasICE", coalesce(col("canon_node"), col("subj")))
          .otherwise(col("subj")))
      .drop("surf_node", "canon_node")

    val sameAs = sameAsTriples(canonMap).withColumn("doc_id", lit(null).cast("string"))

    rewritten.unionByName(sameAs.select(rewritten.columns.toIndexedSeq.map(col): _*))
  }

  /** Full run: docs → canonical triple graph (deduplicated).
    *
    * Plan shape (the 100 TB view):
    *  - docs are scanned exactly TWICE, both narrow and neither decoding an
    *    `OcrDoc`: once for the raw triple stream, which reads 9 leaf
    *    columns (never page_w, page_h or media_ref), once for the tiny
    *    vendor-mention projection, which reads only 5 and, in the
    *    materializing modes, has no doc-scale cache (the entity table's
    *    checkpoint consumes it once);
    *  - the raw triple stream flows through ONE broadcast join (canonical
    *    map) and is never shuffled, persisted, or scanned twice — doc-scoped
    *    subjects embed the doc_id and are duplicate-free by construction;
    *  - vendor-scoped triples (hasICE, sameAs) are REGENERATED from the
    *    entity table (entities ⟕ linked map — thousands of rows), not
    *    deduplicated out of the full graph: dedup work is proportional to
    *    the number of entities, not the number of documents;
    *  - the canonical map the rewrite broadcasts holds LINKED entities
    *    only; above `elSmallThreshold` it comes from one collect of the
    *    verified edges while they fit `graft.Local`'s budget, so the
    *    distributed stage plans no window and no second edge distinct.
    */
  def run(docs: DataFrame, cfg: Config = Config()): DataFrame =
    graph(docs, entityStage(docs, cfg), cfg)

  /** Resumable run: documents are split into `nBatches` deterministic
    * batches (hash of doc_id); each batch commits atomically to the triple
    * store with lineage counters; already-committed batches are skipped, so
    * a killed run resumes at the last committed snapshot.
    *
    * The entity stage runs once over the full corpus — entity resolution
    * must be global, per north_star — and its snapshot (batch id
    * 1_000_000) holds the vendor-scoped triples with the canonical map and
    * the registry; each data batch is its docs' [[docTriples]] through the
    * stored map, so the store reads back as [[run]]'s graph with no
    * doc-scale dedup. Stores whose data batches carry sameAs/hasICE rows
    * (the earlier layout, vendor triples on every batch) are refused while
    * batches remain: resuming one would leave the remaining batches'
    * vendors without hasICE — rebuild it.
    *
    * @param failAfterBatches test hook: throw after committing k batches.
    */
  def runResumable(spark: SparkSession, docs: DataFrame, storeRoot: String,
      nBatches: Int = 4, cfg: Config = Config(),
      failAfterBatches: Int = Int.MaxValue,
      extraCounters: Map[String, Long] = Map.empty): Unit = {
    val committed = TripleStore.committedBatches(storeRoot)

    // stage 1: global entity stage → vendor triples + canonical map +
    // entity registry (one snapshot; the registry is what lets
    // runIncremental extend the map later without re-extracting this corpus)
    if (!committed.contains(CanonBatch)) {
      val s = entityStage(docs, cfg)
      // n_batches is part of the store's addressing scheme (batch b covers
      // pmod(xxhash64(doc_id), nBatches) == b), so it is recorded with the
      // canon snapshot and WINS on resume — see effBatches below
      TripleStore.commitBatch(vendorTriples(s).unionByName(stateTriples(s)), storeRoot,
        CanonBatch, Map("n_batches" -> nBatches.toLong))
    }
    val canonMap = priorMap(storedEntities(TripleStore.read(spark, storeRoot)))
    // map row count from the canon snapshot's lineage counters (driver-side
    // manifest read) — NOT a count() job over the store-backed map; the
    // counter is written by every canon-stage commit, the count() fallback
    // only covers hand-built stores
    val canonRows = TripleStore.counterValue(storeRoot, CanonBatch, "canonicalOf")
      .getOrElse(canonMap.count())

    // resume safety: committed batch ids address pmod(hash, nBatches)
    // partitions, so resuming with a DIFFERENT nBatches would silently skip
    // every document whose old partition isn't re-covered — the stored
    // value wins, loudly (absent only on stores predating the counter)
    val effBatches = TripleStore.counterValue(storeRoot, CanonBatch, "n_batches")
      .map(_.toInt).getOrElse(nBatches)
    if (effBatches != nBatches)
      graft.Audit.warn(s"runResumable: store was built with nBatches=$effBatches, " +
        s"caller asked $nBatches — resuming with the STORED value (batch ids " +
        "address pmod(hash, nBatches) document partitions; changing it " +
        "mid-store would drop documents)")
    require((0 until effBatches).forall(committed) || !committed.exists(b =>
        b < effBatches && Seq("sameAs", "hasICE").exists(TripleStore.counterValue(storeRoot, b, _).isDefined)),
      "runResumable: the store's data batches carry sameAs/hasICE rows (the earlier " +
        "layout, which canonicalized the vendor triples into every batch) — resuming " +
        "it would leave the remaining batches' vendors without hasICE; rebuild the store")

    val m = mapNodes(canonMap, canonRows, cfg.broadcastEntityLimit)
    var done = 0
    (0 until effBatches).foreach { b =>
      if (!TripleStore.committedBatches(storeRoot).contains(b)) {
        if (done >= failAfterBatches) throw new RuntimeException(s"injected failure before batch $b")
        val batchDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(effBatches)) === b)
        val nDocs = batchDocs.count()
        TripleStore.commitBatch(docTriples(batchDocs, m), storeRoot, b,
          Map("docs" -> nDocs) ++ extraCounters)
        done += 1
      }
    }
  }

  /** Bootstrap an EMPTY store from one document batch as a SINGLE atomic
    * snapshot: [[run]]'s graph plus the canonical map and the entity
    * registry (and caller counters, e.g. the streaming `stream_batch`
    * marker).
    *
    * Why not runResumable(nBatches = 1): its two-snapshot stage structure
    * (canon snapshot, then data batch) has a crash WINDOW for streaming
    * replays — canon committed, data batch not → the replay sees a
    * non-empty store with no stream_batch marker and takes the
    * runIncremental branch over the SAME docs, merging the bootstrap
    * registry with a fresh extraction of those docs and double-counting
    * every entity's n_mentions (which can flip canonical-representative
    * selection later — ADVICE r3). One snapshot = no window: a crash
    * before the manifest move leaves the store EMPTY, and the replay
    * bootstraps cleanly. Returns the snapshot id (0). */
  def runBootstrap(spark: SparkSession, docs: DataFrame, storeRoot: String,
      cfg: Config = Config(), extraCounters: Map[String, Long] = Map.empty): Int = {
    require(TripleStore.committedBatches(storeRoot).isEmpty,
      "runBootstrap: store already has snapshots — use runIncremental")
    val s = entityStage(docs, cfg)
    val nDocs = docs.count()
    TripleStore.commitBatch(graph(docs, s, cfg).unionByName(stateTriples(s)), storeRoot, 0,
      Map("docs" -> nDocs) ++ extraCounters)
    0
  }

  /** Read back the materialized graph. Pipeline's writers store each
    * triple once; the distinct covers batches committed by other writers
    * (e.g. raw `TripleStore.commitBatch` ingest). */
  def readGraph(spark: SparkSession, storeRoot: String): DataFrame =
    visible(TripleStore.read(spark, storeRoot))

  /** A store read minus internal bookkeeping predicates, deduplicated. */
  private def visible(triples: DataFrame): DataFrame =
    triples.where(!col("pred").isin(InternalPreds: _*)).distinct()

  /** Point lookup in a materialized graph — the first operation every graph
    * consumer does: all visible triples of the given subjects (optionally
    * restricted to `preds`), via the store's PRUNED read path
    * (`TripleStore.readForSubjects`: compacted batches open only the
    * matching subject-bucket partitions), minus internal bookkeeping
    * predicates. On a compacted store this touches 1/filesPerPred of the
    * files instead of scanning the graph. */
  def lookupSubjects(spark: SparkSession, storeRoot: String,
      subjects: Seq[String], preds: Seq[String] = Nil): DataFrame =
    // the caller's preds restriction passes through UNFILTERED: a request
    // for an internal bookkeeping predicate must return the empty set
    // (visible's filter), not fall back to "no restriction" (Nil) and leak every
    // public triple of the subject
    visible(TripleStore.readForSubjects(spark, storeRoot, subjects, preds))

  /** Reverse point lookup — `?s pred obj`, "who links TO this entity?":
    * all visible triples with the given objects (optionally restricted to
    * `preds`), via the store's object-permutation pruned read path
    * (`TripleStore.readForObjects`: compactions written with
    * `objectIndex = true` open only the matching obucket partitions),
    * minus internal bookkeeping predicates — the same consumer treatment
    * as [[lookupSubjects]] (r4 verdict #9). The preds restriction passes
    * through UNFILTERED for the same reason: asking for an internal
    * predicate must return the empty set, not leak. */
  def lookupObjects(spark: SparkSession, storeRoot: String,
      objects: Seq[String], preds: Seq[String] = Nil): DataFrame =
    visible(TripleStore.readForObjects(spark, storeRoot, objects, preds))

  /** The graph as of a snapshot id — e.g. the state before an incremental
    * update (whose snapshot `replaces` earlier batches only for readers at
    * or past it). Pre-compaction history needs the superseded partitions
    * still on disk (i.e. before `TripleStore.vacuum`). */
  def readGraphAsOf(spark: SparkSession, storeRoot: String, asOfBatch: Int): DataFrame =
    visible(TripleStore.readAsOf(spark, storeRoot, asOfBatch))

  /** Incremental maintenance — extend an existing store with NEW documents
    * without re-extracting the old corpus (the 10^12-doc operational path:
    * a daily increment must not cost a full-corpus rebuild).
    *
    * How: [[entityStage]] with the store as its prior. The stored entity
    * REGISTRY (decomposable per-entity aggregates) re-aggregates with the
    * new docs' mentions into exactly the entity table a full extract over
    * old ∪ new would produce; linking verifies only pairs incident to an
    * entity the increment touched, and canonicalization extends the stored
    * components: one driver union-find over the new edges plus the stored
    * linked pairs while both fit `graft.Local`'s budget, else label
    * CONTRACTION ([[ConnectedComponents.incrementalUpdate]]), whose inner
    * CC runs on the batch-bounded label graph, never the corpus edge set —
    * the committed snapshot's `inc_el_edges` counter records that bound.
    * Canonical-representative selection re-runs over the merged counts.
    * Old doc-scoped triples are re-pointed through the (old canonical →
    * new canonical) delta — entity-scale, broadcast — and vendor-scoped
    * triples (sameAs, hasICE) are regenerated from the merged table, while
    * old DOCUMENTS are touched zero times.
    *
    * Equals a full rebuild over old ∪ new exactly when every link of the
    * prior canonical map still verifies over the merged entity table: the
    * rebuild re-verifies every pair, the increment keeps every prior merge
    * (monotone — a learned merge is never un-learned). A prior link stops
    * verifying when the increment lowers an entity's registry ICE (the
    * minimum over its mentions) to a value that disagrees with the ICE of
    * an entity it was linked to by name (the rebuild's ICE veto then
    * splits the pair; seen on a 600-doc, 2,000-vendor pool corpus, where
    * the increment keeps one more sameAs and one hasVendor differs), when
    * it lowers a surface below the name-similarity bar, or when new
    * entities push an LSH bucket past its cap. Gazetteer corpora
    * (IncrementalSpec) meet the condition.
    *
    * PRECONDITION: `newDocs` must be disjoint (by doc_id) from the
    * documents already in the store — a re-ingested doc would double its
    * mention counts in the registry (skewing canonical-representative
    * weights) even though the triple set itself stays duplicate-free.
    * The streaming path (`Streams.ingestDocsCanonical`) enforces this
    * with cross-batch `dropDuplicates("doc_id")` state; batch callers
    * own the boundary (e.g. ingest from a dated landing partition).
    *
    * Atomicity: the ENTIRE update — re-pointed old triples, new docs'
    * triples, regenerated vendor-scoped triples, refreshed canonical map
    * and registry — lands as ONE snapshot whose manifest atomically
    * `replaces` every previously visible batch. A crash at any point
    * before the manifest move leaves the store byte-identical; rerunning
    * the increment is then safe. (Requires a materializing
    * `spark.graft.materialize` mode — the default — since the commit
    * rewrites the directory it read.)
    *
    * Cost model: one full-store read+write pass per increment (the
    * re-point doubles as compaction — the result is one large snapshot).
    * Amortize by batching increments. A delta-empty fast path (skip the
    * re-point when no old canonical changes — provably exact, since a
    * surface's canonical can only change when its representative's does)
    * would avoid the store pass for most quiet increments, but requires
    * splitting canon/registry into their own snapshot chain and a
    * two-phase commit whose crash recovery is NOT idempotent (a re-run
    * would double-count the increment's mentions in the registry); the
    * single-snapshot design trades that IO for unconditional atomicity.
    * Returns the new snapshot id. */
  def runIncremental(spark: SparkSession, newDocs: DataFrame, storeRoot: String,
      cfg: Config = Config(), extraCounters: Map[String, Long] = Map.empty): Int = {
    val visible = TripleStore.visibleBatchIds(storeRoot)
    require(visible.nonEmpty, "runIncremental: empty store — runResumable first")
    val store = TripleStore.read(spark, storeRoot)
    def has(rows: Column): Boolean = store.where(rows).take(1).nonEmpty
    val hasMap = has(col("pred") === "canonicalOf")
    require(hasMap || !has(!col("pred").isin(InternalPreds: _*)),
      "runIncremental: store holds triples but NO canonical map (raw " +
        "ingest-style commits) — extending it incrementally would merge a " +
        "canonical increment into a never-canonicalized graph and drop the " +
        "old vendors' identifier data; rebuild via runResumable/runBootstrap " +
        "first")
    require(!hasMap || has(col("pred") === "_reg_n"),
      "runIncremental: store has a canonical map but no entity registry " +
        "(pre-registry format) — rebuild the canon snapshot with the " +
        "current runResumable first")

    val s = entityStage(newDocs, cfg, Some(storedEntities(store)))
    // entity-scale delta: each old canonical (an entity whose stored
    // canonical is itself) → its new canonical, where changed — the linked
    // rows of old canonicals. Delta rows ≤ linked rows, so linkedRows
    // bounds it — same broadcast gate as the new map (an unconditional
    // broadcast would OOM at 10^8-entity stores)
    val delta = s.linked
      .join(s.ents.where(col("prior") === col("entity_key")).select(col("entity_key").as("id")), "id")
    val d = mapNodes(delta, s.linkedRows, cfg.broadcastEntityLimit)

    // old doc-scoped triples re-pointed through the delta (sameAs/hasICE
    // are regenerated from the merged table by graph() below)
    val oldDocTriples = rewriteObjects(
      store.where(!col("pred").isin(InternalPreds: _*) &&
        !col("pred").isin("sameAs", "hasICE")), d)
      .select("subj", "pred", "obj")
    val combined = oldDocTriples
      .unionByName(graph(newDocs, s, cfg))
      .unionByName(stateTriples(s))
    val newId = TripleStore.committedBatches(storeRoot).max + 1
    val nDocs = newDocs.select("doc_id").distinct().count()
    TripleStore.commitBatch(combined, storeRoot, newId,
      Map("docs_added" -> nDocs, "inc_el_edges" -> s.edges) ++ extraCounters,
      replaces = visible)
    newId
  }
}
