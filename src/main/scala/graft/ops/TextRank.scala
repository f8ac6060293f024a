package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — PageRank
  * over the token co-occurrence graph: words that keep company with other
  * well-connected words are keywords. The graph-native complement of
  * q155's RAKE (frequency/degree scores) — TextRank sees TRANSITIVE
  * importance that RAKE's local statistics miss.
  *
  * Construction, deterministic end to end: tokens are whitespace-split,
  * kept iff the RAW token matches ^[A-Za-z]{3,}$ (ASCII-only gate BEFORE
  * lowercasing — Java and other engines disagree on exotic Unicode
  * lowering, never on ASCII), lowercased, re-sequenced per doc; edges =
  * adjacent kept tokens (window 2, the paper's default), undirected,
  * deduped. Ranking = the engine's EXACT INTEGER PageRank (graph/Ppr with
  * the seed set = the whole vocabulary — uniform restart ≡ standard
  * PageRank, ppb mass, truncating div, bit-stable). Top-k by
  * (rank DESC, word ASC) — a total order, so the cut is deterministic;
  * the k survivors are numbered by [[Enumerate.rowNumber]].
  *
  * Scale shape: tokenize+filter is narrow; ONE doc-keyed window
  * re-sequences; the pair join is a per-doc shift (window lead), not a
  * self-join; then vocabulary-scale PageRank rounds (vocab ≪ corpus) and
  * a distributed top-k: no global window. */
object TextRank {

  /** Returns (rank, word, ppr_fp): the topK keywords. */
  def keywords(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 3, topK: Int = 30): DataFrame = {
    require(topK >= 1, s"textrank: topK >= 1, got $topK")
    val kept = df
      .select(col(idCol).as("id"),
        posexplode(split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
          .as(Seq("p", "raw")))
      .where(col("raw").rlike("^[A-Za-z]{3,}$"))
      .select(col("id"), col("p"), lower(col("raw")).as("t"))
    val seq = kept.withColumn("rn",
      row_number().over(Window.partitionBy("id").orderBy("p")))
    val nxt = lead(col("t"), 1).over(Window.partitionBy("id").orderBy("rn"))
    val pairs = seq.select(col("t").as("x"), nxt.as("y"))
      .where(col("y").isNotNull)
    val und = pairs
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    val ranked = graft.graph.Ppr.personalized(edges, nodes, rounds,
      alphaTenths = 2)
    // top-k per partition, then ranks over those k rows only: no window
    // moves the vocabulary to one partition (ppr_fp > 0, so negating it
    // gives the ascending key)
    val top = ranked.orderBy(col("ppr_fp").desc, col("id").asc).limit(topK)
    Enumerate.rowNumber(top, struct(-col("ppr_fp"), col("id")), "rn")
      .select((col("rn") + 1).cast("int").as("rank"), col("id").as("word"), col("ppr_fp"))
      .orderBy("rank")
  }
}
