package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
  * corpus-tagging pass a curation pipeline runs to label what documents
  * are ABOUT without a model: candidate phrases are maximal stopword-free
  * word runs; each word scores deg(w)/freq(w) (degree counts co-occurring
  * phrase words, so words living in long phrases outrank equally-frequent
  * loners); a phrase scores the sum of its words.
  *
  * EXACT INTEGER scores (the fixed-point discipline): score_fp(w) =
  * deg(w)·10^6 div freq(w); phrase score = Σ score_fp(w) — an order-free
  * integer sum, replayed term for term by the DuckDB oracle.
  *
  * Phrase assembly is two-level gaps-and-islands: text first splits into
  * FRAGMENTS on punctuation (RAKE's hard delimiters — `split` alone would
  * silently collapse "beta. gamma" into one phrase because the separator
  * leaves no positional gap), then words position within their fragment
  * and stopwords break islands (island = pos − rank-among-keepers, both
  * engines compute it identically); phrases group by (doc, fragment,
  * island). Scale: one (doc,fragment)-keyed window for islands + two
  * token-scale aggregates (word stats, phrase scores) — token-scale
  * shuffles, no joins wider than the vocabulary — and a distributed top-k
  * whose k rows [[Enumerate.rowNumber]] numbers: no global window. */
object Keyphrases {

  /** The committed stopword set — data, not logic (callers may pass their
    * own). */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "with",
    "is", "are", "was", "be", "by", "at", "as", "it", "this", "that")

  /** Corpus-level top-k keyphrases: (phrase, n_words, score_fp), ranked
    * (score desc, phrase asc). `idCol` scopes islands (phrases never span
    * documents). */
  def rake(df: DataFrame, idCol: String, textCol: String, k: Int = 20,
      stopwords: Seq[String] = DefaultStopwords): DataFrame = {
    require(k > 0, "rake: k must be > 0")
    val frags = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        posexplode(split(lower(col(textCol)), "[^a-z ]+"))
          .as(Seq("fid", "frag")))
    val words = frags
      .select(col("doc"), col("fid"),
        posexplode(split(col("frag"), " +")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
    val keepers = words.where(!col("w").isin(stopwords: _*))
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy("doc", "fid").orderBy("pos")))
    // one phrase OCCURRENCE per (doc, fragment, island), order by position
    val phrases = keepers.groupBy("doc", "fid", "island")
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("pos"), col("w")))), e => e("w")), " ").as("phrase"))
      .select("phrase")
    // word stats over ALL occurrences (freq = word tokens across phrases,
    // deg = Σ length of the phrases each token sits in — RAKE's degree)
    val occWords = phrases
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("w"),
        size(split(col("phrase"), " ")).as("len"))
    val wordStats = occWords.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("w"),
        call_function("div", col("deg") * 1000000L, col("freq"))
          .as("wscore_fp"))
    // scores over DISTINCT phrases (occurrence counts reported separately)
    val occ = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
    val scored = occ.select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, Seq("w"))
      .groupBy("phrase", "n_occ")
      .agg(count(lit(1)).as("n_words"), sum("wscore_fp").as("score_fp"))
    // top-k per partition, then ranks over those k rows only: no window
    // moves every phrase to one partition (score_fp ≥ 0, so negating it
    // gives the ascending key)
    val top = scored.orderBy(col("score_fp").desc, col("phrase").asc).limit(k)
    Enumerate.rowNumber(top, struct(-col("score_fp"), col("phrase")), "rn")
      .select(col("phrase"), col("n_words"), col("n_occ"), col("score_fp"),
        (col("rn") + 1).cast("int").as("rk"))
      .orderBy("rk")
  }
}
