package perfbench

import graft.corpus.Corpus
import graft.engine.NaiveSearch
import graft.tokenize.Tokenizer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One ranked hit as every route and every reference emits it. */
final case class Hit(rank: Int, repo: String, path: String, commit: String, scoreR: Double)

object Hit {
  def of(r: Row): Hit = Hit(r.getAs[Int]("rank"), r.getAs[String]("repo"), r.getAs[String]("path"),
    r.getAs[String]("commit"), r.getAs[Double]("score_r"))
}

/** The correctness gate, run outside every timed region. Answers are
  * compared rank for rank and score for score:
  *  - unscoped OR queries against the engine's own full-scoring oracle,
  *    [[NaiveSearch.topK]];
  *  - repo-scoped OR and conjunctive (AND) queries against the full-scoring
  *    references below, which score every document with the same global
  *    corpus statistics and apply the scope or the all-terms condition
  *    before ranking.
  */
object Check {

  /** Distinct query shape: the gate scores each once. */
  final case class Key(terms: Seq[String], k: Int, conjunctive: Boolean, scope: Option[Seq[String]])

  def keyOf(q: Req): Key = Key(q.terms.distinct, q.k, q.conjunctive, q.scope.map(_.distinct.sorted))

  /** Reference answers for `keys` over `corpus` (the corpus the engine
    * indexed, as stored rows).
    */
  def reference(spark: SparkSession, corpus: DataFrame, keys: Seq[Key]): Map[Key, Seq[Hit]] = {
    import spark.implicits._
    val ids = keys.zipWithIndex.map { case (k, i) => s"g$i" -> k }.toMap
    def rows(sel: Key => Boolean): Seq[(String, String, Int)] =
      ids.toSeq.filter(x => sel(x._2)).flatMap { case (id, k) => k.terms.map(t => (id, t, k.k)) }

    val plain = rows(k => !k.conjunctive && k.scope.isEmpty)
    val special = rows(k => k.conjunctive || k.scope.isDefined)
    val hits =
      (if (plain.isEmpty) Array.empty[Row]
       else NaiveSearch.topK(spark, corpus, plain.toDF("query_id", "term", "k")).collect()) ++
      (if (special.isEmpty) Array.empty[Row]
       else filteredTopK(spark, corpus, special.toDF("query_id", "term", "k"), ids))
    val got = hits.groupBy(_.getAs[String]("query_id"))
      .map { case (id, rs) => ids(id) -> rs.map(Hit.of).toSeq.sortBy(_.rank) }
    keys.map(k => k -> got.getOrElse(k, Seq.empty[Hit])).toMap
  }

  /** Full-scoring top-k with a per-query document condition: every term
    * present (AND) and/or the document's repo in the scope. Scores come
    * from [[NaiveSearch.scoreAll]], so the BM25 statistics are the whole
    * corpus's, as the engine's are.
    */
  private def filteredTopK(spark: SparkSession, corpus: DataFrame, q: DataFrame, ids: Map[String, Key]): Array[Row] = {
    import spark.implicits._
    val c = Corpus.withDocId(corpus).persist()
    val scored = NaiveSearch.scoreAll(c, q)
    val terms = q.select("term").distinct().as[String].collect().toSeq
    val matched = Tokenizer.termFreqsRestricted(c, terms).select("doc_id", "term")
      .join(broadcast(q.select("query_id", "term")), "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_matched"))
    val conds = ids.toSeq.filter { case (_, k) => k.conjunctive || k.scope.isDefined }
      .map { case (id, k) => (id, if (k.conjunctive) k.terms.size else 0, k.scope.getOrElse(Seq.empty)) }
      .toDF("query_id", "n_required", "scope")
    val kept = scored
      .join(matched, Seq("query_id", "doc_id"))
      .join(c.select("doc_id", "repo", "path", "commit"), "doc_id")
      .join(broadcast(conds), "query_id")
      .filter(col("n_matched") >= col("n_required"))
      .filter(size(col("scope")) === 0 || array_contains(col("scope"), col("repo")))
    try NaiveSearch.rankByKeys(kept).collect()
    finally c.unpersist()
  }
}
