package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a SPARSE lexical ranking with a DENSE
  * vector ranking via reciprocal-rank fusion — the standard production
  * ensemble (RRF, Cormack et al.: `score = Σ 1/(k0 + rank)`), which
  * needs no score calibration between systems because it consumes only
  * RANKS. Every score here is a division/sum of exact small integers,
  * so both legs and the fusion are bit-portable to the SQL oracle
  * (q200).
  *
  * At 100 TB: the sparse leg is a token-keyed broadcast join (query
  * tokens broadcast, corpus token lists streamed — shuffle keyed by
  * the small (query, doc) candidate set, never all-pairs); the dense
  * leg is whatever ANN member fits ([[Similarity]] brute/LSH/IVF/
  * int8); the fusion is a join of two top-k lists — `|Q|·k` rows,
  * independent of corpus size. */
object HybridRetrieval {

  /** Sparse leg: per-query token-set Jaccard top-k. Whitespace tokens,
    * DISTINCT per document (set semantics); `jaccard = |A∩B| /
    * (|A| + |B| − |A∩B|)` — one double division of exact integer
    * counts. Ties rank by `(jaccard DESC, id ASC)`. Queries are a
    * small frame (broadcast); the intersection join is keyed by token,
    * so corpus work is proportional to matching postings, never
    * all-pairs. Returns `(query_id, neighbor_id, jaccard, rnk)`.
    *
    * Precondition: `idCol` is unique within `docs` and within
    * `queries`. Tokens are deduplicated per row, not per id, so rows
    * sharing an id inflate that id's set size and intersection counts. */
  def jaccardTopK(docs: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // r17: per-doc-distinct tokens via the native shingles(·, 1)
    // expression — same set as `explode(split).distinct()` (TokenShingles
    // dedupes per row with split-identical tokenization, incl. empty
    // tokens), but with NO distinct Exchange: the old plan shuffled
    // every corpus token once just to dedupe what is per-document
    // state. Downstream consumers (size agg, postings join) are
    // set-order-free.
    def toks(df: DataFrame, as: String) = df
      .select(col(idCol).as(as),
        explode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.TokenShingles(
            org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
            org.apache.spark.sql.catalyst.expressions.Literal(1)))).as("__tok"))
    val tok = toks(docs, "neighbor_id")
    val qtok = toks(queries, "query_id")
    val sz = tok.groupBy(col("neighbor_id")).agg(count(lit(1)).as("__n"))
    val qsz = qtok.groupBy(col("query_id")).agg(count(lit(1)).as("__qn"))
    val inter = broadcast(qtok).join(tok, Seq("__tok"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("__i"))
    val jac = inter
      .join(sz, Seq("neighbor_id"))
      .join(broadcast(qsz), Seq("query_id"))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__qn") + col("__n") - col("__i")).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("jaccard").desc, col("neighbor_id"))
    jac.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("jaccard"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Reciprocal-rank fusion of two `(query_id, neighbor_id, rnk)`
    * rankings: `rrf = 1/(k0 + rank_a) + 1/(k0 + rank_b)`, absent
    * entries contribute 0 (full outer join of the two top-k lists —
    * standard RRF over retrieved-only items). Association is fixed —
    * `a` term plus `b` term, each one division of exact small
    * integers — so the oracle reproduces the doubles bit-for-bit.
    * Ties rank by `(rrf DESC, neighbor_id ASC)`. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    val ra = a.select(col("query_id"), col("neighbor_id"), col("rnk").as("__ra"))
    val rb = b.select(col("query_id"), col("neighbor_id"), col("rnk").as("__rb"))
    val fused = ra.join(rb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k0.toLong) + col("__ra")).cast("double"), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0.toLong) + col("__rb")).cast("double"), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("neighbor_id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrf"),
        col("rnk").cast("long").as("rnk"))
  }
}
