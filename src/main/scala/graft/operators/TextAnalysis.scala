package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * language-ID heuristic, quality scoring, token counting, and document
  * fingerprinting (rolling hash).
  *
  * Everything is built from codegen'd Catalyst expressions (split /
  * higher-order array functions / md5) — no UDFs — so the hot path stays
  * inside whole-stage codegen and the same logic is reproducible in ANSI SQL
  * for the oracle.
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed (the shared tokenizer). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Exploded (id, token) pairs — multiset (one row per occurrence). */
  def tokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))

  /** "BPE-ish" token count: alpha runs and digit runs as separate tokens. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+"), lit(0))).cast("long")

  /** Stable 32-bit-ish token hash portable across engines: first 8 hex chars
    * of md5, parsed base-16. Used by fingerprint + minhash-adjacent logic.
    */
  def tokenHash(token: Column): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long")

  /** Rolling-hash document fingerprint: fold h = (h*31 + tokenHash) mod p
    * over the token sequence. Order-sensitive (unlike set hashes), so
    * near-identical docs with reordered tokens fingerprint differently.
    */
  def fingerprint(text: Column, mod: Long = 1000000007L): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31 + tokenHash(t), lit(mod)))

  /** Per-doc corpus-unigram-LM score `(id, n_toks, avg_logp)`: p(t) =
    * corpus_count(t)/total over the given corpus, avg_logp = mean token
    * log-probability — the CCNet-style perplexity-filter stand-in (docs
    * whose tokens are corpus-atypical score low). Per-type log-probs are
    * quantized to integer micronats (`floor(ln·1e6)`) so the cross-row
    * weighted sum runs in exact 64-bit integer space — the result is
    * bit-stable under any partitioning and reproducible by the SQL oracle.
    * The tf frame is materialized once (corpus counts and per-doc score
    * both consume it); the vocab relation is types-sized. Docs with zero
    * tokens have no tf rows and are absent from the output.
    */
  def unigramLogprob(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramLogprobOfTf(
      tokenRows(docs, idCol, textCol)
        .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
        .transform(Materialize.frame),
      idCol)

  /** [[unigramLogprob]] from an already-materialized `(id, token, tf)`
    * frame — the entry a deployment with a stored term-frequency relation
    * (or the bench's shared tfFrame memo) uses; identical arithmetic.
    */
  def unigramLogprobOfTf(tf: DataFrame, idCol: String): DataFrame = {
    val corpus = tf.groupBy("token").agg(sum("tf").as("cnt"))
    val total = corpus.agg(sum("cnt").as("tot"))
    val lp = corpus.crossJoin(broadcast(total))
      .select(col("token"),
        floor(log(col("cnt").cast("double") / col("tot").cast("double")) * lit(1e6))
          .cast("long").as("lp_micro"))
    tf.join(lp, "token")
      .groupBy(idCol)
      .agg(sum("tf").as("n_toks"), sum(col("tf") * col("lp_micro")).as("micro"))
      .select(col(idCol), col("n_toks"),
        ((col("micro").cast("double") / lit(1e6)) / col("n_toks").cast("double"))
          .as("avg_logp"))
  }

  val DefaultStopwords: Seq[String] = Seq("the", "a")

  /** Heuristic language score: ratio of stopword occurrences over a
    * *materialized* token-array column (see [[graft.operators.Dedup.ngramShingles]]
    * for why the column must not be an inline split expression).
    */
  def stopwordRatioOf(toks: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    nStop.cast("double") / size(toks).cast("double")
  }
}
