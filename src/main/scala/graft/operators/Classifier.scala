package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic distributed training of a LINEAR text classifier — the
  * fastText/CCNet-style quality filter of an LLM data pipeline (label a
  * small trusted domain 1, the raw crawl 0; keep what the model scores
  * target-like). Features are hashed bag-of-words buckets, the model is
  * logistic regression, the optimizer is full-batch gradient descent with
  * a fixed round count — the shape that parallelizes: each round is ONE
  * pass over the feature relation (per-doc margin via a doc-partitioned
  * window, residual per row, per-bucket class-split gradients via a
  * map-side-combined groupBy) against a broadcast 2^b-row weight
  * relation that lives on the driver between rounds. No parameter
  * server, no per-row mutation, no randomness.
  *
  * Two standard stabilizers, both load-bearing (the naive tf-feature,
  * unit-rate form overshoots the 5%-positive label into ±40-logit
  * margins by round 3 — measured before this design):
  *  - features are DOC-NORMALIZED to integer milli-units,
  *    xm = (tf·1000) div n_toks, so every margin is bounded by max |w|
  *    and a long doc cannot take a 60× larger gradient step than a
  *    short one;
  *  - the gradient is CLASS-BALANCED (each class contributes its own
  *    mean), the textbook correction for rare-positive training — without
  *    it the first rounds just learn "predict the majority class".
  *
  * Determinism across runs/partitionings/engines (the
  * [[TextAnalysis.unigramLogprob]] micronat recipe, applied to GD):
  * weights are integer MICRO-logits and features integer milli-units, so
  * every margin z = Σ xm·w is an exact 64-bit sum in nano-logits; the
  * only float step per round is the sigmoid, whose residual y − σ(z) is
  * floor-quantized to integer micro-units PER DOC before the cross-doc
  * gradient sums — float addition order can never reach an accumulator.
  * The update combines the two class means in a fixed two-division,
  * one-addition double expression both engines evaluate identically.
  * An SQL oracle replays training round for round.
  *
  * Scale shape: the weight relation is bucket-sized (2^b rows,
  * broadcast); per round the corpus-grain work is one doc-partitioned
  * window plus one groupBy — at 100 TB, persist the feature relation
  * bucketed on doc_id ([[Layout.writeBucketed]]) and the window's
  * exchange disappears, leaving the gradient reduce as each round's only
  * shuffle.
  */
object Classifier {

  /** Doc-normalized integer milli-features off (doc_id, y, bucket, tf):
    * xm = (tf·1000) div n_toks. Callers should localCheckpoint the
    * result — it is consumed every training round.
    */
  def milliFeatures(db: DataFrame): DataFrame =
    db.withColumn("xm",
      expr("(tf * 1000) div sum(tf) over (partition by doc_id)"))

  /** Train on `dbx` = [[milliFeatures]] output (doc_id, y ∈ {0,1},
    * bucket ∈ [0, buckets), xm). Returns the final (bucket, w) relation,
    * w in integer micro-logits, as a local frame. Unit learning rate
    * (folded into the quantization); `rounds` is the entire schedule — no
    * convergence probe. The weights live on the driver: the class counts
    * are one aggregate, each round collects its 2^b-row gradient
    * (bucket, gp, gn) and applies the update in Scala with the same
    * two-division, one-addition double expression the SQL oracle
    * evaluates, so a round is one gradient query.
    */
  def trainLogreg(dbx: DataFrame, buckets: Int, rounds: Int): DataFrame = {
    val s = dbx.sparkSession
    import s.implicits._
    val n = dbx.agg(
        countDistinct(when(col("y") === 1L, col("doc_id"))).as("npos"),
        countDistinct(when(col("y") === 0L, col("doc_id"))).as("nneg"))
      .head()
    // the balanced update divides by each class count, so a single-class
    // corpus would turn every weight into floor(NaN): fail loudly instead
    def positive(c: Long, cls: String): Double = {
      require(c > 0, s"trainLogreg needs both classes in the corpus; $cls count = $c")
      c.toDouble
    }
    val npos = positive(n.getLong(0), "positive")
    val nneg = positive(n.getLong(1), "negative")
    val byDoc = Window.partitionBy("doc_id")
    var w = Array.fill(buckets)(0L)
    for (_ <- 1 to rounds) {
      val g = dbx.join(broadcast(weights(w).toDF("bucket", "w")), Seq("bucket"))
        .withColumn("z", sum(col("xm") * col("w")).over(byDoc))
        .withColumn("r", floor((col("y").cast("double")
          - lit(1.0) / (lit(1.0) + exp(-col("z").cast("double") / lit(1e9))))
          * lit(1e6)).cast("long"))
        .groupBy("bucket")
        .agg(sum(when(col("y") === 1L, col("xm") * col("r")).otherwise(0L)).as("gp"),
             sum(when(col("y") === 0L, col("xm") * col("r")).otherwise(0L)).as("gn"))
        .as[(Long, Long, Long)].collect()
        .map { case (b, gp, gn) => b.toInt -> (gp, gn) }.toMap
      w = w.zipWithIndex.map { case (wb, b) =>
        val (gp, gn) = g.getOrElse(b, (0L, 0L))
        wb + math.floor((gp.toDouble / (2.0 * npos) + gn.toDouble / (2.0 * nneg))
          / 1000.0).toLong
      }
    }
    // one partition, like the driver-side array it holds: a bucketed
    // write of the model then emits one file per bucket, not one per
    // bucket per local slice
    weights(w).toDF("bucket", "w").coalesce(1)
  }

  private def weights(w: Array[Long]): Seq[(Long, Long)] =
    w.indices.map(b => (b.toLong, w(b)))

  /** Margins for `dbx` under weight relation `w`:
    * (doc_id, y, score_nano) — exact integer nano-logits, one broadcast
    * join + one map-side-combined groupBy.
    */
  def score(dbx: DataFrame, w: DataFrame): DataFrame =
    dbx.join(broadcast(w), Seq("bucket"))
      .groupBy("doc_id", "y")
      .agg(sum(col("xm") * col("w")).as("score_nano"))
}
