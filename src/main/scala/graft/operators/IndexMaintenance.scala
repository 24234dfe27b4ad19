package graft.operators

import graft.sinks.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Automated ANN-index maintenance — the consumer the measured-recall
  * audit (`sim_recall_audit`) feeds: an IVF index whose cells were trained
  * on yesterday's distribution silently loses recall as rolling ingest
  * assigns drifted data to frozen centroids, and nothing in the serving
  * path ever errors. The maintenance loop closes that gap:
  *
  *  1. MEASURE recall@k of the published index against exact top-k on the
  *     live corpus (the audit, as a number not a report);
  *  2. on floor breach, RE-TRAIN the cells on the live corpus
  *     ([[Similarity.kmeansFit]] — deterministic seeds, Lloyd rounds,
  *     6-dp re-sync) and re-assign the postings;
  *  3. REPUBLISH through [[SnapshotStore]]'s transactional snapshot swap —
  *     readers follow `_CURRENT` and can never observe a half-built
  *     index; the previous version stays live until the pointer flips and
  *     remains available for rollback/time travel after.
  *
  * The index snapshot is ONE frame (`kind` = "cent" | "post"), so the
  * centroids and the postings they define swap atomically together — a
  * two-table layout could expose new centroids over old postings mid-
  * publish. Distances are the same rounded squared-L2 the assignment
  * uses, so "nearest cell" and "nearest neighbour" can never disagree on
  * metric.
  *
  * Scale posture: measurement cost is |queries| × corpus for the exact
  * side — the audit query set is PROBE-sized (tens of vectors, like
  * `sim_recall_audit`'s), never the corpus; retraining is the k-means
  * communication pattern (map-side partial centroids, k tiny rows to the
  * driver per round); the republish writes the index once. Run it as the
  * periodic job next to the ingest, exactly like compaction.
  */
object IndexMaintenance {

  /** What a maintenance pass did: the measured recall, the floor it was
    * held to, whether a republish happened, the published version, and
    * the post-republish recall (None when no republish).
    */
  final case class Report(recallMilli: Long, floorMilli: Long,
                          republished: Boolean, version: Option[Long],
                          recallAfterMilli: Option[Long])

  private def sq(a: Column, b: Column): Column = {
    graft.functions.DistanceFunctions.sqDist(a, b)
  }

  /** Build the index frame for `corpus` (vec_id, v): train `k` cells with
    * `rounds` Lloyd rounds, assign every vector. One frame, two kinds —
    * see the object doc for why centroids ride inside the snapshot.
    */
  def buildIndex(corpus: DataFrame, k: Int, rounds: Int, dim: Int): DataFrame = {
    val cents = Similarity.kmeansFit(corpus, k, rounds, dim)
    indexFrom(corpus, cents)
  }

  /** The index frame for an EXISTING centroid set — the rolling-ingest
    * form (new data keeps being assigned to frozen cells; this is exactly
    * the state whose recall decays under drift).
    */
  def indexFrom(corpus: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val posts = Similarity.kmeansAssign(corpus, cents)
      .select(lit("post").as("kind"), col("vec_id").as("id"),
              col("cluster").cast("long").as("cell"), col("v"))
    val cdf = cents.map { case (cid, cv) => ("cent", cid.toLong, cid.toLong, cv) }
      .toDF("kind", "id", "cell", "v")
    posts.unionByName(cdf)
  }

  /** The centroid rows of a snapshot, collected (k tiny rows). */
  def centroidsOf(snap: DataFrame): Seq[(Int, Seq[Double])] =
    snap.filter(col("kind") === "cent").select("cell", "v")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** nprobe=1 IVF probe of a snapshot: assign each query (qid, qv) to its
    * nearest cell, scan only that cell's postings, top-`topK` by
    * (rounded squared-L2 asc, vec_id asc).
    */
  def probe(snap: DataFrame, queries: DataFrame, topK: Int): DataFrame = {
    val cents = centroidsOf(snap)
    val posts = snap.filter(col("kind") === "post")
      .select(col("id").as("vec_id"), col("cell"), col("v"))
    val q = Similarity.kmeansAssign(
        queries.select(col("qid").as("vec_id"), col("qv").as("v")), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("cluster").cast("long").as("cell"))
    val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
    posts.join(q, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
              round(sq(col("v"), col("qv")), 6).as("d"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
  }

  /** Exact brute-force top-`topK` `(qid, vec_id)` over `corpus` for the
    * probe-sized `queries` — the ground truth BOTH recall measurements
    * (IVF probe, PQ ADC) are held to.
    */
  private def exactTopK(corpus: DataFrame, queries: DataFrame,
                        topK: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(asc("d"), asc("vec_id"))
    corpus.crossJoin(broadcast(queries.select(col("qid"), col("qv"))))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
              round(sq(col("v"), col("qv")), 6).as("d"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select("qid", "vec_id")
  }

  /** hits/total of `approx` against `exact`, in integer milli-units. */
  private def recallOf(exact: DataFrame, approx: DataFrame): Long = {
    val r = exact
      .join(approx.select(col("qid"), col("vec_id"), lit(1).as("__hit")),
            Seq("qid", "vec_id"), "left")
      .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("hits"),
           count(lit(1)).as("n")).head()
    if (r.getLong(1) == 0L) 1000L else r.getLong(0) * 1000L / r.getLong(1)
  }

  /** Mean recall@`topK` (integer milli-units) of [[probe]] against exact
    * brute-force top-k over `corpus` for the given probe-sized `queries`.
    */
  def recallMilli(snap: DataFrame, corpus: DataFrame, queries: DataFrame,
                  topK: Int): Long =
    recallOf(exactTopK(corpus, queries, topK), probe(snap, queries, topK))

  /** One maintenance pass against the index published under `root`:
    * measure live recall; below `floorMilli`, retrain on the live corpus
    * and republish (exactly one new version per breach — a healthy index
    * is never rewritten). Idempotent per state: a second pass after a
    * republish measures the NEW index and finds it healthy.
    */
  /** `validator` rides into [[SnapshotStore.publish]] unchanged: it sees
    * the staged read-back index before the swap, and throwing aborts the
    * republish with the previous snapshot still live (index invariant
    * checks; also the crash-injection seam StreamIndexMaintenanceSpec
    * uses).
    */
  def maintain(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
               root: String, floorMilli: Long, k: Int, rounds: Int,
               dim: Int, topK: Int = 3,
               validator: DataFrame => Unit = _ => ()): Report = {
    val before = recallMilli(SnapshotStore.read(spark, root), corpus, queries, topK)
    if (before >= floorMilli)
      Report(before, floorMilli, republished = false, None, None)
    else {
      val version = SnapshotStore.publish(buildIndex(corpus, k, rounds, dim),
        root, validator)
      val after = recallMilli(SnapshotStore.read(spark, root), corpus, queries, topK)
      Report(before, floorMilli, republished = true, Some(version), Some(after))
    }
  }

  // ---- PQ codebook tier -----------------------------------------------

  /** The PQ index snapshot: ONE frame (`kind` = "cb" | "code"), so the
    * codebooks and the codes they define swap atomically together —
    * exactly the two-table hazard the IVF snapshot avoids. `cb` rows carry
    * (subspace m, codeword id, codeword sub-vector); `code` rows carry
    * (vec_id, the [[Similarity.PqM]] codeword ids). Codes are 8 small ints
    * per vector — the 64× compression is the point of the tier, so the
    * snapshot stores codes, never raw vectors.
    */
  def buildPqIndex(corpus: DataFrame): DataFrame =
    pqIndexFrom(corpus, Similarity.pqCodebooks(corpus))

  /** The PQ index frame for an EXISTING codebook set — the rolling-ingest
    * form: new vectors keep being encoded against frozen codebooks, which
    * is the state whose ADC recall decays under drift (the codewords stop
    * covering where the data lives, so distinct vectors collapse onto the
    * same codes and ADC loses resolution — silently, like stale IVF
    * cells).
    */
  def pqIndexFrom(corpus: DataFrame, cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val codeCols = (0 until Similarity.PqM).map(m => col(s"c$m").cast("int"))
    val codes = Similarity.pqEncode(corpus, cbs)
      .select(lit("code").as("kind"), col("vec_id").as("id"),
              lit(-1).as("m"), lit(null).cast("array<double>").as("v"),
              array(codeCols: _*).as("codes"))
    val cbdf = cbs.zipWithIndex.flatMap { case (cb, m) =>
      cb.map { case (cid, cv) => ("cb", cid.toLong, m, cv, null: Seq[Int]) }
    }.toDF("kind", "id", "m", "v", "codes")
    codes.unionByName(cbdf)
  }

  /** The codebook rows of a PQ snapshot, collected (PqM × PqK tiny rows).
    */
  def codebooksOf(snap: DataFrame): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = snap.filter(col("kind") === "cb").select("m", "id", "v")
      .collect().map(r => (r.getInt(0), r.getLong(1).toInt, r.getSeq[Double](2)))
    (0 until Similarity.PqM).map { m =>
      rows.filter(_._1 == m).map(t => (t._2, t._3)).sortBy(_._1).toSeq
    }
  }

  /** Mean ADC recall@`topK` (milli-units) of a PQ snapshot against exact
    * brute-force top-k over `corpus` — the AnnRecallSpec metric as a
    * number the maintenance loop can gate on: rank the stored codes by
    * asymmetric distance to each query (ties by vec_id, the suite-wide
    * rule) and score the top-k against the exact set.
    */
  def adcRecallMilli(snap: DataFrame, corpus: DataFrame, queries: DataFrame,
                     topK: Int): Long = {
    val cbs = codebooksOf(snap)
    val codes = snap.filter(col("kind") === "code")
      .select(col("id").as("vec_id"), col("codes"))
    val codeCols = (0 until Similarity.PqM).map(m => element_at(col("codes"), m + 1))
    val w = Window.partitionBy("qid").orderBy(asc("adc"), asc("vec_id"))
    val approx = codes
      .crossJoin(broadcast(queries.select(col("qid"), col("qv"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", Similarity.pqAdc(col("qv"), codeCols, cbs))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select("qid", "vec_id")
    recallOf(exactTopK(corpus, queries, topK), approx)
  }

  /** [[maintain]]'s twin for the PQ tier: measure live ADC recall@`topK`;
    * below `floorMilli`, retrain the codebooks on the live corpus
    * ([[Similarity.pqCodebooks]] — Lloyd-refined, deterministic), re-encode
    * every vector, and republish through the same transactional snapshot
    * swap. Exactly one new version per breach; a healthy codebook set is
    * never rewritten.
    */
  def maintainPq(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                 root: String, floorMilli: Long, topK: Int = 5,
                 validator: DataFrame => Unit = _ => ()): Report = {
    val before = adcRecallMilli(SnapshotStore.read(spark, root), corpus, queries, topK)
    if (before >= floorMilli)
      Report(before, floorMilli, republished = false, None, None)
    else {
      val version = SnapshotStore.publish(buildPqIndex(corpus), root, validator)
      val after = adcRecallMilli(SnapshotStore.read(spark, root), corpus, queries, topK)
      Report(before, floorMilli, republished = true, Some(version), Some(after))
    }
  }
}
