package graft

import graft.operators.{Classifier, TextAnalysis}
import graft.queries.TextQueries
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The trained-quality-filter contract: gradient descent actually
  * descends (class-balanced log-loss drops below the zero model's ln 2
  * on a separable planted fixture), the learned margins separate the
  * planted target from the background in the right direction, and
  * training on the real corpus is bit-deterministic under repartitioning
  * (the micronat-quantization claim).
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = 64

  /** 40 docs, 5 positives; positives lean on token "aaa", negatives on
    * "bbb" — linearly separable by construction, so three balanced GD
    * rounds MUST move the margins apart (no reliance on corpus luck).
    */
  private def plantedFeatures: DataFrame = {
    val docs = (0 until 40).map { i =>
      val y = if (i % 8 == 0) 1L else 0L
      val toks =
        if (y == 1L) Seq.fill(10)("aaa") ++ Seq("bbb", "ccc")
        else Seq.fill(10)("bbb") ++ Seq("ccc", "ddd")
      (i.toLong, y, toks.mkString(" "))
    }.toDF("doc_id", "y", "text")
    Classifier.milliFeatures(docs
      .select($"doc_id", $"y", explode(TextAnalysis.tokens($"text")).as("token"))
      .select($"doc_id", $"y",
        pmod(TextAnalysis.tokenHash($"token"), lit(Buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "y", "bucket").agg(count(lit(1)).as("tf")))
      .localCheckpoint(true)
  }

  /** Class-balanced log-loss over collected (y, nano-margin) rows. */
  private def balancedLoss(scores: Seq[(Long, Long)]): Double = {
    def meanLoss(rows: Seq[(Long, Long)]): Double = {
      val ls = rows.map { case (y, nano) =>
        val m = (2 * y - 1).toDouble * nano.toDouble / 1e9
        math.log1p(math.exp(-m))
      }
      ls.sum / ls.size
    }
    (meanLoss(scores.filter(_._1 == 1L)) + meanLoss(scores.filter(_._1 == 0L))) / 2
  }

  test("balanced GD reduces balanced log-loss below the zero model's ln 2") {
    val dbx = plantedFeatures
    val w = Classifier.trainLogreg(dbx, Buckets, rounds = 3)
    val scores = Classifier.score(dbx, w)
      .select($"y", $"score_nano").as[(Long, Long)].collect().toSeq
    val trained = balancedLoss(scores)
    assert(trained < math.log(2.0) - 0.01,
      s"balanced log-loss $trained did not drop below ln2 = ${math.log(2.0)}")
  }

  test("learned margins separate the planted target from the background") {
    val dbx = plantedFeatures
    val w = Classifier.trainLogreg(dbx, Buckets, rounds = 3)
    val means = Classifier.score(dbx, w)
      .groupBy("y").agg(avg($"score_nano".cast("double")).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(means(1L) > means(0L) + 1e6,  // > 0.001 logits apart, not noise
      s"target mean ${means(1L)} not above background ${means(0L)}")
  }

  test("trained weights publish as versioned model releases (SnapshotStore)") {
    // the model-registry move: each retraining publishes its weight
    // relation through the transactional snapshot swap — _CURRENT always
    // resolves to a complete model, and any past model time-travels back
    // for reproducibility audits. Reuses the exact publish path the
    // corpus releases go through.
    import graft.sinks.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("clf-registry").toString
    val dbx = plantedFeatures
    val w1 = Classifier.trainLogreg(dbx, Buckets, rounds = 1)
    val w3 = Classifier.trainLogreg(dbx, Buckets, rounds = 3)
    val v1 = SnapshotStore.publish(w1, root)
    val v2 = SnapshotStore.publish(w3, root)
    assert(v2 > v1)
    val current = SnapshotStore.read(spark, root)
      .as[(Long, Long)].collect().toMap
    assert(current === w3.as[(Long, Long)].collect().toMap,
      "_CURRENT must resolve to the latest trained model")
    val old = SnapshotStore.readVersion(spark, root, v1)
      .as[(Long, Long)].collect().toMap
    assert(old === w1.as[(Long, Long)].collect().toMap,
      "a past model version must time-travel back intact")
  }

  test("corpus training is bit-deterministic under repartitioning") {
    val dbx = TextQueries.clfFeatures(spark, sf())
    val w1 = Classifier.trainLogreg(dbx, 256, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val w2 = Classifier.trainLogreg(dbx.repartition(7), 256, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(w1 === w2)
  }

  /** The relational training form: weights as a broadcast relation
    * updated by a join with the gradient and the class counts, every
    * round checkpointed. Kept here as the reference the driver-side
    * update must match bit for bit.
    */
  private def relationalTrain(dbx: DataFrame, buckets: Int, rounds: Int): DataFrame = {
    def positive(c: Column, cls: String): Column =
      when(c > 0, c).otherwise(raise_error(concat(
        lit(s"trainLogreg needs both classes in the corpus; $cls count = "),
        c.cast("string"))))
    val nFrame = dbx.agg(
        countDistinct(when(col("y") === 1L, col("doc_id"))).cast("double").as("npos"),
        countDistinct(when(col("y") === 0L, col("doc_id"))).cast("double").as("nneg"))
      .select(positive(col("npos"), "positive").as("npos"),
              positive(col("nneg"), "negative").as("nneg"))
    var w = spark.range(0, buckets).select(col("id").cast("long").as("bucket"),
      lit(0L).as("w"))
    val byDoc = Window.partitionBy("doc_id")
    for (_ <- 1 to rounds) {
      val g = dbx.join(broadcast(w), Seq("bucket"))
        .withColumn("z", sum(col("xm") * col("w")).over(byDoc))
        .withColumn("r", floor((col("y").cast("double")
          - lit(1.0) / (lit(1.0) + exp(-col("z").cast("double") / lit(1e9))))
          * lit(1e6)).cast("long"))
        .groupBy("bucket")
        .agg(sum(when(col("y") === 1L, col("xm") * col("r")).otherwise(0L)).as("gp"),
             sum(when(col("y") === 0L, col("xm") * col("r")).otherwise(0L)).as("gn"))
      w = w.join(g, Seq("bucket"), "left")
        .crossJoin(broadcast(nFrame))
        .select(col("bucket"),
          (col("w") + floor(
            (coalesce(col("gp"), lit(0L)).cast("double") / (lit(2.0) * col("npos"))
              + coalesce(col("gn"), lit(0L)).cast("double") / (lit(2.0) * col("nneg")))
            / lit(1000.0)).cast("long")).as("w"))
        .localCheckpoint(true)
    }
    w
  }

  test("driver-side weight updates are bit-identical to the relational form") {
    for (d <- Seq("sf0.001", "sf0.01")) {
      val dbx = TextQueries.clfFeatures(spark, sf(d)).localCheckpoint(true)
      val got = Classifier.trainLogreg(dbx, 256, rounds = 3)
        .as[(Long, Long)].collect().toMap
      val want = relationalTrain(dbx, 256, rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got.size === 256 && got === want, s"weights differ at $d")
      assert(got.values.exists(_ != 0L), s"training did not move the weights at $d")
    }
  }

  test("a single-class corpus fails loudly") {
    val oneClass = plantedFeatures.filter($"y" === 0L)
    val e = intercept[IllegalArgumentException](
      Classifier.trainLogreg(oneClass, Buckets, rounds = 1))
    assert(e.getMessage.contains(
      "trainLogreg needs both classes in the corpus; positive count = 0"))
  }

  test("evaluation curve: counts partition the batch, recall never rises with the threshold") {
    val rows = TextQueries.defs("text_clf_eval")(spark, sf())
      .select("decile", "thr", "tp", "fp", "fn", "tn", "recall_micro")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 9)
    val n = rows.head._3 + rows.head._4 + rows.head._5 + rows.head._6
    rows.foreach { case (dec, _, tp, fp, fn, tn, _) =>
      assert(tp + fp + fn + tn === n, s"decile $dec counts don't partition the batch")
    }
    // thresholds are decile order statistics, so they are non-decreasing,
    // the predicted-positive set shrinks monotonically, and recall (a
    // required monotone of the curve) can never rise with the threshold
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"thresholds not sorted at decile ${b._1}")
      assert(a._3 >= b._3, s"tp rose with the threshold at decile ${b._1}")
      val (ra, rb) = (a._7, b._7)
      if (ra >= 0 && rb >= 0)
        assert(ra >= rb, s"recall rose with the threshold at decile ${b._1}")
    }
  }
}
