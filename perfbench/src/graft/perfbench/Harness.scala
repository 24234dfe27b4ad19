package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Sessions, SparkEntry, Tables}
import graft.pipeline.{CorpusJob, CorpusStream}
import graft.queries._
import graft.sinks.SnapshotStore

/** Measuring side of the benchmark: runs one workload in one JVM as a
  * closed loop (one client, one operation at a time) on `local[nproc]` and
  * writes a raw JSON record of what happened. `perfbench/run.py` builds
  * this, launches it, checks the record against the pinned outputs and
  * turns it into metrics.
  *
  * Usage: Harness --workload <query_mix|corpus_batch|corpus_stream|pin>
  *   --seed n --seconds s --trace 0|1 --nproc n --data <dir> --work <dir>
  *   --record <file>
  *
  * Timing is done here with `System.nanoTime` around public calls only;
  * with `--trace 1` a [[Recorder]] listener, job groups per operation and a
  * separate plan phase for queries are added.
  */
object Harness {

  /** The query mix: one query from each of the 13 query modules, chosen
    * to cover the cross-query memo families (pair/shingle frames,
    * classifier, DSIR, ANN, multimodal, graph edges) and two stored-state
    * queries that write catalog tables. Fixed; the seed only orders it.
    */
  val Mix: Seq[String] = Seq(
    "r1_unpivot_filter", "c1_join_agg_topk", "c5b_rank_family", "c10_sessionize",
    "c24_salted_join", "profile_median_scalable", "text_clf_stored", "sim_ivf_ann",
    "dedup_clusters", "mm_phash_stored", "sample_dsir", "cms_heavy_hitters",
    "graph_domain_rank")

  /** corpus_batch input: this many id-offset, vocabulary-disjoint replicas
    * of the documents table (the ScaleSmoke replication rule).
    */
  val Replicas = 10

  /** corpus_stream: the documents are cut into this many ascending-doc_id
    * shards, one ingest epoch each.
    */
  val Shards = 2

  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "RefQueries" -> RefQueries.defs, "CoreQueries" -> CoreQueries.defs,
    "EventQueries" -> EventQueries.defs, "TextQueries" -> TextQueries.defs,
    "SimilarityQueries" -> SimilarityQueries.defs, "DedupQueries" -> DedupQueries.defs,
    "MiscQueries" -> MiscQueries.defs, "AnalyticsQueries" -> AnalyticsQueries.defs,
    "JoinQueries" -> JoinQueries.defs, "MultimodalQueries" -> MultimodalQueries.defs,
    "SamplingQueries" -> SamplingQueries.defs, "SketchQueries" -> SketchQueries.defs,
    "GraphQueries" -> GraphQueries.defs)

  private val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Concatenation of every public `*MemoStats` accessor, the same string
    * the driver bench prints as `pairs_memo`.
    */
  def memoStats: String =
    DedupQueries.pairsMemoStats + ",tf=" + TextQueries.tfMemoStats +
      ",bpe=" + TextQueries.bpeMemoStats + ",bg=" + TextQueries.bgMemoStats +
      ",clf=" + TextQueries.clfMemoStats + ",dsir=" + SamplingQueries.dsirMemoStats +
      ",ann=" + SimilarityQueries.annMemoStats + ",mm=" + MultimodalQueries.mmMemoStats +
      ",ge=" + GraphQueries.graphMemoStats

  /** Row count plus an order-independent content hash: every row is
    * serialised as JSON over its columns in name order, hashed, and the
    * hashes are combined with XOR and with a (non-overflowing) sum, so the
    * fingerprint ignores row order but not duplicate rows.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.sorted.toIndexedSeq.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 24))).head()
    val hash = if (r.getLong(0) == 0L) "empty"
               else f"${r.getLong(1)}%016x-${r.getLong(2)}%x"
    (r.getLong(0), hash)
  }

  /** Bytes and file count under a directory (0 when it does not exist). */
  def du(path: String): (Long, Long) = {
    val root = new File(path.stripPrefix("file:"))
    if (!root.exists()) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).filter(p => Files.isRegularFile(p))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.map(p => Files.size(p)).sum, files.length.toLong)
    }
  }

  def deleteTree(path: String): Unit = {
    val root = new File(path)
    if (root.exists())
      Files.walk(root.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  /** The pinned part of a CorpusJob funnel: input, mix survivors, bins
    * and split sizes.
    */
  def funnel(f: CorpusJob.Funnel): String =
    Json.obj("input" -> Json.num(f.input), "mix_kept" -> Json.num(f.mixKept),
      "n_bins" -> Json.num(f.nBins),
      "train" -> Json.num(f.perSplit.getOrElse("train", 0L)),
      "val" -> Json.num(f.perSplit.getOrElse("val", 0L)),
      "test" -> Json.num(f.perSplit.getOrElse("test", 0L)))

  def seeded(xs: Seq[String], seed: Long, salt: Long): Seq[String] =
    new Random(seed * 1000003L + salt).shuffle(xs)

  /** One timed operation and its phases, in nanoTime. */
  final class Op(val kind: String, val name: String, val pass: Int) {
    var t0 = 0L
    var t1 = 0L
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var error: String = null
    val facts = mutable.LinkedHashMap.empty[String, String]
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a.getOrElse("seed", "0").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val nproc = a("nproc").toInt
    val data = new File(a("data")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val wallAnchor = System.currentTimeMillis()
    val nanoAnchor = System.nanoTime()
    def epochMs(ns: Long): Double = wallAnchor + (ns - nanoAnchor) / 1e6

    val spark = Sessions.withGraftConf(SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.dedup.sharePairs", (workload == "query_mix").toString)
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    val sc = spark.sparkContext
    val recorder = if (trace) {
      val r = new Recorder
      sc.addSparkListener(r)
      Some(r)
    } else None

    val ops = mutable.ArrayBuffer.empty[Op]
    val setup = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val facts = mutable.LinkedHashMap.empty[String, String]
    var peakStorage = 0L
    def sampleStorage(): Unit = {
      val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      peakStorage = math.max(peakStorage, used)
    }
    def timed[A](into: mutable.ArrayBuffer[(String, Long, Long)], name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      into += ((name, t0, System.nanoTime()))
      r
    }
    def run(kind: String, name: String, pass: Int)(body: Op => Unit): Op = {
      val op = new Op(kind, name, pass)
      sampleStorage()
      if (trace) sc.setJobGroup(s"pb-op-${ops.size}", s"$kind $name", interruptOnCancel = false)
      op.t0 = System.nanoTime()
      try body(op)
      catch { case e: Throwable =>
        op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      op.t1 = System.nanoTime()
      if (trace) sc.clearJobGroup()
      sampleStorage()
      ops += op
      op
    }
    var timedStart = 0L
    var timedEnd = 0L
    var memoBefore = ""
    var memoAfter = ""
    var outputRoots = Seq.empty[String]
    var inputRoot = data
    def loop(minPasses: Int)(pass: Int => Unit): Unit = {
      memoBefore = memoStats
      timedStart = System.nanoTime()
      var p = 0
      while (p < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) { pass(p); p += 1 }
      timedEnd = System.nanoTime()
      memoAfter = memoStats
    }

    workload match {
      case "query_mix" =>
        val defs = SparkEntry.queries
        timed(setup, "tables") {
          TableNames.foreach(t => Tables.table(spark, data, t).count())
          Tables.events(spark, data).count()
        }
        // untimed pass: memo builds, stored state, codegen; the content
        // fingerprint of every query is taken here, once per run
        seeded(Mix, seed, 0).foreach { q =>
          facts(s"fp.$q") = timed(setup, s"warm $q") {
            try { val (n, h) = fingerprint(defs(q)(spark, data)); Json.str(s"$n:$h") }
            catch { case e: Throwable => Json.str(s"error: ${e.getMessage}".take(300)) }
          }
        }
        // at least three passes, so that each query's median latency
        // discards one slow pass (the first count() of a query also pays
        // its codegen)
        loop(minPasses = 3) { p =>
          seeded(Mix, seed, p + 1L).foreach { q =>
            run("query", q, p) { op =>
              val df = timed(op.phases, "build")(defs(q)(spark, data))
              if (trace) timed(op.phases, "plan")(df.queryExecution.executedPlan)
              op.facts("rows") = timed(op.phases, "exec")(df.count()).toString
            }
          }
        }

      case "corpus_batch" =>
        inputRoot = s"$work/input"
        val out = s"$work/out/batch"
        outputRoots = Seq(out)
        timed(setup, "tables") {
          val files = 2 + new Random(seed).nextInt(7)
          graft.tools.ScaleSmoke.replicate(Tables.documents(spark, data), Replicas)
            .repartition(files, xxhash64(col("doc_id"), lit(seed)))
            .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed + 1)))
            .write.mode("overwrite").parquet(s"$inputRoot/documents.parquet")
        }
        val cfg = CorpusJob.Config(input = inputRoot, out = out)
        loop(minPasses = 1) { p =>
          var result: DataFrame = null
          val op = run("execute", "CorpusJob.execute", p) { op =>
            val (df, f) = timed(op.phases, "execute")(CorpusJob.execute(spark, cfg))
            result = df
            op.facts("funnel") = funnel(f)
          }
          if (result != null) {
            val (n, h) = fingerprint(result)
            op.facts("output") = Json.str(s"$n:$h")
          }
        }

      case "corpus_stream" =>
        val out = s"$work/out/stream"
        val snapshots = s"$work/out/snapshots"
        outputRoots = Seq(out, snapshots)
        inputRoot = s"$data/documents.parquet"
        val shards = timed(setup, "tables") {
          val docs = Tables.documents(spark, data)
          val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
          // seeded cut points, each within a quarter share of the even
          // cut, so every shard keeps at least half its even share
          val rng = new Random(seed)
          val share = ids.length / Shards
          val jitter = share / 4
          val cuts = (1 until Shards).map(i => i * share + rng.nextInt(2 * jitter + 1) - jitter)
          ((0 +: cuts) :+ ids.length).sliding(2).map { case Seq(lo, hi) =>
            docs.filter(col("doc_id").between(ids(lo), ids(hi - 1)))
          }.toList
        }
        val cfg = CorpusJob.Config(input = data, out = out)
        val names = CorpusStream.names("perfbench")
        loop(minPasses = 1) { p =>
          CorpusStream.reset(spark, names)
          deleteTree(snapshots)
          deleteTree(out)
          shards.zipWithIndex.foreach { case (shard, e) =>
            val op = run("epoch", s"epoch$e", p) { op =>
              timed(op.phases, "ingest")(
                CorpusStream.ingest(spark, shard, names, e.toLong))
              timed(op.phases, "publish")(
                CorpusStream.publish(spark, names, cfg, Some(snapshots)))
              timed(op.phases, "vacuum")(CorpusStream.vacuum(spark, names))
            }
            op.facts("version") = SnapshotStore.currentVersion(snapshots).fold("null")(_.toString)
            if (op.error == null && e == shards.size - 1) {
              val (n, h) = fingerprint(SnapshotStore.read(spark, snapshots))
              op.facts("release") = Json.str(s"$n:$h")
            }
          }
        }

      case "pin" =>
        // expected outputs, from the memo-off path every correctness gate uses
        Mix.foreach { q =>
          val (n, h) = fingerprint(SparkEntry.queries(q)(spark, data))
          facts(s"fp.$q") = Json.str(s"$n:$h")
        }
        val single = CorpusJob.execute(spark,
          CorpusJob.Config(input = data, out = s"$work/out/single"))
        val (n1, h1) = fingerprint(single._1)
        facts("stream_release") = Json.str(s"$n1:$h1")
        graft.tools.ScaleSmoke.replicate(Tables.documents(spark, data), Replicas)
          .write.mode("overwrite").parquet(s"$work/input/documents.parquet")
        val (df, f) = CorpusJob.execute(spark,
          CorpusJob.Config(input = s"$work/input", out = s"$work/out/batch"))
        val (n, h) = fingerprint(df)
        facts("batch_funnel") = funnel(f)
        facts("batch_output") = Json.str(s"$n:$h")

      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // the traced run's floor probe: median of empty local[nproc] jobs,
    // taken after the timed part so it cannot disturb it
    val floorS = if (!trace) Double.NaN else {
      sc.setJobGroup("pb-floor", "floor", interruptOnCancel = false)
      val xs = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        sc.parallelize(Seq.empty[Int], nproc).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      sc.clearJobGroup()
      xs(xs.size / 2)
    }
    val quiet = recorder.forall(_.awaitQuiet(10000L))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val (stateBytes, stateFiles) = du(warehouse)
    val sinks = outputRoots.map(du)
    val versions = if (workload == "corpus_stream")
      SnapshotStore.currentVersion(s"$work/out/snapshots").fold(0L)(_ + 1L) else 0L
    val inputBytes = du(inputRoot)._1

    import Json._
    def phasesJson(ps: Seq[(String, Long, Long)]): String =
      arr(ps.map { case (n, t0, t1) =>
        obj("name" -> str(n), "t0" -> num(epochMs(t0)), "t1" -> num(epochMs(t1))) })
    val record = obj(
      "workload" -> str(workload), "seed" -> num(seed), "trace" -> bool(trace),
      "nproc" -> num(nproc), "spark_version" -> str(spark.version),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576L),
      "setup" -> phasesJson(setup.toSeq),
      "timed_t0" -> num(epochMs(timedStart)), "timed_t1" -> num(epochMs(timedEnd)),
      "ops" -> arr(ops.toSeq.map { o =>
        obj("kind" -> str(o.kind), "name" -> str(o.name), "pass" -> num(o.pass),
            "module" -> str(Modules.collectFirst { case (m, d) if d.contains(o.name) => m }.orNull),
            "t0" -> num(epochMs(o.t0)), "t1" -> num(epochMs(o.t1)),
            "error" -> str(o.error), "phases" -> phasesJson(o.phases.toSeq),
            "facts" -> obj(o.facts.toSeq: _*))
      }),
      "facts" -> obj(facts.toSeq: _*),
      "memo_before" -> str(memoBefore), "memo_after" -> str(memoAfter),
      "peak_storage_bytes" -> num(peakStorage),
      "input_bytes" -> num(inputBytes),
      "state_bytes" -> num(stateBytes), "state_files" -> num(stateFiles),
      "sink_bytes" -> num(sinks.map(_._1).sum), "sink_files" -> num(sinks.map(_._2).sum),
      "snapshot_versions" -> num(versions),
      "floor_s" -> num(floorS),
      "listener_complete" -> bool(quiet),
      "spark" -> recorder.fold("null")(_.json))
    spark.stop()
    Files.write(Paths.get(a("record")), record.getBytes("UTF-8"))
  }
}
