package graft.tools

import graft.{RunLedger, Sessions}

/** Memory-pressure pin at 10× scale: every other scale argument in this
  * repo is wall-time; this one is about DEGRADING GRACEFULLY. The
  * heaviest families (near-dup clustering, the rolling-state epoch merge,
  * the IVF index build) run on the full-table 10× replica under a
  * deliberately SMALL heap (SPARK_DRIVER_MEM=4g vs the comfortable 24 GiB
  * the smoke uses — local mode, so this bounds executor memory too), and
  * the pin is: every workload COMPLETES, with the pressure proven real by
  * task-metric spill bytes > 0. Completion-with-spill is the difference
  * between "fits in this box's RAM" and the actual 100 TB question —
  * whether the operators fall back to disk under pressure instead of
  * OOMing, which is what Spark's unified memory manager + sort-based
  * shuffle are supposed to buy and what this probe measures instead of
  * assumes.
  *
  * The probe runs ONE EXECUTOR'S SHAPE: 8 cores on the 4 GiB heap
  * (512 MB/core — the realistic dense-executor ratio), not the box's 32
  * threads. 32 tasks sharing ~2.2 GiB of unified execution memory is
  * 70 MB/task — tighter than any sane cluster config — and measured
  * UNABLE_TO_ACQUIRE_MEMORY aborts there: concurrent sorters each pinned
  * below their spill granularity, which is an over-subscription failure,
  * not an operator one. The cores knob is the same one a real deployment
  * turns (spark.executor.cores), so the probe documents the supported
  * envelope instead of a fantasy one.
  *
  * Run: SPARK_DRIVER_MEM=4g SPARK_GRAFT_MEM_DIR=/tmp/graft-10x \
  *        sbt "runMain graft.tools.MemPressure"
  * Writes mem_pressure.json; if scale_smoke.json exists, merges its keys
  * into that artifact's JSON object (the smoke and this probe ride
  * different heaps, so they are separate invocations of one evidence
  * file). Requirements fire on violation: zero spill means the heap was
  * not actually small enough for the data and the pin would be vacuous.
  */
object MemPressure {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_MEM_DIR"))
      .getOrElse("/tmp/graft-10x")
    // SPARK_GRAFT_MEM_CKPT_DIR switches the probe to the RELIABLE
    // checkpoint posture (Materialize writes iterative/memo state to this
    // dir and unpersists — the cluster deployment shape): the r13 30×
    // ladder point found the localCheckpoint posture's envelope edge —
    // ~2.3 GB of executor-storage checkpoint blocks starve the unified
    // pool's execution side on the 4 GiB dense-executor shape
    // (AGGREGATE_OUT_OF_MEMORY), while the reliable posture keeps standing
    // state on disk and completes. Both points are reported; the knob is
    // the same spark.graft.checkpoint.dir a real cluster sets.
    val ckptDir = sys.env.get("SPARK_GRAFT_MEM_CKPT_DIR").filter(_.nonEmpty)
    val b0 = Sessions.local("graft-mem-pressure",
        sys.env.get("SPARK_GRAFT_CPUS").fold(8)(_.trim.toInt))
      .config("spark.sql.shuffle.partitions", "32")
    val spark = ckptDir.fold(b0)(dir =>
        b0.config(graft.operators.Materialize.DirKey, dir))
      .getOrCreate()
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val ledger = RunLedger.attach(spark.sparkContext)

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // 1. near-dup clustering of the 10x corpus (pair generation + bitset
    //    verify + CC star contraction — the widest shuffles in the repo)
    val (tClusters, nClusters) = timed(
      graft.queries.DedupQueries.clusters(spark, dir).count())

    // 2. rolling-state epoch advance: standing state over replicas 0..8,
    //    then merge replica 9 (bucketed writes + cross-probe joins)
    val docs = graft.Tables.documents(spark, dir)
    val cut = 9L * ScaleSmoke.Offset
    val n = graft.operators.DedupState.names("graft_memp", dir)
    val (tBuild, _) = timed {
      graft.queries.DedupQueries.buildFullState(
        spark, docs.filter(org.apache.spark.sql.functions.col("doc_id") < cut), n)
      0L
    }
    val (tMerge, _) = timed {
      graft.queries.DedupQueries.mergeEpoch(
        spark, docs.filter(org.apache.spark.sql.functions.col("doc_id") >= cut), n)
      0L
    }

    // 3. IVF index build + two-level assignment over the 10x embeddings
    val (tIvf, nIvf) = timed(
      graft.queries.SimilarityQueries.defs("sim_ivf_twolevel")(spark, dir).count())

    // 4. domain PageRank from scratch (r13: the third family the scale
    //    ladder adjudicates) — pair pipeline + edge aggregation + the
    //    5-superstep ladder, all under the same small heap
    val (tRank, nRank) = timed(
      graft.queries.GraphQueries.defs("graph_domain_rank")(spark, dir).count())

    ledger.flush()
    val (spillMem, spillDisk, peakExec) = ledger.spill
    require(nClusters > 0L && nIvf > 0L && nRank > 0L,
      "workloads returned no rows")
    require(spillMem + spillDisk > 0L,
      s"no spill under a ${heapMb}MB heap — the pressure pin is vacuous; " +
        "lower SPARK_DRIVER_MEM or raise the replica size")

    val json =
      f"""{"metric":"mem_pressure","dir":"$dir","ckpt":"${ckptDir.fold("local")(_ => "reliable")}","heap_mb":$heapMb,"spill_mem_bytes":$spillMem,"spill_disk_bytes":$spillDisk,"peak_exec_mem_bytes":$peakExec,"clusters_sec":$tClusters%.2f,"clusters":$nClusters,"state_build_sec":$tBuild%.2f,"merge_sec":$tMerge%.2f,"ivf_sec":$tIvf%.2f,"ivf_rows":$nIvf,"rank_sec":$tRank%.2f,"rank_rows":$nRank}"""
    // SPARK_GRAFT_MEM_OUT redirects the artifact — the N× scale ladder
    // (10× vs 30× under the same executor shape) runs this probe once per
    // replica dir with distinct outputs and adjudicates the ratios
    val outName = sys.env.getOrElse("SPARK_GRAFT_MEM_OUT", "mem_pressure.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outName),
      (json + "\n").getBytes("UTF-8"))
    // fold the evidence into scale_smoke.json's object when present —
    // only for the DEFAULT (10×) artifact; a ladder run must not
    // overwrite the smoke's mem_* keys with another scale's numbers
    val smoke = java.nio.file.Paths.get("scale_smoke.json")
    if (outName == "mem_pressure.json" && java.nio.file.Files.exists(smoke)) {
      val raw = new String(java.nio.file.Files.readAllBytes(smoke), "UTF-8").trim
      // idempotent merge: strip any mem_* keys a previous run appended so
      // re-running never produces duplicate JSON keys in the artifact
      val cur = raw.replaceAll(""","mem_[A-Za-z0-9_]+":[^,}]+""", "")
      if (cur.endsWith("}")) {
        val merged = cur.dropRight(1) +
          f""","mem_heap_mb":$heapMb,"mem_spill_mem_bytes":$spillMem,"mem_spill_disk_bytes":$spillDisk,"mem_clusters_sec":$tClusters%.2f,"mem_state_build_sec":$tBuild%.2f,"mem_merge_sec":$tMerge%.2f,"mem_ivf_sec":$tIvf%.2f,"mem_rank_sec":$tRank%.2f}"""
        java.nio.file.Files.write(smoke, (merged + "\n").getBytes("UTF-8"))
      }
    }
    spark.stop()
    println(json)
  }
}
