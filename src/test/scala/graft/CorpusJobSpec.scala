package graft

import graft.pipeline.{CorpusJob, CorpusStream}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the funnel only narrows, the output is
  * decontaminated and deduplicated, splits partition it, and a re-run is
  * byte-idempotent.
  */
class CorpusJobSpec extends SparkSpec {
  import spark.implicits._

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft-corpus").toString
  private lazy val cfg =
    CorpusJob.Config(input = sf("sf0.001"), out = outDir)
  private lazy val result = CorpusJob.execute(spark, cfg)

  test("funnel narrows monotonically and ends non-empty") {
    val (_, f) = result
    assert(f.input >= f.exactKept)
    assert(f.exactKept >= f.bowKept)
    assert(f.bowKept >= f.nearKept)
    assert(f.nearKept >= f.cleanKept)
    assert(f.cleanKept >= f.fuzzyKept)
    assert(f.fuzzyKept >= f.mmKept)
    assert(f.mmKept === f.fuzzyKept, "media tier is opt-in: a no-op by default")
    assert(f.mmKept >= f.screenedKept)
    assert(f.screenedKept >= f.qualityKept)
    assert(f.qualityKept >= f.budgetKept)
    assert(f.budgetKept >= f.mixKept)
    assert(f.mixKept >= f.diverseKept)
    assert(f.diverseKept > 0, "curation must not empty the corpus")
    // the new ladder stages actually fire on the fixture
    assert(f.fuzzyKept < f.cleanKept, "fuzzy decontamination must remove docs")
    assert(f.budgetKept < f.qualityKept, "token-budget cut must remove docs")
    assert(f.spanCutDocs <= f.fuzzyKept, "span cut touches only surviving docs")
    assert(f.perSplit.values.sum === f.diverseKept,
      "splits must partition the curated corpus exactly")
  }

  test("sf0.001 funnel is pinned, skipped stages and bin count included") {
    // every count is pinned: skipped stages report their input's count,
    // and nBins/perSplit come from one aggregate over the written corpus
    val (_, f) = result
    assert(f === CorpusJob.Funnel(
      input = 500, exactKept = 500, bowKept = 500, nearKept = 478,
      cleanKept = 431, fuzzyKept = 105, mmKept = 105, spanCutDocs = 3,
      screenedKept = 102, qualityKept = 102, budgetKept = 92, mixKept = 66,
      diverseKept = 66, nBins = 4,
      perSplit = Map("train" -> 64L, "val" -> 1L, "test" -> 1L)))
  }

  test("media decontamination tier drops media-fingerprint near-dups of eval docs") {
    // fuzzy OFF so the media tier is the only near-dup decontamination in
    // play: the docs whose derived media fingerprint Hamming-near-dups an
    // eval doc's must fall to THIS tier, not an upstream one
    val out = java.nio.file.Files.createTempDirectory("graft-corpus-mm").toString
    val (_, f) = CorpusJob.execute(spark, CorpusJob.Config(
      input = sf("sf0.001"), out = out,
      fuzzyDecontam = false, mediaDecontam = true))
    assert(f.fuzzyKept === f.cleanKept, "fuzzy tier disabled for isolation")
    assert(f.mmKept < f.fuzzyKept, "media tier must remove docs on the fixture")
    assert(f.mmKept > 0)
    assert(f.mmKept >= f.screenedKept)
  }

  test("no fuzzy eval near-duplicate survives curation") {
    val (out, _) = result
    val evalDocs = Tables.documents(spark, cfg.input)
      .filter($"doc_id" % 10 === 0).select("doc_id", "text")
    // recompute the banded cross probe over the OUTPUT: any training doc
    // still >= 0.7 Jaccard against an eval doc leaked through. The output
    // text is span-CUT, which only removes shared spans — a doc whose cut
    // text still near-duplicates an eval doc is exactly the leak the
    // fuzzy tier exists to stop (it probed pre-cut text, a superset).
    val leaked = graft.operators.Dedup.fuzzyContaminatedIds(
      out.select("doc_id", "text"), evalDocs, "doc_id", "text").count()
    assert(leaked === 0L, s"$leaked fuzzy-contaminated docs survived")
  }

  test("token-budget cut keeps the best docs to within one partial document") {
    // isolate the budget stage: mix/diversity off, so the output IS the
    // budget stage's survivor set; a twin run with the cut disabled
    // reconstructs the stage's input (same deterministic upstream)
    val outA = java.nio.file.Files.createTempDirectory("graft-budget-all").toString
    val outC = java.nio.file.Files.createTempDirectory("graft-budget-cut").toString
    val (all, _) = CorpusJob.execute(spark,
      cfg.copy(out = outA, mix = Map.empty, budgetShare = 1.0))
    val (kept, _) = CorpusJob.execute(spark,
      cfg.copy(out = outC, mix = Map.empty, budgetShare = 0.5))
    def toks(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id", size(graft.operators.TextAnalysis.tokens($"text")).cast("long").as("nt"))
    assert(kept.join(all, Seq("doc_id"), "left_anti").count() === 0L,
      "budget survivors must be a subset of the uncut corpus")
    val total = toks(all).agg(sum("nt")).head().getLong(0)
    val budget = (total * 0.5).toLong
    val keptToks = toks(kept).agg(sum("nt")).head().getLong(0)
    assert(keptToks <= budget, s"kept $keptToks tokens over budget $budget")
    val excluded = toks(all).join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val maxExcluded = excluded.agg(max("nt")).head().getLong(0)
    assert(budget - keptToks < maxExcluded,
      s"cut left ${budget - keptToks} budget tokens unused with docs of up " +
        s"to $maxExcluded tokens excluded — not a last-partial-doc boundary")
  }

  test("diversity cap bounds every embedding cluster") {
    val outD = java.nio.file.Files.createTempDirectory("graft-diverse").toString
    val cap = 15
    val (out, f) = CorpusJob.execute(spark, cfg.copy(out = outD,
      diversePerCell = cap, embeddingsDir = cfg.input))
    assert(f.diverseKept < f.mixKept, "the cap must bite on the fixture")
    // recompute the deterministic cells and verify the per-cell bound
    val vecs = graft.operators.Similarity.prepared(
      Tables.embeddings(spark, cfg.input)).select("vec_id", "v")
    val cents = graft.operators.Similarity.kmeansFit(vecs, k = 5, rounds = 2)
    val cells = graft.operators.Similarity.kmeansAssign(vecs, cents)
      .select($"vec_id".as("doc_id"), $"cluster")
    val over = out.join(cells, "doc_id").groupBy("cluster").count()
      .filter($"count" > cap).count()
    assert(over === 0L, "a cluster exceeded the diversity cap")
  }

  test("span cut leaves no cross-doc duplicated 8-token span in the output") {
    val (out, f) = result
    assert(f.spanCutDocs > 0, "fixture must exercise the span cut")
    val survivors = graft.operators.Dedup.spanCut(out, "doc_id", "text", w = 8)
      .filter($"n_cut" > 0).count()
    assert(survivors === 0L, s"$survivors docs still carry duplicated spans")
  }

  test("mix sampling applies the plan rates: zero-target langs dropped, budgets respected") {
    val (out, f) = result
    // the fixture has zh but the default mix gives it no share — the mix
    // stage must drop it entirely (rate 0), and must actually sample
    // (mixKept strictly below qualityKept)
    assert(out.filter($"lang" === "zh").count() === 0L)
    assert(f.mixKept < f.qualityKept)
    // each surviving language's kept count is bounded by its absolute
    // planned budget: kept ≈ min(n_lang, target·qualityKept), so kept can
    // never exceed target·qualityKept beyond hash-sampling granularity
    val byLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (lang, kept) =>
      val target = cfg.mix.getOrElse(lang, 0.0)
      assert(target > 0.0, s"language $lang survived with zero target share")
      assert(kept > 0L, s"language $lang was emptied by mix sampling")
      val budget = target * f.qualityKept
      assert(kept <= budget + math.max(5.0, 0.15 * budget),
        s"$lang kept $kept docs against a planned budget of $budget")
    }
  }

  test("packing respects the bin token budget (overflow only from a bin's last doc)") {
    val (out, _) = result
    // reconstruct each bin's token count and its boundary rule: a doc
    // belongs to the bin its FIRST token lands in, so every bin's
    // pre-last-doc token mass must sit strictly under the budget
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = out
      .withColumn("n_toks",
        size(graft.operators.TextAnalysis.tokens($"text")).cast("long"))
      .withColumn("first_tok", sum("n_toks").over(w) - $"n_toks")
    // assignment rule holds for every doc
    val misassigned = packed
      .filter($"bin" =!= floor($"first_tok" / cfg.binTokens)).count()
    assert(misassigned === 0L)
    // budget: all but the last doc of a bin start AND end inside it
    val overflow = packed
      .withColumn("last_start",
        max("first_tok").over(Window.partitionBy("lang", "bin")))
      .filter($"first_tok" < $"last_start") // every non-last doc in the bin
      .filter($"first_tok" + $"n_toks" > ($"bin" + 1) * cfg.binTokens)
      .count()
    assert(overflow === 0L, "a non-final doc crossed its bin boundary")
  }

  test("output carries no exact duplicates and no eval contamination") {
    val (out, _) = result
    assert(out.select(md5($"text")).distinct().count() === out.count(),
      "exact duplicates survived")
    // bag-of-words level too: no two docs share a token multiset
    val bow = out.select(md5(concat_ws(" ",
      sort_array(graft.operators.TextAnalysis.tokens($"text")))).as("bh"))
    assert(bow.distinct().count() === out.count(), "BoW duplicates survived")
    val evalHashes = Tables.documents(spark, cfg.input)
      .filter($"doc_id" % 10 === 0).select(md5($"text").as("h"))
    val contaminated = out.select(md5($"text").as("h")).join(evalHashes, "h").count()
    assert(contaminated === 0L, s"$contaminated eval-contaminated docs survived")
    // eval docs themselves are excluded from the training corpus
    assert(out.filter($"doc_id" % 10 === 0).count() === 0L)
  }

  test("near-dup clusters keep exactly one representative") {
    val (out, _) = result
    // recompute simhash pairs over the OUTPUT: any surviving pair at
    // Hamming <= 3 would mean a cluster kept two members
    val sh = graft.operators.Dedup.simhash(out, "doc_id", "text")
    val x = sh.select($"doc_id".as("a"), $"simhash".as("ha"))
    val y = sh.select($"doc_id".as("b"), $"simhash".as("hb"))
    val survivors = x.join(y, $"a" < $"b")
      .filter(bit_count($"ha".bitwiseXOR($"hb")) <= 3).count()
    assert(survivors === 0L, s"$survivors near-dup pairs survived curation")
  }

  test("re-running the job is byte-idempotent (static overwrite of the corpus)") {
    val (out, _) = result
    val first = out.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (again, f2) = CorpusJob.execute(spark, cfg)
    assert(again.orderBy("doc_id").collect().map(_.toSeq).toSeq === first)
    assert(f2.perSplit === result._2.perSplit)
  }

  test("--span-state persists the curated corpus's winnowed span fingerprints") {
    val cfg2 = cfg.copy(spanState = true)
    val (out, _) = CorpusJob.execute(spark, cfg2)
    val n = graft.operators.DedupState.names("corpus_job", cfg2.out)
    assert(spark.catalog.tableExists(n.spans), s"span state table ${n.spans} missing")
    val stored = spark.table(n.spans)
    val fresh = graft.queries.DedupQueries.winnowSelect(
      out.select("doc_id", "text"),
      graft.queries.DedupQueries.SpanW, graft.queries.DedupQueries.WinnowW)
    assert(stored.exceptAll(fresh).isEmpty && fresh.exceptAll(stored).isEmpty,
      "stored span state must be row-identical to winnowing the output")
    // bucketed on the probe key, so the next epoch's semi-join reads the
    // corpus side exchange-free (same layout contract DedupState documents)
    val ddl = spark.sql(s"DESCRIBE EXTENDED ${n.spans}").collect().mkString("\n")
    assert(ddl.contains("span_md5"), ddl)
  }

  test("the corpus is read back with the schema a parquet read infers") {
    val (out, _) = result
    // StructType equality: column order, types, nullability and metadata
    assert(out.schema === spark.read.parquet(cfg.out).schema)
  }

  test("job budget: one execute and one publish at sf0.001 stay within their pins") {
    // Spark jobs are this pipeline's unit of fixed cost (scheduling plus
    // planning per job, tens of ms each on a 4-vCPU box), so the counts
    // are pinned at their measured values: a change may lower a pin,
    // never raise it
    val executeJobs = jobsOf(CorpusJob.execute(spark, cfg.copy(
      out = java.nio.file.Files.createTempDirectory("graft-budget-exec").toString)))
    val n = CorpusStream.names("graft_job_budget")
    CorpusStream.reset(spark, n)
    val docs = Tables.documents(spark, cfg.input)
    CorpusStream.ingest(spark, docs.filter($"doc_id" < 250), n, 0L)
    CorpusStream.ingest(spark, docs.filter($"doc_id" >= 250), n, 1L)
    val publishJobs = jobsOf(CorpusStream.publish(spark, n, cfg.copy(
      out = java.nio.file.Files.createTempDirectory("graft-budget-pub").toString)))
    info(s"jobs: execute $executeJobs, publish $publishJobs")
    assert(executeJobs <= 98, s"execute ran $executeJobs jobs")
    assert(publishJobs <= 82, s"publish ran $publishJobs jobs")
  }

  test("config parsing validates and round-trips") {
    val c = CorpusJob.parse(Array("--input", "/in", "--out", "/out",
      "--min-tokens", "5", "--min-distinct-ratio", "0.5", "--min-avg-logp", "-7.5",
      "--salt", "v2", "--mix", "en:0.7,de:0.3", "--bin-tokens", "1024"))
    assert(c === CorpusJob.Config("/in", "/out", 5, 0.5, -7.5, "v2",
      Map("en" -> 0.7, "de" -> 0.3), 1024L))
    // --mix "" disables the mix stage
    assert(CorpusJob.parse(Array("--input", "/in", "--out", "/out",
      "--mix", "")).mix === Map.empty)
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--bogus", "x")) }
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--input", "/in")) }
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--input", "/in",
      "--out", "/out", "--mix", "en:1.5")) }
    // malformed --mix entries surface as the usage contract, not a
    // MatchError / NumberFormatException from the destructure
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--input", "/in",
      "--out", "/out", "--mix", "en")) }
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--input", "/in",
      "--out", "/out", "--mix", "en:0.5:x")) }
    intercept[IllegalArgumentException] { CorpusJob.parse(Array("--input", "/in",
      "--out", "/out", "--mix", "en:zz")) }
    assert(CorpusJob.parse(Array("--input", "/in", "--out", "/out",
      "--span-state")).spanState)
  }
}
