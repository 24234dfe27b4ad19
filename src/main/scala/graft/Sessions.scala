package graft

import org.apache.spark.sql.SparkSession

/** Session-construction conventions shared by every entry point (Verify,
  * Bench, TrendsJob, the test harness). These are settings that must be in
  * place before the first query is planned — flipping them mid-session from
  * inside a loader would be a global side effect racing against every other
  * query on the same session.
  *
  * Two of them make compiled code a per-JVM asset. The engine's work is a
  * small set of plan shapes run over and over: a query pass repeats its
  * queries, every stream epoch repeats one ingest → publish plan set.
  * Each whole-stage and expression class Janino compiles lands in one
  * JVM-wide cache keyed on the generated source, so a repeated plan costs
  * no compile — as long as the cache holds the working set and the source
  * is byte-identical the second time:
  *  - `spark.sql.codegen.cache.maxEntries` (static: the cache reads it once,
  *    at the JVM's first compile). Spark's default of 100 is below one
  *    pass. Compiles per run with no eviction, on a 4-vCPU box: 404 for a
  *    `query_mix` benchmark run (13 queries at sf0.01, set-up plus three
  *    passes), 420 for a two-epoch `corpus_stream` run, 2421 for a full
  *    sf0.01 Verify (173 queries). An entry is one class per class
  *    loader, so a whole-stage class counts twice (driver and task). At
  *    100 the cache thrashed: each warm `query_mix` pass recompiled
  *    142–147 classes (1.4–1.6 s of Janino time) and each stream publish
  *    324–335 (3.9–4.4 s). 4096 holds a full Verify with room; the
  *    loaded classes cost a few MB of metaspace (used metaspace at exit
  *    moved by −4 to +2 MB on those runs).
  *  - `spark.sql.codegen.useIdInClassName=false`: the whole-stage id is
  *    otherwise spliced into the generated class name, so byte-identical
  *    code planned under another stage id (an AQE re-plan, a later
  *    epoch's plan numbering its stages differently) misses the cache.
  *
  * With both settings a warm `query_mix` pass compiles nothing, and a
  * second epoch's publish 16 classes whose source changed with the
  * epoch's data (such as an inlined `long` literal). `CodegenReuseSpec`
  * pins the effect.
  */
object Sessions {
  def withGraftConf(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries parquet timestamp[ns], which Spark 4 only
      // reads as raw longs under this legacy flag; Tables.events converts
      // the longs to µs timestamps explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // catalog tables (DedupState's bucketed corpus state) go to a
      // per-process temp warehouse: entry points stay hermetic and never
      // litter the working directory with spark-warehouse/
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // compile once per JVM (see the scaladoc above)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
}
