package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked multimodal plumbing: build a deterministic binary media
  * table from `documents` (utf-8 payloads — the fixture bytes), run the real
  * `mapPartitions` decode stage with [[Multimodal.PortableCodec]], and the
  * resize-metadata stage on top. The DuckDB oracle recomputes the same
  * md5-derived dimensions and byte-moment feature directly from the text
  * (the fixture is pure ASCII, so `ascii(substring(text, j, 1))` IS byte
  * j-1 of the payload).
  *
  * This makes the binary-column path — schema, per-partition batch decode,
  * narrow metadata transforms — subject to the same rows/schema/hash gate
  * as every other operator family, not just engine tests.
  */
object MultimodalQueries {

  /** mm_decode_meta — decode + resize metadata for every document-derived
    * media blob: (media_id, kind, n_bytes, width, height, f0, out_width,
    * out_height).
    */
  def decodeMeta(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3).cast("int") + 1)
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", kind, "documents")
    // n_bytes rides through the decode as a passthrough column — no
    // media-sized re-join to recover metadata the frame already had
    val decoded = Multimodal.decode(media, Multimodal.PortableCodec,
      passthrough = Seq(col("meta.n_bytes").as("n_bytes")))
    val resized = Multimodal.resizeMeta(decoded, 256)
    resized
      .select(col("media_id"), col("kind"), col("n_bytes"),
              col("width"), col("height"),
              round(element_at(col("feature"), 1), 4).as("f0"),
              col("out_width"), col("out_height"))
      .orderBy("media_id")
  }

  /** mm_frame_sample — video-kind blobs as 16-byte frames, every 4th frame
    * sampled, per-frame byte-mean feature: (media_id, frame_idx, n_frames,
    * f_mean). The frame fan-out runs in the same per-partition batch shape
    * as the decode stage; the oracle recomputes each sampled frame's mean
    * from the same bytes via `ascii(substring(...))` (ASCII fixture).
    */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 3 === 2)
    val media = Multimodal.mediaFromText(docs, "doc_id", "text", "video", "documents")
    Multimodal.frameFeatures(media, frameBytes = 16, stride = 4)
      .select(col("media_id"), col("frame_idx"), col("n_frames"),
              round(col("f_mean"), 4).as("f_mean"))
      .orderBy("media_id", "frame_idx")
  }

  /** mm_phash_pairs — perceptual-hash near-dup pairs over the media table:
    * every blob gets a 60-bit byte-stripe aHash ([[Multimodal.ahash]], the
    * mapPartitions codec path), and pairs within Hamming distance 3 come
    * from the SAME pigeonhole band blocking the simhash path uses
    * ([[graft.operators.Dedup.hammingPairs]], 4 bands × 15 bits) — the
    * multimodal member of the dedup family: 8-byte fingerprints instead of
    * payload comparisons, band equi-join instead of all pairs, one
    * codegen'd bit_count(xor) per candidate. 60 bits (not a toy 16/32)
    * deliberately: at corpus scale a b-bit fingerprint produces
    * ~n²·V(b,3)/2^(b+1) birthday-accident pairs (V = Hamming-ball volume);
    * 32 bits would drown 500k blobs in ~10⁵ random collisions where 60
    * bits keeps the expected accident count below 10⁻⁵ — the same width
    * the simhash family uses, for the same reason.
    */
  def phashPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.hammingPairs(phashFrame(s, d), "media_id", "ahash",
        bits = 60, nBands = 4, maxHamming = 3)
      .select(col("a").as("media_a"), col("b").as("media_b"), col("hamming"))
      .orderBy("media_a", "media_b")

  /** The 60-bit aHash fingerprint frame `(media_id, ahash, n_bytes)` every
    * query in the phash dedup family reads — one byte-level decode pass
    * over the media table, checkpointed because hashes feed multiple
    * consumers (band explode + both verify joins) and each re-read would
    * re-run the decode over the corpus. Under the bench-only `sharePairs`
    * memo it is built once per (session, dir) — the stored fingerprint
    * table a rolling media deployment keeps; Verify leaves the flag off so
    * the correctness gate always decodes from scratch.
    */
  private val phashMemo = Memo.entry[DataFrame]("phashFrame")

  /** Bench-artifact marker (same contract as DedupQueries.pairsMemoStats). */
  def mmMemoStats: String = Memo.stats(phashMemo)

  private def hashBuild(s: SparkSession, d: String): DataFrame =
    Multimodal.ahash(Multimodal.mediaFromText(
        Tables.documents(s, d), "doc_id", "text", "image", "documents"), 60)
      .filter(col("n_bytes") > 0)

  private def phashFrame(s: SparkSession, d: String): DataFrame = {
    def build(): DataFrame = hashBuild(s, d).localCheckpoint(true)
    if (!Memo.share(s)) build()
    else phashMemo(s, d)(build())
  }

  /** mm_phash_clusters — connected components over [[phashPairs]]'s edge
    * set: the multimodal member of the cluster family, the exact
    * `dedup_clusters` shape (star contraction with pointer jumping —
    * [[graft.operators.Dedup.connectedComponents]]) over Hamming≤3
    * fingerprint edges instead of Jaccard-verified MinHash edges. `comp`
    * is the minimum media id of each near-dup group, `keeper` the blob a
    * media pipeline retains. Nodes are every decodable blob (n_bytes > 0),
    * so singleton media keep their own id — the same contract as the text
    * tier.
    */
  def phashClusters(s: SparkSession, d: String): DataFrame = {
    val hashes = phashFrame(s, d)
    val edges = graft.operators.Dedup.hammingPairs(hashes, "media_id",
      "ahash", bits = 60, nBands = 4, maxHamming = 3).select("a", "b")
    graft.operators.Dedup.connectedComponents(
        edges, hashes.select("media_id"), "media_id")
      .withColumn("keeper", col("media_id") === col("comp"))
      .orderBy("media_id")
  }

  /** mm_phash_incremental — match an INCOMING media batch (media_id >=
    * the shared corpus/batch split) against the STANDING corpus without
    * re-pairing the corpus with itself: per-band equi-joins batch ×
    * standing ([[graft.operators.Dedup.hammingCrossPairs]], the same
    * pigeonhole blocking + first-matching-band rule as the self-pair
    * form), one codegen popcount per candidate. The rolling-ingest query
    * of the media tier — batch×corpus collisions only, corpus×corpus
    * pairs never form (they were found in their own epochs).
    */
  def phashIncremental(s: SparkSession, d: String): DataFrame = {
    val hashes = phashFrame(s, d)
    val sp = DedupQueries.splitId(s, d)
    graft.operators.Dedup.hammingCrossPairs(
        hashes.filter(col("media_id") >= sp),
        hashes.filter(col("media_id") < sp),
        "media_id", "ahash", bits = 60, nBands = 4, maxHamming = 3)
      .select(col("a").as("new_id"), col("b").as("corpus_id"), col("hamming"))
      .orderBy("new_id", "corpus_id")
  }

  /** The standing corpus's fingerprint band table persisted as a bucketed
    * catalog table — [[graft.operators.DedupState]]'s rolling-ingest
    * contract applied to media: [[graft.operators.Dedup.hammingLongBands]]
    * rows (one per media × band, 60-bit aHash carried along) bucketed +
    * sorted on the fused `band_key`, exactly the probe join's one equi
    * key, so the corpus side of [[phashStored]]'s band join needs NO
    * exchange (PlanAuditSpec pins it). Built once per (session, dir) like
    * every stored state here; an ingest epoch would bucket-aligned-APPEND
    * its batch rows (DedupState.merge's shape) rather than rewrite.
    */
  private val mmStateMemo = Memo.entry[String]("mmState")

  private[queries] def mmState(s: SparkSession, d: String): String =
    mmStateMemo(s, d) {
      val tbl = graft.operators.DedupState.names("graft_mm", d).bands
      val standing = hashBuild(s, d)
        .filter(col("media_id") < DedupQueries.splitId(s, d))
      graft.operators.Layout.writeBucketed(
        graft.operators.Dedup.hammingLongBands(
          standing, "media_id", "ahash", bits = 60, nBands = 4),
        "band_key", tbl, 4)
      tbl
    }

  /** Epoch-advance the stored media band state: bucket-aligned APPEND of
    * one batch's fingerprint band rows — the media sibling of
    * [[graft.operators.DedupState.merge]]'s bands append. The standing
    * table is never rewritten or even read; Spark validates the bucket
    * spec against the catalog, so a mismatched layout fails loudly
    * instead of silently degrading the exchange-free probe. Band rows are
    * per-document, so `advance(state(corpus), batch) ≡ state(corpus ∪
    * batch)` row-for-row (MultimodalStateSpec pins it — that equivalence
    * is what makes the rolling-media-ingest cost profile honest: per
    * epoch, only the batch is decoded and banded).
    */
  private[graft] def mmAdvance(s: SparkSession, tbl: String,
                               batchHashes: DataFrame): Unit =
    graft.operators.Dedup.hammingLongBands(
        batchHashes, "media_id", "ahash", bits = 60, nBands = 4)
      .write.mode("append").format("parquet")
      .bucketBy(4, "band_key").sortBy("band_key")
      .saveAsTable(tbl)

  /** mm_phash_stored — [[phashIncremental]] against the PERSISTED band
    * state ([[mmState]]): the honest form of the rolling media ingest —
    * only the incoming batch is decoded and banded; the standing corpus
    * is a bucketed scan probed on `band_key` with no exchange and no
    * re-decode. Output is row-identical to [[phashIncremental]] (same
    * oracle), which is the correctness proof that the stored probe loses
    * nothing.
    */
  def phashStored(s: SparkSession, d: String): DataFrame = {
    val tbl = mmState(s, d)
    val batch = phashFrame(s, d)
      .filter(col("media_id") >= DedupQueries.splitId(s, d))
    val probe = graft.operators.Dedup.hammingLongBands(
      batch, "media_id", "ahash", bits = 60, nBands = 4)
    graft.operators.Dedup.hammingCrossPairsLong(
        probe, s.table(tbl), "media_id", "ahash",
        bits = 60, nBands = 4, maxHamming = 3)
      .select(col("a").as("new_id"), col("b").as("corpus_id"), col("hamming"))
      .orderBy("new_id", "corpus_id")
  }

  /** mm_decontam — the MEDIA decontamination tier, completing the
    * text-side ladder's symmetry (exact-hash / fuzzy / span leakage have
    * had no media twin): training media whose 60-bit aHash sits within
    * Hamming 3 of ANY eval-split media fingerprint (media_id % 10 = 0 —
    * the shared eval convention) are leakage, found by the banded CROSS
    * probe ([[graft.operators.Dedup.hammingCrossPairsLong]] over
    * [[graft.operators.Dedup.hammingLongBands]] rows — train × eval only,
    * the corpus is never self-paired, the eval side is benchmark-sized
    * and broadcastable at 100 TB). Output is the per-source leakage
    * REPORT an operator reads before enabling the purge: training-media
    * count and contaminated count per source.
    */
  def mmDecontam(s: SparkSession, d: String): DataFrame = {
    val hashes = phashFrame(s, d)
    val train = hashes.filter(col("media_id") % 10 =!= 0)
    val ev = hashes.filter(col("media_id") % 10 === 0)
    val bad = graft.operators.Dedup.hammingCrossPairsLong(
        graft.operators.Dedup.hammingLongBands(train, "media_id", "ahash",
          bits = 60, nBands = 4),
        graft.operators.Dedup.hammingLongBands(ev, "media_id", "ahash",
          bits = 60, nBands = 4),
        "media_id", "ahash", bits = 60, nBands = 4, maxHamming = 3)
      .select(col("a").as("media_id")).distinct()
      .withColumn("__c", lit(1L))
    val src = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), col("source"))
    train.join(src, Seq("media_id"))
      .join(bad, Seq("media_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
           sum(coalesce(col("__c"), lit(0L))).as("n_contaminated"))
      .orderBy("source")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode_meta" -> (decodeMeta _),
    "mm_frame_sample" -> (frameSample _),
    "mm_phash_pairs" -> (phashPairs _),
    "mm_phash_clusters" -> (phashClusters _),
    "mm_phash_incremental" -> (phashIncremental _),
    "mm_phash_stored" -> (phashStored _),
    "mm_decontam" -> (mmDecontam _),
  )

  val oracle: Map[String, String] = Map(
    "mm_decode_meta" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |         text, length(text) AS n
        |  FROM documents),
        |f AS (
        |  SELECT media_id, kind, CAST(n AS BIGINT) AS n_bytes,
        |    CAST(64 + CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) % 960 AS INTEGER) AS width,
        |    CAST(64 + CAST('0x' || substring(md5(text), 9, 8) AS BIGINT) % 960 AS INTEGER) AS height,
        |    CASE WHEN n = 0 THEN 0.0 ELSE
        |      round(list_sum(list_transform(range(1, n + 1),
        |        j -> CASE WHEN (j - 1) % 8 = 0
        |                  THEN ascii(substring(text, CAST(j AS INTEGER), 1))
        |                  ELSE 0 END)) / n, 4) END AS f0
        |  FROM m)
        |SELECT media_id, kind, n_bytes, width, height, f0,
        |  CAST(ceil(width * least(1.0, 256.0 / greatest(width, height))) AS INTEGER) AS out_width,
        |  CAST(ceil(height * least(1.0, 256.0 / greatest(width, height))) AS INTEGER) AS out_height
        |FROM f ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (
        |  SELECT media_id, text, CAST(n // 16 AS BIGINT) AS n_frames
        |  FROM m WHERE n >= 16),
        |idx AS (
        |  SELECT media_id, text, n_frames,
        |         CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx
        |  FROM fr)
        |SELECT media_id, frame_idx, n_frames,
        |  round(list_sum(list_transform(range(1, 17),
        |    j -> ascii(substring(text, CAST(frame_idx * 16 + j AS INTEGER), 1))))
        |    / 16.0, 4) AS f_mean
        |FROM idx ORDER BY media_id, frame_idx""".stripMargin,
    "mm_phash_pairs" ->
      // replays the byte-stripe aHash (exact integer cross-product
      // threshold — no float mean) and the 4x15-bit pigeonhole banding;
      // ascii(substring(...)) IS byte j-1 of the utf-8 payload because the
      // fixture is pure ASCII (same contract as mm_decode_meta)
      s"""WITH $phashCtes,
         |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
         |         FROM bl x JOIN bl y
         |           ON x.j = y.j AND x.bv = y.bv AND x.media_id < y.media_id)
         |SELECT c.a AS media_a, c.b AS media_b,
         |  CAST(bit_count(xor(ha.ahash, hb.ahash)) AS INTEGER) AS hamming
         |FROM cand c
         |JOIN h ha ON c.a = ha.media_id
         |JOIN h hb ON c.b = hb.media_id
         |WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 3
         |ORDER BY media_a, media_b""".stripMargin,
    "mm_phash_clusters" ->
      // the factored pair chain + the same recursive transitive closure
      // the text clusters oracle states; nodes are every decodable blob
      s"""WITH RECURSIVE $phashCtes,
         |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
         |         FROM bl x JOIN bl y
         |           ON x.j = y.j AND x.bv = y.bv AND x.media_id < y.media_id),
         |pr AS (
         |  SELECT c.a, c.b FROM cand c
         |  JOIN h ha ON c.a = ha.media_id
         |  JOIN h hb ON c.b = hb.media_id
         |  WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 3),
         |edges AS (SELECT a AS src, b AS dst FROM pr
         |          UNION ALL SELECT b, a FROM pr),
         |cc AS (
         |  SELECT media_id AS id, media_id AS root FROM m
         |  UNION
         |  SELECT e.dst, cc.root FROM cc JOIN edges e ON cc.id = e.src)
         |SELECT id AS media_id, CAST(min(root) AS BIGINT) AS comp,
         |       (id = min(root)) AS keeper
         |FROM cc GROUP BY id ORDER BY media_id""".stripMargin,
    "mm_phash_incremental" -> phashCrossSql,
    // the stored probe is row-identical to the recomputing form — the
    // shared oracle IS the proof the bucketed state loses nothing
    "mm_phash_stored" -> phashCrossSql,
    "mm_decontam" ->
      // the factored aHash chain + the cross-split banding rule restated:
      // train (media_id % 10 <> 0) candidates vs eval (= 0) bands, popcount
      // verify, then the per-source leakage rollup
      s"""WITH $phashCtes,
         |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
         |         FROM bl x JOIN bl y ON x.j = y.j AND x.bv = y.bv
         |         WHERE x.media_id % 10 <> 0 AND y.media_id % 10 = 0),
         |bad AS (SELECT DISTINCT c.a AS media_id FROM cand c
         |        JOIN h ha ON c.a = ha.media_id
         |        JOIN h hb ON c.b = hb.media_id
         |        WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 3),
         |tr AS (SELECT m.media_id, d.source FROM m
         |       JOIN documents d ON m.media_id = d.doc_id
         |       WHERE m.media_id % 10 <> 0)
         |SELECT tr.source,
         |  CAST(count(*) AS BIGINT) AS n_media,
         |  CAST(sum(CASE WHEN bad.media_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
         |FROM tr LEFT JOIN bad ON tr.media_id = bad.media_id
         |GROUP BY tr.source ORDER BY source""".stripMargin,
  )

  /** The byte-stripe aHash chain `m → p → v → st → tot → h → bl` shared by
    * every phash oracle — ONE statement of the fingerprint + banding
    * semantics ([[Multimodal.ahash]] + the 4×15-bit pigeonhole split), so
    * pairs/clusters/incremental/stored can never drift apart.
    */
  private lazy val phashCtes: String =
    """m AS (
      |  SELECT doc_id AS media_id, text, CAST(length(text) AS BIGINT) AS n
      |  FROM documents WHERE length(text) > 0),
      |p AS (SELECT media_id, n, text, unnest(range(1, n + 1)) AS j FROM m),
      |v AS (SELECT media_id, n, CAST((j - 1) % 60 AS INTEGER) AS stripe,
      |        CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT) AS b
      |      FROM p),
      |st AS (SELECT media_id, n, stripe,
      |         CAST(sum(b) AS BIGINT) AS ssum, CAST(count(*) AS BIGINT) AS scnt
      |       FROM v GROUP BY media_id, n, stripe),
      |tot AS (SELECT media_id, CAST(sum(b) AS BIGINT) AS total
      |        FROM v GROUP BY media_id),
      |h AS (SELECT st.media_id,
      |        CAST(sum(CASE WHEN st.ssum * st.n > tot.total * st.scnt
      |                      THEN (CAST(1 AS BIGINT) << st.stripe) ELSE 0 END) AS BIGINT) AS ahash
      |      FROM st JOIN tot USING (media_id) GROUP BY st.media_id),
      |bl AS (SELECT media_id, (ahash >> CAST(15 * j AS INTEGER)) & 32767 AS bv, j
      |       FROM h, range(0, 4) AS r(j))""".stripMargin

  /** Shared by `mm_phash_incremental` and `mm_phash_stored`: batch ×
    * standing band collisions only (new ≥ the shared corpus/batch split,
    * corpus below it) — the two queries differ only in WHERE the standing
    * bands come from (recompute vs bucketed state), never in what they
    * emit.
    */
  private lazy val phashCrossSql: String =
    s"""WITH $phashCtes,
       |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
       |         FROM bl x JOIN bl y ON x.j = y.j AND x.bv = y.bv
       |         WHERE x.media_id >= ${DedupQueries.splitSql}
       |           AND y.media_id < ${DedupQueries.splitSql})
       |SELECT c.a AS new_id, c.b AS corpus_id,
       |  CAST(bit_count(xor(ha.ahash, hb.ahash)) AS INTEGER) AS hamming
       |FROM cand c
       |JOIN h ha ON c.a = ha.media_id
       |JOIN h hb ON c.b = hb.media_id
       |WHERE bit_count(xor(ha.ahash, hb.ahash)) <= 3
       |ORDER BY new_id, corpus_id""".stripMargin
}
