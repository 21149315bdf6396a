package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.multimodal.Multimodal
import graft.sources.Tables
import ColumnIdioms._
import OracleSql._

/** Multimodal record curation: binary features, frame sampling,
  * modality routing, quality gates, perceptual-hash dedup and shard
  * manifests.
  */
object MultimodalQueries extends QueryModule {
  val prefixes: Seq[String] = Seq("mm_")

  val mmBinaryFeatures: Q = (s, dir) => Multimodal.binaryFeatures(s, dir)

  val mmFrameSample: Q = (s, dir) => Multimodal.frameFeatures(s, dir)

  /** Modality routing: the demux stage of a multimodal pipeline —
    * rows fan out to per-modality branches keyed on (here
    * synthetic) content type, with per-branch size accounting.
    */
  val mmModalityRoute: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("n_bytes", length(col("text").cast("binary")).cast("long"))
      .withColumn("modality",
        when(col("n_bytes") % 3 === 0, "image")
          .when(col("n_bytes") % 3 === 1, "audio")
          .otherwise("video"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"))
      .orderBy(col("modality"))

  // ---------------------------------------------------------------
  // mm_shard_manifest — training-shard planning over the multimodal
  // (binary) corpus: content-hash-ordered docs pack into shards by
  // a byte budget (exclusive prefix sum / budget), and the manifest
  // reports each shard's size. The layout step every multimodal
  // training pipeline runs before writing webdataset-style shards;
  // all integer arithmetic. The cumsum runs over doc METADATA (id,
  // byte length) — the binary payload itself never shuffles — and
  // uses Ranking.withGlobalCumSums (range-partition + per-partition
  // carries + prefix offsets): a corpus manifest is per-DOC rows, so
  // at 100 TB a global ordered window would funnel billions of rows
  // through one reducer; the two-phase form keeps P parallel sorts.
  // ---------------------------------------------------------------
  val mmShardManifest: Q = (s, dir) => {
    val budget = 16384L
    val m = docs(s, dir).select(col("doc_id"),
      octet_length(col("text").cast("binary")).cast("long").as("bytes"),
      md5(col("doc_id").cast("string")).as("key"))
    Ranking.withGlobalCumSums(m, Seq("bytes" -> "cum"),
        col("key"), col("doc_id"))
      .withColumn("shard", floor((col("cum") - col("bytes")) / lit(budget)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).cast("long").as("shard_bytes"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // mm_quality_gate — the per-modality quality filter a multimodal
  // ingest runs after decode: payloads route to image/audio/video by
  // the mm_modality_route rule, decode-derived features (width,
  // height, frame count — the FakeDecoder stub behind the Decoder
  // trait; a real codec swaps in without touching this operator)
  // check modality-specific floors (image/video ≥ 200×200, audio ≥
  // 10 frames, video ≥ 15 frames, everything ≥ 64 bytes), and the
  // audit reports per-modality totals, failure counts per reason,
  // and the pass rate. Scale shape: the decoder's mapPartitions
  // feature pass is embarrassingly parallel (one decoder instance
  // per partition — the expensive-init codec pattern), then one
  // map-side-combining 3-group aggregate. Integer counts; the pass
  // rate is one micro-unit integral division.
  // ---------------------------------------------------------------
  val mmQualityGate: Q = (s, dir) => {
    val feats = graft.multimodal.Multimodal.binaryFeatures(s, dir)
      .withColumn("modality",
        when(col("n_bytes") % 3 === 0, "image")
          .when(col("n_bytes") % 3 === 1, "audio")
          .otherwise("video"))
    val checked = feats.select(col("modality"),
      (col("n_bytes") < 64L).as("f_payload"),
      (col("modality").isin("image", "video") &&
        (col("width") < 200L || col("height") < 200L)).as("f_res"),
      (col("modality") === "audio" && col("n_frames") < 10L ||
        col("modality") === "video" && col("n_frames") < 15L)
        .as("f_dur"))
    checked.groupBy(col("modality"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_payload"), 1L).otherwise(0L)).cast("long")
          .as("n_small_payload"),
        sum(when(col("f_res"), 1L).otherwise(0L)).cast("long")
          .as("n_low_res"),
        sum(when(col("f_dur"), 1L).otherwise(0L)).cast("long")
          .as("n_short"),
        sum(when(!col("f_payload") && !col("f_res") && !col("f_dur"), 1L)
          .otherwise(0L)).cast("long").as("n_passed"))
      .select(col("modality"), col("n_docs"), col("n_small_payload"),
        col("n_low_res"), col("n_short"), col("n_passed"),
        (expr("CAST((n_passed * 1000000) div n_docs AS BIGINT)") /
          lit(1000000.0)).as("pass_rate"))
      .orderBy(col("modality"))
  }

  // ---------------------------------------------------------------
  // mm_phash_dedup — perceptual-hash near-dup detection over the
  // opaque media column (the image-dedup pipeline shape, run on the
  // binary stand-in): a 64-bit STRUCTURAL hash — 16 slice-nibbles,
  // nibble j = 4 bits of md5(j-th 1/16 content slice) — so
  // documents differing in one region differ in few bits, unlike
  // the avalanche md5 of dedup_exact. Banding: the hash splits into
  // 4 × 16-bit bands; by pigeonhole any pair within Hamming ≤ 3
  // shares one exact band, so the candidate set is exact, not
  // probabilistic (the dedup_simhash convention). Identical hashes
  // collapse BEFORE the band self-join (band buckets otherwise hold
  // every copy of every duplicate and go quadratic in copy count).
  // Scale shape: 4 hash-partitioned equi-joins on (band, value) —
  // never pairwise in corpus size; verify is 4 xor/bit_counts per
  // candidate.
  // ---------------------------------------------------------------
  val mmPhashDedup: Q = (s, dir) => {
    def nib(j: Int): Column = {
      val len = length(col("text"))
      val lo = floor(lit(j) * len / 16).cast("int")
      val hi = floor(lit(j + 1) * len / 16).cast("int")
      conv(substring(md5(col("text").substr(lo + 1, hi - lo)), 1, 1),
        16, 10).cast("long")
    }
    def band(b: Int): Column =
      (0 to 3).map(j => nib(4 * b + j) * (1L << (4 * (3 - j))))
        .reduce(_ + _).as(s"b$b")
    val hashed = Tables.table(s, dir, "documents")
      .select(col("doc_id") +: (0 to 3).map(band): _*)
    val base = hashed
      .groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        min(col("doc_id")).as("gkey"))
      .localCheckpoint(eager = false) // both band-join sides + member expansion
    val banded = base.select(col("gkey"), col("b0"), col("b1"), col("b2"),
      col("b3"), posexplode(array(col("b0"), col("b1"), col("b2"),
        col("b3"))).as(Seq("band", "key")))
    val l = banded.alias("l"); val r = banded.alias("r")
    val ham = (0 to 3).map(b =>
      bit_count(col(s"l.b$b").bitwiseXOR(col(s"r.b$b")))).reduce(_ + _)
    val repPairs = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.gkey") < col("r.gkey"))
      .select(col("l.gkey").as("g1"), col("r.gkey").as("g2"), ham.as("hamming"))
      .dropDuplicates("g1", "g2")
      .filter(col("hamming") <= 3)
    val m = base.select(col("gkey"), explode(col("members")).as("doc_id"))
    val wl = m.alias("wl"); val wr = m.alias("wr")
    val within = wl.join(wr, col("wl.gkey") === col("wr.gkey") &&
        col("wl.doc_id") < col("wr.doc_id"))
      .select(col("wl.doc_id").as("d1"), col("wr.doc_id").as("d2"),
        lit(0L).as("hamming"))
    val cross = repPairs
      .join(m.select(col("gkey").as("g1"), col("doc_id").as("m1")), "g1")
      .join(m.select(col("gkey").as("g2"), col("doc_id").as("m2")), "g2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"),
        col("hamming").cast("long").as("hamming"))
    within.unionAll(cross).orderBy(col("d1"), col("d2"))
  }

  private val phashBandsSql: String =
    (0 to 3).map { b =>
      val nibs = (0 to 3).map { j =>
        val idx = 4 * b + j
        s"(${hexSql(s"substr(text, CAST(floor($idx * len(text) / 16) AS INTEGER) + 1, " +
          s"CAST(floor(${idx + 1} * len(text) / 16) AS INTEGER) - " +
          s"CAST(floor($idx * len(text) / 16) AS INTEGER))", 1)}) * ${1L << (4 * (3 - j))}"
      }.mkString(" + ")
      s"($nibs) AS b$b"
    }.mkString(",\n       ")

  // ---------------------------------------------------------------
  // mm_shard_balance — modality mix per packed training shard: the
  // mm_shard_manifest layout (md5-ordered docs, 16384-byte budget,
  // two-phase global cumsum) crossed with the mm_modality_route rule
  // (n_bytes mod 3), reporting per-shard modality counts and the
  // normalized mix entropy H/ln(3). A shard at 0 is single-modality
  // — the interleave a multimodal trainer assumes is gone. Scale
  // shape: inherits the manifest's two-phase cumsum (P carries, no
  // global window); the entropy is a ≤3-term sorted fold per shard.
  // ---------------------------------------------------------------
  val mmShardBalance: Q = (s, dir) => {
    val budget = 16384L
    val m = Tables.table(s, dir, "documents").select(col("doc_id"),
      octet_length(col("text").cast("binary")).cast("long").as("bytes"),
      md5(col("doc_id").cast("string")).as("key"))
    val sharded = Ranking.withGlobalCumSums(m, Seq("bytes" -> "cum"),
        col("key"), col("doc_id"))
      .withColumn("shard", floor((col("cum") - col("bytes")) / lit(budget)))
      .withColumn("modality",
        when(col("bytes") % 3 === 0, "image")
          .when(col("bytes") % 3 === 1, "audio")
          .otherwise("video"))
    val cnt = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("modality") === "image", 1L).otherwise(0L))
          .cast("long").as("n_image"),
        sum(when(col("modality") === "audio", 1L).otherwise(0L))
          .cast("long").as("n_audio"),
        sum(when(col("modality") === "video", 1L).otherwise(0L))
          .cast("long").as("n_video"))
    val ent = Seq("n_image", "n_audio", "n_video").map { c =>
      when(col(c) > 0,
        -(d(col(c)) / d(col("n_docs"))) * log(d(col(c)) / d(col("n_docs"))))
        .otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    cnt.select(col("shard"), col("n_docs"), col("n_image"), col("n_audio"),
        col("n_video"),
        round(ent / log(lit(3.0)), 6).as("balance"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // mm_byte_entropy — media blobs (the mm_binary_features table:
  // text bytes as the opaque payload) → uppercase hex → per-byte
  // counts → Shannon entropy in bits. The hex path makes the byte
  // histogram A PORTABLE SQL computation — no UDF, no decoder, and
  // the oracle replays it verbatim. Gates: ≥ 7.5 bits looks
  // encrypted/compressed (a corrupt or mislabeled payload on a text
  // corpus), < 2.0 bits is a degenerate fill. Scale shape: the
  // explode is output-linear in total bytes (a scan-shaped pass),
  // the per-doc fold is ≤ 256 sorted terms.
  // ---------------------------------------------------------------
  val mmByteEntropy: Q = (s, dir) => {
    // shuffle the COMPACT payload once, explode locally (guide §8):
    // repartitioning the ~n_docs hex rows by doc_id up front makes
    // both aggregations below partition-local — HashPartitioning on
    // doc_id satisfies the (doc_id, b) clustering too — so the
    // exploded per-byte frame and the per-doc byte counts never
    // cross the network (before: the (doc, byte) frame was
    // exchanged for the count agg, AGAIN for the totals agg, and a
    // third time through the join back).
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), hex(col("text").cast("binary")).as("hx"))
      .filter(length(col("hx")) > 0)
      .repartition(col("doc_id"))
    val bytes = docs
      .select(col("doc_id"),
        explode(expr("sequence(0, CAST(length(hx) / 2 AS INT) - 1)"))
          .as("i"), col("hx"))
      .select(col("doc_id"), expr("substr(hx, i * 2 + 1, 2)").as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
    // one per-doc aggregate replaces the totals agg + join back: n
    // folds from the same ≤256 (b, c) entries, and the entropy terms
    // fold in the SAME b-sorted order as before → identical doubles
    bytes
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("b"), col("c")))).as("bc"))
      .select(col("doc_id"),
        expr("aggregate(bc, CAST(0 AS BIGINT), (a, q) -> a + q.c)").as("n"),
        col("bc"))
      .select(col("doc_id"), col("n"),
        size(col("bc")).cast("long").as("n_distinct_bytes"),
        expr("aggregate(bc, 0D, (a, q) -> a + (-(CAST(q.c AS DOUBLE)" +
          " / CAST(n AS DOUBLE)) * ln(CAST(q.c AS DOUBLE)" +
          " / CAST(n AS DOUBLE))))").as("h_nats"))
      .select(col("doc_id"), col("n").as("n_bytes"),
        col("n_distinct_bytes"),
        round(col("h_nats") / lit(math.log(2.0)), 6).as("entropy_bits"),
        when(col("h_nats") / lit(math.log(2.0)) >= 7.5, "high_entropy_suspect")
          .when(col("h_nats") / lit(math.log(2.0)) < 2.0, "degenerate")
          .otherwise(lit("ok")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // mm_scene_cuts — shot-boundary detection over opaque media
  // blobs: the blob reads as consecutive 16-byte "frames" through
  // the portable hex path (uppercase hex on both engines, bytes via
  // strpos into '0123456789ABCDEF' — no UDF, no decoder); per-frame
  // signature = exact integer byte sum; a CUT is |Δ signature| >
  // 256 between consecutive frames. Per doc: frame count, cut
  // count, max |Δ|, static/dynamic verdict. Everything integer.
  // Scale shape: the frame explosion is output-linear in total
  // bytes; the delta window partitions by doc.
  // ---------------------------------------------------------------
  private val CutThreshold = 256L

  val mmSceneCuts: Q = (s, dir) => {
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), hex(col("text").cast("binary")).as("hx"))
      .filter(length(col("hx")) >= 32)
    val frames = docs
      .select(col("doc_id"), col("hx"),
        explode(expr("sequence(0, CAST(length(hx) / 32 AS INT) - 1)"))
          .as("w"))
      .select(col("doc_id"), col("w"),
        expr(
          """aggregate(sequence(0, 15), CAST(0 AS BIGINT),
            |  (a, j) -> a
            |    + (instr('0123456789ABCDEF',
            |         substr(hx, w * 32 + j * 2 + 1, 1)) - 1) * 16
            |    + (instr('0123456789ABCDEF',
            |         substr(hx, w * 32 + j * 2 + 2, 1)) - 1))"""
            .stripMargin.replaceAll("\n", " ")).as("sig"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("w"))
    frames
      .withColumn("prev", lag(col("sig"), 1).over(wd))
      .withColumn("delta",
        when(col("prev").isNotNull, abs(col("sig") - col("prev")))
          .otherwise(lit(null).cast("long")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_frames"),
        sum(when(col("delta") > CutThreshold, 1L).otherwise(0L))
          .cast("long").as("n_cuts"),
        coalesce(max(col("delta")), lit(0L)).cast("long")
          .as("max_delta"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        col("max_delta"),
        when(col("n_cuts") >= 3L, "dynamic").otherwise(lit("static"))
          .as("verdict"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "mm_binary_features" -> mmBinaryFeatures,
    "mm_frame_sample" -> mmFrameSample,
    "mm_modality_route" -> mmModalityRoute,
    "mm_shard_manifest" -> mmShardManifest,
    "mm_quality_gate" -> mmQualityGate,
    "mm_phash_dedup" -> mmPhashDedup,
    "mm_shard_balance" -> mmShardBalance,
    "mm_byte_entropy" -> mmByteEntropy,
    "mm_scene_cuts" -> mmSceneCuts)

  val oracles: Map[String, String] = Map(
    "mm_modality_route" ->
      """SELECT modality, count(*) AS n_docs,
        |       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |       max(n_bytes) AS max_bytes
        |FROM (SELECT CASE WHEN octet_length(CAST(text AS BLOB)) % 3 = 0 THEN 'image'
        |                  WHEN octet_length(CAST(text AS BLOB)) % 3 = 1 THEN 'audio'
        |                  ELSE 'video' END AS modality,
        |             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         64 + (octet_length(CAST(text AS BLOB)) * 7) % 513 AS w,
        |         64 + (octet_length(CAST(text AS BLOB)) * 13) % 513 AS h,
        |         1 + octet_length(CAST(text AS BLOB)) % 30 AS n_frames
        |  FROM documents),
        |x AS (SELECT doc_id, text, n_frames, w, h,
        |             unnest(range(0, least(n_frames, 3))) AS frame_idx
        |      FROM f)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |       CAST(frame_idx AS BIGINT) AS frame_idx,
        |       md5(text || '#' || CAST(frame_idx AS VARCHAR)) AS frame_hash,
        |       CAST(224 AS BIGINT) AS resized_w,
        |       CAST(h * 224 // w AS BIGINT) AS resized_h
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_binary_features" ->
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       CAST(64 + (octet_length(CAST(text AS BLOB)) * 7) % 513 AS BIGINT) AS width,
        |       CAST(64 + (octet_length(CAST(text AS BLOB)) * 13) % 513 AS BIGINT) AS height,
        |       CAST(1 + octet_length(CAST(text AS BLOB)) % 30 AS BIGINT) AS n_frames,
        |       substr(md5(text), 1, 16) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_shard_manifest" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes,
        |         md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bytes,
        |         SUM(bytes) OVER (ORDER BY key, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM m)
        |SELECT CAST(floor(CAST(cum - bytes AS DOUBLE) / 16384.0) AS BIGINT) AS shard,
        |       count(*) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS shard_bytes
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    "mm_quality_gate" ->
      """WITH feats AS (
        |  SELECT doc_id,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |         64 + (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 7)
        |           % 513 AS width,
        |         64 + (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * 13)
        |           % 513 AS height,
        |         1 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 30
        |           AS n_frames
        |  FROM documents),
        |routed AS (
        |  SELECT *, CASE WHEN n_bytes % 3 = 0 THEN 'image'
        |                 WHEN n_bytes % 3 = 1 THEN 'audio'
        |                 ELSE 'video' END AS modality
        |  FROM feats),
        |checked AS (
        |  SELECT modality,
        |         n_bytes < 64 AS f_payload,
        |         modality IN ('image', 'video')
        |           AND (width < 200 OR height < 200) AS f_res,
        |         (modality = 'audio' AND n_frames < 10)
        |           OR (modality = 'video' AND n_frames < 15) AS f_dur
        |  FROM routed)
        |SELECT modality, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN f_payload THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_small_payload,
        |       CAST(sum(CASE WHEN f_res THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_low_res,
        |       CAST(sum(CASE WHEN f_dur THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_short,
        |       CAST(sum(CASE WHEN NOT f_payload AND NOT f_res AND NOT f_dur
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
        |       CAST(sum(CASE WHEN NOT f_payload AND NOT f_res AND NOT f_dur
        |           THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |         / 1000000.0 AS pass_rate
        |FROM checked GROUP BY 1 ORDER BY modality""".stripMargin,
    "mm_phash_dedup" ->
      s"""WITH hashed AS (
         |  SELECT doc_id,
         |       $phashBandsSql
         |  FROM documents),
         |base AS MATERIALIZED (
         |  SELECT b0, b1, b2, b3, list(doc_id ORDER BY doc_id) AS members,
         |         min(doc_id) AS gkey
         |  FROM hashed GROUP BY 1, 2, 3, 4),
         |banded AS (
         |  SELECT gkey, b0, b1, b2, b3, t.band, t.key
         |  FROM base, LATERAL (
         |    SELECT unnest([0, 1, 2, 3]) AS band,
         |           unnest([b0, b1, b2, b3]) AS key) t),
         |rep AS (
         |  SELECT * FROM (
         |    SELECT DISTINCT l.gkey AS g1, r.gkey AS g2,
         |           bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1))
         |             + bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3))
         |             AS hamming
         |    FROM banded l JOIN banded r
         |      ON l.band = r.band AND l.key = r.key AND l.gkey < r.gkey)
         |  WHERE hamming <= 3),
         |m AS (SELECT gkey, unnest(members) AS doc_id FROM base),
         |within AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(0 AS BIGINT) AS hamming
         |  FROM m a JOIN m b ON a.gkey = b.gkey AND a.doc_id < b.doc_id),
         |crossp AS (
         |  SELECT least(ma.doc_id, mb.doc_id) AS d1,
         |         greatest(ma.doc_id, mb.doc_id) AS d2,
         |         CAST(r.hamming AS BIGINT) AS hamming
         |  FROM rep r JOIN m ma ON ma.gkey = r.g1 JOIN m mb ON mb.gkey = r.g2)
         |SELECT * FROM (SELECT * FROM within UNION ALL SELECT * FROM crossp)
         |ORDER BY d1, d2""".stripMargin,
    "mm_shard_balance" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS bytes,
        |         md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bytes,
        |         CAST(sum(bytes) OVER (ORDER BY key, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum
        |  FROM m),
        |sharded AS (
        |  SELECT CAST(floor((cum - bytes) / 16384) AS BIGINT) AS shard,
        |         CASE WHEN bytes % 3 = 0 THEN 'image'
        |              WHEN bytes % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS modality
        |  FROM c),
        |cnt AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_image,
        |         CAST(sum(CASE WHEN modality = 'audio' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_audio,
        |         CAST(sum(CASE WHEN modality = 'video' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_video
        |  FROM sharded GROUP BY 1)
        |SELECT shard, n_docs, n_image, n_audio, n_video,
        |       round((
        |         (CASE WHEN n_image > 0 THEN
        |            -(n_image::DOUBLE / n_docs::DOUBLE)
        |              * ln(n_image::DOUBLE / n_docs::DOUBLE) ELSE 0.0 END)
        |         + (CASE WHEN n_audio > 0 THEN
        |             -(n_audio::DOUBLE / n_docs::DOUBLE)
        |               * ln(n_audio::DOUBLE / n_docs::DOUBLE) ELSE 0.0 END)
        |         + (CASE WHEN n_video > 0 THEN
        |             -(n_video::DOUBLE / n_docs::DOUBLE)
        |               * ln(n_video::DOUBLE / n_docs::DOUBLE) ELSE 0.0 END)
        |       ) / ln(3.0), 6) AS balance
        |FROM cnt ORDER BY shard""".stripMargin,
    "mm_byte_entropy" ->
      """WITH docs AS (
        |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx FROM documents
        |  WHERE length(hex(CAST(text AS BLOB))) > 0),
        |bytes AS (
        |  SELECT doc_id, substr(hx, i * 2 + 1, 2) AS b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, hx,
        |          unnest(range(0, CAST(length(hx) / 2 AS INT))) AS i
        |        FROM docs)
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
        |        FROM bytes GROUP BY 1)
        |SELECT b.doc_id, t.n AS n_bytes,
        |       CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |       round(list_sum(list(
        |           -(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |           * ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |           ORDER BY b.b)) / ln(2.0), 6) AS entropy_bits,
        |       CASE WHEN list_sum(list(
        |              -(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |              * ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |              ORDER BY b.b)) / ln(2.0) >= 7.5
        |              THEN 'high_entropy_suspect'
        |            WHEN list_sum(list(
        |              -(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |              * ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |              ORDER BY b.b)) / ln(2.0) < 2.0 THEN 'degenerate'
        |            ELSE 'ok' END AS verdict
        |FROM bytes b JOIN tot t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id, t.n ORDER BY b.doc_id""".stripMargin,
    "mm_scene_cuts" ->
      s"""WITH docs AS (
         |  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx FROM documents
         |  WHERE length(hex(CAST(text AS BLOB))) >= 32),
         |frames AS (
         |  SELECT doc_id, w,
         |         CAST(list_sum(list_transform(range(0, 16),
         |           j -> (strpos('0123456789ABCDEF',
         |                  substr(hx, w * 32 + j * 2 + 1, 1)) - 1) * 16
         |              + (strpos('0123456789ABCDEF',
         |                  substr(hx, w * 32 + j * 2 + 2, 1)) - 1)))
         |           AS BIGINT) AS sig
         |  FROM (SELECT doc_id, hx,
         |          unnest(range(0, CAST(length(hx) // 32 AS INT))) AS w
         |        FROM docs)),
         |deltas AS (
         |  SELECT doc_id, w, sig,
         |         abs(sig - lag(sig) OVER (PARTITION BY doc_id ORDER BY w))
         |           AS delta
         |  FROM frames)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         |       CAST(sum(CASE WHEN delta > $CutThreshold THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_cuts,
         |       CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta,
         |       CASE WHEN sum(CASE WHEN delta > $CutThreshold
         |              THEN 1 ELSE 0 END) >= 3
         |            THEN 'dynamic' ELSE 'static' END AS verdict
         |FROM deltas GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
