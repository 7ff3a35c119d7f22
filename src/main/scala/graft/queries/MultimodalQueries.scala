package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal}

import Shared._

/** Multimodal family: asset metadata and decode, resize and frame
  * sampling, mixed-modality packs, image and frame-sequence near-dup
  * detection, the frame index, and cross-modal dedup.
  */
private[graft] object MultimodalQueries {

  /** The ONE mixed-modality id construction behind the q169/q170/q172
    * family and ScaleSmoke's multimodal op: every doc_id%3==0 doc
    * plays an IMAGE with dims 64·(1+id%5) × 64·(1+id%4) (patch 16 →
    * a 16·(1+id%5)·(1+id%4)-long placeholder span, id 0 —
    * reserved-unreachable in the byte vocab), every other doc is TEXT
    * under the identity byte tokenizer (ids == bytes+1, so the twins
    * derive the stream from hex() with no tokenizer). One definition
    * because four Scala copies and four SQL twins desync silently —
    * the tokenDecontamFixture rule.
    */
  private def multimodalIds: Column =
    when(col("doc_id") % 3 === 0,
      graft.operators.Multimodal.imagePlaceholderIds(
        lit(64) * (lit(1) + col("doc_id") % 5),
        lit(64) * (lit(1) + col("doc_id") % 4),
        patchSize = 16))
      .otherwise(graft.functions.TextFunctions.byteBpeEncode(col("text"),
        Seq.empty, graft.operators.Corpus.identityByteVocab))

  /** [[multimodalIds]] over a (doc_id, lang, text) frame, with the
    * modality column and the family's row universe (image docs kept
    * regardless of text; text docs need non-null text). */
  def multimodalDocs(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 3 === 0 || col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 3 === 0, lit("image")).otherwise(lit("text"))
          .as("modality"),
        multimodalIds.as("__ids"))

  val specs: Seq[QuerySpec] = Seq(

    // MULTIMODAL sequence packing: a trainer's packs interleave text
    // and image docs — text contributes tokenizer ids (the identity
    // byte tokenizer here, ids == bytes+1, so the twin derives the id
    // stream from hex() with NO tokenizer), an image contributes a
    // fixed-length PLACEHOLDER span (id 0 — reserved-unreachable in
    // the byte vocab — repeated once per ViT patch, patch count from
    // the stored dims: floor(w/16)·floor(h/16)). The pack arithmetic,
    // flat stream, and doc_offsets discipline are q144's verbatim
    // (boundaries delineate segments regardless of modality); each
    // pack additionally reports its modality mix, computed in the SAME
    // pack shuffle. Every doc_id%3==0 doc plays an image with dims
    // 64·(1+id%5) × 64·(1+id%4) — deterministic pure-SQL metadata, so
    // the twin reproduces spans, offsets, digests, and mix exactly
    QuerySpec("q169_multimodal_packs",
      (s, dir) => {
        graft.operators.Multimodal.packMultimodalSequences(
            multimodalDocs(t(s, dir, "documents")
              .select("doc_id", "lang", "text")),
            "lang", "doc_id", "__ids", "modality", tokenBudget = 2048)
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"), col("n_text_docs"), col("n_image_docs"),
            col("text_tokens"), col("image_patches"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // q169: the multimodal pack twin is q144's arithmetic with a
      // two-modality source — text docs' ids derive from hex() under
      // the identity byte tokenizer (ids == bytes+1, no tokenizer in
      // the twin), image docs' spans are '0' repeated over the
      // metadata-derived patch count (floor(64(1+id%5)/16) ·
      // floor(64(1+id%4)/16) = 16(1+id%5)(1+id%4)); cumsum, pack
      // boundaries, offsets ('0' + per-doc cumulative ends), and the
      // empty-doc skip in the id digest all follow the q144 twin
      s"""WITH mm AS MATERIALIZED (
         |  SELECT doc_id, lang, 'image' AS modality,
         |    CAST(16 * (1 + doc_id % 5) * (1 + doc_id % 4) AS BIGINT)
         |      AS n_tokens,
         |    NULL AS hx
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, 'text' AS modality,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_tokens,
         |    hex(encode(text)) AS hx
         |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
         |mi AS (SELECT doc_id, lang, modality, n_tokens,
         |  CASE WHEN modality = 'image'
         |    THEN array_to_string(list_transform(
         |      range(1, CAST(n_tokens AS INTEGER) + 1), i -> '0'), ' ')
         |    ELSE array_to_string(list_transform(
         |      range(1, CAST(n_tokens AS INTEGER) + 1),
         |      i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INTEGER), 2))
         |        ::BIGINT + 1 AS VARCHAR)), ' ')
         |  END AS ids_str FROM mm),
         |mc AS (SELECT doc_id, lang, modality, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM mi),
         |mp AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, modality, n_tokens, ids_str FROM mc),
         |mo AS (SELECT lang, pack_id, doc_id, modality, n_tokens,
         |  ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM mp)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  CAST(sum(CASE WHEN modality = 'text' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_text_docs,
         |  CAST(sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_image_docs,
         |  CAST(sum(CASE WHEN modality = 'text' THEN n_tokens ELSE 0
         |    END) AS BIGINT) AS text_tokens,
         |  CAST(sum(CASE WHEN modality = 'image' THEN n_tokens ELSE 0
         |    END) AS BIGINT) AS image_patches,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5
         |FROM mo GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // q169's STREAMING sibling: the mixed-modality corpus through the
    // q155/q163 incremental closed-pack export. The modality fork is
    // pure stateless prepare (placeholder spans from dims arithmetic
    // vs identity-byte text ids, branched per row), so the pinned
    // micro-batch shape is untouched — one shard exchange, one
    // budget-bounded state op. The mix is derived FROM THE ARTIFACT
    // ALONE: placeholder id 0 is unreachable for text (byte ids are
    // 1..256), so image_patches = the pack's zero-id count and
    // text_tokens = the rest — the audit a pack consumer can run with
    // no upstream metadata. Twin = q169's arithmetic minus each
    // shard's final open pack (structurally unemittable mid-stream)
    QuerySpec("q170_stream_multimodal_packs",
      (s, dir) => {
        val root = scratch("graft_smm_")
        val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
          .where(col("doc_id") % 3 === 0 || col("text").isNotNull)
        val (src, schema) = idRangeBacklog(s, root, docs)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingPack.runMaterializeAvailableNow(
            s, src, schema, s"$root/out", s"$root/ckpt", tokenBudget = 2048,
            prepare = df => df.select(col("lang").as("shard"), col("doc_id"),
              multimodalIds.as("ids")))
        }
        s.read.parquet(s"$root/out")
          .select(col("shard").as("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            size(filter(col("pack_ids"), i => i === 0)).cast(LongType)
              .as("image_patches"),
            col("pack_ids"), col("doc_offsets"))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            (col("pack_tokens") - col("image_patches")).as("text_tokens"),
            col("image_patches"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // q170: q169's chain at the same budget minus each lang's final
      // pack (the stream's open pack is structurally unemittable —
      // q155/q163's convention); text_tokens/image_patches here come
      // from the modality column, so the green row proves the
      // artifact-side zero-id derivation equals ground truth
      s"""WITH smm AS MATERIALIZED (
         |  SELECT doc_id, lang, 'image' AS modality,
         |    CAST(16 * (1 + doc_id % 5) * (1 + doc_id % 4) AS BIGINT)
         |      AS n_tokens,
         |    NULL AS hx
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, 'text' AS modality,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_tokens,
         |    hex(encode(text)) AS hx
         |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
         |smi AS (SELECT doc_id, lang, modality, n_tokens,
         |  CASE WHEN modality = 'image'
         |    THEN array_to_string(list_transform(
         |      range(1, CAST(n_tokens AS INTEGER) + 1), i -> '0'), ' ')
         |    ELSE array_to_string(list_transform(
         |      range(1, CAST(n_tokens AS INTEGER) + 1),
         |      i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INTEGER), 2))
         |        ::BIGINT + 1 AS VARCHAR)), ' ')
         |  END AS ids_str FROM smm),
         |smc AS (SELECT doc_id, lang, modality, n_tokens, ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM smi),
         |smp AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, modality, n_tokens, ids_str FROM smc),
         |smo AS (SELECT lang, pack_id, doc_id, modality, n_tokens,
         |  ids_str,
         |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
         |  FROM smp),
         |sag AS MATERIALIZED (SELECT lang, pack_id,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  CAST(sum(CASE WHEN modality = 'text' THEN n_tokens ELSE 0
         |    END) AS BIGINT) AS text_tokens,
         |  CAST(sum(CASE WHEN modality = 'image' THEN n_tokens ELSE 0
         |    END) AS BIGINT) AS image_patches,
         |  md5(COALESCE(string_agg(
         |    CASE WHEN ids_str = '' THEN NULL ELSE ids_str END, ' '
         |    ORDER BY doc_id), '')) AS ids_md5,
         |  md5('0' || string_agg(' ' || CAST(e AS VARCHAR), ''
         |    ORDER BY doc_id)) AS offsets_md5
         |  FROM smo GROUP BY lang, pack_id)
         |SELECT a.lang, a.pack_id, a.n_docs, a.pack_tokens,
         |  a.text_tokens, a.image_patches, a.ids_md5, a.offsets_md5
         |FROM sag a JOIN (SELECT lang, max(pack_id) AS mp
         |  FROM sag GROUP BY lang) m USING (lang)
         |WHERE a.pack_id < m.mp
         |ORDER BY a.lang, a.pack_id""".stripMargin),

    // the q162-class per-SEGMENT audit for MIXED packs: each member's
    // id range, sliced out by doc_offsets, must be either an
    // all-placeholder span of exactly the metadata-derived patch count
    // (image) or decode ALONE to exactly that member's text (text) —
    // the check a multimodal trainer runs before trusting that
    // attention masks cut where documents do. The segment's first id
    // classifies it (0 is reserved: text byte ids are 1..256), so the
    // audit needs NO modality metadata — the artifact is
    // self-describing. A shifted boundary flips a segment digest even
    // when whole-pack counts still match
    QuerySpec("q172_multimodal_pack_segments",
      (s, dir) => {
        val vocab = graft.operators.Corpus.identityByteVocab
        def seg(i: Column) = slice(col("pack_ids"),
          element_at(col("doc_offsets"), i) + 1,
          element_at(col("doc_offsets"), i + 1)
            - element_at(col("doc_offsets"), i))
        graft.operators.Multimodal.packMultimodalSequences(
            multimodalDocs(t(s, dir, "documents")
              .select("doc_id", "lang", "text")),
            "lang", "doc_id", "__ids", "modality", tokenBudget = 2048)
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            transform(sequence(lit(1), size(col("doc_offsets")) - 1),
              i => when(element_at(seg(i), 1) === 0,
                concat(lit("i"), size(seg(i)).cast(StringType)))
                .otherwise(md5(graft.functions.TextFunctions.byteBpeDecode(
                  seg(i), vocab)))).as("__segs"))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            md5(array_join(col("__segs"), " ")).as("segs_md5"))
          .orderBy("lang", "pack_id")
      },
      // q172: per-doc segment representations — 'i'||patches for an
      // image, md5(text) for a text doc (identity-byte decode == the
      // exact text) — aggregated per pack in doc order; the chain is
      // q169's through the pack assignment
      s"""WITH gmm AS MATERIALIZED (
         |  SELECT doc_id, lang, 'image' AS modality,
         |    CAST(16 * (1 + doc_id % 5) * (1 + doc_id % 4) AS BIGINT)
         |      AS n_tokens,
         |    NULL AS text
         |  FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, lang, 'text' AS modality,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_tokens,
         |    text
         |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
         |gmc AS (SELECT doc_id, lang, modality, n_tokens, text,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM gmm),
         |gmp AS (SELECT lang,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  doc_id, modality, n_tokens,
         |  CASE WHEN modality = 'image'
         |    THEN 'i' || CAST(n_tokens AS VARCHAR)
         |    ELSE md5(text) END AS seg
         |  FROM gmc)
         |SELECT lang, pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  md5(string_agg(seg, ' ' ORDER BY doc_id)) AS segs_md5
         |FROM gmp GROUP BY lang, pack_id
         |ORDER BY lang, pack_id""".stripMargin),

    // image near-duplicate pairs for the multimodal family: perceptual
    // aHash over the stub decoder's 32 integer byte-histogram lanes
    // (bit j = lane_j·32 > Σ lanes, exact cross-multiplied integers —
    // q47's hex-exact byte convention extended to bits), paired via the
    // SAME banded exact-Hamming machinery as the text SimHash path
    // (pigeonhole over 4 bands, recall exactly 1, shuffle linear in
    // assets). The twin brute-forces the ≤ maxHamming pair set —
    // banding is exact, so the sets must be identical — and each pair
    // also carries its dHash (gradient-sign) distance as a second,
    // independently-derived lane fingerprint over the same bytes.
    QuerySpec("q186_image_phash_neardup",
      (s, dir) => {
        import graft.operators.Multimodal
        val assets = Multimodal.fromDocuments(
          t(s, dir, "documents").select("doc_id", "text", "source"))
        val pairs = Multimodal.imageNearDupPairs(assets, maxHamming = 3,
          dim = 32, bands = 4)
        val dh = Multimodal.perceptualHashes(assets, dim = 32, kind = "dhash")
        pairs
          .join(dh.select(col("asset_id").as("id_a"), col("phash").as("__da")),
            "id_a")
          .join(dh.select(col("asset_id").as("id_b"), col("phash").as("__db")),
            "id_b")
          .select(col("id_a"), col("id_b"), col("hamming").as("a_hamming"),
            bit_count(col("__da").bitwiseXOR(col("__db"))).cast(LongType)
              .as("d_hamming"))
          .orderBy("id_a", "id_b")
      },
      // q186: perceptual-hash image near-dup — the twin re-derives the
      // 32 byte-histogram lanes hex-exactly (q47's convention), builds
      // aHash/dHash bit-for-bit with the same cross-multiplied integer
      // rule, and BRUTE-FORCES the ≤3-Hamming pair set: banding is
      // exact (pigeonhole), so the banded Spark pair set must equal
      // the all-pairs reference
      """WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents),
        |lv AS (SELECT asset_id, UNNEST(list_transform(
        |    range(1, octet_length(payload) + 1),
        |    i -> {'l': (i - 1) % 32,
        |          'v': ('0x' || substr(hex(payload), 2*i-1, 2))::BIGINT}))
        |    AS s
        |  FROM b),
        |lanes AS (SELECT asset_id, s.l AS lane, SUM(s.v) AS v
        |  FROM lv GROUP BY 1, 2),
        |dense AS (SELECT b.asset_id, r.lane, COALESCE(l.v, 0) AS v
        |  FROM b CROSS JOIN (SELECT UNNEST(range(0, 32)) AS lane) r
        |  LEFT JOIN lanes l
        |    ON l.asset_id = b.asset_id AND l.lane = r.lane),
        |tot AS (SELECT asset_id, SUM(v) AS tot FROM dense GROUP BY 1),
        |ah AS (SELECT d.asset_id,
        |    CAST(SUM(CASE WHEN d.v * 32 > t.tot
        |      THEN (CAST(1 AS BIGINT) << d.lane) ELSE 0 END) AS BIGINT)
        |      AS h
        |  FROM dense d JOIN tot t USING (asset_id) GROUP BY 1),
        |dh AS (SELECT x.asset_id,
        |    CAST(SUM(CASE WHEN x.v > y.v
        |      THEN (CAST(1 AS BIGINT) << x.lane) ELSE 0 END) AS BIGINT)
        |      AS h
        |  FROM dense x JOIN dense y
        |    ON y.asset_id = x.asset_id AND y.lane = x.lane + 1
        |  GROUP BY 1),
        |cand AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b,
        |    CAST(bit_count(xor(x.h, y.h)) AS BIGINT) AS a_hamming
        |  FROM ah x JOIN ah y ON x.asset_id < y.asset_id
        |  WHERE bit_count(xor(x.h, y.h)) <= 3)
        |SELECT c.id_a, c.id_b, c.a_hamming,
        |  CAST(bit_count(xor(da.h, db.h)) AS BIGINT) AS d_hamming
        |FROM cand c
        |JOIN dh da ON da.asset_id = c.id_a
        |JOIN dh db ON db.asset_id = c.id_b
        |ORDER BY id_a, id_b""".stripMargin),

    // the multimodal dedup arc CLOSED: q186's perceptual-hash pairs
    // through the large-star/small-star connected components (the q78
    // machinery, modality-agnostic by construction) to the standard
    // keep-one-per-cluster decision — min asset id is the canonical
    // copy, every other cluster member drops. The twin re-derives the
    // pairs brute-force and walks the SAME reachability as q78's
    // recursive CTE, so both the cluster STRUCTURE and the keep rule
    // are gated cross-engine.
    QuerySpec("q189_image_dedup_clusters",
      (s, dir) => {
        import graft.operators.{Dedup, Multimodal}
        val assets = Multimodal.fromDocuments(
          t(s, dir, "documents").select("doc_id", "text", "source"))
        val pairs = Multimodal.imageNearDupPairs(assets, maxHamming = 3,
          dim = 32, bands = 4)
        Dedup.nearDupClusters(
            assets.select(col("asset_id").as("doc_id")),
            pairs.select(col("id_a"), col("id_b")))
          .select(col("doc_id").as("asset_id"), col("root"),
            (col("doc_id") === col("root")).as("keep"))
          .orderBy("asset_id")
      },
      // q189: q186's brute-forced pair set walked to connected
      // components by the same recursive reachability as q78's twin;
      // keep = the cluster-min rule stated directly
      """WITH RECURSIVE b AS (SELECT doc_id AS asset_id,
        |    encode(text) AS payload FROM documents),
        |lv AS (SELECT asset_id, UNNEST(list_transform(
        |    range(1, octet_length(payload) + 1),
        |    i -> {'l': (i - 1) % 32,
        |          'v': ('0x' || substr(hex(payload), 2*i-1, 2))::BIGINT}))
        |    AS s
        |  FROM b),
        |lanes AS (SELECT asset_id, s.l AS lane, SUM(s.v) AS v
        |  FROM lv GROUP BY 1, 2),
        |dense AS (SELECT b.asset_id, r.lane, COALESCE(l.v, 0) AS v
        |  FROM b CROSS JOIN (SELECT UNNEST(range(0, 32)) AS lane) r
        |  LEFT JOIN lanes l
        |    ON l.asset_id = b.asset_id AND l.lane = r.lane),
        |tot AS (SELECT asset_id, SUM(v) AS tot FROM dense GROUP BY 1),
        |ah AS (SELECT d.asset_id,
        |    CAST(SUM(CASE WHEN d.v * 32 > t.tot
        |      THEN (CAST(1 AS BIGINT) << d.lane) ELSE 0 END) AS BIGINT)
        |      AS h
        |  FROM dense d JOIN tot t USING (asset_id) GROUP BY 1),
        |cand AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b
        |  FROM ah x JOIN ah y ON x.asset_id < y.asset_id
        |  WHERE bit_count(xor(x.h, y.h)) <= 3),
        |e AS (SELECT id_a AS a, id_b AS bb FROM cand
        |  UNION SELECT id_b, id_a FROM cand),
        |reach(src, dst) AS (
        |  SELECT asset_id, asset_id FROM b
        |  UNION
        |  SELECT r.src, e.bb FROM reach r JOIN e ON r.dst = e.a)
        |SELECT src AS asset_id, min(dst) AS root,
        |  (src = min(dst)) AS keep
        |FROM reach GROUP BY src ORDER BY asset_id""".stripMargin),

    // frame-level STORAGE dedup — fixed-size chunking over the opaque
    // payloads (the dedup-filesystem design): 64-byte frames keyed by
    // content digest, canonical copy = corpus-global minimum packed
    // (asset ‖ frame) occurrence, ownership joined back on the 8-byte
    // pack (the line-dedup plan shape). Per asset: frames, canonical
    // copies it holds, duplicate occurrences, reclaimable bytes. The
    // twin re-cuts the frames hex-exactly and restates ownership.
    QuerySpec("q191_frame_storage_dedup",
      (s, dir) =>
        graft.operators.Multimodal.frameDedupStats(
            graft.operators.Multimodal.fromDocuments(
              t(s, dir, "documents").select("doc_id", "text", "source")),
            frameBytes = 64)
          .orderBy("asset_id"),
      // q191: frames re-cut from the hex payload (frame i = hex chars
      // [i·128+1, 128], byte length = hex length / 2), digest-keyed
      // ownership by the same packed-min rule
      """WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents),
        |fr0 AS (SELECT asset_id, UNNEST(list_transform(
        |    range((octet_length(payload) + 63) // 64),
        |    i -> {'idx': i,
        |          'h': lower(substr(hex(payload), i*128 + 1, 128))}))
        |    AS s
        |  FROM b WHERE octet_length(payload) > 0),
        |fr AS (SELECT asset_id, s.idx AS frame_idx, md5(s.h) AS k,
        |    CAST(length(s.h) // 2 AS BIGINT) AS fb FROM fr0),
        |own AS (SELECT k, min(asset_id * 16777216 + frame_idx) AS o
        |  FROM fr GROUP BY 1),
        |occ AS (SELECT f.asset_id, f.fb,
        |    (f.asset_id * 16777216 + f.frame_idx = o.o) AS canon
        |  FROM fr f JOIN own o USING (k)),
        |per AS (SELECT asset_id,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(count(*) FILTER (WHERE canon) AS BIGINT) AS own_frames,
        |    CAST(count(*) FILTER (WHERE NOT canon) AS BIGINT)
        |      AS dup_frames,
        |    CAST(COALESCE(sum(fb) FILTER (WHERE NOT canon), 0) AS BIGINT)
        |      AS dup_bytes
        |  FROM occ GROUP BY 1)
        |SELECT b.asset_id,
        |  CAST(COALESCE(p.n_frames, 0) AS BIGINT) AS n_frames,
        |  CAST(COALESCE(p.own_frames, 0) AS BIGINT) AS own_frames,
        |  CAST(COALESCE(p.dup_frames, 0) AS BIGINT) AS dup_frames,
        |  CAST(COALESCE(p.dup_bytes, 0) AS BIGINT) AS dup_bytes
        |FROM b LEFT JOIN per p USING (asset_id)
        |ORDER BY asset_id""".stripMargin),

    // q193's candidates through the exact verify stage: per surviving
    // pair the TRUE fraction of shared k-frame windows (candidate-
    // restricted shingle Jaccard over the phash streams) — precision
    // the raw band collisions can't promise
    QuerySpec("q195_frame_seq_verified",
      (s, dir) =>
        graft.operators.Multimodal.frameSequenceNearDupVerified(
            graft.operators.Multimodal.fromDocuments(
              t(s, dir, "documents").select("doc_id", "text", "source")),
            frameBytes = 64, threshold = 0.35, k = 3, dim = 8)
          .orderBy("id_a", "id_b"),
      // q195: q193's pipeline + the exact verify — candidate pairs
      // joined back to both sides' distinct k-frame shingle sets; the
      // double division is the q34 convention
      {
        val mh = graft.operators.Dedup.minhashCoeffs(8).zipWithIndex
          .map { case ((a, b), i) =>
            s"min((hv * $a + $b) % ${graft.operators.Dedup.MinhashP}) AS mh$i"
          }.mkString(", ")
        val bandKeys = (0 until 4).map { b =>
          s"SELECT asset_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) " +
            s"|| '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
           |  FROM documents),
           |fr AS (SELECT asset_id, s.idx AS frame_idx, s.h AS h FROM (
           |    SELECT asset_id, UNNEST(list_transform(
           |      range((octet_length(payload) + 63) // 64),
           |      i -> {'idx': i,
           |            'h': lower(substr(hex(payload), i*128 + 1, 128))}))
           |      AS s
           |    FROM b WHERE octet_length(payload) > 0)),
           |lane AS (SELECT asset_id, frame_idx, list_transform(range(8),
           |    j -> coalesce(list_sum(list_transform(range(len(h) // 2),
           |      p -> CASE WHEN p % 8 = j
           |           THEN ('0x' || substr(h, p*2 + 1, 2))::BIGINT
           |           ELSE 0 END)), 0)) AS l
           |  FROM fr),
           |ph AS (SELECT asset_id, frame_idx,
           |    list_sum(list_transform(range(8), j ->
           |      CASE WHEN l[j+1] * 8 > list_sum(l)
           |           THEN (1::BIGINT << j) ELSE 0 END)) AS phash
           |  FROM lane),
           |stream AS (SELECT asset_id,
           |    string_agg(CAST(phash AS VARCHAR), ' ' ORDER BY frame_idx)
           |      AS t
           |  FROM ph GROUP BY asset_id),
           |tk0 AS (SELECT asset_id,
           |    list_filter(string_split_regex(t, '\\s+'),
           |      x -> strlen(x) > 0) AS tk FROM stream),
           |sh AS (SELECT asset_id,
           |    unnest(list_distinct(${shinglesSql("tk")})) AS s FROM tk0),
           |h AS (SELECT asset_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT asset_id, $mh FROM h GROUP BY asset_id),
           |banded AS ($bandKeys),
           |pairs AS (SELECT DISTINCT a.asset_id AS id_a,
           |    b.asset_id AS id_b
           |  FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.key = b.key
           |  AND a.asset_id < b.asset_id),
           |sz AS (SELECT asset_id, count(*) AS sz FROM sh GROUP BY 1),
           |inter AS (SELECT p.id_a, p.id_b, count(*) AS i
           |  FROM pairs p
           |  JOIN sh a ON a.asset_id = p.id_a
           |  JOIN sh b2 ON b2.asset_id = p.id_b AND b2.s = a.s
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  i::DOUBLE / (sa.sz + sb.sz - i) AS jaccard
           |FROM inter
           |JOIN sz sa ON sa.asset_id = id_a
           |JOIN sz sb ON sb.asset_id = id_b
           |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.35
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // INCREMENTAL frame-level storage dedup (the store's ingest path,
    // q191's stat made batch-absorbing): even assets arrive first and
    // seed the digest index, odd assets probe it — a frame already
    // digested stores nothing, fresh frames keep-first within their
    // batch. The twin collapses the composition to ONE arrival-order
    // rule: stored iff the occurrence is its digest's minimum under
    // (parity, asset, idx)
    QuerySpec("q196_frame_index_add",
      (s, dir) => {
        val sess = s
        import sess.implicits._
        val assets = graft.operators.Multimodal.fromDocuments(
          t(s, dir, "documents").select("doc_id", "text", "source"))
        val idx0 = Seq.empty[String].toDF("digest")
        val (st1, d1) = graft.operators.Multimodal.frameIndexAddBatch(
          idx0, assets.where(col("asset_id") % 2 === 0), frameBytes = 64)
        val (st2, _) = graft.operators.Multimodal.frameIndexAddBatch(
          d1, assets.where(col("asset_id") % 2 === 1), frameBytes = 64)
        st1.unionByName(st2).orderBy("asset_id")
      },
      // q196: q191's frame cut with the two-batch composition stated
      // as one arrival-order rule — stored iff the occurrence is its
      // digest's minimum under (parity, asset, idx)
      """WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents),
        |fr0 AS (SELECT asset_id, UNNEST(list_transform(
        |    range((octet_length(payload) + 63) // 64),
        |    i -> {'idx': i,
        |          'h': lower(substr(hex(payload), i*128 + 1, 128))}))
        |    AS s
        |  FROM b WHERE octet_length(payload) > 0),
        |fr AS (SELECT asset_id, s.idx AS frame_idx, md5(s.h) AS k,
        |    CAST(length(s.h) // 2 AS BIGINT) AS fb FROM fr0),
        |occ AS (SELECT asset_id, fb, row_number() OVER (
        |    PARTITION BY k
        |    ORDER BY asset_id % 2, asset_id, frame_idx) = 1 AS stored
        |  FROM fr),
        |per AS (SELECT asset_id,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(count(*) FILTER (WHERE stored) AS BIGINT)
        |      AS stored_frames,
        |    CAST(count(*) FILTER (WHERE NOT stored) AS BIGINT)
        |      AS dup_frames,
        |    CAST(COALESCE(sum(fb) FILTER (WHERE NOT stored), 0)
        |      AS BIGINT) AS dup_bytes
        |  FROM occ GROUP BY 1)
        |SELECT b.asset_id,
        |  CAST(COALESCE(p.n_frames, 0) AS BIGINT) AS n_frames,
        |  CAST(COALESCE(p.stored_frames, 0) AS BIGINT) AS stored_frames,
        |  CAST(COALESCE(p.dup_frames, 0) AS BIGINT) AS dup_frames,
        |  CAST(COALESCE(p.dup_bytes, 0) AS BIGINT) AS dup_bytes
        |FROM b LEFT JOIN per p USING (asset_id)
        |ORDER BY asset_id""".stripMargin),

    // q196's ingest path lifted under the marker-committed versioned
    // state family (the q188 pattern on frames): the parity backlog
    // replays as two micro-batches, each probing the persistent digest
    // index and appending its stats + fresh-digest delta; the gated
    // output is the full stats state with each asset's ingest batch.
    // Arrival order ≠ id order (odd ids arrive second), so the twin's
    // parity-major ownership window states exactly the batch-chain
    // rule: a frame digest belongs to the batch that saw it first — a
    // later batch's smaller asset id never wins retroactively
    QuerySpec("q198_stream_frame_index",
      (s, dir) => {
        val root = scratch("graft_sframes_")
        val docs = t(s, dir, "documents").select("doc_id", "text", "source")
        val (src, schema) = parityBacklog(s, root, docs)
        withShufflePartitions(s, 2) {
          graft.streaming.StreamingFrameIndex.runAvailableNow(
            s, src, schema, s"$root/state", s"$root/ckpt", frameBytes = 64)
        }
        val (stats, _, _) = graft.streaming.StreamingFrameIndex
          .readState(s, s"$root/state")
        stats.orderBy("asset_id")
      },
      // q198: q196's algebra with the streaming batch stamp — the
      // parity-major window IS the two-micro-batch arrival order, and
      // batch = parity + 1 restates the replay's ingest schedule
      """WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents),
        |fr0 AS (SELECT asset_id, UNNEST(list_transform(
        |    range((octet_length(payload) + 63) // 64),
        |    i -> {'idx': i,
        |          'h': lower(substr(hex(payload), i*128 + 1, 128))}))
        |    AS s
        |  FROM b WHERE octet_length(payload) > 0),
        |fr AS (SELECT asset_id, s.idx AS frame_idx, md5(s.h) AS k,
        |    CAST(length(s.h) // 2 AS BIGINT) AS fb FROM fr0),
        |occ AS (SELECT asset_id, fb, row_number() OVER (
        |    PARTITION BY k
        |    ORDER BY asset_id % 2, asset_id, frame_idx) = 1 AS stored
        |  FROM fr),
        |per AS (SELECT asset_id,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(count(*) FILTER (WHERE stored) AS BIGINT)
        |      AS stored_frames,
        |    CAST(count(*) FILTER (WHERE NOT stored) AS BIGINT)
        |      AS dup_frames,
        |    CAST(COALESCE(sum(fb) FILTER (WHERE NOT stored), 0)
        |      AS BIGINT) AS dup_bytes
        |  FROM occ GROUP BY 1)
        |SELECT b.asset_id,
        |  CAST(COALESCE(p.n_frames, 0) AS BIGINT) AS n_frames,
        |  CAST(COALESCE(p.stored_frames, 0) AS BIGINT) AS stored_frames,
        |  CAST(COALESCE(p.dup_frames, 0) AS BIGINT) AS dup_frames,
        |  CAST(COALESCE(p.dup_bytes, 0) AS BIGINT) AS dup_bytes,
        |  CAST(b.asset_id % 2 + 1 AS BIGINT) AS batch
        |FROM b LEFT JOIN per p USING (asset_id)
        |ORDER BY asset_id""".stripMargin),

    // the MULTIMODAL CAPSTONE — the whole asset chain under ONE twin
    // (the q141 text-capstone rule applied to the image side): decode
    // (payloads → perceptual hashes), q186/q189 phash near-dup
    // keep-one (non-root assets DROP), then the kept universe flows
    // into BOTH the q191 frame-store stats (ownership resolved within
    // the post-dedup corpus — what the store would actually hold) and
    // the q169 multimodal packer, with the per-pack storage rollup
    // computed IN the one pack shuffle (materializeTokenPacks
    // extraAggs). Every number in a row crosses at least two stages,
    // so a drift in any composition seam flips a digest; component
    // gates (q169/q186/q189/q191) stay untouched
    QuerySpec("q201_multimodal_capstone",
      (s, dir) => {
        import graft.operators.{Corpus, Dedup, Multimodal}
        val base = t(s, dir, "documents")
        val assets = Multimodal.fromDocuments(
          base.select("doc_id", "text", "source"))
        val pairs = Multimodal.imageNearDupPairs(assets, maxHamming = 3,
          dim = 32, bands = 4)
        val kept = Dedup.nearDupClusters(
            assets.select(col("asset_id").as("doc_id")),
            pairs.select(col("id_a"), col("id_b")))
          .where(col("doc_id") === col("root")).select("doc_id")
          .localCheckpoint() // feeds the pack chain AND the frame stats
        val mm = multimodalDocs(base.select("doc_id", "lang", "text"))
          .join(kept, Seq("doc_id"), "left_semi")
        val packed = Corpus.packSequences(mm, "lang", "doc_id",
          size(col("__ids")).cast(LongType), tokenBudget = 2048)
        val fr = Multimodal.frameDedupStats(
          assets.join(mm.select(col("doc_id").as("asset_id")),
            Seq("asset_id"), "left_semi"),
          frameBytes = 64)
        val withFr = packed.join(
          fr.withColumnRenamed("asset_id", "doc_id"), Seq("doc_id"), "left")
        Corpus.materializeTokenPacks(withFr, "lang", "doc_id", "__ids",
            extraAggs = Seq(
              sum(when(col("modality") === "text", lit(1L)).otherwise(0L))
                .as("n_text_docs"),
              sum(when(col("modality") === "image", lit(1L)).otherwise(0L))
                .as("n_image_docs"),
              sum(when(col("modality") === "text", col("n_tokens"))
                .otherwise(0L)).as("text_tokens"),
              sum(when(col("modality") === "image", col("n_tokens"))
                .otherwise(0L)).as("image_patches"),
              sum(coalesce(col("n_frames"), lit(0L))).as("frames"),
              sum(coalesce(col("own_frames"), lit(0L))).as("own_frames"),
              sum(coalesce(col("dup_frames"), lit(0L))).as("dup_frames"),
              sum(coalesce(col("dup_bytes"), lit(0L))).as("dup_bytes")))
          .select(col("lang"), col("pack_id"), col("n_docs"),
            col("pack_tokens"), col("n_text_docs"), col("n_image_docs"),
            col("text_tokens"), col("image_patches"), col("frames"),
            col("own_frames"), col("dup_frames"), col("dup_bytes"),
            md5(array_join(transform(col("pack_ids"),
              i => i.cast(StringType)), " ")).as("ids_md5"),
            md5(array_join(transform(col("doc_offsets"),
              i => i.cast(StringType)), " ")).as("offsets_md5"))
          .orderBy("lang", "pack_id")
      },
      // q201: the q189 reachability (keep = cluster-min root) feeding
      // the q169 pack arithmetic over the kept universe, with the q191
      // frame-cut/ownership CTEs (f-prefixed to avoid collisions)
      // computed over the SAME universe and rolled up per pack in the
      // final aggregate — one twin spanning every composition seam
      """WITH RECURSIVE b AS (SELECT doc_id AS asset_id,
        |    encode(text) AS payload FROM documents),
        |lv AS (SELECT asset_id, UNNEST(list_transform(
        |    range(1, octet_length(payload) + 1),
        |    i -> {'l': (i - 1) % 32,
        |          'v': ('0x' || substr(hex(payload), 2*i-1, 2))::BIGINT}))
        |    AS s
        |  FROM b),
        |lanes AS (SELECT asset_id, s.l AS lane, SUM(s.v) AS v
        |  FROM lv GROUP BY 1, 2),
        |dense AS (SELECT b.asset_id, r.lane, COALESCE(l.v, 0) AS v
        |  FROM b CROSS JOIN (SELECT UNNEST(range(0, 32)) AS lane) r
        |  LEFT JOIN lanes l
        |    ON l.asset_id = b.asset_id AND l.lane = r.lane),
        |tot AS (SELECT asset_id, SUM(v) AS tot FROM dense GROUP BY 1),
        |ah AS (SELECT d.asset_id,
        |    CAST(SUM(CASE WHEN d.v * 32 > t.tot
        |      THEN (CAST(1 AS BIGINT) << d.lane) ELSE 0 END) AS BIGINT)
        |      AS h
        |  FROM dense d JOIN tot t USING (asset_id) GROUP BY 1),
        |cand AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b
        |  FROM ah x JOIN ah y ON x.asset_id < y.asset_id
        |  WHERE bit_count(xor(x.h, y.h)) <= 3),
        |e AS (SELECT id_a AS a, id_b AS bb FROM cand
        |  UNION SELECT id_b, id_a FROM cand),
        |reach(src, dst) AS (
        |  SELECT asset_id, asset_id FROM b
        |  UNION
        |  SELECT r.src, e.bb FROM reach r JOIN e ON r.dst = e.a),
        |keep AS (SELECT src AS doc_id FROM reach GROUP BY src
        |  HAVING src = min(dst)),
        |mm AS MATERIALIZED (
        |  SELECT doc_id, lang, 'image' AS modality,
        |    CAST(16 * (1 + doc_id % 5) * (1 + doc_id % 4) AS BIGINT)
        |      AS n_tokens,
        |    CAST(NULL AS VARCHAR) AS hx
        |  FROM documents WHERE doc_id % 3 = 0
        |    AND doc_id IN (SELECT doc_id FROM keep)
        |  UNION ALL
        |  SELECT doc_id, lang, 'text' AS modality,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_tokens,
        |    hex(encode(text)) AS hx
        |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL
        |    AND doc_id IN (SELECT doc_id FROM keep)),
        |mi AS (SELECT doc_id, lang, modality, n_tokens,
        |  CASE WHEN modality = 'image'
        |    THEN array_to_string(list_transform(
        |      range(1, CAST(n_tokens AS INTEGER) + 1), i -> '0'), ' ')
        |    ELSE array_to_string(list_transform(
        |      range(1, CAST(n_tokens AS INTEGER) + 1),
        |      i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INTEGER), 2))
        |        ::BIGINT + 1 AS VARCHAR)), ' ')
        |  END AS ids_str FROM mm),
        |mc AS (SELECT doc_id, lang, modality, n_tokens, ids_str,
        |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM mi),
        |mp AS (SELECT lang,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  doc_id, modality, n_tokens, ids_str FROM mc),
        |mo AS (SELECT lang, pack_id, doc_id, modality, n_tokens,
        |  ids_str,
        |  sum(n_tokens) OVER (PARTITION BY lang, pack_id
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        |  FROM mp),
        |ffr0 AS (SELECT b.asset_id, UNNEST(list_transform(
        |    range((octet_length(payload) + 63) // 64),
        |    i -> {'idx': i,
        |          'h': lower(substr(hex(payload), i*128 + 1, 128))}))
        |    AS s
        |  FROM b JOIN mm ON mm.doc_id = b.asset_id
        |  WHERE octet_length(payload) > 0),
        |ffr AS (SELECT asset_id, s.idx AS frame_idx, md5(s.h) AS k,
        |    CAST(length(s.h) // 2 AS BIGINT) AS fb FROM ffr0),
        |fown AS (SELECT k, min(asset_id * 16777216 + frame_idx) AS o
        |  FROM ffr GROUP BY 1),
        |focc AS (SELECT f.asset_id, f.fb,
        |    (f.asset_id * 16777216 + f.frame_idx = o.o) AS canon
        |  FROM ffr f JOIN fown o USING (k)),
        |fper AS (SELECT asset_id,
        |    CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(count(*) FILTER (WHERE canon) AS BIGINT) AS own_frames,
        |    CAST(count(*) FILTER (WHERE NOT canon) AS BIGINT)
        |      AS dup_frames,
        |    CAST(COALESCE(sum(fb) FILTER (WHERE NOT canon), 0) AS BIGINT)
        |      AS dup_bytes
        |  FROM focc GROUP BY 1)
        |SELECT mo.lang, mo.pack_id, count(*) AS n_docs,
        |  CAST(sum(mo.n_tokens) AS BIGINT) AS pack_tokens,
        |  CAST(sum(CASE WHEN mo.modality = 'text' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_text_docs,
        |  CAST(sum(CASE WHEN mo.modality = 'image' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_image_docs,
        |  CAST(sum(CASE WHEN mo.modality = 'text' THEN mo.n_tokens
        |    ELSE 0 END) AS BIGINT) AS text_tokens,
        |  CAST(sum(CASE WHEN mo.modality = 'image' THEN mo.n_tokens
        |    ELSE 0 END) AS BIGINT) AS image_patches,
        |  CAST(sum(COALESCE(fp.n_frames, 0)) AS BIGINT) AS frames,
        |  CAST(sum(COALESCE(fp.own_frames, 0)) AS BIGINT) AS own_frames,
        |  CAST(sum(COALESCE(fp.dup_frames, 0)) AS BIGINT) AS dup_frames,
        |  CAST(sum(COALESCE(fp.dup_bytes, 0)) AS BIGINT) AS dup_bytes,
        |  md5(COALESCE(string_agg(
        |    CASE WHEN mo.ids_str = '' THEN NULL ELSE mo.ids_str END, ' '
        |    ORDER BY mo.doc_id), '')) AS ids_md5,
        |  md5('0' || string_agg(' ' || CAST(mo.e AS VARCHAR), ''
        |    ORDER BY mo.doc_id)) AS offsets_md5
        |FROM mo LEFT JOIN fper fp ON fp.asset_id = mo.doc_id
        |GROUP BY mo.lang, mo.pack_id
        |ORDER BY mo.lang, mo.pack_id""".stripMargin),

    // CROSS-MODAL (image-text) pair dedup — the LAION-shaped
    // composition: a pair drops only when BOTH channels agree, caption
    // near-dup (q197's verified Jaccard >= 0.3) AND image
    // phash-near-dup (q186's banded Hamming <= 3), walked to keep-one
    // through the q78 CC machinery on the conjunction pair graph. The
    // harness pair dataset is documents with caption = text and
    // payload = the UTF-8 bytes (the stand-in image); the channels
    // still measure DIFFERENT similarity structures — shingle Jaccard
    // vs byte-histogram phash — so at sf0.01 the conjunction (21
    // pairs) is a proper subset of both (4 caption-only + 2 image-only
    // decoy pairs drop). The twin re-derives both channels' pair CTEs
    // and the same recursive reachability as q189
    QuerySpec("q199_crossmodal_dedup",
      (s, dir) => {
        val pairsIn = t(s, dir, "documents")
          .select(col("doc_id").as("asset_id"), col("text").as("caption"),
            encode(col("text"), "UTF-8").cast("binary").as("payload"))
        graft.operators.Multimodal.crossModalDedupClusters(pairsIn,
            threshold = 0.3, maxHamming = 3, dim = 32)
          .orderBy("asset_id")
      },
      // q199: the conjunction of the q197 caption CTEs (verified
      // Jaccard >= 0.3) and the q186 image CTEs (ahash Hamming <= 3),
      // then q189's recursive min-root reachability over the
      // conjunction edges; keep = the cluster-min rule
      {
        val bandKeys = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || '_' || " +
            s"CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH RECURSIVE $shingleCtes,
           |h AS (SELECT doc_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT doc_id, $mhTerms FROM h GROUP BY doc_id),
           |banded AS ($bandKeys),
           |cpairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
           |  FROM banded a JOIN banded b2
           |  ON a.band = b2.band AND a.key = b2.key
           |    AND a.doc_id < b2.doc_id),
           |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
           |inter AS (SELECT p.id_a, p.id_b, count(*) AS i
           |  FROM cpairs p
           |  JOIN sh a ON a.doc_id = p.id_a
           |  JOIN sh b2 ON b2.doc_id = p.id_b AND b2.s = a.s
           |  GROUP BY 1, 2),
           |cap AS (SELECT id_a, id_b FROM inter
           |  JOIN sz sa ON sa.doc_id = id_a
           |  JOIN sz sb ON sb.doc_id = id_b
           |  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.3),
           |b AS (SELECT doc_id AS asset_id, encode(text) AS payload
           |  FROM documents),
           |lv AS (SELECT asset_id, UNNEST(list_transform(
           |    range(1, octet_length(payload) + 1),
           |    i -> {'l': (i - 1) % 32,
           |          'v': ('0x' || substr(hex(payload), 2*i-1, 2))::BIGINT}))
           |    AS s
           |  FROM b),
           |lanes AS (SELECT asset_id, s.l AS lane, SUM(s.v) AS v
           |  FROM lv GROUP BY 1, 2),
           |dense AS (SELECT b.asset_id, r.lane, COALESCE(l.v, 0) AS v
           |  FROM b CROSS JOIN (SELECT UNNEST(range(0, 32)) AS lane) r
           |  LEFT JOIN lanes l
           |    ON l.asset_id = b.asset_id AND l.lane = r.lane),
           |tot AS (SELECT asset_id, SUM(v) AS tot FROM dense GROUP BY 1),
           |ah AS (SELECT d.asset_id,
           |    CAST(SUM(CASE WHEN d.v * 32 > t.tot
           |      THEN (CAST(1 AS BIGINT) << d.lane) ELSE 0 END) AS BIGINT)
           |      AS h
           |  FROM dense d JOIN tot t USING (asset_id) GROUP BY 1),
           |icand AS (SELECT x.asset_id AS id_a, y.asset_id AS id_b
           |  FROM ah x JOIN ah y ON x.asset_id < y.asset_id
           |  WHERE bit_count(xor(x.h, y.h)) <= 3),
           |conj AS (SELECT c.id_a, c.id_b
           |  FROM cap c JOIN icand i2 USING (id_a, id_b)),
           |e AS (SELECT id_a AS a, id_b AS bb FROM conj
           |  UNION SELECT id_b, id_a FROM conj),
           |reach(src, dst) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.src, e.bb FROM reach r JOIN e ON r.dst = e.a)
           |SELECT src AS asset_id, min(dst) AS root,
           |  (src = min(dst)) AS keep
           |FROM reach GROUP BY src ORDER BY asset_id""".stripMargin
      }),

    // frame-SEQUENCE near-dup (the video-shaped gap in the multimodal
    // family): per-frame integer phashes (dim=8 lanes over 64-byte
    // frames), shingled k=3 along time, MinHash/LSH-banded — two
    // assets pair when they share a 3-consecutive-frame run, the
    // video-copy-detection shape. Pure reuse of the q32 machinery over
    // the rendered phash stream; the twin re-derives frames, lanes,
    // hash bits, stream, shingles, and bands from the hex payload
    QuerySpec("q193_frame_seq_neardup",
      (s, dir) =>
        graft.operators.Multimodal.frameSequenceNearDupPairs(
            graft.operators.Multimodal.fromDocuments(
              t(s, dir, "documents").select("doc_id", "text", "source")),
            frameBytes = 64, k = 3, dim = 8)
          .orderBy("id_a", "id_b"),
      // q193: frames re-cut from hex (the q191 convention), per-frame
      // lanes = byte sums at positions ≡ j mod 8, aHash bits by the
      // integer cross-multiply, stream in frame order, then exactly
      // the q32 shingle→minhash→band pipeline over the stream tokens
      {
        val mh = graft.operators.Dedup.minhashCoeffs(8).zipWithIndex
          .map { case ((a, b), i) =>
            s"min((hv * $a + $b) % ${graft.operators.Dedup.MinhashP}) AS mh$i"
          }.mkString(", ")
        val bandKeys = (0 until 4).map { b =>
          s"SELECT asset_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) " +
            s"|| '_' || CAST(mh${2 * b + 1} AS VARCHAR) AS key FROM sig"
        }.mkString(" UNION ALL ")
        s"""WITH b AS (SELECT doc_id AS asset_id, encode(text) AS payload
           |  FROM documents),
           |fr AS (SELECT asset_id, s.idx AS frame_idx, s.h AS h FROM (
           |    SELECT asset_id, UNNEST(list_transform(
           |      range((octet_length(payload) + 63) // 64),
           |      i -> {'idx': i,
           |            'h': lower(substr(hex(payload), i*128 + 1, 128))}))
           |      AS s
           |    FROM b WHERE octet_length(payload) > 0)),
           |lane AS (SELECT asset_id, frame_idx, list_transform(range(8),
           |    j -> coalesce(list_sum(list_transform(range(len(h) // 2),
           |      p -> CASE WHEN p % 8 = j
           |           THEN ('0x' || substr(h, p*2 + 1, 2))::BIGINT
           |           ELSE 0 END)), 0)) AS l
           |  FROM fr),
           |ph AS (SELECT asset_id, frame_idx,
           |    list_sum(list_transform(range(8), j ->
           |      CASE WHEN l[j+1] * 8 > list_sum(l)
           |           THEN (1::BIGINT << j) ELSE 0 END)) AS phash
           |  FROM lane),
           |stream AS (SELECT asset_id,
           |    string_agg(CAST(phash AS VARCHAR), ' ' ORDER BY frame_idx)
           |      AS t
           |  FROM ph GROUP BY asset_id),
           |tk0 AS (SELECT asset_id,
           |    list_filter(string_split_regex(t, '\\s+'),
           |      x -> strlen(x) > 0) AS tk FROM stream),
           |sh AS (SELECT asset_id,
           |    unnest(list_distinct(${shinglesSql("tk")})) AS s FROM tk0),
           |h AS (SELECT asset_id, ${pHashSql("s")} AS hv FROM sh),
           |sig AS (SELECT asset_id, $mh FROM h GROUP BY asset_id),
           |banded AS ($bandKeys)
           |SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b
           |FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.key = b.key
           |  AND a.asset_id < b.asset_id
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // multimodal: binary payload + typed metadata, payload-pruned summary
    QuerySpec("q41_multimodal_meta",
      (s, dir) =>
        Multimodal.metadataSummary(
          Multimodal.fromDocuments(t(s, dir, "documents"))),
      """SELECT 'text/plain' AS media_type,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
        |FROM documents""".stripMargin),

    // multimodal decode: partition-local batch feature extraction over
    // binary payloads (stub decoder; Spark plumbing is real). Lane
    // features are integer byte sums represented as float — summing them
    // back is exact integer arithmetic, and the single final divide is one
    // IEEE op both engines agree on, so a DuckDB twin exists.
    QuerySpec("q47_multimodal_decode",
      (s, dir) =>
        Multimodal.decodeFeatures(
            Multimodal.fromDocuments(t(s, dir, "documents")), dim = 8)
          .select(col("asset_id"),
            expr("aggregate(feature, 0L, (a, x) -> a + cast(x as long))")
              .as("byte_sum"),
            size(col("feature")).as("n_lanes"))
          .withColumn("feature_norm", col("byte_sum").cast(DoubleType) / 255.0)
          .orderBy("asset_id"),
      // byte_sum = total UTF-8 byte sum (integer-exact through the lane
      // features); feature_norm = ONE final IEEE divide, identical on both
      // engines
      """WITH b AS (
        |  SELECT doc_id AS asset_id, encode(text) AS payload FROM documents),
        |s AS (SELECT asset_id,
        |  CAST(COALESCE(list_aggregate(list_transform(
        |    range(1, octet_length(payload) + 1),
        |    i -> ('0x' || substr(hex(payload), 2*i-1, 2))::BIGINT), 'sum'),
        |    0) AS BIGINT) AS byte_sum
        |  FROM b)
        |SELECT asset_id, byte_sum, CAST(8 AS INTEGER) AS n_lanes,
        |  byte_sum::DOUBLE / 255.0::DOUBLE AS feature_norm
        |FROM s ORDER BY asset_id""".stripMargin),

    // multimodal resize: batch-local transcode contract (stub truncation),
    // metadata tracks the new size; byte sums prove the payload transform
    QuerySpec("q69_multimodal_resize",
      (s, dir) => {
        val resized = Multimodal.resizeStub(
          Multimodal.fromDocuments(t(s, dir, "documents")), targetBytes = 500)
        val feats = Multimodal.decodeFeatures(resized, dim = 1)
          .select(col("asset_id"),
            col("feature").getItem(0).cast(LongType).as("byte_sum"))
        resized.select(col("asset_id"), col("meta.n_bytes").as("n_bytes"))
          .join(feats, "asset_id")
          .orderBy("asset_id")
      },
      """WITH b AS (SELECT doc_id AS asset_id,
        |  substr(hex(encode(text)), 1, 1000) AS hx FROM documents)
        |SELECT asset_id, CAST(strlen(hx) // 2 AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(list_aggregate(list_transform(
        |    range(1, strlen(hx) // 2 + 1),
        |    i -> ('0x' || substr(hx, 2*i-1, 2))::BIGINT), 'sum'), 0)
        |    AS BIGINT) AS byte_sum
        |FROM b ORDER BY asset_id""".stripMargin),

    // multimodal frame sampling: payload cut into 256-byte frames, every
    // 2nd kept, exploded batch-locally to a flat relational table
    QuerySpec("q70_multimodal_framesample",
      (s, dir) =>
        Multimodal.frameSample(
            Multimodal.fromDocuments(t(s, dir, "documents")),
            frameBytes = 256, everyN = 2)
          .select(col("asset_id"), col("frame_idx"),
            octet_length(col("frame")).as("frame_bytes"),
            expr("aggregate(transform(sequence(1, octet_length(frame)), " +
              "i -> cast(conv(substring(hex(frame), 2*i-1, 2), 16, 10) as long))" +
              ", 0L, (a, x) -> a + x)").as("byte_sum"))
          .orderBy("asset_id", "frame_idx"),
      """WITH b AS (SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
        |  octet_length(encode(text)) AS n FROM documents),
        |idx AS (SELECT asset_id, hx,
        |  unnest(range(0, (n + 255) // 256)) AS frame_idx FROM b),
        |f AS (SELECT asset_id, frame_idx,
        |  substr(hx, CAST(frame_idx * 512 + 1 AS INTEGER), 512) AS fhx
        |  FROM idx WHERE frame_idx % 2 = 0)
        |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(strlen(fhx) // 2 AS INTEGER) AS frame_bytes,
        |  CAST(COALESCE(list_aggregate(list_transform(
        |    range(1, strlen(fhx) // 2 + 1),
        |    i -> ('0x' || substr(fhx, 2*i-1, 2))::BIGINT), 'sum'), 0)
        |    AS BIGINT) AS byte_sum
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin),
  )
}
