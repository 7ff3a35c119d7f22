package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Document deduplication at corpus scale (driver-mandated extension —
  * SURVEY.md §7.9). Five strategies, fastest-to-most-recall:
  *
  *  1. exact        — hash-groupBy on normalized content: one shuffle on the
  *                    16-byte hash; the 100 TB workhorse.
  *  2. minhashLsh   — shingle → k minhashes → band buckets → bucket join:
  *                    candidate generation is linear (explode by band),
  *                    the join shuffles on (band, bandHash) so only
  *                    colliding docs ever meet; verification Jaccard runs
  *                    per candidate pair only.
  *  3. simhash      — 16-bit weighted-bit signature per doc; near-dups are
  *                    signature collisions (or small Hamming distance).
  *  4. ngramJaccard — exact Jaccard over shingle sets via a shingle-inverted
  *                    index self-join; quadratic per shingle bucket, used as
  *                    ground truth / small-corpus path.
  *  5. embeddingNearDup — cosine over embeddings above a threshold.
  *
  * Every strategy is pure DataFrame ops on deterministic portable hashes
  * (md5-derived), so each has an exact DuckDB SQL oracle twin.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc id per normalized-content hash.
    * Returns (keep_id, dup_count) per distinct content.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    docs
      .select(col(idCol), contentHash(col(textCol)).as("chash"))
      .groupBy("chash")
      .agg(min(col(idCol)).as("keep_id"), count("*").as("dup_count"))

  /** Cross-document LINE-level exact dedup, keep-first (the CCNet /
    * RefinedWeb pipeline stage between document-level dedup and
    * quality filtering: boilerplate — navigation, headers, footers,
    * license blurbs — repeats VERBATIM across pages, so each distinct
    * line keeps exactly its first occurrence, the corpus-global
    * (doc_id, pos) minimum, and every other copy is removed; documents
    * reassemble from their surviving lines in original order). A doc
    * whose every line lost comes back as the EMPTY string — removed
    * content, not a removed row — while a null-text doc stays null.
    *
    * Shape: the [[explodeLines]] rows with the occurrence rank PACKED
    * into one long ([[occurrenceKey]]: 39 bits of doc id above 24 bits
    * of line position — lexicographic (id, pos) order IS numeric order
    * on the pack); ONE combine-enabled shuffle on the line computes each
    * line's global minimum occurrence as a plain codegen'd `min` over
    * that long (a `min(struct(id, pos))` falls back to SortAggregate —
    * BOTH aggregate phases then sort every line row by the string key
    * with interpreted ordering, measured 2-4x wall and GC-bound at the
    * x128 step); the winner mark is a left-semi join on the pack
    * ALONE — an occurrence's pack is globally unique by construction,
    * so the line string is redundant in the join and the build side
    * carries 8 bytes per distinct line instead of the line text (the
    * string-keyed form shipped a corpus-of-lines-sized relation
    * through the join); one shuffle on the doc reassembles
    * ([[reassembleLines]]). No
    * per-group state is ever corpus-sized: a line group folds to one
    * long, a doc group is doc-sized. Ids outside [0, 2^39) or
    * positions >= 2^24 (a 16M-line document) fail loudly rather than
    * mis-rank.
    */
  def dedupLinesKeepFirst(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = explodeLines(docs, idCol, textCol)
      .withColumn("__k", occurrenceKey(idCol, "dedupLinesKeepFirst"))
    val winners = lines.groupBy("line")
      .agg(min(col("__k")).as("__k"))
      .select("__k")
    reassembleLines(docs, lines.join(winners, Seq("__k"), "left_semi"),
      idCol, textCol)
  }

  /** The line family's (doc id, `pos`, `line`) rows: every non-null doc
    * split on "\n", `pos` 0-based. */
  private def explodeLines(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote("\n"))).as(Seq("pos", "line")))

  /** An [[explodeLines]] row's occurrence rank packed into one long: 39
    * bits of doc id above 24 bits of line position, so lexicographic
    * (id, pos) order is numeric order and every occurrence's pack is
    * unique. An id outside [0, 2^39) or a position >= 2^24 fails the
    * job with an error naming `op` rather than mis-ranking.
    */
  private def occurrenceKey(idCol: String, op: String): Column = {
    val id = col(idCol).cast("long")
    when(id.isNull || id < 0 || id >= lit(1L << 39) ||
        col("pos") >= lit(1 << 24),
      raise_error(lit(s"$op: occurrence outside the packable range " +
        "(numeric doc id in [0, 2^39), line pos < 2^24)")).cast("long"))
      .otherwise(shiftleft(id, 24) + col("pos"))
  }

  /** `docs` rebuilt from the `kept` [[explodeLines]] rows: one shuffle
    * on the doc joins each doc's kept lines in `pos` order, then a doc
    * with null text stays null and a doc that kept no line becomes the
    * EMPTY string (removed content, not a removed row).
    */
  private def reassembleLines(docs: DataFrame, kept: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), "\n").as("__clean"))
    docs.select(col(idCol), col(textCol).isNotNull.as("__had"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__had"), coalesce(col("__clean"), lit("")))
          .otherwise(lit(null).cast("string")).as(textCol))
  }

  /** Incremental [[dedupLinesKeepFirst]] — the line-level member of the
    * incremental-maintenance family (the near-dup index, the inverted
    * index, and the ANN index all have this shape): a persistent index
    * of every line string ever seen absorbs arriving batches. A batch
    * line already in the index is removed from the batch WHOLESALE (its
    * first occurrence happened in an earlier batch); the fresh
    * remainder runs the same within-batch keep-first as the batch
    * operator, and ALL fresh lines (within-batch losers included — they
    * were seen, their canonical copy is in this batch) fold into the
    * returned index. Work per batch is O(batch lines + index probe),
    * the corpus is never rescanned; over an id-ordered arrival the
    * composed result equals the batch operator doc-for-doc.
    *
    * Two index REPRESENTATIONS, the decontamination family's pattern
    * ([[decontaminateTokenNgrams]]'s `hashWindows`): by default the
    * index carries line STRINGS for exactness; `hashLines = true` is
    * the crawl-scale representation — each index entry is the line's
    * 60-bit portable fingerprint ([[lineHash]]: an md5 prefix, so the
    * DuckDB twin replicates membership with the very same digest), 8
    * bytes ride the probe join instead of the line text, and a
    * collision can only remove a line COPY early (Bloom-style
    * one-sidedness for a dedup stage — never a kept duplicate). The
    * index's `line` column is stamped with a representation marker
    * ([[lineReprKey]] metadata, parquet-persistent); probing a
    * mismatched index fails loudly instead of silently probing strings
    * against hashes.
    */
  def lineIndexAddBatch(index: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      hashLines: Boolean = false): (DataFrame, DataFrame) = {
    val (cleaned, freshLines) =
      lineIndexAddBatchParts(index, batch, idCol, textCol, hashLines)
    (cleaned,
      markLineRepr(index.select("line").unionByName(freshLines), hashLines))
  }

  /** 60-bit portable line fingerprint: the first 15 hex digits of md5,
    * parsed as a (always-positive) long — the [[graft.functions
    * .TextFunctions.portableHash]] convention widened to 60 bits so the
    * crawl-scale index entry is one long on BOTH engines.
    * Spark: conv(substr(md5(x),1,15),16,10)::long
    * DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT
    */
  def lineHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Column-metadata key recording a line index's representation
    * ("hashed" 60-bit fingerprints vs exact "string" lines) — the
    * [[reprKey]] discipline applied to the line family. Producers stamp
    * it; consumers REQUIRE a stamped marker to match and, marker or
    * not, the column TYPE to match the mode (long vs string) — a
    * string index probed at hashed mode would silently drop nothing.
    * An unstamped index of the right type is accepted (caller-seeded
    * empty indexes and pre-marker state).
    */
  private[graft] val lineReprKey = "graft.lineRepr"
  private def lineReprName(hashLines: Boolean): String =
    if (hashLines) "hashed" else "string"
  private[graft] def markLineRepr(index: DataFrame,
      hashLines: Boolean): DataFrame = {
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(lineReprKey, lineReprName(hashLines)).build()
    index.withColumn("line", col("line").as("line", m))
  }
  private[graft] def requireLineRepr(index: DataFrame, hashLines: Boolean,
      what: String): Unit = {
    val f = index.schema.fields.find(_.name == "line").getOrElse(
      throw new IllegalArgumentException(
        s"$what: line index has no 'line' column"))
    if (f.metadata.contains(lineReprKey)) {
      val got = f.metadata.getString(lineReprKey)
      require(got == lineReprName(hashLines),
        s"$what: line index carries representation '$got' but this " +
          s"call runs at '${lineReprName(hashLines)}' — probing strings " +
          "against hashes (or vice versa) matches nothing and silently " +
          "re-admits every seen line; recount or flip hashLines")
    }
    val want: org.apache.spark.sql.types.DataType =
      if (hashLines) org.apache.spark.sql.types.LongType
      else org.apache.spark.sql.types.StringType
    require(f.dataType == want,
      s"$what: line index 'line' column is ${f.dataType.simpleString} " +
        s"but representation '${lineReprName(hashLines)}' stores " +
        s"${want.simpleString}")
  }

  /** [[lineIndexAddBatch]] returning the batch's fresh-line DELTA
    * instead of the folded index — the streaming runner persists
    * exactly this delta per micro-batch (append-only versioned state),
    * so the full index never rewrites. Returns (cleaned, freshLines);
    * both sides share one materialization of the probed batch.
    */
  private[graft] def lineIndexAddBatchParts(index: DataFrame,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      hashLines: Boolean = false): (DataFrame, DataFrame) = {
    requireLineRepr(index, hashLines, "lineIndexAddBatch")
    // the probe key: the line itself, or its 60-bit fingerprint — the
    // within-batch keep-first groups on the SAME key, so hashed mode's
    // collision behavior is uniform (a colliding pair collapses to one
    // canonical copy, never a kept duplicate)
    val keyOf: Column => Column =
      if (hashLines) lineHash(_) else identity
    val lines = explodeLines(batch, idCol, textCol)
      .withColumn("__lk", keyOf(col("line")))
      .withColumn("__k", occurrenceKey(idCol, "lineIndexAddBatch"))
    // seen lines drop wholesale; the anti-join build side is the index,
    // which a deployment partitions/buckets on the line key
    val fresh = lines.join(index.select(col("line").as("__lk")),
        Seq("__lk"), "left_anti")
      .localCheckpoint()
    val winners = fresh.groupBy("__lk").agg(min(col("__k")).as("__k"))
      .select("__k")
    (reassembleLines(batch, fresh.join(winners, Seq("__k"), "left_semi"),
        idCol, textCol),
      markLineRepr(fresh.select(col("__lk").as("line")).distinct(),
        hashLines))
  }

  /** Incremental [[stripFrequentLines]] — the frequent-line counterpart
    * of [[lineIndexAddBatch]]: a persistent per-line distinct-doc COUNT
    * index absorbs arriving batches. Doc ids are globally unique (each
    * doc arrives in exactly one batch), so per-batch distinct counts ADD
    * across batches; a batch line strips from the batch's docs iff its
    * CUMULATIVE count — everything seen so far INCLUDING this batch —
    * reaches `minDocs`. Arrival-order semantics, stated plainly: a line
    * crossing the threshold in batch k strips from batch-k-and-later
    * docs; copies already emitted in earlier batches stand (a stream
    * cannot retract — a deployment re-runs the batch
    * [[stripFrequentLines]] over the accumulated corpus when it wants
    * the retroactive form, exactly like any other lakehouse OPTIMIZE).
    *
    * Returns (cleaned, countDelta): the batch's docs with
    * newly-frequent lines removed, and the batch's per-line distinct-doc
    * counts — the APPEND-ONLY state delta (the live index is the
    * per-line SUM of deltas; compaction folds the log, the family
    * pattern). Per-batch work is O(batch lines + index probe): the
    * frequent set for a batch is lines IN the batch whose old+delta
    * count crosses the threshold — a batch-sized join against the
    * count index, never a corpus rescan.
    */
  def lineCountAddBatch(counts: DataFrame, batch: DataFrame, minDocs: Long,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame) = {
    require(minDocs >= 2, "lineCountAddBatch needs minDocs >= 2 — " +
      "at 1 it would empty the corpus")
    val lines = explodeLines(batch, idCol, textCol)
    // the batch's own distinct-doc count per line — both the state
    // delta and one side of the threshold test; materialized once
    val delta = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .localCheckpoint()
    // a line historically frequent but ABSENT from this batch strips
    // nothing here, so only batch lines need the old count: a
    // delta-sized probe join, and old ≥ minDocs alone still crosses
    // (old + delta ≥ old)
    val frequent = delta
      .join(counts.select(col("line"), col("n_docs").as("__old")),
        Seq("line"), "left")
      .where(coalesce(col("__old"), lit(0L)) + col("n_docs") >= minDocs)
      .select("line")
    (reassembleLines(batch, lines.join(frequent, Seq("line"), "left_anti"),
      idCol, textCol), delta)
  }

  /** The companion boilerplate STRIP: remove every copy of any line
    * that appears in at least `minDocs` distinct documents (CCNet's
    * dedup mode for shared chrome — when a line is on three pages it
    * is navigation, not content, and the first page doesn't get to
    * keep it either). The line rows and the reassembly are
    * [[dedupLinesKeepFirst]]'s ([[explodeLines]], [[reassembleLines]]);
    * the line aggregate folds to one approximate-free distinct-doc count
    * per line, and the frequent set is anti-joined out.
    */
  def stripFrequentLines(docs: DataFrame, minDocs: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, "stripFrequentLines needs minDocs >= 2 — " +
      "at 1 it would empty the corpus")
    val lines = explodeLines(docs, idCol, textCol)
    val frequent = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("line"))
    reassembleLines(docs, lines.join(frequent, Seq("line"), "left_anti"),
      idCol, textCol)
  }

  /** Deterministic affine minhash family over the portable 32-bit hash:
    * h_i(x) = (a_i * H(x) + b_i) mod p, with p the largest 31-bit prime.
    * Coefficients are fixed odd constants so the Spark and DuckDB sides
    * agree bit-for-bit.
    */
  val MinhashP = 2147483647L
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map(i => (2L * i + 1001L, 3L * i + 7877L))

  /** MinHash signatures via the fused codegen kernel
    * ([[graft.functions.MinhashSigExpr]]): tokenize → shingle → distinct →
    * hash → k lane-minima in ONE map-side pass per document. No explode, no
    * groupBy — signature computation requires NO shuffle, so it scales as a
    * pure narrow map over the corpus.
    */
  def minhashSignature(docs: DataFrame, numHashes: Int = 8, shingleN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.TextExpressions
    docs
      .select(col(idCol),
        TextExpressions.minhashSig(col(textCol), numHashes, shingleN).as("__sig"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("__sig").getItem(i).as(s"mh$i")): _*)
  }

  /** MinHash + LSH banding: rows-per-band signatures are concatenated into
    * a band key; docs sharing any band key become candidate pairs; pairs
    * are de-duplicated across bands. `bands * rowsPerBand` hash lanes.
    * Returns candidate pairs (id_a < id_b).
    */
  def minhashLshPairs(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val banded = bandedKeys(docs, bands, rowsPerBand, shingleN, idCol,
      textCol, idCol)
    val l = banded.select(col("band"), col("key"), col(idCol).as("id_a"))
    val r = banded.select(col("band"), col("key"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** The FULL MinHash near-dup pipeline in one operator: banded LSH
    * candidate generation ([[minhashLshPairs]]) followed by EXACT
    * Jaccard verification restricted to the candidate set — the
    * classic two-stage design (candidates are linear via the band
    * shuffle; the exact shingle intersection runs per CANDIDATE pair
    * only, never all-pairs, so a 10⁹-doc corpus pays the quadratic
    * verify cost only where the bands already collided). Returns
    * (id_a, id_b, jaccard) for candidates at or above `threshold`;
    * a candidate pair sharing no shingle at all (a pure minhash
    * collision) has jaccard 0 and drops with the rest.
    *
    * Shuffle shape: the band exchange (candidates), then — after a
    * left-semi prune of the shingle explosion down to CANDIDATE docs
    * only — one exchange on id_a and one on (id_b, shingle) to count
    * intersections, both candidate-bounded rather than corpus-bounded
    * (without the prune, every shingle of every doc would ride the
    * verify exchanges even when bands collided for a tiny fraction of
    * the corpus — the exact cost the two-stage design exists to avoid).
    * The candidate pairs, their ids and the pruned shingle set are each
    * materialized ONCE (`localCheckpoint`, the
    * [[lineIndexAddBatchParts]] pattern): `cand` feeds the id prune and
    * both intersection sides; `sh` feeds both intersection sides. The
    * id and shingle sides broadcast by the sizes observed while they
    * materialize ([[Sizing.broadcastIfFits]]), hash joins otherwise.
    */
  def minhashLshVerifiedPairs(docs: DataFrame, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cand = minhashLshPairs(docs, bands, rowsPerBand, shingleN,
      idCol, textCol).localCheckpoint()
    // at scale candidates are small even when the corpus is not, so the
    // verify stage usually gets the broadcast fast path regardless of
    // corpus size
    val (candIds, nIds, idBytes) = Sizing.materializeSized(
      cand.select(col("id_a").as(idCol))
        .union(cand.select(col("id_b").as(idCol))).distinct())
    // candidate docs keep their distinct shingle set as ONE array row
    // (r18): the verify joins each candidate pair to its two arrays and
    // computes the exact jaccard with one fused kernel — replacing the
    // explode → (id, sh) intersection join → count aggregate → two
    // size-join steps (4 extra candidate-bounded exchanges per call).
    // jaccard_value returns NULL for zero-overlap pairs, reproducing
    // "no intersection row" (a pure minhash collision never surfaces,
    // whatever the threshold); null-text docs carry a null array, which
    // nulls the kernel — the explode form likewise never emitted them
    val (sh, nSh, shBytes) = Sizing.materializeSized(docs
      .join(Sizing.broadcastIfFits(candIds, nIds, idBytes), Seq(idCol),
        "left_semi")
      .select(col(idCol),
        array_distinct(graft.functions.TextExpressions
          .shingles(col(textCol), shingleN)).as("shs")))
    cand
      .join(Sizing.broadcastIfFits(sh.toDF("id_a", "__sa"), nSh, shBytes),
        "id_a")
      .join(Sizing.broadcastIfFits(sh.toDF("id_b", "__sb"), nSh, shBytes),
        "id_b")
      .withColumn("jaccard", graft.functions.TextExpressions
        .jaccardValue(col("__sa"), col("__sb")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id, band, key) LSH band keys for every doc — ONE definition of the
    * banding rule, shared by [[minhashLshPairs]] and
    * [[decontaminateNearDup]] so the two can never drift apart (the
    * DuckDB oracles likewise share one `clusterCtes` banding fragment).
    */
  private[graft] def bandedKeys(docs: DataFrame, bands: Int, rowsPerBand: Int,
      shingleN: Int, idCol: String, textCol: String, outIdCol: String)
      : DataFrame =
    bandRows(withBandKeys(docs.select(col(idCol).as(outIdCol),
      col(textCol)), textCol, bands, rowsPerBand, shingleN).drop(textCol),
      outIdCol, bands).drop("keys")

  /** `docs` plus `keys`, each row's LSH band keys in band order: band b's
    * key joins minhash signature entries b·rowsPerBand until
    * (b+1)·rowsPerBand with "_". The signature is its own projection, so
    * the kernel runs once per row.
    */
  private def withBandKeys(docs: DataFrame, textCol: String, bands: Int,
      rowsPerBand: Int, shingleN: Int): DataFrame =
    docs
      .withColumn("__sig", graft.functions.TextExpressions.minhashSig(
        col(textCol), bands * rowsPerBand, shingleN))
      .withColumn("keys", array((0 until bands).map { b =>
        concat_ws("_", (0 until rowsPerBand)
          .map(r => col("__sig").getItem(b * rowsPerBand + r)): _*)
      }: _*))
      .drop("__sig")

  /** One (band, key) row per entry of each row's `keys` array: (id,
    * band, key, every other column). An `explode`, not a `posexplode`:
    * the optimizer folds only the former over an empty relation.
    */
  private def bandRows(keyed: DataFrame, idCol: String, bands: Int)
      : DataFrame = {
    val rest = keyed.columns.toSeq.filter(_ != idCol).map(col)
    keyed
      .select(col(idCol) +: explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"), col("keys")(b).as("key"))
      }: _*)).as("__bk") +: rest: _*)
      .select(col(idCol) +: col("__bk.band").as("band") +:
        col("__bk.key").as("key") +: rest: _*)
  }

  /** SimHash over token hashes: bit b of the signature is set when the sum
    * over DISTINCT tokens of ±1 (by bit b of the token hash) is positive.
    * Fused codegen kernel ([[graft.functions.SimhashExpr]]) — one map-side
    * pass per document, no explode, no shuffle; same values as the
    * explode + per-bit-sum groupBy formulation (pinned in tests).
    */
  def simhash(docs: DataFrame, bits: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      fanOut: Boolean = false): DataFrame =
    (if (fanOut) Sizing.fanOut(docs) else docs)
      // token-less docs have no signature (the aggregate/SQL formulations
      // produce no row for them) — keep that contract
      .where(size(graft.functions.TextExpressions.tokens(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.TextExpressions.simhash(col(textCol), bits).as("simhash"))

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHamming`,
    * EXACT but without the all-pairs join: signatures are cut into `bands`
    * bit-bands and docs sharing any band become candidates (pigeonhole:
    * ≤ maxHamming bit flips over `bands` bands leaves ≥ bands−maxHamming
    * bands intact, so every true pair collides as long as
    * maxHamming < bands). Candidates shuffle on (band, key) — linear in
    * corpus size — and only candidates pay the popcount verify.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 2,
      bits: Int = 32, bands: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bits <= 32, "token hashes are 32-bit; higher simhash bits carry " +
      "no signal and would collapse every doc into one band bucket")
    // fanOut: the signature+banding kernel is this operator's dominant
    // cost and a single-file/one-partition input would run it on one
    // core (measured r17: 1.43 s single-task stage, 2.2x the whole
    // query after the fan-out); Sizing.fanOut is a strict no-op when
    // the scan already parallelizes, so nothing changes at scale
    bandedHammingPairs(simhash(docs, bits, idCol, textCol, fanOut = true),
      idCol, "simhash", bits, bands, maxHamming)
  }

  /** The banded exact-Hamming pair machinery itself, over ANY integer
    * signature column — shared by [[simhashNearDupPairs]] and the image
    * perceptual-hash path ([[Multimodal.imageNearDupPairs]]). Signatures
    * are cut into `bands` bit-bands; rows sharing any band key become
    * candidates (pigeonhole: ≤ maxHamming flips leave ≥ bands−maxHamming
    * bands intact, so recall is exactly 1 while the shuffle stays linear),
    * and only candidates pay the popcount verify. Bits above
    * bands·(bits/bands) are never banded, which only ADDS candidates —
    * exactness is unaffected.
    */
  private[graft] def bandedHammingPairs(sig: DataFrame, idCol: String,
      sigCol: String, bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming < bands, "banding is only exact when maxHamming < bands")
    require(bands >= 1 && bits >= bands && bits <= 62,
      "signature bits must cover the bands and fit a positive long")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val banded = sig.select(col(idCol), col(sigCol).as("__sig"))
      .select(col(idCol), col("__sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * bandBits).bitwiseAND(mask).as("key"))
        }: _*)).as("bk"))
      .select(col(idCol), col("__sig"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("band"), col("key"),
      col(idCol).as("id_a"), col("__sig").as("sa"))
    val b = banded.select(col("band"), col("key"),
      col(idCol).as("id_b"), col("__sig").as("sb"))
    a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      // popcount verify BEFORE the distinct: the per-candidate bit_count is
      // a single instruction while the distinct is a shuffle — filtering
      // first shrinks the shuffle to true pairs only
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Exact n-gram Jaccard pairs ≥ threshold via the inverted shingle
    * index: |A∩B| counted directly from the shingle self-join, |A|,|B|
    * from per-doc sizes. One shuffle on shingle, one aggregation on the
    * pair. Quadratic only inside a shingle's posting list — on corpora
    * with "hub" shingles switch to [[minhashLshPairs]].
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(array_distinct(
        graft.functions.TextExpressions.shingles(col(textCol), shingleN))).as("sh"))
    val sizes = sh.groupBy(col(idCol)).agg(count("*").as("sz"))
    val inter = sh.toDF("id_a", "sh")
      .join(sh.toDF("id_b", "sh"), Seq("sh"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count("*").as("inter"))
    // per-doc sizes broadcast only when the doc table is provably small;
    // a 10⁹-doc corpus falls back to hash-partitioned joins on id. The
    // broadcast side is (id, count), so the probe measures the id
    // projection, not the text
    val bc = Sizing.fitsBroadcast(docs.select(col(idCol)))
    inter
      .join(Sizing.broadcastIfFits(sizes.toDF("id_a", "sz_a"), bc), "id_a")
      .join(Sizing.broadcastIfFits(sizes.toDF("id_b", "sz_b"), bc), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH near-duplicate pairs:
    * sign-bit signatures from `nBits` deterministic pseudo-random
    * hyperplanes, banded like minhash; candidates sharing a band verify
    * with the exact cosine kernel. Linear candidate generation — the
    * 100 TB path where [[embeddingNearDupPairs]]'s all-pairs form is
    * infeasible. Recall is probabilistic (raise nBits/bands to trade cost
    * for recall); verified pairs are exact, so precision is 1.
    *
    * Signatures come from the fused codegen kernel
    * ([[graft.functions.VecHyperplaneSig]]): one narrow pass per vector, no
    * explode, no shuffle — hyperplane components derive from a hash of
    * (bit, dimension), so executors and re-runs agree bit-for-bit.
    */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
      nBits: Int = 16, bands: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bandBits = nBits / bands
    val mask = (1L << bandBits) - 1
    val sig = embeddings.select(col(idCol),
      graft.functions.VectorExpressions.hyperplaneSig(col(vecCol), nBits)
        .as("vsig"))
    val banded = sig.select(col(idCol), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("vsig"), b * bandBits).bitwiseAND(mask).as("key"))
    }: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
    val rawCand = banded.select(col("band"), col("key"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("key"), col(idCol).as("id_b")),
        Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // verify step: broadcast the embedding table to the candidate stream
    // only when provably small; otherwise hash-partition both sides by id —
    // a corpus-scale verify must never collect the embeddings to one node.
    // Candidate dedup placement follows the same switch: with a broadcast
    // verify the per-duplicate cost is one codegen dot product, cheaper
    // than shuffling the full candidate stream through a distinct — so
    // dedup AFTER the threshold filter (survivors are few). On the
    // hash-partitioned path duplicates would inflate the join shuffle, so
    // dedup first.
    val bc = Sizing.fitsBroadcast(embeddings)
    val cand = if (bc) rawCand else rawCand.distinct()
    val withNorm = embeddings.select(col(idCol), col(vecCol),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
    cand
      .join(Sizing.broadcastIfFits(withNorm.select(col(idCol).as("id_a"),
        col(vecCol).as("va"), col("nrm").as("na")), bc), "id_a")
      .join(Sizing.broadcastIfFits(withNorm.select(col(idCol).as("id_b"),
        col(vecCol).as("vb"), col("nrm").as("nb")), bc), "id_b")
      .withColumn("cos", VectorFunctions.cosineWithNorms(
        VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`.
    * All-pairs form — O(n²) compares, but each compare is ONE codegen'd
    * dot-product kernel: norms are precomputed per row before the join
    * (n sqrt's, not n²), so the per-pair work is a single 64-float loop.
    * For corpus scale, pre-bucket with [[Similarity.ivfAssign]] and join
    * within cells instead.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withNorm = embeddings.select(col(idCol), col(vecCol),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosineWithNorms(
        VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Connected-component cluster assignment over a near-duplicate pair
    * set: every doc is labeled with the smallest doc id reachable through
    * the pair graph — the canonical-representative selection that turns
    * pairwise near-dup detection into "keep one per cluster".
    *
    * Alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    * literature): large-star links every neighbor larger than the center
    * to the center's minimum, small-star links the center and its smaller
    * neighbors to their minimum. The edge set contracts to a star forest
    * centered at each component's minimum in O(log n) rounds regardless of
    * graph DIAMETER — plain min-label propagation needs one round per
    * diameter hop, which a 100 TB dup graph with chain-shaped components
    * cannot afford. Each round is groupBy-min + a co-partitioned join
    * back; `localCheckpoint` cuts the iterative lineage so plans stay
    * flat. Convergence is verified with an exact set comparison (both
    * `except` directions), never a fingerprint, and a non-converged
    * result throws rather than returning partial labels.
    *
    * CONTRACT: `idCol` (in `ids` and both pair endpoints) must be
    * LongType — the rounds run on `RDD[(Long, Long)]`, matching the
    * library-wide 64-bit doc/asset id convention. A caller with
    * non-long ids must map them to a long surrogate (e.g. `xxhash64`)
    * before calling; the require below fails loudly otherwise.
    */
  def nearDupClusters(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 30): DataFrame = {
    require(ids.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"nearDupClusters needs a LongType $idCol — the alternating-star " +
        "rounds run on RDD[(Long, Long)] (every id in this library is a " +
        "64-bit doc/asset id)")
    val spark = ids.sparkSession
    import spark.implicits._
    // restrict the pair graph to the given universe: a pair endpoint
    // absent from `ids` (stale pair table, superset corpus) must not
    // become a cluster root, or the standard keep-one-per-cluster
    // `where(id === root)` step would silently drop the whole cluster
    val universe = ids.select(col(idCol))
    val scoped = pairs
      .join(universe.select(col(idCol).as("id_a")), Seq("id_a"), "left_semi")
      .join(universe.select(col(idCol).as("id_b")), Seq("id_b"), "left_semi")
    // canonical undirected edges, u < v — the one pair-table-scale
    // Catalyst pass; the ROUNDS run on its RDD (r17 optimization: every
    // round re-planned ~6 fresh dict-of-edges queries plus an except
    // set-compare, and the measured cost of the CC compositions was
    // ~70% driver planning/AQE-stage latency on tiny jobs — the RDD
    // loop submits the identical shuffles with no per-round planning.
    // The tail rounds of the contraction are overhead-bound at ANY
    // corpus scale: the edge set shrinks geometrically, so late rounds
    // are metadata-sized however big the dup graph started)
    var edges: org.apache.spark.rdd.RDD[(Long, Long)] = scoped
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var iter = 0
    while (!converged && iter < maxIters) {
      // ---- large-star: for each center u, every neighbor v > u links to
      // min(Γ(u) ∪ {u}) — splits high-degree hubs without losing
      // connectivity. m = min(minNeighbor(u), u) ≤ u < v, so the emitted
      // (m, v) can never be a self-loop
      val sym = edges.flatMap { e => Iterator(e, e.swap) }
      val minNbr = sym.reduceByKey(math.min(_, _))
      val afterLs = sym.join(minNbr).flatMap { case (u, (v, mn)) =>
        if (v > u) Iterator((math.min(mn, u), v)) else Iterator.empty
      }.distinct()
      // ---- small-star: orient edges large→small; the center and all its
      // smaller neighbors link to the minimum among them (the center's
      // own link (m, center) is emitted once per neighbor row and
      // deduped, exactly like the old union+distinct form)
      val sym2 = afterLs.map(_.swap)
      val mins2 = sym2.reduceByKey(math.min(_, _))
      val next = sym2.join(mins2).flatMap { case (u, (v, m)) =>
          (if (m != v) Iterator((m, v)) else Iterator.empty) ++
            Iterator((m, u))
        }.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // both sides are distinct sets, so equal counts + (next \ edges) = ∅
      // ⇒ set equality — the subtract runs only when the counts already
      // agree (&& short-circuit, as the old except form did)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.subtract(edges).take(1).isEmpty
      edges.unpersist(blocking = false)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged) {
      edges.unpersist(blocking = false)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within $maxIters rounds — " +
          "alternating-star contraction is O(log n) rounds, so this means a " +
          "pathological edge set; raise maxIters")
    }
    // fixpoint = star forest: roots only ever appear as u, every non-root
    // appears as v with its root as u. The final round's persisted blocks
    // stay live — the returned frame reads them lazily (the ContextCleaner
    // reclaims them once the frame is unreachable, the same lifetime the
    // old localCheckpoint gave)
    val rootOf = edges.map(_.swap).reduceByKey(math.min(_, _))
      .toDF(idCol, "root")
    ids.select(col(idCol))
      .join(rootOf, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("root"), col(idCol)).as("root"))
  }

  /** Benchmark decontamination: drop every training doc that shares ANY
    * word `shingleN`-gram with the evaluation set — the standard guard
    * against test-set leakage into pretraining corpora. Shape: the eval
    * set's distinct shingles form the (comparatively tiny) right side of a
    * left-semi shingle join; contaminated doc ids then anti-join the
    * training corpus. Cost is one shuffle over training shingles — linear,
    * same profile as [[ngramJaccardPairs]]'s index build — and the eval
    * shingle set is usually small enough that Spark broadcasts the semi
    * join automatically.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, shingleN: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def sh(df: DataFrame) = df.select(col(idCol),
      explode(array_distinct(
        graft.functions.TextExpressions.shingles(col(textCol), shingleN))).as("sh"))
    val evalShingles = sh(eval).select("sh").distinct()
    val contaminated = sh(train)
      .join(evalShingles, Seq("sh"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Token-LEVEL n-gram decontamination — the GPT-3 Appendix-C rule
    * (Brown et al. '20: flag a training doc sharing any 13-gram TOKEN
    * overlap with an eval set) re-expressed relationally over
    * PRE-TOKENIZED id arrays, so it composes with either shipped
    * tokenizer (MaxMatch piece ids or rank-ordered merge ids).
    * Word-shingle decontamination ([[decontaminate]]) judges surface
    * text; the token form judges exactly the stream the model trains
    * on — overlaps that only align after tokenization (and the
    * canonical n is counted in tokens, not words).
    *
    * Returns (idCol, n_hits): each contaminated train doc with how many
    * of its length-`n` token windows appear among the eval set's
    * windows (a doc repeating a leaked window counts each occurrence —
    * a leak-severity signal, not just a flag; anti-join the ids against
    * `train` to drop). Shape: the eval side's DISTINCT windows are
    * benchmark-sized by definition — guard-checked, and BROADCAST while
    * they fit ([[Sizing.broadcastIfFits]]'s 1M rows and 256 MB, observed
    * while the windows materialize) — making the corpus pass
    * explode → broadcast hash join → partial-agg count per doc: the
    * only exchange is over the (tiny) hit set. An oversized eval side
    * falls back to a plain shuffled hash join — still one linear pass,
    * just with the corpus windows shuffling on the gram — instead of
    * forcing a multi-hundred-MB broadcast build onto every executor.
    * Windows ride as space-joined id strings by default so the DuckDB
    * twin reproduces them exactly; `hashWindows = true` is the 100 TB
    * representation — each window collapses to an int64
    * ([[hashTokenWindow]]) INSIDE the same typed pass on both the eval
    * and corpus sides, so 8 bytes ride the join instead of ~4n string
    * bytes and the window string is never even materialized.
    * Collision-tolerant for a drop-list (a 64-bit collision could only
    * over-flag, never miss a leak); the q157 oracle gates the hashed
    * result on EQUALITY with the string-window twin.
    */
  def decontaminateTokenNgrams(train: DataFrame, eval: DataFrame, n: Int,
      idCol: String = "doc_id", idsCol: String = "ids",
      maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(n >= 1, "decontaminateTokenNgrams needs a positive n")
    // materialize the (benchmark-sized) eval windows ONCE: the guard
    // and the join would otherwise each execute the whole eval branch —
    // including its tokenize passes — from scratch
    val (evalW, nEval, evalBytes) = Sizing.materializeSized(
      tokenWindowsAt(eval, idCol, idsCol, n, hashWindows)
        .select("gram").distinct())
    require(nEval <= maxEvalWindows,
      s"decontaminateTokenNgrams: eval set has $nEval distinct windows — " +
        s"the broadcast side is capped at $maxEvalWindows; shard the eval " +
        "set or raise n (windows per doc shrink as n grows)")
    markRepr(tokenWindowsAt(train, idCol, idsCol, n, hashWindows)
      // right side distinct: no fanout
      .join(Sizing.broadcastIfFits(evalW, nEval, evalBytes), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")), hashWindows)
  }

  /** Column-metadata key recording which window REPRESENTATION a hit
    * table was counted at ("hashed" int64 fingerprints vs exact
    * "string" windows). Every hit-table producer in the family stamps
    * it on `n_hits`; [[decontaminateTokenNgramsDelta]] REQUIRES it to
    * match its own `hashWindows` — the one silent-miss channel of the
    * hashed family (an exact old table merged with a hashed delta, or
    * vice versa: a novel gram whose fingerprint collides with an old
    * gram vanishes from the delta while the old table never counted
    * it) now fails loudly instead of by docstring convention. Metadata
    * survives parquet round-trips (Spark serializes column metadata in
    * the file footer's schema), so persisted hit tables keep their
    * marker.
    */
  private[graft] val reprKey = "graft.tokenWindowRepr"
  private def reprName(hashWindows: Boolean): String =
    if (hashWindows) "hashed" else "string"
  private def markRepr(hits: DataFrame, hashWindows: Boolean): DataFrame = {
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(reprKey, reprName(hashWindows)).build()
    hits.withColumn("n_hits", col("n_hits").as("n_hits", m))
  }
  private def requireRepr(hits: DataFrame, hashWindows: Boolean,
      what: String): Unit = {
    val f = hits.schema.fields.find(_.name == "n_hits").getOrElse(
      throw new IllegalArgumentException(
        s"$what: hit table has no n_hits column"))
    require(f.metadata.contains(reprKey),
      s"$what: hit table carries no '$reprKey' marker — build it with " +
        "decontaminateTokenNgrams/-Bloom/-Delta (which stamp it), or " +
        "stamp the representation it was counted at; a mixed-" +
        "representation merge silently under-flags")
    val got = f.metadata.getString(reprKey)
    require(got == reprName(hashWindows),
      s"$what: hit table was counted at representation '$got' but this " +
        s"call runs at '${reprName(hashWindows)}' — mixing opens the " +
        "hashed family's one silent-miss channel; recount or flip " +
        "hashWindows")
  }

  /** ONE typed pass per doc, not an expression tree: the declarative
    * form — transform(sequence(1, L-n+1), p -> array_join(slice(strs,
    * p, n))) — re-evaluates `strs` (the element-cast array and its
    * whole upstream) once per WINDOW inside the lambda, an O(L²)/doc
    * trap the amplified sweep measured as 12× superlinear. sliding() is
    * one traversal; the ser/deser boundary it costs is amortized by the
    * per-doc window loop. Null-ids docs (dropped docs) are skipped
    * INSIDE the pass — a column-level isNotNull filter on a computed
    * ids column would push below the projection and evaluate the
    * (dominant-cost) tokenize kernel twice per row. Ids elements must
    * be non-null (the tokenizers never emit null ids). `keep` prunes
    * windows in-loop (the Bloom path's candidate test) so non-candidate
    * windows never materialize as rows.
    */
  private def tokenWindows(df: DataFrame, idCol: String, idsCol: String,
      n: Int, keep: String => Boolean = _ => true): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
      .as[(Long, Seq[Int])]
      .flatMap { case (id, ids) =>
        if (ids != null && ids.length >= n)
          ids.sliding(n).map(_.mkString(" ")).filter(keep).map((id, _))
        else Iterator.empty
      }
      .toDF(idCol, "gram")
  }

  /** 64-bit fingerprint of one length-n id window — FNV-1a over the
    * int stream followed by MurmurHash3's fmix64 finalizer (both
    * public-domain constructions), computed directly off the backing
    * array so a window never allocates a sub-seq or a string. 8 bytes
    * ride the decontamination join instead of ~4n string bytes; a
    * collision can only OVER-flag a doc (Bloom-style one-sidedness for
    * a drop list), and the oracle gates the hashed result on equality
    * with the string-window result, so a collision on the gated corpus
    * would surface as a red row, not a silent miss.
    */
  // positional indexing per element — callers must hand an IndexedSeq
  // (the typed deserializer usually does; coerce once per row, not here)
  private def asIndexed(ids: Seq[Int]): scala.collection.IndexedSeq[Int] =
    ids match {
    case ix: scala.collection.IndexedSeq[Int] => ix
    case other => other.toIndexedSeq
  }

  private[graft] def hashTokenWindow(ids: scala.collection.IndexedSeq[Int],
      start: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) {
      h ^= ids(start + i).toLong & 0xffffffffL
      h *= 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** [[tokenWindows]] with each window collapsed to its
    * [[hashTokenWindow]] int64 INSIDE the same single traversal — the
    * 100 TB representation: the window string is never materialized on
    * either side of the join. Indexing is O(1) per element (the typed
    * deserializer hands back an IndexedSeq for array<int>), so the pass
    * is the same one-traversal shape as the string form, minus the
    * per-window string allocation.
    */
  private def tokenWindowHashes(df: DataFrame, idCol: String, idsCol: String,
      n: Int, keep: Long => Boolean = _ => true): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
      .as[(Long, Seq[Int])]
      .flatMap { case (id, ids) =>
        if (ids != null && ids.length >= n) {
          val arr = asIndexed(ids)
          (0 to arr.length - n).iterator
            .map(p => hashTokenWindow(arr, p, n)).filter(keep)
            .map((id, _))
        } else Iterator.empty
      }
      .toDF(idCol, "gram")
  }

  /** The family's representation switch: the (id, gram) windows of `df`
    * as int64 fingerprints ([[tokenWindowHashes]]) when `hashWindows`,
    * else as space-joined id strings ([[tokenWindows]]). */
  private def tokenWindowsAt(df: DataFrame, idCol: String, idsCol: String,
      n: Int, hashWindows: Boolean): DataFrame =
    if (hashWindows) tokenWindowHashes(df, idCol, idsCol, n)
    else tokenWindows(df, idCol, idsCol, n)

  /** Driver-collected SORTED int64 fingerprints of an eval set's
    * distinct token windows — the decontamination list an ingest
    * pipeline carries into a stream's stateless prepare stage
    * ([[dropContaminatedStream]]). Eval/benchmark sets are small by
    * definition; the count guard refuses loudly past `maxEvalWindows`
    * (80 MB of driver longs at the cap). 8 bytes per window ride the
    * task closure — the same representation [[hashTokenWindow]] gives
    * the batch operator's 100 TB path.
    */
  def evalWindowHashSet(eval: DataFrame, n: Int, idCol: String = "doc_id",
      idsCol: String = "ids", maxEvalWindows: Long = 10000000L)
      : Array[Long] = {
    require(n >= 1, "evalWindowHashSet needs a positive n")
    val s = eval.sparkSession
    import s.implicits._
    // materialize: the count guard and the collect would otherwise each
    // run the whole eval branch (including any tokenize kernel upstream)
    val (hs, nw) = Sizing.materialize(tokenWindowHashes(eval, idCol, idsCol, n)
      .select("gram").distinct())
    require(nw <= maxEvalWindows,
      s"evalWindowHashSet: eval set has $nw distinct windows — driver " +
        s"state is capped at $maxEvalWindows; shard the eval set or raise n")
    val arr = hs.as[Long].collect()
    java.util.Arrays.sort(arr)
    arr
  }

  /** Stateless per-row contaminated-doc filter for a STREAMING prepare
    * stage: keeps only docs none of whose length-`n` token windows
    * fingerprint into `evalHashes` ([[evalWindowHashSet]]'s sorted
    * array, binary-searched per window). This is the composition that
    * token-decontaminates the stream a trainer actually consumes —
    * contaminated docs never reach the stateful packer, so the emitted
    * pack artifact carries the GPT-3 Appendix-C guarantee END TO END,
    * not just in a batch audit. Per-row cost is O(windows × (n + log
    * m)) with no string materialization and no extra exchange (the
    * filter rides the narrow tokenize projection); deterministic and
    * slicing-invariant, satisfying the runners' prepare contract. A
    * fingerprint collision can only over-DROP (fail-closed for a
    * training corpus); the q158 oracle gates the composed stream
    * against the exact string-window twin, so a collision on the gated
    * corpus surfaces as a red row. Null-ids rows pass through for the
    * runner's null guard to flag loudly. Columns are unchanged.
    */
  def dropContaminatedStream(df: DataFrame, evalHashes: Array[Long],
      n: Int, idsCol: String = "ids"): DataFrame = {
    require(n >= 1, "dropContaminatedStream needs a positive n")
    val sorted = evalHashes.clone()
    java.util.Arrays.sort(sorted)
    df.filter { row =>
      val idx = row.fieldIndex(idsCol)
      if (row.isNullAt(idx)) true
      else {
        val arr = asIndexed(row.getSeq[Int](idx))
        var p = 0
        var clean = true
        while (clean && p <= arr.length - n) {
          if (java.util.Arrays.binarySearch(sorted,
              hashTokenWindow(arr, p, n)) >= 0) clean = false
          p += 1
        }
        clean
      }
    }
  }

  /** Scale path for [[decontaminateTokenNgrams]] — the q96↔q71
    * relationship at token level: a driver-built Bloom filter over the
    * eval windows broadcasts into the typed sliding pass, so a clean
    * doc emits ZERO rows — the corpus-wide stage is one narrow
    * traversal, and only the candidate sliver (true hits plus the fpp
    * false-positive residue) pays the exact window join that restores
    * exactness. Bloom filters have no false negatives, so the result
    * EQUALS the exact operator's — which is what the q156 oracle (the
    * q154 twin, verbatim) asserts. Against 100 TB this is the
    * difference between shipping a multi-GB window relation through a
    * join and streaming the corpus once past a few MB of broadcast
    * bits.
    *
    * `hashWindows = true` composes this with the int64 fingerprint
    * representation ([[hashTokenWindow]], q157): the Bloom is built
    * over longs, the candidate test hashes 8 fixed bytes per window,
    * and the verify join's relation is 8 bytes/window — the default a
    * 100 TB deployment should run (zero rows for clean docs AND no
    * window string ever materializes). A fingerprint collision can
    * only OVER-flag; the q164 oracle is the q154 twin verbatim, so a
    * collision on the gated corpus surfaces red, not silent.
    */
  def decontaminateTokenNgramsBloom(train: DataFrame, eval: DataFrame,
      n: Int, idCol: String = "doc_id", idsCol: String = "ids",
      fpp: Double = 0.01, maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(n >= 1, "decontaminateTokenNgramsBloom needs a positive n")
    val s = train.sparkSession
    import s.implicits._
    val (evalW, nEval, evalBytes) = Sizing.materializeSized(
      tokenWindowsAt(eval, idCol, idsCol, n, hashWindows)
        .select("gram").distinct())
    if (nEval == 0) // nothing to leak against — no contaminated docs
      // same schema (incl. nullability) as the normal path, so a caller
      // sharding the eval set can unionByName empty and non-empty shards
      return markRepr(Seq.empty[(Long, Long)].toDF(idCol, "n_hits"),
        hashWindows)
    require(nEval <= maxEvalWindows,
      s"decontaminateTokenNgramsBloom: eval set has $nEval distinct " +
        s"windows — the bloom is driver state, capped at $maxEvalWindows; " +
        "shard the eval set or raise n")
    // the filter rides the CLOSURE, not an explicit sparkContext
    // broadcast: task closures are stage-broadcast internally and
    // cleaned with the plan, where an explicit broadcast would leak one
    // resident bloom per invocation until app shutdown
    val bloom = evalW.stat.bloomFilter("gram", nEval, fpp)
    val cand =
      if (hashWindows) tokenWindowHashes(train, idCol, idsCol, n,
        keep = h => bloom.mightContainLong(h))
      else tokenWindows(train, idCol, idsCol, n,
        keep = g => bloom.mightContainString(g))
    // exact verify on the sliver; its build side is the full eval window
    // relation — same rule as the exact operator: past the caps, shuffle
    // the (bloom-shrunk) candidate sliver instead of forcing a huge build
    markRepr(cand
      .join(Sizing.broadcastIfFits(evalW, nEval, evalBytes), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")), hashWindows)
  }

  /** Matched-SPAN coverage decontamination — the metric the exact
    * window count can't give: a doc quoting one benchmark sentence and
    * a doc that IS a benchmark page both flag under
    * [[decontaminateTokenNgrams]], but their matched-token FRACTIONS
    * differ by orders of magnitude, and modern contamination audits
    * (the Llama-2 / PaLM reports) threshold on that fraction. Per
    * contaminated doc this emits the window hit count, the number of
    * DISTINCT token positions covered by at least one matching window
    * (overlapping windows don't double-count — the interval-union
    * semantics), and the doc's token length; the caller thresholds
    * covered/n_tokens. Integer columns only — no float crosses the
    * oracle hash.
    *
    * Scale shape: the corpus pass is the same ONE typed sliding
    * traversal as the rest of the family (windows carry their start
    * position — 8 extra bytes per CANDIDATE row only); hits and the
    * interval union come from ONE aggregate over the matched sliver
    * (contaminated docs × their matched windows), never the corpus, and
    * no join pairs two aggregates. `hashWindows`
    * collapses the join key to the int64 fingerprint as everywhere
    * else; the q166 oracle computes coverage over string windows, so
    * the gate asserts the hashed path's equality too.
    *
    * Known boundary: unlike `n_hits`, `covered` is NOT additive across
    * eval suites — position SETS union, and a count can't reconstruct
    * the union — so [[decontaminateTokenNgramsDelta]]'s maintenance
    * trick applies to hit counts only; a growing-suite coverage audit
    * recomputes against the combined suite (still one corpus
    * traversal).
    */
  def decontaminateTokenCoverage(train: DataFrame, eval: DataFrame, n: Int,
      idCol: String = "doc_id", idsCol: String = "ids",
      maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(n >= 1, "decontaminateTokenCoverage needs a positive n")
    val (evalW, nEval, evalBytes) = Sizing.materializeSized(
      tokenWindowsAt(eval, idCol, idsCol, n, hashWindows)
        .select("gram").distinct())
    require(nEval <= maxEvalWindows,
      s"decontaminateTokenCoverage: eval set has $nEval distinct windows " +
        s"— the broadcast side is capped at $maxEvalWindows; shard the " +
        "eval set or raise n")
    // interval union of n-token windows: each adds the tokens before the
    // next one starts, so one aggregate over the sliver gives both counts
    val next = lead("pos", 1).over(Window.partitionBy(idCol).orderBy("pos"))
    val counts = tokenWindowsPos(train, idCol, idsCol, n, hashWindows)
      .join(Sizing.broadcastIfFits(evalW, nEval, evalBytes), Seq("gram"))
      .select(col(idCol),
        least(lit(n.toLong), coalesce(next - col("pos"), lit(n.toLong))).as("__add"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), sum(col("__add")).as("covered"))
    val lens = train.select(col(idCol).cast("long"),
      size(col(idsCol)).cast("long").as("n_tokens"))
    // stamped like every hit-table producer in the family ([[reprKey]]):
    // a coverage table's n_hits is a valid delta-merge input
    markRepr(counts.join(lens, Seq(idCol))
      .select(col(idCol), col("n_hits"), col("covered"), col("n_tokens")),
      hashWindows)
  }

  /** Coverage-THRESHOLDED decontamination — the Llama-2/PaLM audit rule
    * turned into an actual corpus gate: a train doc drops only when the
    * matched-span coverage FRACTION ([[decontaminateTokenCoverage]])
    * exceeds the threshold — covered·10000 > maxCoverageBp·n_tokens,
    * integer basis points so no float ever enters the decision or the
    * oracle hash. The plain hit count ([[decontaminateTokenNgrams]])
    * can't express this policy: a long doc quoting one benchmark
    * sentence flags identically to a doc that IS a benchmark page, and
    * modern audits drop the latter while keeping (and reporting) the
    * former. Returns the SURVIVING corpus ([[decontaminate]]'s gate
    * convention) — the drop side is the contaminated sliver crossed
    * with the threshold, so the anti-join's build side is tiny and AQE
    * broadcasts it at any corpus size.
    */
  def decontaminateByCoverage(train: DataFrame, eval: DataFrame, n: Int,
      maxCoverageBp: Long = 8000L,
      idCol: String = "doc_id", idsCol: String = "ids",
      maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(maxCoverageBp >= 0 && maxCoverageBp <= 10000,
      s"maxCoverageBp is basis points in [0, 10000], got $maxCoverageBp")
    val dropped = decontaminateTokenCoverage(train, eval, n, idCol, idsCol,
        maxEvalWindows, hashWindows)
      .where(col("covered") * lit(10000L) >
        lit(maxCoverageBp) * col("n_tokens"))
      .select(col(idCol))
    train.join(dropped, Seq(idCol), "left_anti")
  }

  /** Contamination ATTRIBUTION — the report from the eval suite's side:
    * per eval doc, how many distinct train docs quote it and how many
    * window pairs match. [[decontaminateTokenNgrams]] answers "which
    * train docs must go"; this answers "which BENCHMARK is compromised
    * and how badly" — the hygiene report a suite owner reads before
    * trusting a score. Eval windows keep their doc attribution (no
    * distinct — a gram shared by two eval docs attributes to both, and
    * pair counts mirror the twin's join semantics exactly). Same caps,
    * broadcast→shuffle fallback, and int64 representation switch as
    * the family — and the fallback matters SOONER here: the
    * doc-attributed relation is fatter than the family's distinct gram
    * sets (every eval doc's every window plus an 8-byte doc id).
    */
  def contaminationByEvalDoc(train: DataFrame, eval: DataFrame, n: Int,
      idCol: String = "doc_id", idsCol: String = "ids",
      maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(n >= 1, "contaminationByEvalDoc needs a positive n")
    val (evalW, nEval, evalBytes) = Sizing.materializeSized(
      tokenWindowsAt(eval, idCol, idsCol, n, hashWindows)
        .select(col(idCol).as("eval_doc_id"), col("gram")))
    require(nEval <= maxEvalWindows,
      s"contaminationByEvalDoc: eval set has $nEval windows — the " +
        s"build side is capped at $maxEvalWindows; shard the eval set")
    tokenWindowsAt(train, idCol, idsCol, n, hashWindows)
      .join(Sizing.broadcastIfFits(evalW, nEval, evalBytes), Seq("gram"))
      .groupBy(col("eval_doc_id"))
      .agg(countDistinct(col(idCol)).as("n_train_docs"),
        count(lit(1)).as("n_matched"))
  }

  /** [[tokenWindows]] with each window's 1-based START position riding
    * along — the span-coverage operator's corpus side. Same one-pass
    * typed traversal; the extra long only exists on rows that survive
    * into the join.
    */
  private def tokenWindowsPos(df: DataFrame, idCol: String, idsCol: String,
      n: Int, hashWindows: Boolean): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    if (hashWindows)
      df.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
        .as[(Long, Seq[Int])]
        .flatMap { case (id, ids) =>
          if (ids != null && ids.length >= n) {
            val arr = asIndexed(ids)
            (0 to arr.length - n).iterator
              .map(p => (id, p + 1L, hashTokenWindow(arr, p, n)))
          } else Iterator.empty
        }
        .toDF(idCol, "pos", "gram")
    else
      df.select(col(idCol).cast("long"), col(idsCol).cast("array<int>"))
        .as[(Long, Seq[Int])]
        .flatMap { case (id, ids) =>
          if (ids != null && ids.length >= n)
            ids.sliding(n).zipWithIndex
              .map { case (w, p) => (id, p + 1L, w.mkString(" ")) }
          else Iterator.empty
        }
        .toDF(idCol, "pos", "gram")
  }

  /** Incremental decontamination for a GROWING eval suite: benchmark
    * sets accrete over a training run's lifetime, and a full recompute
    * re-matches the corpus against every window of every benchmark ever
    * added. This maintains the per-doc hit table instead: the delta
    * windows (`evalNew`'s distinct grams MINUS `evalOld`'s) are matched
    * against the corpus, and the counts MERGE additively into
    * `oldHits` — exact because each corpus window carries one gram and
    * the old/delta gram sets are disjoint by construction, so membership
    * in the union splits into two disjoint counts. The result EQUALS
    * `decontaminateTokenNgrams(train, evalOld ++ evalNew, n)` AT THE
    * SAME `hashWindows` SETTING — set algebra guarantees it even under
    * fingerprint collisions (hashSet(old) ∪ (hashSet(new) \
    * hashSet(old)) == hashSet(old ∪ new)). `oldHits` MUST have been
    * computed with the same representation: an exact-string hit table
    * merged with a hashed delta opens the one under-flag channel the
    * hashed family otherwise excludes (a novel new-suite gram whose
    * fingerprint collides with an OLD gram would vanish from the delta
    * while the old table never counted it). ENFORCED, not convention:
    * every hit-table producer in the family stamps `n_hits` with a
    * [[reprKey]] representation marker (metadata survives parquet
    * round-trips), and this operator requires the marker to equal its
    * own `hashWindows` — an unmarked or mixed-representation merge
    * fails loudly up front instead of silently under-flagging. The
    * q165 oracle (the combined-eval twin) asserts the equality end to
    * end.
    *
    * At 100 TB: the corpus pass is one narrow traversal either way, but
    * the build side shrinks from every-benchmark-ever to the new
    * benchmark's novel windows (usually none — most additions share
    * boilerplate grams with predecessors), the old eval sets themselves
    * need not be retained (only their hit table), and with `hashWindows`
    * the delta relation is 8 bytes/window. Same caps and broadcast
    * fallback as the base operator.
    */
  def decontaminateTokenNgramsDelta(train: DataFrame, oldHits: DataFrame,
      evalOld: DataFrame, evalNew: DataFrame, n: Int,
      idCol: String = "doc_id", idsCol: String = "ids",
      maxEvalWindows: Long = 10000000L,
      hashWindows: Boolean = false): DataFrame = {
    require(n >= 1, "decontaminateTokenNgramsDelta needs a positive n")
    requireRepr(oldHits, hashWindows, "decontaminateTokenNgramsDelta")
    val oldW = tokenWindowsAt(evalOld, idCol, idsCol, n, hashWindows)
      .select("gram").distinct()
    val (deltaW, nDelta, deltaBytes) = Sizing.materializeSized(
      tokenWindowsAt(evalNew, idCol, idsCol, n, hashWindows)
        .select("gram").distinct()
        .join(oldW, Seq("gram"), "left_anti"))
    // the docstring's common case — a new benchmark with zero novel
    // windows — must not pay the corpus traversal against an empty
    // build side
    if (nDelta == 0)
      return markRepr(oldHits.select(col(idCol), col("n_hits")),
        hashWindows)
    require(nDelta <= maxEvalWindows,
      s"decontaminateTokenNgramsDelta: new eval windows number $nDelta — " +
        s"the build side is capped at $maxEvalWindows; shard the delta")
    val deltaHits = tokenWindowsAt(train, idCol, idsCol, n, hashWindows)
      .join(Sizing.broadcastIfFits(deltaW, nDelta, deltaBytes), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    markRepr(oldHits.select(col(idCol), col("n_hits").as("__old"))
      .join(deltaHits.select(col(idCol), col("n_hits").as("__delta")),
        Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(col("__old"), lit(0L)) + coalesce(col("__delta"), lit(0L)))
          .as("n_hits")), hashWindows)
  }

  /** Scale path for [[decontaminate]]: a driver-built Bloom filter over
    * the eval shingles (eval/benchmark sets are small BY DEFINITION — the
    * guard refuses loudly otherwise) broadcasts inside a codegen'd
    * membership expression, so the corpus-wide pass is a NARROW filter —
    * no corpus explode, no corpus shuffle. Only the candidate survivors
    * (true contaminated docs plus the fpp false-positive sliver) pay the
    * exact shingle semi-join verify. Bloom filters have NO false
    * negatives, so the result EQUALS [[decontaminate]]'s exactly — which
    * is what the q96 oracle asserts.
    *
    * At 100 TB this is the difference between exploding 10¹² shingle rows
    * through a shuffle (exact path) and streaming the corpus once through
    * a few hundred KB of broadcast bits.
    */
  def decontaminateBloom(train: DataFrame, eval: DataFrame, shingleN: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      fpp: Double = 0.01, maxEvalShingles: Long = 10000000L): DataFrame = {
    def shArr(c: Column) =
      array_distinct(graft.functions.TextExpressions.shingles(c, shingleN))
    // materialize: the count, the bloom build and the verify semi-join
    // would otherwise each run the eval branch's shingle pass
    val (evalShingles, n) = Sizing.materialize(eval
      .select(explode(shArr(col(textCol))).as("sh")).distinct())
    if (n == 0) return train // nothing to leak against — exact no-op
    require(n <= maxEvalShingles,
      s"decontaminateBloom: eval set has $n distinct shingles — the bloom " +
        s"is driver state, capped at $maxEvalShingles; shard the eval set " +
        "or use the exact decontaminate()")
    val bloom = evalShingles.stat.bloomFilter("sh", n, fpp)
    // ONE shingle-array evaluation per corpus row: bloom-filter the array's
    // ELEMENTS and explode only the hit sliver (a clean doc emits zero
    // rows from the Generate — the pass stays narrow and shuffle-free).
    // A separate candidate `where(exists(...))` + verify explode would
    // recompute the array for every surviving row.
    val hitShingles = train.select(col(idCol),
      explode(filter(shArr(col(textCol)),
        s => graft.functions.SketchExpressions.mightContain(s, bloom))).as("sh"))
    val contaminated = hitShingles
      .join(evalShingles, Seq("sh"), "left_semi")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** NEAR-dup decontamination: [[decontaminate]] drops a train doc that
    * shares ANY shingle with the eval set — right for verbatim leakage,
    * too blunt for paraphrased/lightly-edited leakage where whole-doc
    * similarity is the signal. This variant drops a train doc only when
    * it is a minhash-LSH candidate of some eval doc AND the exact
    * distinct-shingle Jaccard verifies ≥ `threshold`.
    *
    * Scale shape: signatures are the narrow fused kernel (no shuffle);
    * candidate generation is a (band, key) equi-join — linear, never
    * train × eval; ONLY candidate pairs pay the exact verify, and the
    * intersection join is routed through the candidate set, so its size
    * is Σ_candidates |A∩B|, bounded by candidates × doc length.
    */
  def decontaminateNearDup(train: DataFrame, eval: DataFrame,
      threshold: Double = 0.5, bands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    // the verify counts SHARED shingles (inner join): a candidate pair
    // with zero overlap produces no intersection row, which only matches
    // "jaccard >= threshold" when the threshold is positive
    require(threshold > 0, "decontaminateNearDup needs threshold > 0 — " +
      "at 0 every banded candidate would drop; use decontaminate() for " +
      "any-overlap semantics")
    val cand = bandedKeys(train, bands, rowsPerBand, shingleN, idCol,
        textCol, "tid")
      .join(bandedKeys(eval, bands, rowsPerBand, shingleN, idCol,
        textCol, "eid"), Seq("band", "key"))
      .select("tid", "eid").distinct()
    def shingleSet(df: DataFrame, out: String, arr: String) =
      df.select(col(idCol).as(out),
        array_distinct(graft.functions.TextExpressions
          .shingles(col(textCol), shingleN)).as(arr))
    // only candidate train docs carry their shingle set into the verify
    // (semi-gated, as the explode form was); the jaccard test runs as
    // ONE fused kernel per candidate pair on the two distinct-shingle
    // ARRAYS (r18) — replacing the explode → intersection join → count
    // aggregate → two size aggregates shape (~5 exchanges). The kernel's
    // i >= 1 leg reproduces "no intersection row, no drop": zero-overlap
    // candidates (and null-text docs, whose array is null) never match
    val ts = shingleSet(train, "tid", "__ta")
      .join(cand.select("tid").distinct(), Seq("tid"), "left_semi")
    val es = shingleSet(eval, "eid", "__ea")
    val bad = cand.join(ts, Seq("tid")).join(es, Seq("eid"))
      .where(graft.functions.TextExpressions.jaccardMeets(
        col("__ta"), col("__ea"), threshold))
      .select(col("tid").as(idCol)).distinct()
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** Size-switched embedding near-dup — the registered default. Below
    * `allPairsRowLimit` rows the exact all-pairs form runs (it IS the
    * ground truth, and n² of a small n is cheap). Above it, candidates come
    * from an IVF cell equi-join: a deterministic k-means index assigns each
    * vector to its `nprobe` nearest cells, pairs sharing a cell verify with
    * the exact cosine kernel — candidate generation is linear in corpus ×
    * nprobe and shuffles on the cell key, never a nested-loop join. Recall
    * is bounded by cell assignment (near-identical vectors land in the same
    * cells with overwhelming probability — the near-DUP regime, unlike
    * generic ANN search); precision stays 1 (exact verify).
    */
  def embeddingNearDupPairsAuto(embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allPairsRowLimit: Long = 100000, cells: Int = 256, nprobe: Int = 2,
      maxCellRows: Long = 4096): DataFrame = {
    if (Sizing.countAtMost(embeddings, allPairsRowLimit))
      embeddingNearDupPairs(embeddings, threshold, idCol, vecCol)
    else {
      val cent = Similarity.kmeans(embeddings, cells, 2, idCol, vecCol)
      val asg = Similarity.ivfAssignN(embeddings, cent, nprobe, idCol, vecCol)
        .withColumn("nrm", VectorFunctions.norm(col(vecCol)))
      boundedCellPairs(asg, threshold, maxCellRows, idCol, vecCol)
    }
  }

  /** Attach block ids for the bounded within-cell self-join: each cell is
    * split into `ceil(cell_rows / maxCellRows)` deterministic hash blocks.
    * Cell row counts are index metadata (≤ cells × nprobe rows), aggregated
    * once and broadcast back, so the blocking costs one extra narrow pass
    * over the assignment — never a corpus-sized shuffle. Exposed at package
    * visibility so tests can pin the per-block bound directly.
    */
  private[graft] def withCellBlocks(asg: DataFrame, maxCellRows: Long,
      idCol: String): DataFrame = {
    require(maxCellRows >= 1, "maxCellRows must be positive")
    val counts = asg.groupBy("cell").agg(count(lit(1)).as("__cnt"))
    asg.join(broadcast(counts), Seq("cell"))
      .withColumn("__nblk",
        ceil(col("__cnt").cast("double") / maxCellRows).cast("int"))
      .withColumn("__blk",
        pmod(xxhash64(col(idCol)), col("__nblk").cast("long")).cast("int"))
      .drop("__cnt")
  }

  /** Within-cell pair generation with a per-task size bound — the fix for
    * the clustered-corpus scale-killer where one hot k-means cell holds
    * O(n) vectors and a naive cell self-join goes quadratic on a single
    * straggler task. Cells at or under `maxCellRows` behave exactly as the
    * plain cell equi-join (one block). Oversized cells decompose into the
    * standard all-pairs triangle over hash blocks: a row in block `b`
    * serves as the LO side of block-pair keys (b, hi≥b) and the HI side of
    * keys (lo≤b, b), so every unordered block pair — including (b, b) —
    * meets under exactly one `(cell, lo, hi)` join key. Each key carries at
    * most ~2·maxCellRows rows (hash-balanced), so the quadratic work is
    * spread over B(B+1)/2 bounded tasks instead of one. Replication factor
    * is (B+1)/2 per side — linear in corpus size for a fixed cap — and the
    * pair SET is exactly the plain join's: no recall is traded away, unlike
    * cell re-clustering, which can separate true near-duplicates.
    */
  private[graft] def boundedCellPairs(asg: DataFrame, threshold: Double,
      maxCellRows: Long, idCol: String, vecCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    val blocked = withCellBlocks(asg, maxCellRows, idCol)
    val lo = blocked
      .withColumn("__hi", explode(sequence(col("__blk"), col("__nblk") - 1)))
      .select((Seq(col("cell"), col("__blk").as("__lo"), col("__hi"),
        col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na")) ++
        carryCols.map(c => col(c).as(s"__${c}_a"))): _*)
    val hi = blocked
      .withColumn("__lo", explode(sequence(lit(0), col("__blk"))))
      .select((Seq(col("cell"), col("__lo"), col("__blk").as("__hi"),
        col(idCol).as("id_b"), col(vecCol).as("vb"), col("nrm").as("nb")) ++
        carryCols.map(c => col(c).as(s"__${c}_b"))): _*)
    lo.join(hi, Seq("cell", "__lo", "__hi"))
      // cross-block keys pair each row exactly once with roles fixed by
      // block, so the canonical id order is restored AFTER the (symmetric)
      // cosine; the diagonal (lo = hi) key needs the id filter to halve its
      // symmetric duplicates
      .where(col("__lo") < col("__hi") || col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosineWithNorms(
        VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb")))
      .where(col("cos") > threshold)
      // carried columns swap with their ids when the canonical order flips
      .select((Seq(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos")) ++
        carryCols.flatMap(c => Seq(
          when(col("id_a") < col("id_b"), col(s"__${c}_a"))
            .otherwise(col(s"__${c}_b")).as(s"${c}_a"),
          when(col("id_a") < col("id_b"), col(s"__${c}_b"))
            .otherwise(col(s"__${c}_a")).as(s"${c}_b")))): _*)
      .distinct()
  }

  /** Span-level exact dedup — the fixed-length-shingle variant of
    * ExactSubstr from Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022): every k-token window whose text
    * occurs more than once ANYWHERE in the corpus (other documents or
    * elsewhere in the same one) marks its tokens as duplicated, and
    * overlapping-or-adjacent marked windows merge into maximal per-document
    * span extents (gaps-and-islands). Catches long verbatim spans —
    * boilerplate, licenses, quoted passages — that whole-document hashing
    * ([[exact]]) and near-dup banding ([[minhashLshPairs]]/[[simhash]])
    * both miss because the surrounding text differs.
    *
    * Returns one row per maximal duplicated span:
    * `(doc_id, span_start, span_end, dup_tokens)`, token positions 0-based
    * inclusive.
    *
    * Scale shape: shingle occurrences are corpus-token-scale but the plan
    * is LINEAR — one shuffle on the 128-bit shingle digest (a window
    * count, never a self-join, so no candidate pair materializes), one
    * shuffle on the doc id for the extent merge; the islands groupBy
    * reuses the doc partitioning. Unlike the paper's suffix array this is
    * two ordinary exchanges at any corpus size, at the cost of fixing the
    * match length to k.
    */
  def duplicatedSpans(docs: DataFrame, shingleK: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shingleK >= 1, "duplicatedSpans needs a positive shingle length")
    // documents shorter than k tokens cannot contain a k-token span
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= shingleK)
    val sh = toks.select(col(idCol),
      posexplode(transform(
        sequence(lit(0), size(col("__toks")) - shingleK),
        i => md5(array_join(slice(col("__toks"), i + 1, lit(shingleK)), " "))))
        .as(Seq("pos", "h")))
    val dup = sh
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("__c") > 1)
      .select(col(idCol), col("pos").cast("long").as("pos"))
    // islands: a new span starts when this window no longer overlaps nor
    // adjoins the union of previous windows (all windows have length k, so
    // the running max end is lag(pos)+k-1; strictly-greater than lag+k
    // means a genuine gap). First row per doc: lag is null → no break.
    val wDoc = Window.partitionBy(idCol).orderBy("pos")
    val spans = dup
      .withColumn("__brk",
        when(col("pos") > lag("pos", 1).over(wDoc) + shingleK, 1L)
          .otherwise(0L))
      .withColumn("__g", sum("__brk").over(wDoc))
      .groupBy(col(idCol), col("__g"))
      .agg(min("pos").as("span_start"), max("pos").as("__maxp"))
    spans.select(col(idCol), col("span_start"),
        (col("__maxp") + shingleK - 1).as("span_end"),
        (col("__maxp") + shingleK - col("span_start")).as("dup_tokens"))
  }

  /** Variable-length maximal matched spans — the pairwise complement of
    * [[duplicatedSpans]], closing its fixed-k limitation: where
    * `duplicatedSpans` reports per-document extents of "covered by SOME
    * duplicated k-window" (windows may each match a different partner),
    * this reports, per document PAIR, every maximal run of tokens the two
    * documents share verbatim — a 200-token quote is one row with
    * `match_len = 200`, the Lee et al. (ACL 2022) suffix-array semantics
    * recovered from k-gram seeds.
    *
    * Extension trick: if windows (a,i)~(b,j) and (a,i+2)~(b,j+2) match,
    * the intermediate (a,i+1)~(b,j+1) provably matches too (its tokens are
    * covered by the two flanking equalities), so maximal matches are
    * exactly the CONSECUTIVE runs of seed matches along a (doc_a, doc_b,
    * i−j) diagonal — a gaps-and-islands pass over the seed join, no
    * iterative doubling needed.
    *
    * Returns `(doc_a, doc_b, a_start, b_start, match_len)`, positions
    * 0-based token indices, `doc_a < doc_b` (or `doc_a = doc_b` with
    * `a_start < b_start` for internal repetition).
    *
    * Scale shape: one shuffle on the 128-bit shingle digest seeds the
    * join; a hash occurring c times yields c(c−1)/2 seed pairs, so
    * `maxShingleFreq` drops ubiquitous-boilerplate hub shingles (freq >
    * cap) before they go quadratic — those belong to [[duplicatedSpans]]/
    * [[exciseDuplicatedSpans]], which never pairs; [[hubShingleStats]]
    * reports how much mass the cap excluded. One further shuffle on
    * (doc_a, doc_b, diagonal) merges the islands. Both exchanges are
    * candidate-sized, never corpus²: at 100 TB the plan is linear in
    * matched content.
    */
  def maximalMatchedSpans(docs: DataFrame, shingleK: Int = 8,
      maxShingleFreq: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shingleK >= 1, "maximalMatchedSpans needs a positive shingle length")
    require(maxShingleFreq >= 2, "maxShingleFreq < 2 would drop every match")
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= shingleK)
    val sh = toks.select(col(idCol).as("__id"),
      posexplode(transform(
        sequence(lit(0), size(col("__toks")) - shingleK),
        i => md5(array_join(slice(col("__toks"), i + 1, lit(shingleK)), " "))))
        .as(Seq("pos", "h")))
    val occ = sh
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("__c") > 1 && col("__c") <= maxShingleFreq)
      .select(col("__id"), col("pos").cast("long").as("pos"), col("h"))
    val left = occ.select(col("h"), col("__id").as("doc_a"), col("pos").as("pa"))
    val right = occ.select(col("h"), col("__id").as("doc_b"), col("pos").as("pb"))
    val seeds = left.join(right, Seq("h"))
      .where(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pa") < col("pb")))
      .withColumn("__diag", col("pa") - col("pb"))
    val w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("pa")
    seeds
      .withColumn("__brk",
        when(col("pa") > lag("pa", 1).over(w) + 1, 1L).otherwise(0L))
      .withColumn("__g", sum("__brk").over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("__diag"), col("__g"))
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (max("pa") - min("pa") + shingleK).as("match_len"))
      .select("doc_a", "doc_b", "a_start", "b_start", "match_len")
  }

  /** Hub-shingle diagnostic for [[maximalMatchedSpans]]: the span pairing
    * silently drops shingles occurring more than `maxShingleFreq` times
    * (ubiquitous boilerplate whose c(c−1)/2 seed pairs would go quadratic)
    * — correct for scale, but at 100 TB a user needs to SEE how much
    * content was excluded from pairing. One row:
    *
    *  - `total_occurrences`  — every k-token window in the corpus;
    *  - `dup_occurrences`    — windows whose text occurs more than once
    *                           (the universe span pairing draws from);
    *  - `hub_shingles`       — distinct window texts above the frequency
    *                           cap (excluded from pairing);
    *  - `hub_occurrences`    — windows those hub texts account for (the
    *                           excluded mass).
    *
    * Cost: the SAME single shuffle on the shingle digest the span operators
    * pay, then a scalar aggregate over per-digest counts — safe to run
    * alongside them at any corpus size.
    */
  def hubShingleStats(docs: DataFrame, shingleK: Int = 8,
      maxShingleFreq: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shingleK >= 1, "hubShingleStats needs a positive shingle length")
    val toks = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= shingleK)
    val sh = toks.select(
      explode(transform(
        sequence(lit(0), size(col("__toks")) - shingleK),
        i => md5(array_join(slice(col("__toks"), i + 1, lit(shingleK)), " "))))
        .as("h"))
    sh.groupBy("h").agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum("c"), lit(0L)).as("total_occurrences"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .as("dup_occurrences"),
        count(when(col("c") > maxShingleFreq, lit(1)))
          .as("hub_shingles"),
        coalesce(sum(when(col("c") > maxShingleFreq, col("c"))), lit(0L))
          .as("hub_occurrences"))
  }

  /** Excise every duplicated span found by [[duplicatedSpans]]: rebuild the
    * text keeping only tokens no span covers. Conservative variant — ALL
    * occurrences of a duplicated window are removed, not all-but-one (an
    * engine with no global order has no canonical "first" occurrence; at
    * corpus scale reproducibility beats keeping one copy of boilerplate).
    * Documents with no duplicated span pass through untouched, including
    * their original whitespace.
    */
  def exciseDuplicatedSpans(docs: DataFrame, shingleK: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = duplicatedSpans(docs, shingleK, idCol, textCol)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(
            filter(tokens(col(textCol)), (t, i) =>
              !exists(col("__spans"), sp =>
                i.cast("long").between(sp.getField("s"), sp.getField("e")))),
            " ")))
      .drop("__spans")
  }

  // ------------------------------------------------ incremental dedup index

  /** LSH band keys of a doc set in index-state shape — the persisted
    * state of the incremental dedup index ([[dedupIndexAddBatch]]):
    * (id, band, key, hashes), O(accepted × bands) rows, append-only.
    * The same [[bandedKeys]] rule every batch operator uses, so index
    * state and one-shot dedup can never disagree on candidates. The
    * `hashes` column (each doc's distinct shingle xxhash64 set, on the
    * band-0 row only) is the doc's persisted WITNESS SET: once a doc is
    * admitted, every future batch verifies against these hashes and its
    * text is never read again.
    */
  def dedupIndexKeys(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    indexRows(witnessKeys(docs, bands, rowsPerBand, shingleN, idCol,
      textCol), idCol)

  /** A batch's band-key rows as the verdict needs them: (id, band, key,
    * keys, hashes, text). Every band row carries the doc's `keys` (all
    * its band keys, band order) and its `hashes` (distinct shingle
    * xxhash64 set), so a candidate pair verifies without a lookup join;
    * `text` rides on the band-0 row only (a doc always has every band,
    * so band 0 is a canonical representative). The hashes come from one
    * fused kernel, value-identical to
    * `transform(array_distinct(shingles(text, n)), xxhash64)`.
    */
  private def witnessKeys(docs: DataFrame, bands: Int, rowsPerBand: Int,
      shingleN: Int, idCol: String, textCol: String): DataFrame = {
    val keyed = withBandKeys(docs.select(col(idCol), col(textCol)),
      textCol, bands, rowsPerBand, shingleN)
    bandRows(keyed.select(col(idCol), col("keys"),
        graft.functions.TextExpressions.shingleHashes(col(textCol), shingleN)
          .as("hashes"), col(textCol)),
      idCol, bands)
      .withColumn(textCol, when(col("band") === 0, col(textCol)))
  }

  /** Band-key rows in index-state shape: the witness set kept on the
    * band-0 row only. */
  private def indexRows(keys: DataFrame, idCol: String): DataFrame =
    keys.select(col(idCol), col("band"), col("key"),
      when(col("band") === 0, col("hashes")).as("hashes"))

  /** Online near-dup dedup — the incremental-maintenance member of the
    * dedup family (the inverted index and the ANN index have the same
    * shape in `Retrieval.applyFeed` / `Similarity.applyChangeFeed`): an
    * index of ACCEPTED documents' band keys absorbs batches one at a
    * time, so a 100 TB corpus dedups arrival-by-arrival without ever
    * rescanning what it already accepted.
    *
    * Per batch, deterministically and with no iteration:
    *  1. a batch doc REJECTS AGAINST THE INDEX when it shares a band key
    *     with an accepted doc AND the shingle-hash jaccard against that
    *     doc's persisted witness set (the `hashes` column of the index
    *     state) meets `threshold` — the index always wins, whatever the
    *     ids;
    *  2. a batch doc rejects WITHIN THE BATCH when a banded candidate
    *     with a SMALLER id verifies — the drop-the-larger-id pair rule
    *     the batch operators use, chosen over cluster representatives
    *     precisely because rejection depends only on the pair, never on
    *     the witness's own fate (on a chain a→b→c this drops both b and
    *     c — documented over-drop, the price of a one-pass rule);
    *  3. survivors fold into the state: index ∪ bandKeys(accepted).
    *
    * Scale shape (see [[dedupIndexVerdict]]): candidates come from
    * band-key equi-joins (never all-pairs) and verify with one fused
    * jaccard kernel on the PERSISTED per-doc shingle-hash sets, so
    * per-batch work is O(batch + candidates) and accepted docs' TEXT is
    * never read after their admission batch: a 100 TB accepted corpus
    * costs each batch only its band-key join, not a lake re-scan.
    * Hash-set jaccard equals the string-exact jaccard up to 64-bit
    * xxhash collisions (the plain-Scala string-exact replay in
    * PropertySpec pins the equality).
    *
    * Requires globally unique ids across the index and all batches.
    * Returns (accepted batch docs, updated index keys), both LAZY over
    * one verdict; persist them when both are consumed. The accepted
    * frame is the batch's own rows, every column, whose id the verdict
    * accepted.
    */
  def dedupIndexAddBatch(indexKeys: DataFrame, batch: DataFrame,
      threshold: Double = 0.3, bands: Int = 4,
      rowsPerBand: Int = 2, shingleN: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val (accepted, keys) = dedupIndexParts(dedupIndexVerdict(indexKeys,
      batch, threshold, bands, rowsPerBand, shingleN, idCol, textCol),
      idCol, textCol)
    (batch.join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
      indexKeys.unionByName(keys))
  }

  /** One batch's judgment against `indexKeys` (the rules of
    * [[dedupIndexAddBatch]]), LAZY over ONE eager materialization of
    * the batch's [[witnessKeys]]: one row per batch doc with its text,
    * its witness `hashes`, its band `keys` (band order) and the
    * `accepted` flag.
    *
    * Plan, in one exchange:
    *  - the batch's key rows are the probe side of ONE band-key
    *    equi-join against the index's and the batch's own key rows,
    *    broadcast only when their observed count and estimated bytes
    *    are within [[Sizing.broadcastIfFits]]'s caps (every key row
    *    carries the doc's arrays, so rows alone do not bound it;
    *    otherwise the planner decides);
    *  - an index doc witnesses on any shared key and brings its
    *    persisted band-0 witness set by id; a batch doc witnesses only
    *    a larger id, with its set on every key row, and only on the
    *    lowest band the pair shares, so each batch pair verifies once
    *    with no distinct (an index pair verifies once per shared band);
    *  - `jaccard_meets` is the fused threshold test (as a plain SQL
    *    filter the optimizer would push `size(array_intersect)` into
    *    the join condition and evaluate it three times per pair); null
    *    or empty witness sets (null-text docs) never reject;
    *  - the rejections and the batch's band-0 rows meet in ONE
    *    aggregate on the doc id, so the flag, the text, the hashes and
    *    the keys come out of one shuffle.
    */
  private[graft] def dedupIndexVerdict(indexKeys: DataFrame,
      batch: DataFrame, threshold: Double = 0.3, bands: Int = 4,
      rowsPerBand: Int = 2, shingleN: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(threshold > 0, "dedupIndexAddBatch needs threshold > 0 — a " +
      "zero-overlap banded candidate produces no intersection row")
    val (keys, keyRows, keyBytes) = Sizing.materializeSized(witnessKeys(
      batch, bands, rowsPerBand, shingleN, idCol, textCol))
    val side = Sizing.broadcastIfFits(keys.select(col("band"), col("key"),
      col(idCol).as("bid"), col("keys").as("__bk"),
      col("hashes").as("__bh")), keyRows, keyBytes)
    // one candidate join for both rules: index rows witness on any
    // shared key, batch rows only a larger id, and only on the lowest
    // band the two docs share, so a batch pair verifies once
    val witnesses = indexKeys
      .select(col("band"), col("key"), col(idCol).as("aid"),
        lit(null).cast("array<string>").as("__ak"),
        lit(null).cast("array<long>").as("__ah"), lit(true).as("__idx"))
      .unionByName(keys.select(col("band"), col("key"), col(idCol).as("aid"),
        col("keys").as("__ak"), col("hashes").as("__ah"),
        lit(false).as("__idx")))
    val lowestShared = (0 until bands).map { b =>
      lit(b) >= col("band") || col("__ak")(b) =!= col("__bk")(b)
    }.reduce(_ && _)
    val indexSets = indexKeys.where(col("band") === 0)
      .select(col(idCol).as("aid"), col("hashes").as("__ih"))
    val rejected = witnesses.join(side, Seq("band", "key"))
      .where(col("__idx") || (col("aid") < col("bid") && lowestShared))
      .join(indexSets, Seq("aid"), "left")
      .where(graft.functions.TextExpressions.jaccardMeets(
        col("__bh"), coalesce(col("__ah"), col("__ih")), threshold))
      .select(col("bid").as(idCol), lit(true).as("__rej"))
    // each doc's one band-0 row is its payload; collect_list keeps the
    // aggregate hash-based (an object buffer), where first() would sort
    keys.where(col("band") === 0)
      .select(col(idCol), struct(col(textCol), col("hashes"), col("keys"))
        .as("__doc"), lit(false).as("__rej"))
      .unionByName(rejected, allowMissingColumns = true)
      .groupBy(idCol)
      .agg(collect_list("__doc")(0).as("__doc"), max("__rej").as("__rej"))
      .select(col(idCol), col("__doc")(textCol).as(textCol),
        col("__doc.hashes").as("hashes"), col("__doc.keys").as("keys"),
        (!col("__rej")).as("accepted"))
  }

  /** The accepted docs (id, text) and their index-state key rows, as two
    * narrow projections of a [[dedupIndexVerdict]]. */
  private[graft] def dedupIndexParts(verdict: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    val ok = verdict.where(col("accepted"))
    (ok.select(col(idCol), col(textCol)),
      indexRows(ok.select(col(idCol),
        posexplode(col("keys")).as(Seq("band", "key")), col("hashes")), idCol))
  }

  /** Unlearn docs from the dedup index (the GDPR-erasure path the
    * versioned lake and the ANN index already have): drop `ids` from the
    * band-key state and the accepted set. Two anti-joins — delta-sized,
    * broadcastable when the erasure list is. Semantics are forward-only
    * and deterministic: removed docs stop acting as witnesses from the
    * NEXT batch on, but documents they already rejected stay rejected
    * (no retroactive re-admission — an erased doc's past effect on the
    * corpus is not re-litigated; if the content itself re-arrives it is
    * judged fresh against the post-removal index, see the q136 replay).
    */
  def dedupIndexRemove(indexKeys: DataFrame, acceptedDocs: DataFrame,
      ids: DataFrame, idCol: String = "doc_id")
      : (DataFrame, DataFrame) = {
    val doomed = ids.select(col(idCol))
    (acceptedDocs.join(doomed, Seq(idCol), "left_anti"),
      indexKeys.join(doomed, Seq(idCol), "left_anti"))
  }
}
