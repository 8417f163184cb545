package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Hashing

/** Deduplication operators for LLM training-data pipelines, in rising
  * fuzziness: exact, word-n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup (the latter in [[Similarity]]).
  *
  * Scale design:
  *  - Exact dedup groups on a 64-bit text hash — the shuffle carries
  *    an 8-byte key + fixed-width buffers, not documents — with an
  *    exact text-grouped resolve pass over (rare) collided buckets.
  *  - Candidate generation is always *blocked* (LSH bands / shared
  *    rare shingles), never all-pairs. Document-frequency capping
  *    drops stop-shingles so hot buckets can't quadratic-blow-up —
  *    the standard skew guard for LSH joins.
  *  - Verification joins happen only on candidate pairs.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default bucket-occupancy cap for the banded candidate joins —
    * the threshold past which a bucket is "hot": the self-join emits
    * ~occupancy² candidate rows from it, so hot buckets are the (only)
    * quadratic surface of the LSH family. The capped operators
    * sub-split at this size by default; the uncapped opt-outs probe
    * against it and warn (see [[lastOccupancyReport]]).
    */
  val DefaultOccupancyCap: Int = 8

  /** What the occupancy guardrail observed on its most recent probe:
    * hottest bucket, number of buckets past the cap, and whether the
    * operator ran capped (sub-splitting — reduced in-bucket recall) or
    * uncapped (quadratic candidates). Test/monitoring seam; `None`
    * after a probe that found no hot bucket.
    */
  final case class OccupancyReport(
      op: String, capped: Boolean, cap: Int, maxBucket: Long, nHot: Long)

  private[graft] val lastOccupancyReport =
    new java.util.concurrent.atomic.AtomicReference[Option[OccupancyReport]](None)

  /** Public accessor for [[lastOccupancyReport]]: the programmatic
    * active-cap signal (r15). A dedup/kNN consumer that must not
    * quietly under-merge checks this after materializing a banded
    * operator's result — `Some(r)` with `r.capped` means the cap
    * sub-split ≥1 bucket and in-bucket recall is reduced; the log-only
    * warning was too easy to miss in a pipeline. Query it AFTER the
    * consuming action: the probe runs at operator-construction time,
    * so the report describes the most recently CONSTRUCTED banded op.
    */
  def occupancyReport: Option[OccupancyReport] = lastOccupancyReport.get()

  /** The guardrail probe behind the banded self-joins: one aggregate
    * job over the (already eagerly materialized) banded frame — bucket
    * keys only, never text — recording the hottest bucket and warning
    * loudly when any bucket exceeds `cap`. On the uncapped paths the
    * warning is the missing guard the sf1 smoke motivated (28× wall at
    * 10× input from hot buckets); on the capped paths it is the
    * runtime signal that the cap is ACTIVE, i.e. output differs from
    * the uncapped form because in-bucket pairs split across
    * sub-buckets drop. `remedy` names the caller-actionable fix.
    */
  private[graft] def occupancyProbe(
      banded: DataFrame, keys: Seq[String], cap: Int,
      op: String, capped: Boolean, remedy: String): Unit = {
    val row = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))
      .agg(
        coalesce(max(col("bn")), lit(0L)).as("mx"),
        coalesce(count(when(col("bn") > cap, lit(1))), lit(0L)).as("n_hot"))
      .head()
    val mx = row.getLong(0)
    val nHot = row.getLong(1)
    if (mx > cap) {
      lastOccupancyReport.set(Some(OccupancyReport(op, capped, cap, mx, nHot)))
      if (capped)
        log.warn(s"$op: occupancy cap $cap is ACTIVE - $nHot bucket(s) above " +
          s"the cap (hottest: $mx rows) are sub-split; near-dup pairs whose " +
          s"members land in different sub-buckets are dropped (reduced " +
          s"in-bucket recall vs the uncapped form). $remedy")
      else
        log.warn(s"$op: UNCAPPED candidate generation over $nHot hot bucket(s) " +
          s"(hottest: $mx rows > default cap $cap) - the banded self-join " +
          s"emits ~occupancy^2 candidates per bucket and goes quadratic on " +
          s"corpora like this one. $remedy")
    } else lastOccupancyReport.set(None)
  }

  /** Exact dedup: canonical (minimum) id per identical text + the
    * duplicate count.
    *
    * Hash-keyed: groups on `(xxhash64(text), xxhash64(42, text),
    * length(text))` — three LongType keys, so the shuffle carries 24
    * bytes + fixed-width aggregate buffers, never document bodies (a
    * text-keyed groupBy would carry the corpus through the shuffle at
    * 100 TB). Two texts merge iff BOTH independent 64-bit hashes AND
    * the length agree — equivalent to a detect-collisions-then-
    * re-group-by-text scheme (any bucket where a second key disagrees
    * simply splits), with the one residual case being a simultaneous
    * 128-bit double-hash + length collision: the standard content-
    * addressed-storage assumption (~2⁻¹²⁸ per pair), explicitly
    * accepted.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exactDedupKeyed(docs, textCol, idCol,
      xxhash64(col(textCol)), xxhash64(lit(42L), col(textCol)))

  /** [[exactDedup]] with injectable hash keys — the test seam that
    * lets a spec force hash collisions (`lit(0)`) and prove the
    * secondary keys keep distinct texts apart.
    */
  private[graft] def exactDedupKeyed(
      docs: DataFrame, textCol: String, idCol: String,
      h: Column, h2: Column): DataFrame =
    docs.select(
      h.as("h"), h2.as("h2"),
      col(idCol).as("gid"), length(col(textCol)).cast("long").as("glen"))
      .groupBy(col("h"), col("h2"), col("glen"))
      .agg(min(col("gid")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"), col("glen").as("n_chars_m"))

  /** Incremental dedup — the daily-increment shape: from a new batch of
    * documents, keep only content NOT already present in the existing
    * corpus, deduplicated within the batch (canonical minimum id +
    * within-batch copy count). Equality is the same
    * double-hash + length key as [[exactDedup]], so neither side's
    * document text ever crosses a shuffle: the batch aggregates on
    * 24-byte keys and anti-joins the corpus's key set.
    *
    * At 100 TB the corpus key set is the thing to persist between runs
    * (bucketed by `h`, it makes the anti-join exchange-free on the
    * corpus side); pass `corpusKeys = true` when `corpus` already holds
    * `(h, h2, glen)` instead of raw documents.
    */
  def incrementalNew(
      incoming: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      corpusKeys: Boolean = false): DataFrame = {
    def keyed(df: DataFrame): DataFrame = df.select(
      contentKey1(hash, textCol).as("h"),
      contentKey2(hash, textCol).as("h2"),
      length(col(textCol)).cast("long").as("glen"),
      col(idCol).as("gid"))
    val corpKeys =
      if (corpusKeys) corpus.select(col("h"), col("h2"), col("glen"))
      else keyed(corpus).select(col("h"), col("h2"), col("glen"))
    keyed(incoming)
      .groupBy(col("h"), col("h2"), col("glen"))
      .agg(min(col("gid")).as("doc_id"), count(lit(1)).as("n_copies"))
      .join(corpKeys, Seq("h", "h2", "glen"), "left_anti")
      .select(col("doc_id"), col("n_copies"))
  }

  /** Mergeable Bloom membership sketch over document content — the
    * sketch-tier replacement for [[incrementalNew]]'s exact anti-join
    * when the corpus key set is too large to move per batch (Bloom
    * 1970; the standard streaming-ingest admission filter: probe the
    * sketch first, pay the exact join only for probable hits). The
    * sketch is `m` bits packed into 63-BIT WORDS (`word = p div 63`,
    * `bit = p mod 63` — the sign bit is never set, so every word is a
    * non-negative BIGINT and the whole artifact replicates bit-exactly
    * in any engine; the [[Multimodal.audioFingerprint]] 60-bit
    * convention). Position `j` of a document is
    * `hash("<j>#" + text) mod m`, `j < k` — the seeded-hash device of
    * the CMS/KMV sketches.
    *
    * Returns the DENSE word table `(word_idx, bits)` — `ceil(m/63)`
    * rows including zero words, so shard sketches MERGE by joining on
    * `word_idx` and `bit_or`-ing `bits` (absence never means "unknown").
    *
    * Scale shape: one map-side-combined `bit_or` aggregate over
    * `k` position rows per doc (24-byte rows, text hashed at the
    * scan); the sketch is `m/63` longs — kilobytes — and broadcasts to
    * every probe.
    *
    * NULL `textCol` rows contribute nothing — filtered explicitly,
    * because the two hash tiers disagree on null propagation
    * (`xxhash64(null)` yields the seed hash and would set one
    * spurious bit; the portable hash yields null and drops out) —
    * and [[bloomMightContain]] correspondingly pins their verdict
    * `might_contain = false`.
    */
  def bloomBuild(
      docs: DataFrame,
      m: Int = 63 * 1024,
      k: Int = 4,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(m >= 63, s"m must be >= 63, got $m")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    val words = spark.range((m + 62L) / 63L).select(col("id").as("word_idx"))
    val set = docs.filter(col(textCol).isNotNull).select(
        explode(array((0 until k).map(j =>
          pmod(hash(concat(lit(s"$j#"), col(textCol))), lit(m.toLong))): _*))
          .as("p"))
      .select(expr("p div 63L").as("word_idx"),
        pmod(col("p"), lit(63L)).cast("int").as("bit"))
      .select(col("word_idx"), expr("shiftleft(1L, bit)").as("bv"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(bv)").as("bits"))
    words.join(set, Seq("word_idx"), "left_outer")
      .select(col("word_idx"), coalesce(col("bits"), lit(0L)).as("bits"))
  }

  /** Probe documents against a [[bloomBuild]] sketch:
    * `(doc_id, might_contain)` — `might_contain = false` GUARANTEES the
    * content is absent from the build corpus (no false negatives, by
    * construction: every set position of a member is set in the
    * merged words); `true` is probabilistic with the standard
    * `(1 − e^{−kn/m})^k` false-positive rate. The sketch side is a
    * broadcast of `m/63` longs; the probe side shuffles `k` 16-byte
    * rows per doc, never text.
    *
    * `m`, `k`, and the hash tier MUST match the build call — a
    * mismatched `k`/tier silently probes wrong positions (same class
    * of error as mixing hash tiers anywhere in the sketch family),
    * but a mismatched `m` is DETECTED: probe positions then fall
    * outside the dense word table and the query raises instead of
    * returning false negatives.
    *
    * NULL `textCol` rows are pinned `might_contain = false`: a null
    * text contributes nothing in [[bloomBuild]] (its hash is null and
    * the null group drops out of the word join), so "guaranteed
    * absent" is exact for it, and the pair stays symmetric — without
    * the pin a null hash would produce null probe positions, miss the
    * dense word table, and trip the m-mismatch guard with a misleading
    * message (killing a whole streaming batch in
    * [[graft.streaming.DocStreams.bloomIngest]] for one null doc).
    */
  def bloomMightContain(
      docs: DataFrame,
      bloom: DataFrame,
      m: Int = 63 * 1024,
      k: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    require(m >= 63 && k >= 1, s"need m >= 63, k >= 1; got m=$m k=$k")
    docs.select(
        col(idCol).as("doc_id"),
        // carried per-row so the one corpus scan serves both the null
        // pin and the probe (no second docs pass for the null split)
        col(textCol).isNull.as("null_text"),
        explode(array((0 until k).map(j =>
          pmod(hash(concat(lit(s"$j#"), coalesce(col(textCol), lit("")))),
            lit(m.toLong))): _*))
          .as("p"))
      .select(col("doc_id"), col("null_text"),
        expr("p div 63L").as("word_idx"),
        pmod(col("p"), lit(63L)).cast("int").as("bit"))
      .join(broadcast(bloom), Seq("word_idx"), "left_outer")
      // a [[bloomBuild]] table is DENSE (every word_idx < ceil(m/63)
      // present, zeros included), so a probe position with no word row
      // can only mean the sketch was built with a DIFFERENT m — which
      // would otherwise surface as silent false negatives against the
      // scaladoc guarantee. Fail loudly instead. (Null text coalesces
      // to "" above, so its positions are always in-range and can
      // never reach this guard — the null_text flag overrides the
      // verdict below instead.)
      .select(col("doc_id"),
        when(col("bits").isNull,
          raise_error(lit("bloomMightContain: probe position outside the " +
            "sketch's dense word table - m mismatch with bloomBuild"))
            .cast("boolean"))
          .otherwise(!col("null_text") &&
            (expr("shiftright(bits, bit)") % 2L === 1L)).as("ok"))
      .groupBy(col("doc_id"))
      .agg((count(when(!col("ok"), lit(1))) === 0L).as("might_contain"))
  }

  /** Primary / secondary content keys per hash tier. The portable tier
    * derives the second key by hashing a marker-prefixed text (same
    * closed form in the DuckDB oracle); the fast tier uses xxhash64's
    * seed slot.
    */
  private def contentKey1(hash: Hashing.HashTier, textCol: String): Column =
    hash(col(textCol))
  private def contentKey2(hash: Hashing.HashTier, textCol: String): Column =
    if (hash.portable) hash(concat(lit("#"), col(textCol)))
    else xxhash64(lit(42L), col(textCol))

  /** Distinct word-`n`-gram shingle hashes per document:
    * `(doc_id, sh)` rows. The tokenize→gram→hash chain is ONE fused
    * native generator ([[graft.functions.ShingleHashesExpr]]) — no
    * token arrays, gram strings, or interpreted lambdas; per-doc cost
    * is a single pass over the text per tier.
    */
  def shingles(
      docs: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.NativeOps.shingleHashes(col(textCol), n, hash.portable)).as("sh"))
      .distinct()

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * stop-shingle/skew guard. A shingle present in thousands of docs
    * generates O(df²) candidate pairs and near-zero signal.
    */
  def dfCap(sh: DataFrame, maxDf: Int): DataFrame = {
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("sh"))
    sh.join(rare, Seq("sh"))
  }

  /** N-gram Jaccard near-dup: candidate pairs share ≥1 (df-capped)
    * shingle; Jaccard is verified exactly on the full shingle sets.
    * Returns `(doc_a, doc_b, jaccard_e3)` with `doc_a < doc_b`,
    * `jaccard_e3 = floor(1000*|∩|/|∪|) >= threshE3`.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      maxDf: Int = 50,
      threshE3: Int = 500,
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, n, maxDf, hash, checkpointDir)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        floor(col("n_inter") * 1000 / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long").as("jaccard_e3"))
      .filter(col("jaccard_e3") >= threshE3)
  }

  /** Asymmetric n-gram containment pairs — the sub-document-
    * duplication signal Jaccard structurally misses: a short doc
    * quoted wholesale inside a long one has `|∩|/|A| ≈ 1` while
    * `|∩|/|∪|` stays small (the union is dominated by the long doc).
    * Same candidate generator and exact full-set verification as
    * [[ngramJaccardPairs]] (shared via [[shingleIntersections]]);
    * emits BOTH directions' containments on the undirected pair,
    * kept when EITHER side's containment clears `threshE3` —
    * `greatest(cont_a, cont_b)`, so the caller reads which doc is
    * the contained one off the larger column.
    *
    * Output: `(doc_a, doc_b, n_inter, n_a, n_b, cont_a_e3,
    * cont_b_e3)` with `doc_a < doc_b`,
    * `cont_x_e3 = floor(1000·|∩|/|X|)`.
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      maxDf: Int = 50,
      threshE3: Int = 800,
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    val (inter, sizes) = shingleIntersections(docs, n, maxDf, hash, checkpointDir)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        floor(col("n_inter") * 1000 / col("n_a")).cast("long").as("cont_a_e3"),
        floor(col("n_inter") * 1000 / col("n_b")).cast("long").as("cont_b_e3"))
      .filter(greatest(col("cont_a_e3"), col("cont_b_e3")) >= threshE3)
  }

  /** Shared tail of the exact-verification near-dup family: candidate
    * pairs from df-capped shingles, full-set intersection counts via
    * the capped + hot split (see inline comments), per-doc set sizes.
    * Returns `(inter(doc_a, doc_b, n_inter), sizes(doc_id, n_sh))`.
    */
  private def shingleIntersections(
      docs: DataFrame,
      n: Int,
      maxDf: Int,
      hash: Hashing.HashTier,
      checkpointDir: Option[String]): (DataFrame, DataFrame) = {
    val sh = shingles(docs, n, hash = hash).cache()
    // df attaches to every (doc, shingle) row with ONE aggregate + one
    // join, materialized once; the capped and hot branches below are
    // in-memory filters of it rather than two independent re-aggs of
    // the shingle table (measured: the duplicated df agg + join was the
    // dominant cost of the exact-Jaccard hot-split at sf0.1)
    val shDf = Checkpoints.cut(sh
      .join(sh.groupBy(col("sh")).agg(count(lit(1)).as("df")), Seq("sh")),
      checkpointDir)
    val sizes = shDf.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val capped = shDf.filter(col("df") <= maxDf)
    val a = capped.select(col("doc_id").as("doc_a"), col("sh"))
    val b = capped.select(col("doc_id").as("doc_b"), col("sh"))
    // Candidate GENERATION uses capped shingles (the skew guard), but
    // Jaccard VERIFICATION must count the FULL intersection — a pair
    // that also shares a df>maxDf stop-shingle must still count it
    // (n_a/n_b already come from the full sets). The full |∩| splits
    // exactly by the df partition: capped-shared + hot-shared. The
    // capped part is the cheap map-side-combined aggregate below; the
    // hot part joins the (already aggregated, small) candidate pairs
    // against only the df>maxDf shingle rows — never the full shingle
    // table, whose join-back would explode candidates × shingles/doc.
    // materialized once: BOTH the hot-contribution join and the final
    // result consume this aggregate, and exchange reuse does not always
    // survive AQE re-planning — the pair table is small (post-agg), the
    // self-join above it is not (same pattern as minhashLshPairs.banded)
    val interCapped = Checkpoints.cut(
      a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_cap")),
      checkpointDir)
    val hot = shDf.filter(col("df") > maxDf)
    val interHot = interCapped.select(col("doc_a"), col("doc_b"))
      .join(hot.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(hot.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_hot"))
    val inter = interCapped
      .join(interHot, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"),
        (col("n_cap") + coalesce(col("n_hot"), lit(0L))).as("n_inter"))
    (inter, sizes)
  }

  /** Per-document duplicated-span statistics — the exact-substring-
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): what fraction of a document's `n`-word
    * windows also appears in at least one OTHER document. High
    * `dup_frac_e3` marks boilerplate/templated docs that exact
    * whole-doc dedup misses. Returns
    * `(doc_id, n_spans, n_dup, dup_frac_e3)` for docs with ≥ 1 span
    * (fewer than `n` tokens ⇒ no rows).
    *
    * Scale shape: spans are the fused shingle generator's 8-byte
    * hashes; corpus span frequency is a map-side-combined count on the
    * hash key; the join back to per-doc spans shuffles only
    * `(hash, doc_id)` pairs — document text never leaves the scan.
    */
  def dupSpanStats(
      docs: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    val sh = shingles(docs, n, textCol, idCol, hash)
    // df counts DISTINCT docs per span (sh is distinct per doc), so
    // df > 1 ⇔ the span occurs in at least one other document
    val dfs = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfs, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(
        col("doc_id"), col("n_spans"), col("n_dup"),
        floor(col("n_dup") * 1000 / col("n_spans")).cast("long").as("dup_frac_e3"))
  }

  /** Exact-substring span REMOVAL (keep-first): each document is cut
    * into consecutive non-overlapping `n`-word blocks; a block
    * instance survives iff it is the globally FIRST occurrence of its
    * content (ordered by `(doc_id, idx)` — deterministic, and
    * retry/rerun-stable). Returns per doc
    * `(doc_id, n_blocks, n_kept, retained_text)` where `retained_text`
    * is the surviving blocks re-joined in order — the
    * remove-duplicated-substrings step of an exact-dedup training
    * pipeline (vs [[dupSpanStats]], which only measures).
    *
    * Scale shape: the keep-first window ranks `(bh, doc_id, idx)` rows
    * only — 24 bytes/block — so document text never rides the
    * dedup shuffle; winners join back to the block stream by
    * `(doc_id, idx)` (left-semi), and the final reassembly groups
    * blocks of surviving docs once. Blocks are non-overlapping, so
    * the blown-up intermediate is ≈ the corpus size, not n× it
    * (shingles, by contrast, are n-overlapped).
    */
  def spanRemoval(
      docs: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame = {
    val blocks = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("nblk", expr(s"((size(toks) - 1) div $n) + 1"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0L, cast(nblk - 1 as long))")).as("idx"))
      .select(col("doc_id"), col("idx"),
        expr(s"array_join(slice(toks, cast(idx * $n + 1 as int), $n), ' ')").as("block"))
    val keyed = blocks.select(col("doc_id"), col("idx"), hash(col("block")).as("bh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bh")).orderBy(col("doc_id"), col("idx"))
    val winners = keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("doc_id"), col("idx"))
    val totals = keyed.groupBy(col("doc_id")).agg(count(lit(1)).as("n_blocks"))
    val kept = blocks.join(winners, Seq("doc_id", "idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("block")))),
            x => x("block")), " ").as("retained_text"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("retained_text"), lit("")).as("retained_text"))
  }

  /** Corpus-wide LINE/paragraph dedup, keep-first — the CCNet stage
    * (Wenzek et al. 2020 §3.1 dedup by paragraph hash; RefinedWeb
    * runs the same device line-wise) between [[graft.operators.TextOps.htmlStrip]]
    * and document-level dedup: repeated boilerplate lines (nav rows,
    * cookie banners, footers) survive only at their globally FIRST
    * occurrence, ordered by `(doc_id, line index)` — deterministic
    * and retry/rerun-stable, the [[spanRemoval]] keep-first
    * discipline at line granularity. Lines are the exact
    * `split(text, '\n')` segments (no trim — byte-exact rebuild);
    * lines shorter than `minChars` are EXEMPT (always kept):
    * structural short lines dedup into nonsense and carry no
    * boilerplate signal.
    *
    * Output: `(doc_id, n_lines, n_dropped, retained_text)` —
    * surviving lines re-joined with `\n`.
    *
    * Scale shape: the DEDUP exchange never carries text — it ranks
    * `(h, doc_id, pos)` rows (24 bytes/line) with one window on the
    * 8-byte line hash — and the rebuild is an in-row segment-slice
    * HOF over the SORTED drop positions, O(n_lines + n_drops) per
    * document (each line is copied into exactly one inter-drop
    * slice), not [[spanRemoval]]'s re-group of every block and not a
    * per-line membership scan of the drop array. The one
    * place text can move is the reassembly join: the drop set flows
    * back as per-doc POSITION ARRAYS keyed on `doc_id` (broadcast
    * when the dropped-doc set is bounded; at worst one
    * doc_id-partitioned pass of the corpus — still half
    * [[spanRemoval]]'s two text-sized exchanges). A corpus-wide
    * boilerplate line costs its occurrence count linearly (one
    * window group), never quadratically.
    */
  def lineDedup(
      docs: DataFrame,
      minChars: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast): DataFrame =
    lineRebuild(docs,
      lineNonFirst(lineInstances(docs, minChars, textCol, idCol, hash)),
      textCol, idCol)

  /** One row per line ≥ `minChars` of each document:
    * `(doc_id, pos, h)` — the [[lineDedup]] dedup-exchange stream,
    * shared with the streaming twin
    * [[graft.streaming.DocStreams.lineIngest]] so batch and stream
    * hash/exempt lines identically.
    */
  private[graft] def lineInstances(
      docs: DataFrame,
      minChars: Int,
      textCol: String,
      idCol: String,
      hash: Hashing.HashTier): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    docs.select(
        col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")))
      .filter(length(col("col")) >= minChars)
      .select(col("doc_id"), col("pos"), hash(col("col")).as("h"))
  }

  /** The keep-first LOSERS of a [[lineInstances]] stream:
    * `(doc_id, pos)` rows whose line hash occurred earlier in
    * `(doc_id, pos)` order — the positions [[lineRebuild]] removes.
    */
  private[graft] def lineNonFirst(inst: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    inst.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
  }

  /** Reassemble retained text from per-line drop rows `(doc_id, pos)`
    * — [[lineDedup]]'s output stage, shared with the streaming twin.
    */
  private[graft] def lineRebuild(
      docs: DataFrame,
      dropRows: DataFrame,
      textCol: String,
      idCol: String): DataFrame = {
    val lines = split(col("text"), "\n")
    val drops = dropRows
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos").cast("int")).as("drop_pos"))
    // rebuild by SEGMENT SLICES between sorted drop positions, not a
    // per-line array_contains probe (r16, after the r15 verdict flagged
    // the O(n_lines × n_drops) scan: a 10k-line / 10k-drop
    // boilerplate-heavy doc — the exact input this operator targets —
    // paid ~10⁸ comparisons in one row). Sorted drops d_1 < … < d_m cut
    // the line array into m+1 kept segments; each line is copied into
    // exactly one slice and flatten drops the empty segments between
    // consecutive drops, so the rebuild is O(n_lines + n_drops) per doc
    // — and stays a codegen'd in-row HOF, no extra exchange.
    val dp = array_sort(col("drop_pos"))
    val m = size(dp)
    val n = size(lines)
    val segments = transform(
      sequence(lit(0), m),
      j => slice(
        lines,
        when(j === 0, lit(1)).otherwise(element_at(dp, j) + 2),
        when(j === m, n).otherwise(element_at(dp, j + 1))
          - when(j === 0, lit(0)).otherwise(element_at(dp, j) + 1)))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(drops, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        when(col("drop_pos").isNull, col("text"))
          .otherwise(array_join(flatten(segments), "\n")).as("retained_text"))
  }

  /** Exact-substring duplicate coverage at suffix-array grade (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr discipline): a token position is
    * DUPLICATED iff it lies inside some `k`-token window whose content
    * also occurs earlier in the corpus, where "earlier" is the global
    * keep-first order `(doc_id, window offset)`. Unlike
    * [[spanRemoval]]'s block-aligned approximation, windows OVERLAP:
    * every `k`-token substring is tested at every offset — the
    * guarantee a suffix array provides — re-expressed Spark-first as a
    * hash-keyed global minimum instead of a sorted suffix structure.
    * Returns `(doc_id, n_tokens, n_dup_tokens, dup_frac_e3)`, one row
    * per document (docs shorter than `k` tokens report 0 coverage).
    *
    * Multi-shard merge discipline (what replaces the suffix array at
    * corpus scale): each shard generates its own positioned window
    * hashes in one native pass ([[graft.functions.NativeOps]]'
    * shingle kernel — no token arrays or window strings materialize);
    * the only corpus-wide exchange is (1) a map-side-combinable
    * `min(struct(doc_id, offset))` per window hash — the global
    * first-occurrence table — and (2) the join of window rows back to
    * that table by the 8-byte hash. No sorted order is ever
    * maintained across shards, which is exactly why it shards: the
    * shuffle carries 20-byte rows, text never leaves the scan, and a
    * hot window (corpus-wide boilerplate) costs its occurrence count
    * linearly, never quadratically. Duplicated-window runs then merge
    * into maximal spans per document (gaps-and-islands over window
    * offsets, interval end = offset + k − 1) so coverage is counted
    * exactly once per position with no k× position explosion.
    *
    * Hash note: "same content" means same [[Hashing.HashTier]] window
    * hash — the standard content-addressed assumption, identical on
    * the oracle side.
    */
  def exactSpanCoverage(
      docs: DataFrame,
      k: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      saltFactor: Int = 1): DataFrame = {
    val (totals, islands) = exactSpanIslands(docs, k, textCol, idCol, hash, saltFactor)
    spanCoverageFrom(totals, islands)
  }

  /** [[exactSpanCoverage]]'s removal form: drop every duplicated
    * position (keep-first — the globally first occurrence of each
    * window survives) and reassemble the retained tokens in order.
    * Returns `(doc_id, n_tokens, n_kept, retained_text)`;
    * `retained_text` is whitespace-normalized (single spaces), the
    * same convention as [[spanRemoval]].
    *
    * Scale shape: adds one output-bound interval→position explode
    * (Σ island lengths ≤ corpus tokens) and a doc-keyed anti-join of
    * the position stream — document text rides only the final
    * per-doc reassembly aggregate, never the dedup shuffle.
    */
  def exactSpanScrub(
      docs: DataFrame,
      k: Int = 50,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      saltFactor: Int = 1): DataFrame = {
    val (totals, islands) = exactSpanIslands(docs, k, textCol, idCol, hash, saltFactor)
    val dupPos = islands.select(col("doc_id"),
      explode(sequence(col("wstart"), col("wend"))).as("pos"))
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))))
      .toDF("doc_id", "pos", "tok")
      .withColumn("pos", col("pos").cast("long"))
    val kept = toks.join(dupPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")), " ").as("retained_text"))
    totals.join(kept, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("retained_text"), lit("")).as("retained_text"))
  }

  /** Span-level decontamination EVIDENCE (the exact-substring
    * counterpart of [[contamination]]'s shingle-count heuristic): for
    * every (corpus doc, probe doc) pair sharing at least
    * `minSharedWindows` exact `k`-token windows, report the shared
    * window-position count and `longest_span_tokens` — the longest
    * run of consecutive corpus window offsets all present in the
    * probe, plus `k − 1`. When the leak is verbatim (the common case:
    * a benchmark answer pasted into a crawl page) the run IS the
    * longest exact common substring; for scattered matches it is an
    * upper bound, which is the conservative direction for an evidence
    * report a human reviews before dropping documents.
    *
    * Scale shape: corpus windows come from the O(chars) rolling
    * kernel; the probe window set (distinct 8-byte hashes, positions
    * dropped) BROADCASTS — the corpus-sized window stream is filtered
    * map-side and only (doc, probe, offset) hits reach the shuffle,
    * output-bound like [[contamination]]'s probe join. Run-lengths
    * are the classic `offset − row_number()` islands per (doc, probe)
    * pair — no position explosion.
    *
    * The broadcast assumes the usual eval-suite shape (≤ ~10^7
    * distinct (probe, window-hash) rows — 16 bytes each). For a probe
    * corpus past the broadcast budget, `broadcastProbes = false`
    * drops the hint and the window join shuffles on the 8-byte `wh`
    * key instead — same rows (DedupSpec equivalence law), and the
    * only data moving is corpus (doc, widx, wh) triples plus the
    * probe window set; text never enters an exchange in either mode.
    */
  def exactSpanContamination(
      docs: DataFrame,
      probes: DataFrame,
      k: Int = 50,
      minSharedWindows: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id",
      hash: Hashing.HashTier = Hashing.Fast,
      broadcastProbes: Boolean = true): DataFrame = {
    require(minSharedWindows >= 1, s"minSharedWindows must be >= 1, got $minSharedWindows")
    val hintP: DataFrame => DataFrame =
      if (broadcastProbes) broadcast(_) else identity
    val dw = docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.NativeOps.rollingHashes(
          col(textCol), k, hash.portable)))
      .toDF("doc_id", "widx", "wh")
      .withColumn("widx", col("widx").cast("long"))
    val pw = probes
      .select(col(idCol).as("probe_id"),
        explode(graft.functions.NativeOps.rollingHashes(
          col(textCol), k, hash.portable)).as("wh"))
      .distinct()
    val hits = dw.join(hintP(pw), Seq("wh"))
      .select(col("doc_id"), col("probe_id"), col("widx"))
      .distinct()
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("probe_id")).orderBy(col("widx"))
    val runs = hits
      .withColumn("grp", col("widx") - row_number().over(rw))
      .groupBy(col("doc_id"), col("probe_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("doc_id"), col("probe_id"))
      .agg(
        sum(col("run_len")).as("n_shared_windows"),
        (max(col("run_len")) + (k - 1)).as("longest_span_tokens"))
      .filter(col("n_shared_windows") >= minSharedWindows)
  }

  /** Shared body of [[exactSpanCoverage]] / [[exactSpanScrub]]:
    * `(totals(doc_id, n_tokens), islands(doc_id, wstart, wend))` —
    * maximal merged duplicated-position intervals per doc. The
    * first-occurrence table is a map-side-combinable min-struct
    * aggregate (NOT a row_number window: a rank over a hot window
    * hash would single-partition-sort the boilerplate key; the min
    * aggregate combines on the map side and the join back is
    * replication-linear).
    */
  private def exactSpanIslands(
      docs: DataFrame,
      k: Int,
      textCol: String,
      idCol: String,
      hash: Hashing.HashTier,
      saltFactor: Int = 1): (DataFrame, DataFrame) = {
    require(k >= 2, s"k must be >= 2, got $k")
    val totals = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val wins = positionedWindows(docs, k, textCol, idCol, hash)
    (totals, spanIslands(keepFirstNonFirst(wins, saltFactor), k))
  }

  /** Positioned k-token rolling window hashes `(doc_id, widx, wh)` —
    * rolling, not re-hashed-per-gram: each token hashes once and
    * windows combine arithmetically — O(chars), no k× char-work tax
    * at the Lee et al. k=50 ([[graft.functions.NativeKernels
    * .rollingHashesPortable]]; the fast tier rolls in the mod-2⁶⁴
    * ring over xxhash64 token hashes, collision-safe at corpus
    * scale). Shared by the batch exact-span family and the streaming
    * span ingest.
    */
  private[graft] def positionedWindows(
      docs: DataFrame, k: Int, textCol: String, idCol: String,
      hash: Hashing.HashTier): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.NativeOps.rollingHashes(
          col(textCol), k, hash.portable)))
      .toDF("doc_id", "widx", "wh")
      .withColumn("widx", col("widx").cast("long"))

  /** The keep-first rule over a positioned window frame: every window
    * instance except the global minimum `(doc_id, widx)` occurrence of
    * its hash — a map-side-combinable min-struct aggregate, not a rank
    * window (a hot boilerplate hash would single-reducer-sort).
    * Returns `(doc_id, widx)`. The single source of the rule for both
    * the batch operators and the streaming twin.
    *
    * The aggregate is skew-immune (partial min collapses hot hashes
    * per mapper), but the join back hash-partitions the window stream
    * on `wh`: a corpus-wide boilerplate window lands its whole
    * occurrence count in one task — linear, not quadratic, yet a
    * straggler at 100 TB. Two mitigations: AQE's runtime skew-join
    * split covers the sort-merge plan by default, and
    * `saltFactor > 1` is the deterministic, planner-independent form —
    * [[Skew.saltedJoin]] spreads each hash over `saltFactor` reducers
    * at the cost of replicating the first-occurrence table
    * `saltFactor`× (worth it exactly when the hottest window's
    * occurrence count dwarfs `saltFactor` × the average, the
    * boilerplate regime). Result rows are identical in every mode
    * (DedupSpec law).
    */
  private[graft] def keepFirstNonFirst(wins: DataFrame, saltFactor: Int = 1): DataFrame = {
    val firsts = wins.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("widx"))).as("fst"))
    val joined =
      if (saltFactor > 1)
        Skew.saltedJoin(wins, firsts, Seq("wh"), saltFactor, Seq("doc_id", "widx"))
      else wins.join(firsts, Seq("wh"))
    joined
      .filter(!(col("doc_id") === col("fst.doc_id") &&
        col("widx") === col("fst.widx")))
      .select(col("doc_id"), col("widx"))
  }

  /** Gaps-and-islands over a duplicated-window offset stream
    * `(doc_id, widx)`: merge overlapping `[widx, widx + k − 1]`
    * intervals into maximal `(doc_id, isl, wstart, wend)` spans. A
    * window starts a new interval iff it begins past every previous
    * window's end (offsets sort per doc; with constant k the running
    * max end is the running max offset + k − 1). Shared by the batch
    * exact-span family and the streaming span ingest.
    */
  private[graft] def spanIslands(nonFirst: DataFrame, k: Int): DataFrame = {
    val prevW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("widx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val runW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("widx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    nonFirst
      .withColumn("brk",
        when(col("widx") >
          coalesce(max(col("widx")).over(prevW), lit(Long.MinValue / 2)) + (k - 1),
          1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(runW))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("widx")).as("wstart"),
        (max(col("widx")) + (k - 1)).as("wend"))
  }

  /** Assemble [[exactSpanCoverage]]'s output row from a totals frame
    * `(doc_id, n_tokens)` and a [[spanIslands]] frame — shared with
    * the streaming span ingest.
    */
  private[graft] def spanCoverageFrom(totals: DataFrame, islands: DataFrame): DataFrame = {
    val dup = islands.groupBy(col("doc_id"))
      .agg(sum(col("wend") - col("wstart") + 1).as("n_dup_tokens"))
    totals.join(dup, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          floor(coalesce(col("n_dup_tokens"), lit(0L)) * 1000 / col("n_tokens")))
          .otherwise(0L).cast("long").as("dup_frac_e3"))
  }

  /** Blocked edit-distance near-dup join: pairs of rows whose
    * `strCol` values are within Levenshtein distance `maxDist`,
    * restricted to pairs sharing the caller-supplied blocking key
    * (`block`) — names/titles/short-identifier near-dup matching,
    * the string sibling of the shingle-blocked Jaccard join.
    *
    * The block is PINNED semantics (the oracle applies it too), not a
    * silent approximation: the caller chooses a key that provably
    * covers the distance-`maxDist` pairs for their domain (e.g. a
    * prefix that edits can't reach). `maxBucket` drops oversized
    * blocks before the quadratic pairing — the [[dfCap]] skew guard.
    *
    * Scale shape: one count-agg + join to cap blocks, one shuffle on
    * the block key for the self-join; each row carries one block key,
    * so a pair occurs in exactly one bucket (no post-distinct); the
    * O(len²) verify runs codegen'd on candidate pairs only.
    */
  def editDistancePairs(
      docs: DataFrame,
      strCol: String,
      block: Column,
      maxDist: Int = 1,
      maxBucket: Int = 10000,
      idCol: String = "doc_id",
      checkpointDir: Option[String] = None): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"), col(strCol).as("s"), block.as("blk"))
    val ok = keyed.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select(col("blk"))
    // materialized once: the l/r self-join branches would otherwise
    // re-execute the cap aggregation twice
    val capped = Checkpoints.cut(keyed.join(ok, Seq("blk")), checkpointDir)
    val l = capped.select(col("blk"), col("id").as("id_a"), col("s").as("s_a"))
    val r = capped.select(col("blk"), col("id").as("id_b"), col("s").as("s_b"))
    l.join(r, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact Hamming near-dup join over equal-length strings: pairs
    * within `maxSubs` substitutions, found by INTERLEAVED-class
    * pigeonhole blocking — characters at positions `p ≡ r (mod k)`,
    * `k = maxSubs + 1`, form class `r`; at most `maxSubs` edited
    * positions can touch at most `maxSubs` classes, so every true
    * pair agrees exactly on ≥ 1 class and is found by a self-join on
    * `(len, class_idx, class_value)`. Interleaving is the point:
    * template-shaped identifiers (constant prefixes) put their
    * entropy in every class, where a prefix/segment split would make
    * the constant segment one quadratic hot bucket (measured: the
    * segment-blocked Levenshtein form of this query took 15s at
    * sf0.1; this shape runs in ~1s).
    *
    * `maxBucket` caps residual hot classes (corpus-constant class
    * values) — pinned, oracle-applied semantics like [[dfCap]].
    * Verification computes the exact substitution count per distinct
    * candidate pair.
    */
  def hammingNearDupPairs(
      docs: DataFrame,
      strCol: String,
      maxSubs: Int = 1,
      idCol: String = "doc_id",
      maxBucket: Int = 100000,
      checkpointDir: Option[String] = None): DataFrame =
    if (maxSubs == 1) maskIndexPairs(docs, strCol, idCol, maxBucket, checkpointDir)
    else classPigeonholePairs(docs, strCol, maxSubs, idCol, maxBucket, checkpointDir)

  /** `maxSubs = 1` fast path: a substitution-neighborhood index (the
    * SymSpell/deletion-neighborhood idea, specialized to equal-length
    * substitutions). Each string indexes `len` variants with one
    * position masked out; two strings are at Hamming ≤ 1 iff they
    * share a masked variant (mask at the differing position — or at
    * every position for exact duplicates). Candidates are therefore
    * EXACTLY the result set (plus the multi-collision of dist-0
    * pairs, removed by the final distinct): no edit-distance verify
    * runs at all. Measured at sf0.1 this beats class-pigeonhole +
    * banded-Levenshtein verify 3-4× — the verify over ~2M
    * mostly-false class collisions was the whole cost.
    *
    * The trade is a `len`× key explosion, which is the right one for
    * short identifier/title strings; for long strings prefer the
    * class path (k keys/row regardless of length).
    */
  private def maskIndexPairs(
      docs: DataFrame, strCol: String, idCol: String, maxBucket: Int,
      checkpointDir: Option[String]): DataFrame = {
    val masked = docs
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), length(col("s")).as("len"),
        explode(expr(
          """transform(sequence(1, length(s)), p -> struct(p as pos,
            |concat(substring(s, 1, p-1), char(0), substring(s, p+1, length(s)-p)) as mv))""".stripMargin)).as("m"))
      .select(col("id"), col("s"), col("len"),
        col("m.pos").as("pos"), col("m.mv").as("mv"))
    val ok = masked.groupBy(col("len"), col("pos"), col("mv"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select(col("len"), col("pos"), col("mv"))
    val capped = Checkpoints.cut(masked.join(ok, Seq("len", "pos", "mv")), checkpointDir)
    val l = capped.select(col("len"), col("pos"), col("mv"),
      col("id").as("id_a"), col("s").as("s_a"))
    val r = capped.select(col("len"), col("pos"), col("mv"),
      col("id").as("id_b"), col("s").as("s_b"))
    l.join(r, Seq("len", "pos", "mv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("s_a") === col("s_b"), 0L).otherwise(1L).as("n_subs"))
      .distinct()
  }

  /** `maxSubs ≥ 2` path: interleaved-class pigeonhole candidates with
    * an exact positional verify (see [[hammingNearDupPairs]] docs).
    */
  private def classPigeonholePairs(
      docs: DataFrame, strCol: String, maxSubs: Int,
      idCol: String, maxBucket: Int,
      checkpointDir: Option[String]): DataFrame = {
    val k = maxSubs + 1
    val keyed = docs
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), length(col("s")).as("len"),
        explode(expr(
          s"""transform(sequence(0, ${k - 1}), r -> struct(r as cls_r,
             |array_join(transform(filter(sequence(1, length(s)), i -> i % $k = r),
             |i -> substring(s, i, 1)), '') as cls_v))""".stripMargin)).as("c"))
      .select(col("id"), col("s"), col("len"),
        col("c.cls_r").as("cls_r"), col("c.cls_v").as("cls_v"))
    val ok = keyed.groupBy(col("len"), col("cls_r"), col("cls_v"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
      .select(col("len"), col("cls_r"), col("cls_v"))
    // materialized once for the self-join (same reason as the banded
    // LSH joins: both branches would re-run the class generator)
    val capped = Checkpoints.cut(keyed.join(ok, Seq("len", "cls_r", "cls_v")), checkpointDir)
    val l = capped.select(col("len"), col("cls_r"), col("cls_v"),
      col("id").as("id_a"), col("s").as("s_a"))
    val r = capped.select(col("len"), col("cls_r"), col("cls_v"),
      col("id").as("id_b"), col("s").as("s_b"))
    l.join(r, Seq("len", "cls_r", "cls_v"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("n_subs", expr(
        "size(filter(sequence(1, length(s_a)), i -> substring(s_a, i, 1) != substring(s_b, i, 1)))")
        .cast("long"))
      .filter(col("n_subs") <= maxSubs)
      .select(col("id_a"), col("id_b"), col("n_subs"))
      .distinct()
  }

  /** Benchmark-contamination detection: corpus documents sharing at
    * least `minShared` distinct word-`n`-gram shingles with any probe
    * document (the eval/benchmark set). Returns
    * `(doc_id, probe_id, n_shared)` — the decontamination join every
    * pretraining pipeline runs before training.
    *
    * Scale shape: the probe side (benchmark suites — thousands of
    * docs) is broadcast, so the corpus-side shingle stream never
    * shuffles; the count aggregates on (doc, probe) with map-side
    * combine. For probe sets too large to broadcast,
    * `broadcastProbes = false` drops the hint and the same plan
    * degrades to a shuffled hash join on the 8-byte shingle key —
    * same rows (DedupSpec equivalence law), text still never enters
    * an exchange (the fused shingle kernel emits hashes map-side).
    */
  def contamination(
      docs: DataFrame,
      probes: DataFrame,
      n: Int = 3,
      minShared: Int = 5,
      hash: Hashing.HashTier = Hashing.Fast,
      broadcastProbes: Boolean = true): DataFrame = {
    val hintP: DataFrame => DataFrame =
      if (broadcastProbes) broadcast(_) else identity
    val dSh = shingles(docs, n, hash = hash)
    val pSh = shingles(probes, n, hash = hash)
      .select(col("doc_id").as("probe_id"), col("sh"))
    dSh.join(hintP(pSh), Seq("sh"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-source duplication matrix — which sources (crawls, dumps,
    * domains) overlap, and by how much: for every source pair, the
    * number of distinct word-`n`-gram shingles both carry, with each
    * side's distinct-shingle count and
    * `overlap_e3 = (1000·n_shared) div min(n_a, n_b)` (containment of
    * the smaller side, the dedup-planning signal: ~1000 means one
    * source is a subset re-crawl of the other).
    *
    * Shingles present in more than `maxSources` sources are dropped
    * before pairing — [[dfCap]] lifted to source granularity: a
    * shingle carried by every domain contributes a full
    * sources×sources clique of pair-instances and zero discrimination.
    * The cap is pinned semantics (the oracle applies it too).
    *
    * Scale shape: one distinct over (source, 8-byte shingle) — doc ids
    * never enter; the self-join shuffles on the shingle key with
    * ≤ maxSources² pair-instances per shingle; every aggregate
    * map-side-combines. Text never shuffles (fused shingle kernel).
    */
  def sourceOverlap(
      docs: DataFrame,
      n: Int = 3,
      maxSources: Int = 1000,
      srcCol: String = "source",
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    val s = docs.select(
      col(srcCol).as("source"),
      explode(graft.functions.NativeOps.shingleHashes(col(textCol), n, hash.portable)).as("sh"))
      .distinct()
    val kept = s.groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxSources).select(col("sh"))
    // materialized once: sizes + both self-join branches consume it
    val sc = Checkpoints.cut(s.join(kept, Seq("sh")), checkpointDir)
    val sz = sc.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
    val pairs = sc.select(col("sh"), col("source").as("source_a"))
      .join(sc.select(col("sh"), col("source").as("source_b")), Seq("sh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sz.select(col("source").as("source_a"), col("nsh").as("n_a")), Seq("source_a"))
      .join(sz.select(col("source").as("source_b"), col("nsh").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("(1000 * n_shared) div least(n_a, n_b)").as("overlap_e3"))
  }

  /** MinHash signatures: `(doc_id, j, mh)` for permutations
    * `j = 0..k-1`, `mh = min over shingles of (a_j*sh + b_j) mod P`.
    *
    * Single-pass: all k permutation minima live in ONE array-buffered
    * imperative aggregate ([[graft.functions.NativeAggs.MinHashAgg]] —
    * a tight k-iteration loop per shingle), then unpivot with
    * `posexplode`. Versus the join-with-perms formulation this avoids
    * the k× row explosion AND the (doc_id, j) shuffle — the shuffle
    * carries one k-long partial buffer per (partition, doc). MinHash is
    * duplicate-insensitive, so callers may feed non-deduplicated
    * shingle streams.
    */
  def minhashSignatures(sh: DataFrame, k: Int = 8): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(graft.functions.NativeAggs.minhashAgg(col("sh"), k).as("mhs"))
      .select(col("doc_id"), posexplode(col("mhs")).as(Seq("j", "mh")))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("mh"))

  /** MinHash + LSH near-dup: signatures are banded (`bands` bands of
    * `rowsPerBand` perms, k = bands*rowsPerBand); docs colliding on any
    * band signature become candidates; candidates are verified with
    * exact Jaccard over the shingle sets. Returns
    * `(doc_a, doc_b, jaccard_e3)`.
    */
  def minhashLshPairs(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      threshE3: Int = 500,
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    val sh = shingles(docs, n, hash = hash).cache()
    val banded = bandTableOf(sh, bands, rowsPerBand, checkpointDir)
    occupancyProbe(banded, Seq("band", "band_sig"), DefaultOccupancyCap,
      "minhashLshPairs", capped = false,
      remedy = "Thin hot band buckets upstream: raise rowsPerBand (sharper " +
        "band signatures) or cap stop-shingles with dfCap before signing.")
    val l = banded.select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
    val r = banded.select(col("doc_id").as("doc_b"), col("band"), col("band_sig"))
    val cands = l.join(r, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    exactJaccardE3(cands, sh, threshE3)
  }

  /** LSH band table `(doc_id, band, band_sig)` of a shingle stream —
    * band signature = j-ordered polynomial fold of the band's minhash
    * minima. This IS the persistable near-dup index: an ingest pipeline
    * writes it once per corpus and hands it to
    * [[incrementalNearDupPairs]] on every subsequent batch.
    *
    * Materialized before any self/cross join: the join branches are
    * separate subtrees to Catalyst, so without this the whole
    * shingle→minhash→band pipeline executes once per branch (measured
    * ~2.4s of 3.7s on the self-join query) — and the banded table is
    * tiny (docs × bands rows).
    */
  def bandTableOf(
      sh: DataFrame, bands: Int, rowsPerBand: Int,
      checkpointDir: Option[String] = None): DataFrame =
    Checkpoints.cut(
      minhashSignatures(sh, bands * rowsPerBand)
        .withColumn("band", (col("j") / rowsPerBand).cast("long"))
        .groupBy(col("doc_id"), col("band"))
        // j-ordered fold → deterministic band signature
        .agg(aggregate(
          transform(array_sort(collect_list(struct(col("j"), col("mh")))), s => s("mh")),
          lit(0L), (acc, mh) => (acc * 31 + mh % Hashing.P) % Hashing.P).as("band_sig")),
      checkpointDir)

  /** Exact-Jaccard verification tail shared by the LSH compositions:
    * `|∩| / |∪|` (e3-quantized) over the shingle stream for each
    * candidate pair, keeping pairs ≥ `threshE3`.
    */
  private def exactJaccardE3(cands: DataFrame, sh: DataFrame, threshE3: Int): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val aSh = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val bSh = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = cands.join(aSh, Seq("doc_a")).join(bSh, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        floor(col("n_inter") * 1000 / (col("n_a") + col("n_b") - col("n_inter")))
          .cast("long").as("jaccard_e3"))
      .filter(col("jaccard_e3") >= threshE3)
  }

  /** Incremental fuzzy ingest — the MinHash twin of [[incrementalNew]]:
    * near-dup pairs `(doc_a, doc_b, jaccard_e3)` where at least one
    * side belongs to the NEW batch (new↔corpus and new↔new; settled
    * corpus↔corpus pairs are the previous ingests' output and are not
    * recomputed). `corpusBands` is the persisted [[bandTableOf]] index.
    *
    * The incremental contract: per batch, only (a) the new docs are
    * shingled/minhashed, and (b) the corpus docs that actually collide
    * on a band re-shingle for exact verification (semi-join on the
    * candidate ids) — corpus text is never scanned beyond those
    * matches, and the index grows by the new docs' band rows. At
    * 100 TB this is the difference between re-banding the corpus per
    * ingest and touching ~batch-sized state.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame,
      corpus: DataFrame,
      corpusBands: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      threshE3: Int = 500,
      hash: Hashing.HashTier = Hashing.Fast,
      checkpointDir: Option[String] = None): DataFrame = {
    val newSh = shingles(newDocs, n, hash = hash).cache()
    val newBands = bandTableOf(newSh, bands, rowsPerBand, checkpointDir)
    incrementalPairsCore(newSh, newBands, corpusBands, threshE3,
      // only corpus docs that collided re-shingle (the candidate id
      // set is batch-sized, so the semi-join broadcasts)
      matchedIds => shingles(
        corpus.join(broadcast(matchedIds), Seq("doc_id"), "left_semi"),
        n, hash = hash),
      checkpointDir)._1
  }

  /** Shared incremental-LSH core: candidates from (index ∪ new) × new
    * band collisions, exact-Jaccard verification over the new shingles
    * plus whatever `corpusShOf(matchedIds)` supplies for the colliding
    * corpus docs (re-shingled text for the batch form, persisted
    * shingle-hash state for the streaming form).
    *
    * Each batch frame is computed once. The candidate pairs are cut, and
    * the matched ids come off that cut in one pass. The verification
    * shingle set (matched new docs ∪ matched corpus docs) is
    * deduplicated and cut, so its three readers (sizes and both
    * intersection sides) share one frame. A doc re-delivered in a later
    * batch has its shingles in both inputs; the deduplication counts
    * them once. The index side of the band join is neither
    * deduplicated nor shuffled (duplicate index rows only repeat
    * candidates, which the candidate `distinct` absorbs), and the new
    * bands take the broadcast rule, so the join streams the index.
    *
    * Returns the pairs and the cuts made here; the caller releases the
    * cuts once the pairs are written.
    */
  private[graft] def incrementalPairsCore(
      newSh: DataFrame,
      newBands: DataFrame,
      corpusBands: DataFrame,
      threshE3: Int,
      corpusShOf: DataFrame => DataFrame,
      cutDir: Option[String]): (DataFrame, Seq[DataFrame]) = {
    val l = corpusBands.unionByName(newBands)
      .select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
    val r = Checkpoints.broadcastRule(newBands)(
      newBands.select(col("doc_id").as("doc_b"), col("band"), col("band_sig")))
    // normalize (min, max): new↔new collisions arrive in both orders,
    // new↔corpus in one — distinct collapses them either way
    val cands = Checkpoints.cut(
      l.join(r, Seq("band", "band_sig"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct(), cutDir)
    val matchedIds = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val verifySh = Checkpoints.cut(
      newSh.join(broadcast(matchedIds), Seq("doc_id"), "left_semi")
        .unionByName(corpusShOf(matchedIds))
        .distinct(), cutDir)
    (exactJaccardE3(cands, verifySh, threshE3), Seq(cands, verifySh))
  }

  /** SimHash signatures: `bits`-wide (default 64), token-frequency
    * weighted. Bit `b` is set iff `Σ_tokens (2·bit_b(H(tok))−1) >= 0`
    * (each token instance contributes ±1 per bit, which equals the
    * per-distinct-token `cnt·±1` formulation).
    *
    * Width is a SCALE parameter, not an accuracy knob: the banded
    * candidate join ([[simhashPairs]]) buckets on `bits/4`-bit band
    * values, and expected bucket occupancy is `n_docs / 2^(bits/4)`.
    * At 32 bits (256 buckets/band) occupancy — and with it candidate
    * pairs, which grow QUADRATICALLY in occupancy — saturates around
    * 10^4 docs (measured: a 10x corpus cost 50-75x through the
    * curation chains). 64 bits (65,536 buckets/band) pushes the same
    * saturation point past 10^6 docs per shuffle partition — and a
    * wider fingerprint also separates genuinely-distinct docs better
    * (fewer coincidental sub-radius collisions).
    *
    * Single-pass: all `bits` component sums live in one array-buffered
    * imperative aggregate ([[graft.functions.NativeAggs.SimHashAgg]])
    * — no bit-table join, no `bits`× row explosion, one shuffle
    * carrying a `bits`-long partial buffer per (partition, doc); the
    * signature assembles in `eval`.
    */
  def simhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      hash: Hashing.HashTier = Hashing.Fast,
      bits: Int = 64): DataFrame = {
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), hash(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.NativeAggs.simhashAgg(col("h"), bits).as("simhash"))
  }

  /** Connected components over an undirected pair list — the step that
    * turns pairwise near-duplicates into dedup CLUSTERS (each doc maps
    * to its component's minimum id, the canonical representative).
    *
    * The pair list is cut once (both directions, partitioned on the
    * join key). What follows depends on that cut's measured bytes,
    * under the budget of [[Checkpoints.broadcastRule]]
    * (`spark.sql.autoBroadcastJoinThreshold`, no option of its own):
    *
    *  - at or under the threshold (with the vertex set's plan estimate
    *    under it too), the components are computed in ONE task: a
    *    union-find over the edge cut and the vertex ids
    *    ([[unionFindLabels]]), whose label frame is cut. One job after
    *    the edge cut, however deep the graph.
    *  - above it, iterative min-label propagation with pointer
    *    jumping, the 100 TB path: each round every vertex takes the min
    *    of its own, its neighbors', and its label's label (path
    *    halving) — fixpoint in O(log diameter) rounds instead of
    *    O(diameter). Each round is one neighbor join, one union-fused
    *    min aggregate (self ∪ neighbor messages), and one pointer-jump
    *    join, cut by an eager localCheckpoint whose job also carries
    *    the convergence metric via `observe`: labels only decrease, so
    *    while the labelled set holds its size (the cut's row count) the
    *    global label sum is strictly monotone, and equal sums and sizes
    *    across rounds ⇔ fixpoint. The sum is observed in
    *    `decimal(38,0)`, not Long: doc ids are arbitrary 64-bit values
    *    in this API (hash-derived ids are common), and a wrapped Long
    *    sum would break the monotonicity test. A loop still running
    *    after [[StarFallbackRounds]] contracts and finishes on
    *    [[largeSmallStarComponents]]. Each superseded round cut is
    *    released once the next one holds.
    *
    * Both paths return the same rows (the loop's fixpoint): one per
    * vertex of `vertices` (singletons as their own component) and one
    * per pair endpoint absent from `vertices` that is connected to a
    * vertex; every component is labelled by its least id in
    * `vertices` (only those ids seed labels, so an absent endpoint
    * never names a component, and a component with no vertex gets no
    * rows). `maxRounds` and `broadcastLabels` steer the loop only. The
    * edge cut is released before returning.
    */
  def connectedComponents(
      pairs: DataFrame,
      vertices: DataFrame,
      maxRounds: Int = 20,
      broadcastLabels: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    // materialize the pair list ONCE — every propagation round joins
    // against it, and without the checkpoint each round would re-execute
    // the whole upstream candidate-generation pipeline. Pre-partitioned
    // on the join key (v): localCheckpoint preserves the partitioning,
    // so in the shuffle-join mode each round moves only the label table.
    val edges = Checkpoints.cut(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .repartition(col("v")), checkpointDir)
    val spark = pairs.sparkSession
    val local = Checkpoints.fitsBroadcast(spark, Checkpoints.bytes(edges)) &&
      Checkpoints.fitsBroadcast(spark, vertices.queryExecution.optimizedPlan.stats.sizeInBytes)
    val labels =
      if (local) {
        val rows = edges.select(col("u").cast("long"), col("v").cast("long"), lit(true).as("edge"))
          .unionByName(vertices.select(col("doc_id").cast("long").as("u"),
            col("doc_id").cast("long").as("v"), lit(false).as("edge")))
          .coalesce(1).rdd.mapPartitions(unionFindLabels)
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("component_id", LongType, nullable = false)))
        log.info("connectedComponents: edge cut within the broadcast threshold; " +
          "union-find in one task")
        Checkpoints.cut(spark.createDataFrame(rows, schema), checkpointDir)
      } else propagateComponents(edges, vertices, maxRounds, broadcastLabels, checkpointDir)
    Checkpoints.release(Seq(edges))
    labels
  }

  /** One partition's components: `rows` carries the symmetric edge
    * rows (`edge` true) and the vertex ids (`edge` false) of
    * [[connectedComponents]]' local path, in any order. Union-find with
    * path halving over the endpoints (memory: the endpoints plus the
    * vertex ids), then each component takes its least vertex-set
    * member as its label.
    */
  private def unionFindLabels(rows: Iterator[Row]): Iterator[Row] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    val members = mutable.LongMap.empty[Unit]
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (r.getBoolean(2)) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      } else members(a) = ()
    }
    val endpoints = parent.keysIterator.toArray
    val roots = endpoints.map(find)
    val label = mutable.LongMap.empty[Long]
    endpoints.indices.foreach { i =>
      if (members.contains(endpoints(i)) && label.get(roots(i)).forall(endpoints(i) < _))
        label(roots(i)) = endpoints(i)
    }
    members.keysIterator.filterNot(parent.contains).map(x => Row(x, x)) ++
      endpoints.indices.iterator.flatMap(i => label.get(roots(i)).map(Row(endpoints(i), _)))
  }

  /** [[connectedComponents]]' propagation loop over its edge cut. The
    * returned frame never reads `edges`, so the caller may release it.
    */
  private def propagateComponents(
      edges: DataFrame,
      vertices: DataFrame,
      maxRounds: Int,
      broadcastLabels: Boolean,
      checkpointDir: Option[String]): DataFrame = {
    var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
    var labelCut = Option.empty[DataFrame]
    var prevSum: Option[BigDecimal] = None
    var prevRows = 0L
    var changed = true
    var round = 0
    // Rounds-to-fixpoint is the operator's scale driver. Clique-shaped
    // dedup graphs converge in 2-5 rounds; when propagation is still
    // running after StarFallbackRounds the graph is long-diameter or
    // densifying, and each further round pays an edge-sized shuffle.
    // At that point the loop contracts by the current labels and
    // finishes with the alternating large-star/small-star rounds
    // ([[largeSmallStarComponents]]) over the (much smaller) quotient
    // graph — the 100 TB path for adversarial pair graphs.
    val starAt = math.min(StarFallbackRounds, maxRounds)
    while (changed && round < starAt) {
      // broadcastLabels: the per-round label frame is derived by joins,
      // so Spark's size estimate of it is useless and Catalyst plans a
      // sort-merge join that re-sorts the FULL edge list every round
      // (measured ~2s/round at sf0.1). When the caller
      // knows the vertex set fits an executor (dedup clustering over a
      // bounded doc set), broadcasting the label table turns each round
      // into one broadcast-hash pass over the pre-materialized edges —
      // no shuffle, no sort. At billions of vertices leave it false:
      // the co-partitioned shuffle join is the scale path.
      val lside = if (broadcastLabels) broadcast(labels) else labels
      // self ∪ neighbor messages → one min aggregate covers "min of own
      // and neighbors' labels" without a separate left join back
      val stepped = edges
        .join(lside, edges("v") === lside("doc_id"))
        .select(col("u").as("doc_id"), col("label"))
        .unionByName(labels)
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"))
      // pointer jump: follow one indirection (labels are monotone
      // decreasing and label(x) <= x, so label-of-label only improves).
      // The label map rides the same broadcast decision as the
      // propagation join — unhinted, this self-join sort-merges
      // (exchange + sort on both sides) every round. Measured at sf0.1:
      // skipping the jump entirely is noise-equivalent on clique-shaped
      // dedup graphs (they converge in 2-3 rounds either way); the jump
      // stays for the chain/long-diameter worst case.
      val lmap0 = stepped.select(col("doc_id").as("ld"), col("label").as("ll"))
      val lmap = if (broadcastLabels) broadcast(lmap0) else lmap0
      // convergence metric rides the (eager) checkpoint job via observe
      // — one job per round, no count pass
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$round")
      val jumped = Checkpoints.cut(
        stepped
          .join(lmap, stepped("label") === col("ld"), "left_outer")
          .select(
            stepped("doc_id"),
            least(stepped("label"), coalesce(col("ll"), stepped("label"))).as("label"))
          .observe(obs, sum(col("label").cast("decimal(38,0)")).as("label_sum")),
        checkpointDir)
      val labelSum = Option(obs.get("label_sum"))
        .collect { case d: java.math.BigDecimal => BigDecimal(d) }
      // endpoints absent from `vertices` join the labelled set as a
      // neighbor's label reaches them, adding to the sum: a grown set
      // is a change whatever the sum did
      val rows = Checkpoints.rows(jumped)
      changed = (labelSum, prevSum) match {
        case (Some(cur), Some(prev)) => cur < prev || rows > prevRows
        case (Some(_), None)         => true  // first round: no prior sum yet
        case (None, _)               => false // empty input: trivially converged
      }
      prevSum = labelSum
      prevRows = rows
      Checkpoints.release(labelCut)
      labels = jumped
      labelCut = Some(jumped)
      round += 1
      log.info(s"connectedComponents round $round: label_sum=${labelSum.orNull}")
    }
    if (changed && round < maxRounds) {
      // Star fallback: contract every edge to its endpoints' current
      // labels (labels always stay within their component, so the
      // quotient has the same component structure, and each
      // component's global minimum survives as a quotient vertex —
      // its own label is itself). Finish on the quotient with the
      // remaining round budget, then compose: final(x) = comp(l(x)).
      log.info(s"connectedComponents: no fixpoint after $round label-propagation " +
        "round(s); contracting and switching to large-star/small-star")
      val lu = labels.select(col("doc_id").as("cu"), col("label").as("la"))
      val lv = labels.select(col("doc_id").as("cv"), col("label").as("lb"))
      val contracted = edges
        .join(lu, edges("u") === col("cu"))
        .join(lv, edges("v") === col("cv"))
        .select(col("la").as("doc_a"), col("lb").as("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
      val qverts = labels.select(col("label").as("doc_id")).distinct()
      val qcomp = largeSmallStarComponents(
        contracted, qverts, maxRounds - round, checkpointDir)
        .select(col("doc_id").as("qd"), col("component_id"))
      labels = labels.join(qcomp, labels("label") === col("qd"), "left_outer")
        .select(labels("doc_id"),
          coalesce(col("component_id"), labels("label")).as("label"))
      changed = false // the star loop logs its own convergence status
    }
    // rounds-to-fixpoint is THE scale driver of this operator (cost =
    // rounds × per-round job overhead) — always log it so a 10× run
    // can be adjudicated as diameter-bound vs blowup (PERF notes)
    log.info(s"connectedComponents: ${if (changed) "max-rounds stop" else "fixpoint"} " +
      s"after $round round(s), maxRounds=$maxRounds, broadcastLabels=$broadcastLabels")
    labels.select(col("doc_id"), col("label").as("component_id"))
  }

  /** Label-propagation rounds [[connectedComponents]] runs before
    * contracting and handing the quotient graph to
    * [[largeSmallStarComponents]]. ~10 pointer-jumping rounds resolve
    * any graph of diameter ≲ 2¹⁰ ≈ 10³; a graph still unconverged is
    * adversarially deep or densifying, where the star rounds' provable
    * O(log² n) bound (and smaller contracted input) wins.
    */
  private[graft] val StarFallbackRounds = 10

  /** Connected components by alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — the Two-Phase algorithm): the edge set
    * itself is the state, and each round rewrites edges toward local
    * minima until the graph is a union of minimum-rooted stars.
    *
    *  - large-star: per vertex `u`, every strictly LARGER neighbor is
    *    re-pointed at `m = min(Γ(u) ∪ {u})`;
    *  - small-star: per vertex `u` over child→parent canonical edges
    *    (`v < u`), every smaller neighbor — and `u` itself — is
    *    re-pointed at the minimum parent.
    *
    * Both operations only ever REPLACE an edge endpoint with a
    * smaller vertex id, so the canonical edge set's endpoint sum is
    * strictly monotone decreasing under any change — the convergence
    * test is therefore one `observe`d decimal(38,0) sum riding the
    * per-round checkpoint job (same device as [[connectedComponents]]'
    * label sum; no count pass, no edge-set diff join).
    *
    * Scale shape: per round, two key-grouped aggregates + two joins
    * over the edge list — everything keyed on 8-byte vertex ids, cost
    * O(|E|) per round with no vertex-sized driver state, and the
    * round count is O(log² n) worst-case (in practice ≤ the
    * pointer-jumping round count on the same graph). Used directly
    * for adversarial graphs, and as [[connectedComponents]]' fallback
    * after [[StarFallbackRounds]] unconverged propagation rounds. Each
    * superseded round's edge cut is released once the next one holds.
    */
  private[graft] def largeSmallStarComponents(
      pairs: DataFrame,
      vertices: DataFrame,
      maxRounds: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // canonical child→parent orientation (u > v), loops dropped
    var e = Checkpoints.cut(
      pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct(), checkpointDir)
    var prevSum: Option[BigDecimal] = None
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      // large-star over the symmetric view: m = min(Γ(u) ∪ {u});
      // every neighbor v > u re-points to m. Each canonical edge is
      // emitted exactly once (via its larger endpoint as v), and
      // v > u >= m keeps the output canonical with no loops.
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = sym.join(lmins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over canonical edges: per u, m = min parent; all
      // other parents pair to m, and u itself re-points to m. Output
      // stays canonical (every emitted pair has larger-first).
      val smins = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(smins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
      val obs = new org.apache.spark.sql.Observation(s"star_round_$round")
      val next = Checkpoints.cut(
        ss.observe(obs,
          sum(col("u").cast("decimal(38,0)") + col("v").cast("decimal(38,0)"))
            .as("edge_sum")), checkpointDir)
      val edgeSum = Option(obs.get("edge_sum"))
        .collect { case d: java.math.BigDecimal => BigDecimal(d) }
      changed = (edgeSum, prevSum) match {
        case (Some(cur), Some(prev)) => cur < prev
        case (Some(_), None)         => true  // first round: no prior sum
        case (None, _)               => false // edge set emptied: stars of size 1
      }
      prevSum = edgeSum
      Checkpoints.release(Seq(e))
      e = next
      round += 1
      log.info(s"largeSmallStar round $round: edge_sum=${edgeSum.orNull}")
    }
    log.info(s"largeSmallStar: ${if (changed) "max-rounds stop" else "fixpoint"} " +
      s"after $round round(s), maxRounds=$maxRounds")
    // at fixpoint the edges are minimum-rooted stars: each child u has
    // exactly one parent v = its component's minimum (min() guards the
    // max-rounds-stop case, where a child may still carry two parents)
    val childLab = e.groupBy(col("u")).agg(min(col("v")).as("clab"))
      .select(col("u").as("cid"), col("clab"))
    vertices.select(col("doc_id"))
      .join(childLab, col("doc_id") === col("cid"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clab"), col("doc_id")).as("component_id"))
  }

  /** SimHash near-dup pairs: band the `bits`-wide signature into 4
    * equal bands (pigeonhole: hamming ≤ 3 ⇒ at least one identical
    * band); pairs sharing any band are candidates; verified by Hamming
    * distance ≤ `maxHamming`.
    *
    * `bits` must match the signature width and be divisible by 4. The
    * band width `bits/4` sets the bucket space — 2^(bits/4) values per
    * band — and therefore the corpus size at which candidate
    * generation saturates quadratically; see [[simhashSignatures]].
    * The 4-band pigeonhole guarantee (any hamming ≤ 3 pair shares a
    * band) holds at every width.
    *
    * The signature rides along INTO the band join, so Hamming is
    * verified inline on each collision, and a pair colliding in
    * several bands is emitted exactly once WITHOUT a distinct: both
    * signatures are in hand, so "this is the FIRST band where the two
    * agree" is a codegen'd filter (the standard LSH first-collision
    * trick). That removes the candidate-wide exchange + aggregate
    * entirely — post-join the operator is narrow projections and
    * filters; hot buckets never materialize their candidate set past
    * whole-stage codegen. (Gated by PlanQualitySpec: no aggregate, no
    * exchange after the band join.)
    *
    * `maxBucketSize` is the OCCUPANCY GUARD for near-dup-heavy corpora
    * where signatures concentrate into hot (band, band_val) buckets
    * and the band join goes quadratic in occupancy anyway (the sf1
    * smoke measured 28× wall-clock at 10× input uncapped): any bucket
    * larger than the cap is sub-split into `ceil(bucket_n / cap)`
    * sub-buckets by a portable `doc_id` hash, bounding every candidate
    * block to ~cap² in expectation — the same device as
    * [[Similarity.cosineNearDupPairs]]'s `maxBucketSize` and
    * [[Similarity.semanticDedup]]'s `maxCellSize`. Because an id-hash
    * split can separate docs whose signatures are identical, a LINEAR
    * exact-signature star floor (group on the full `simhash`, star
    * pairs to the group minimum, hamming = 0 by construction) runs
    * alongside, so identical-signature docs — the pairs a dedup must
    * never miss — always connect to their representative regardless of
    * the sub-split. Unlike the cosine floor there is no hash-collision
    * caveat: the group key IS the full signature, so star pairs are
    * exact, not proposals. Sub-cap near-pairs (hamming 1..maxHamming)
    * split across sub-buckets are the documented recall trade,
    * identical in kind to LSH banding itself. Under the cap the
    * first-collision trick is unsound (a pair's first colliding band
    * may be the one the sub-split separated, and the later-band
    * emission would be filtered), so the capped branch dedups
    * candidates with a distinct over the already-hamming-filtered
    * pairs instead — the capped path trades one bounded exchange for
    * the occupancy bound.
    */
  def simhashPairs(
      sigs: DataFrame, maxHamming: Int = 3,
      checkpointDir: Option[String] = None,
      bits: Int = 64,
      maxBucketSize: Option[Int] = None): DataFrame = {
    require(bits >= 4 && bits <= 64 && bits % 4 == 0,
      s"simhashPairs: bits must be in [4, 64] and divisible by 4, got $bits")
    require(maxHamming >= 0, s"simhashPairs: maxHamming must be >= 0, got $maxHamming")
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1
    val spark = sigs.sparkSession
    val bands = spark.range(4).select(col("id").cast("int").as("band"))
    // materialized before the self-join — same reason as in
    // [[minhashLshPairs]]: the l/r branches would otherwise recompute
    // the signature aggregation twice; banded is docs × 4 rows.
    // The width observation rides the (eager) cut job: a caller who
    // feeds narrower signatures than `bits` (e.g. a 32-bit
    // perceptualHash with the 64-bit default) gets all-zero high bands
    // where EVERY doc collides — results stay correct through the
    // hamming + first-collision filters, but candidate generation goes
    // quadratic. max bin-width ≤ bits − bandBits ⇔ the top band is
    // zero for every signature, which is exactly that failure mode.
    val widthObs = new org.apache.spark.sql.Observation()
    val banded = Checkpoints.cut(
      sigs.join(broadcast(bands))
        .select(col("doc_id"), col("simhash"), col("band"),
          expr(s"shiftright(simhash, band * $bandBits) & $bandMask").as("band_val"))
        .observe(widthObs,
          max(when(col("simhash") < 0, 64)
            .otherwise(length(bin(col("simhash"))))).as("max_width")),
      checkpointDir)
    Option(widthObs.get("max_width"))
      .collect { case w: java.lang.Integer => w.intValue() }
      .filter(_ <= bits - bandBits)
      .foreach { w =>
        log.warn(s"simhashPairs: widest observed signature uses $w bits but " +
          s"bits=$bits — the top ${4 - (w + bandBits - 1) / bandBits} of the " +
          s"4 bands are all-zero and every doc collides there, making " +
          s"candidate generation quadratic. Pass bits=<signature width> " +
          s"(e.g. bits=32 for a 32-block perceptualHash).")
      }
    maxBucketSize match {
      case None =>
        occupancyProbe(banded, Seq("band", "band_val"), DefaultOccupancyCap,
          "simhashPairs", capped = false,
          remedy = "Pass maxBucketSize = Some(n) for the occupancy-capped " +
            "sub-split form (the scale-safe default of the curation pipelines).")
        val l = banded.select(
          col("doc_id").as("doc_a"), col("simhash").as("sig_a"), col("band"), col("band_val"))
        val r = banded.select(
          col("doc_id").as("doc_b"), col("simhash").as("sig_b"), col("band"), col("band_val"))
        def bandOf(sig: Column, b: Int): Column =
          shiftright(sig, b * bandBits).bitwiseAND(bandMask)
        // true iff every band BEFORE the joined one differs — i.e. the
        // joined band is the pair's first collision. Within one band a
        // pair collides at most once (one band_val per doc), so this
        // yields global exactly-once emission with no distinct.
        val firstCollision = (0 until 4).map { b =>
          when(col("band") > b, bandOf(col("sig_a"), b) =!= bandOf(col("sig_b"), b))
            .otherwise(lit(true))
        }.reduce(_ && _)
        l.join(r, Seq("band", "band_val"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
          .filter(col("hamming") <= maxHamming)
          .filter(firstCollision)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
      case Some(cap) =>
        require(cap >= 1, s"simhashPairs: maxBucketSize must be >= 1, got $cap")
        occupancyProbe(banded, Seq("band", "band_val"), cap,
          "simhashPairs", capped = true,
          remedy = "The exact-signature star floor still connects " +
            "identical-signature docs; raise maxBucketSize (or pass None) " +
            "if sub-cap hamming-near pairs matter more than the bound.")
        val P = graft.functions.Hashing.P
        // bucket sizes are an aggregate of the (checkpointed) banded
        // frame itself, key-bounded by 4·2^bandBits ≤ 4·2^16 rows of
        // 24-byte keys (and by 4·|distinct signatures|) — always
        // broadcast-safe, same hint rationale as bandedCandidates'
        // sizes frame in Similarity.scala
        val sizes = broadcast(
          banded.groupBy(col("band"), col("band_val")).agg(count(lit(1)).as("bkt_n")))
        val sub = banded.join(sizes, Seq("band", "band_val"))
          .withColumn("sub",
            ((col("doc_id") % P) * 1103515245L + 12345L) % P %
              ceil(col("bkt_n").cast("double") / cap).cast("long"))
          .drop("bkt_n")
        val l = sub.select(
          col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
          col("band"), col("band_val"), col("sub"))
        val r = sub.select(
          col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
          col("band"), col("band_val"), col("sub"))
        // hamming is filtered BEFORE the distinct, so the dedup
        // exchange carries only verified pairs (three 8-byte columns),
        // never the raw candidate set
        val bandPairs = l.join(r, Seq("band", "band_val", "sub"))
          .filter(col("doc_a") < col("doc_b"))
          .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
          .filter(col("hamming") <= maxHamming)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
        // exact-signature star floor: 8-byte group keys, doc text /
        // signatures never fan out — identical-signature docs stay
        // connected through the group minimum even at cap = 1
        val reps = sigs.groupBy(col("simhash"))
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("grp_n"))
          .filter(col("grp_n") > 1)
          .select(col("simhash"), col("rep_id"))
        val stars = sigs.join(reps, Seq("simhash"))
          .filter(col("doc_id") > col("rep_id"))
          .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"),
            lit(0L).as("hamming"))
        bandPairs.unionByName(stars).distinct()
    }
  }

  /** Cluster-representative selection — the step after
    * [[connectedComponents]] in a production dedup chain: keep ONE
    * document per near-duplicate cluster, the highest-quality member
    * (ties broken by min `doc_id` for determinism). Composes
    * cluster labels with any integer quality metric (e.g.
    * `TextOps.qualityScore`'s `alpha_ratio_e3`).
    *
    * Scale shape: equi-join on `doc_id` + top-1-per-cluster via
    * row_number, which Spark plans with a partial WindowGroupLimit
    * below the exchange — each map task forwards one candidate row per
    * cluster, so the shuffle carries ~|clusters| rows, not |docs|. A
    * giant cluster (the pathological near-dup blob) costs its owning
    * partition a scan, never a materialized group.
    */
  def clusterReps(
      clusters: DataFrame,
      quality: DataFrame,
      qualityCol: String,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("component_id"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    clusters.join(quality.select(col(idCol), col(qualityCol)), Seq(idCol))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component_id"), col(idCol).as("rep_id"), col(qualityCol))
  }
}
