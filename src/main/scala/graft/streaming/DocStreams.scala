package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Hashing
import graft.operators.{Checkpoints, Dedup}

/** Misra-Gries summary state: ≤ k counters + tokens-seen total. */
final case class HHState(counters: Map[String, Long], processed: Long)

/** One current-summary row: estimate for `token` after `n_tokens`. */
final case class HHRow(source: String, token: String, est_count: Long, n_tokens: Long)

/** Streaming twin of the document-dedup surface: the continuous-ingest
  * form of [[graft.operators.Dedup.exactDedup]] /
  * [[graft.operators.Dedup.incrementalNew]] — a crawl stream where each
  * distinct content must be admitted exactly once, on first sight.
  *
  * State is keyed by the same double-hash + length content key as the
  * batch operators (24 bytes per distinct document ever seen — exactly
  * the persisted corpus-key table of `incrementalNew`, held in the
  * state store instead of parquet). The document body itself never
  * enters the state store.
  *
  * The reference's analog is the unbounded in-memory `uMap` first-
  * sighting cache (cmd/bulk/main.go:29-53, with its check-then-set
  * race); here the state store is exact, partitioned, and
  * checkpoint-recoverable. For event-time-bounded retention (dedup only
  * within a horizon), use `withWatermark` upstream +
  * `dropDuplicatesWithinWatermark` — with an unbounded key universe the
  * bounded-state form is the 100 TB default; the unbounded form below
  * matches the batch operators' whole-corpus semantics.
  */
object DocStreams {

  /** Emit each distinct content exactly once (first arrival wins —
    * under an id-ordered replay this equals the batch `exactDedup`
    * min-id canonical choice). Works on a static frame too: batch
    * execution degenerates to `dropDuplicates` on the content key.
    */
  def firstSeenDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__h2", xxhash64(lit(42L), col(textCol)))
      .withColumn("__glen", length(col(textCol)).cast("long"))
      .dropDuplicates("__h", "__h2", "__glen")
      .drop("__h", "__h2", "__glen")

  /** Continuous fuzzy ingest — the streaming twin of
    * [[Dedup.incrementalNearDupPairs]]: each micro-batch is near-dup-
    * checked against an on-disk LSH index (band table + shingle-hash
    * table, both parquet under `stateDir`; document text never enters
    * the state), emits its `(doc_a, doc_b, jaccard_e3)` pairs to
    * `pairsDir`, and appends its own bands/shingles to the index.
    *
    * Per batch the work is batch-sized, not corpus-sized: only the new
    * docs shingle/minhash, the band join streams the index past the
    * new bands (broadcast while they fit the broadcast threshold; the
    * index is never deduplicated or shuffled), and only colliding
    * corpus docs' shingle rows are read back for exact verification.
    * Each batch frame is computed once: the new shingles, the new
    * bands, the candidate pairs and the deduplicated verification
    * shingle set are each cut ([[Dedup.incrementalPairsCore]]) and
    * released once the batch commits. The index grows by
    * ~(bands + shingles) rows per doc — the same artifacts the batch
    * pipeline would persist.
    *
    * Retry semantics: the band/shingle tables commit through
    * [[IndexCommit]] (batch-id segments behind a manifest swap), so a
    * replayed batch reads exactly the pre-batch index (`maxBatch <
    * own id`), rewrites its own segment, and republishes an identical
    * manifest — state cannot duplicate in any crash window. Pair
    * output may duplicate across a replay; downstream consumers key
    * on `(doc_a, doc_b)` (pair emission is deterministic). Every
    * `compactEvery` batches the settled segments fold into one.
    *
    * `cutDir`: RDD-checkpoint dir for the in-batch lineage cuts
    * (shingles, bands, candidates, verification set) — `None` =
    * executor-memory `localCheckpoint`, `Some(dir)` = durable
    * ([[graft.operators.Checkpoints.cut]]); distinct from
    * `checkpointDir`, the streaming offsets/commits location. Durable
    * mode writes NEW checkpoint files per micro-batch and old ones are
    * deleted only best-effort (cleaner on RDD GC) — long-running
    * streams should enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` and
    * monitor the dir, or stay on the default `localCheckpoint` mode.
    */
  def fuzzyIngest(
      docs: DataFrame,
      stateDir: String,
      pairsDir: String,
      checkpointDir: String,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      threshE3: Int = 500,
      hash: Hashing.HashTier = Hashing.Fast,
      cutDir: Option[String] = None,
      compactEvery: Int = 16): StreamingQuery = {
    val bandSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("band", LongType, nullable = false),
      StructField("band_sig", LongType, nullable = false)))
    val shSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sh", LongType, nullable = false)))
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      // neither index read is deduplicated whole: duplicate rows (a
      // doc re-delivered in a later batch) repeat candidates, which
      // the candidate distinct absorbs, and repeat shingles, which
      // the verification set's distinct absorbs after the semi-join
      val stateBands = IndexCommit.openBefore(batch.sparkSession,
        s"$stateDir/bands", batchId, bandSchema, compactEvery, "fuzzyIngest band index")
      val stateSh = IndexCommit.openBefore(batch.sparkSession,
        s"$stateDir/sh", batchId, shSchema, compactEvery, "fuzzyIngest shingle index")
      val newSh = Checkpoints.cut(Dedup.shingles(batch, n, hash = hash), cutDir)
      val newBands = Dedup.bandTableOf(newSh, bands, rowsPerBand, cutDir)
      val (pairs, cuts) = Dedup.incrementalPairsCore(
        newSh, newBands, stateBands, threshE3,
        matchedIds => stateSh.join(broadcast(matchedIds), Seq("doc_id"), "left_semi"),
        cutDir)
      try {
        pairs.write.mode("append").parquet(pairsDir)
        IndexCommit.commitBatch(newBands, s"$stateDir/bands", batchId)
        IndexCommit.commitBatch(newSh.select(col("doc_id"), col("sh")),
          s"$stateDir/sh", batchId)
      } finally Checkpoints.release(Seq(newSh, newBands) ++ cuts)
    }
  }

  /** Run `body` on every micro-batch of `input` (foreachBatch), with
    * the streaming offsets/commits under `checkpointDir`.
    */
  private def eachBatch(input: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()

  /** Continuous Bloom-admission ingest — the streaming face of
    * [[Dedup.bloomBuild]] / [[Dedup.bloomMightContain]] and the cheap
    * front guard of [[fuzzyIngest]]/[[firstSeenDedup]]: each
    * micro-batch probes the on-disk sketch FIRST (classifying every
    * doc against everything seen in EARLIER batches — `might_contain
    * = false` is a guaranteed first sight), appends the verdicts to
    * `outDir`, then ORs its own positions into the sketch. A crawl
    * front door runs this before paying the exact
    * [[Dedup.incrementalNew]] join: only `might_contain = true` rows
    * need the exact check.
    *
    * State = the dense `ceil(m/63)`-row word table under
    * `stateDir/bloom` — kilobytes at any corpus size, rewritten per
    * batch. REPLAY-IDEMPOTENT BY ALGEBRA, not by provenance: OR-ing a
    * replayed batch into the sketch is a no-op (`x | x = x`), so
    * unlike the append-plus-dedup state discipline of the pair
    * streams a replay cannot corrupt the sketch; re-emitted verdicts
    * are the usual at-least-once output contract (consumers key on
    * `doc_id`). Intra-batch duplicates are pinned NOT-seen (the probe
    * runs against the pre-batch sketch) — the batch twin of a batch's
    * verdicts is `bloomMightContain(batch, bloomBuild(prior))`.
    *
    * The per-batch sketch rewrite COLLECTS the merged word table —
    * `ceil(m/63)` longs (kilobytes, the documented k-bounded-collect
    * exception; collecting also breaks the read-overwrite cycle on
    * the state path, which a lazy overwrite would truncate before
    * reading).
    *
    * State is a CUMULATIVE [[IndexCommit]] store
    * (`stateDir/bloom/seg_<batchId>` snapshots behind the manifest):
    * each batch probes the newest committed snapshot with id < its
    * OWN batch id, so a replayed batch probes the SAME prior sketch
    * and re-emits IDENTICAL verdicts (true at-least-once duplicates,
    * never flipped rows); a crash between the snapshot write and the
    * offset commit destroys nothing — an unpublished snapshot is
    * invisible, a published one is rewritten identically by the
    * replay, and the replay's read target (the newest PRIOR snapshot)
    * survives every prune by the device's cumulative-commit rule. A
    * single mutable state path with `mode("overwrite")` would have
    * none of these properties.
    *
    * Known trade, pinned: the batch's k seeded hashes are computed
    * twice (once by the probe, once by the merge build) — sharing a
    * positions frame would halve that per-batch CPU at the cost of a
    * positions-level API on the batch operators; revisit if a profile
    * ever shows the hash pass dominating a real ingest.
    */
  def bloomIngest(
      docs: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      m: Int = 63 * 1024,
      k: Int = 4,
      hash: Hashing.HashTier = Hashing.Fast): StreamingQuery = {
    val wordSchema = StructType(Seq(
      StructField("word_idx", LongType, nullable = false),
      StructField("bits", LongType, nullable = false)))
    val nWords = (m + 62L) / 63L
    val root = s"$stateDir/bloom"
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val rootP = new org.apache.hadoop.fs.Path(root)
      val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
      IndexCommit.requireManifestLayout(fs, rootP, "bloomIngest sketch store")
      // the pre-r17 sketch lived at $stateDir/bloom_v<N>, NOT under
      // the new root — a guard on the (absent) new root alone would
      // pass and the resumed stream would silently restart from an
      // empty sketch, flipping every probe verdict to 'unseen'
      val parentP = new org.apache.hadoop.fs.Path(stateDir)
      if (fs.exists(parentP)) {
        val legacy = fs.listStatus(parentP).map(_.getPath.getName)
          .filter(_.matches("bloom_v\\d+"))
        require(legacy.isEmpty,
          s"bloomIngest: '$stateDir' holds legacy sketch dirs " +
            s"${legacy.sorted.mkString(", ")} — migrate the newest " +
            "(read it, commitBatch it as one cumulative segment under " +
            s"'$root') before resuming.")
      }
      // the newest committed snapshot STRICTLY BEFORE this batch: a
      // replay of batch b must not probe b's own snapshot
      val state = IndexCommit.readLatestBefore(
          spark, root, batchId, wordSchema) match {
        case Some(df) =>
          // the dense-table contract, checked at the stream boundary
          // too: a state dir built with a LARGER m would otherwise
          // cover every probe word and silently false-negative (the
          // batch operators only detect the smaller-build direction)
          val stateWords = df.count()
          require(stateWords == nWords,
            s"bloomIngest: committed sketch has $stateWords words, " +
              s"expected $nWords - stateDir was built with a different m")
          df
        case None => Dedup.bloomBuild(batch.limit(0), m, k, hash = hash)
      }
      val cached = batch.select(col("doc_id"), col("text")).cache()
      try {
        Dedup.bloomMightContain(cached, state, m, k, hash = hash)
          .write.mode("append").parquet(outDir)
        val merged = state
          .unionByName(Dedup.bloomBuild(cached, m, k, hash = hash))
          .groupBy(col("word_idx"))
          .agg(expr("bit_or(bits)").as("bits"))
          .collect()
        IndexCommit.commitBatch(
          spark.createDataFrame(
            spark.sparkContext.parallelize(merged.toSeq, 1), wordSchema),
          root, batchId, cumulative = true)
      } finally cached.unpersist(blocking = false)
    }
  }

  /** Continuous embedding ingest — the streaming twin of
    * [[graft.operators.Similarity.incrementalNearDupPairs]] and the
    * cosine sibling of [[fuzzyIngest]]: each micro-batch of vectors is
    * near-dup-checked against an on-disk banded-LSH index (band table
    * + quantized-vector table, both parquet under `stateDir`), emits
    * its `(id_a, id_b, dot_q)` pairs to `pairsDir`, and appends its
    * own bands/vectors to the index.
    *
    * Per batch the work is batch-sized: only the new vectors quantize
    * and band, the band join streams the index past the new bands
    * (the index is never deduplicated or shuffled), and only
    * colliding corpus vectors' quantized rows are read back for exact
    * cosine verification. The quantized batch, its bands, the
    * candidate pairs and the verification vectors are each cut once
    * and released when the batch commits. Under any batch composition the
    * accumulated pair set equals the batch
    * [[graft.operators.Similarity.cosineNearDupPairs]] blocked run
    * over the full corpus (every pair is new-touching when its later
    * member arrives — StreamingSpec law).
    *
    * Retry semantics: identical to [[fuzzyIngest]] — both index
    * tables commit through [[IndexCommit]] (replays read the
    * pre-batch manifest and rewrite their own segment), pair output
    * may duplicate across a replay and downstream consumers key on
    * `(id_a, id_b)`. `cutDir` as in [[fuzzyIngest]].
    */
  def embeddingIngest(
      vecs: DataFrame,
      stateDir: String,
      pairsDir: String,
      checkpointDir: String,
      cosE6: Long = 400000L,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      cutDir: Option[String] = None): StreamingQuery = {
    val bandSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("band", LongType, nullable = false),
      StructField("bucket", LongType, nullable = false)))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("q", org.apache.spark.sql.types.ArrayType(LongType), nullable = true)))
    val sim = graft.operators.Similarity
    eachBatch(vecs, checkpointDir) { (batch, batchId) =>
      // neither index read is deduplicated whole (the fuzzyIngest
      // rule): the candidate distinct and the verification set's
      // dropDuplicates absorb a re-delivered vector's repeated rows
      val stateBands = IndexCommit.openBefore(batch.sparkSession,
        s"$stateDir/bands", batchId, bandSchema, 0, "embeddingIngest band index")
      val stateVecs = IndexCommit.openBefore(batch.sparkSession,
        s"$stateDir/vecs", batchId, vecSchema, 0, "embeddingIngest vector index")
      val newQ = Checkpoints.cut(sim.withQuant(batch), cutDir)
      val newBands = Checkpoints.cut(sim.bandRows(newQ, bands, rowsPerBand), cutDir)
      val (pairs, cuts) = sim.incrementalPairsCoreEmb(
        newQ, newBands, stateBands, cosE6,
        matchedIds => stateVecs
          .join(broadcast(matchedIds), Seq("vec_id"), "left_semi")
          .withColumn("nq", sim.normQ(col("q"))),
        cutDir)
      try {
        pairs.write.mode("append").parquet(pairsDir)
        IndexCommit.commitBatch(newBands, s"$stateDir/bands", batchId)
        IndexCommit.commitBatch(newQ.select(col("vec_id"), col("q")),
          s"$stateDir/vecs", batchId)
      } finally Checkpoints.release(Seq(newQ, newBands) ++ cuts)
    }
  }

  /** Continuous heavy-hitter tokens per source — a Misra-Gries
    * `k`-counter summary in the state store, the streaming twin of
    * [[graft.operators.TextOps.vocabTopK]] for feeds too large/too
    * live to re-aggregate: each micro-batch is reduced to a k-sized
    * summary IN PARALLEL, the summary is merged into state, and after
    * every batch the CURRENT summary is emitted (update mode).
    *
    * The sketch guarantee (the reason MG is the right summary — it is
    * mergeable, Agarwal et al. "Mergeable Summaries" PODS'12): with `k`
    * counters over `n` tokens seen, every token of true frequency
    * `> n/(k+1)` is IN the summary, and each estimate undercounts its
    * true count by at most `n/(k+1)`, never overcounts. State is ≤ `k`
    * (token, count) entries per source — O(k), never corpus-sized;
    * document text never persists.
    *
    * 100 TB shape — the whole batch reduction is parallel and
    * summary-sized, nothing text-sized ever lands on one task:
    *  1. per input partition, tokenize + exact partial counts in a
    *     local map (map-side combine — the shuffle carries one row per
    *     DISTINCT (source, token) per partition, never token
    *     occurrences and never text);
    *  2. repartition by (source, token): each token's complete batch
    *     count materializes on its own hash partition, parallel across
    *     the token space even for a single hot source;
    *  3. per shuffle partition, keep only the top-(k+1) complete
    *     counts per source (any global top-(k+1) token is a partition
    *     top-(k+1) token) plus one token-total marker row;
    *  4. the per-source stateful fold receives ≤ partitions·(k+2)
    *     candidate rows, takes the one-shot MG summary of the batch
    *     (subtract the (k+1)-th largest complete count, drop
    *     non-positive — [[DocStreams.mgTruncate]]) and merges it into
    *     state with the same rule.
    * Because steps 2-4 are functions of exact complete counts with
    * (count desc, token asc) tie-breaking, the emitted summary is
    * deterministic and identical under any repartitioning of the
    * input — batch composition (what the trigger groups together) is
    * the only thing that moves it.
    */
  def heavyHitterTokens(
      docs: DataFrame,
      k: Int,
      srcCol: String = "source",
      textCol: String = "text"): org.apache.spark.sql.Dataset[HHRow] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    tokenCandidates(docs, k, srcCol, textCol)
      .groupByKey(_._1)
      .flatMapGroupsWithState[HHState, HHRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (src, rows, state) =>
          val st = state.getOption.getOrElse(HHState(Map.empty, 0L))
          val (counters, n) = mgMergeStep(st.counters, rows, st.processed, k)
          state.update(HHState(counters, n))
          counters.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
            .map { case (t, c) => HHRow(src, t, c, n) }
      }
  }

  /** Steps 1-3 of [[heavyHitterTokens]]: the parallel per-batch
    * reduction to `(source, token, complete_count)` candidate rows — at
    * most top-(k+1) tokens per source per shuffle partition, plus one
    * `(source, null, token_total)` marker row per source. Works on a
    * static frame too (exposed for the spec, which pins the
    * summary-size bound and repartition-invariance in batch mode).
    */
  private[graft] def tokenCandidates(
      docs: DataFrame,
      k: Int,
      srcCol: String = "source",
      textCol: String = "text"): org.apache.spark.sql.Dataset[(String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val partials = docs
      .select(col(srcCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val tokRe = """\S+""".r
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        val totals = scala.collection.mutable.Map.empty[String, Long]
        for ((src, text) <- it) {
          var t = totals.getOrElse(src, 0L)
          if (text != null) for (tok <- tokRe.findAllIn(text)) {
            counts((src, tok)) = counts.getOrElse((src, tok), 0L) + 1L
            t += 1L
          }
          // always mark the source (even for empty/null text) so the
          // stateful fold fires and re-emits the current summary —
          // matching a fold over the raw rows
          totals(src) = t
        }
        counts.iterator.map { case ((s, tok), c) => (s, tok, c) } ++
          totals.iterator.map { case (s, t) => (s, null: String, t) }
      }
    partials
      .repartition(col("_1"), col("_2"))
      .mapPartitions { it =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        val totals = scala.collection.mutable.Map.empty[String, Long]
        for ((src, tok, c) <- it) {
          if (tok == null) totals(src) = totals.getOrElse(src, 0L) + c
          else counts((src, tok)) = counts.getOrElse((src, tok), 0L) + c
        }
        val tops = counts.toSeq
          .groupBy(_._1._1)
          .iterator
          .flatMap { case (_, rows) =>
            rows.sortBy { case ((_, tok), c) => (-c, tok) }.take(k + 1)
          }
          .map { case ((s, tok), c) => (s, tok, c) }
        tops ++ totals.iterator.map { case (s, t) => (s, null: String, t) }
      }
  }

  /** Step 4 of [[heavyHitterTokens]]: fold one batch's candidate rows
    * into the running per-source summary. Exposed for the spec.
    */
  private[graft] def mgMergeStep(
      counters: Map[String, Long],
      rows: Iterator[(String, String, Long)],
      processed: Long,
      k: Int): (Map[String, Long], Long) = {
    var nDelta = 0L
    val cand = scala.collection.mutable.Map.empty[String, Long]
    for ((_, tok, c) <- rows) {
      if (tok == null) nDelta += c
      else cand(tok) = cand.getOrElse(tok, 0L) + c
    }
    val merged = scala.collection.mutable.Map(counters.toSeq: _*)
    for ((t, c) <- mgTruncate(cand.toMap, k)) {
      merged(t) = merged.getOrElse(t, 0L) + c
    }
    (mgTruncate(merged.toMap, k), processed + nDelta)
  }

  /** The mergeable-MG reduction: if more than `k` counters, subtract
    * the (k+1)-th largest value from every counter and drop the
    * non-positive — at most `k` can exceed the (k+1)-th largest, so the
    * result is ≤ k entries, and the subtracted mass is ≤ n/(k+1) which
    * is what preserves the undercount bound under merging.
    */
  private[graft] def mgTruncate(m: Map[String, Long], k: Int): Map[String, Long] =
    if (m.size <= k) m
    else {
      val d = m.values.toSeq.sortBy(-_).apply(k)
      m.collect { case (t, c) if c - d > 0 => t -> (c - d) }
    }

  /** Stream-static scoring: apply a batch scorer to each micro-batch
    * of `input` and write its rows to `outDir` with
    * [[writeBatchPartition]]. `score` is the batch operator itself,
    * closed over a FROZEN artifact built once offline (typically
    * `.materialized` to parquet so its training or build plan never
    * re-executes) — the train-once / score-forever deployment:
    *
    *  - classifiers: `TextOps.nbScore(_, nbModel)`,
    *    `TextOps.linearScore(_, linearModel)`,
    *    `TextOps.logisticScore(_, logisticModel)` (each model carries
    *    its own hash tier and bucket count, so the scorer cannot
    *    mis-fold a probe);
    *  - retrieval: `Similarity.ivfProbe(ivfIndex, _, nProbe, k)`,
    *    `Similarity.graphProbe(graphIndex, _, k, beam, rounds, seedProbes)`;
    *  - the CCNet perplexity screen:
    *    `TextOps.trigramLmScoreWith(_, lmModel).withColumn("bucket",
    *    TextOps.pplBucket(lit(t1E3), lit(t2E3)))`, with the tercile
    *    thresholds frozen from an offline [[graft.operators.TextOps.pplBuckets]]
    *    run (CCNet computes its cutoffs once on the reference
    *    distribution, not per shard).
    *
    * Per batch the work is the batch scorer's plan over the batch, so
    * the union of the stream's output equals the scorer over the
    * whole input (StreamingSpec law, one case per scorer above).
    * Retry semantics: exactly-once by partition (see
    * [[writeBatchPartition]]).
    */
  def scoreStream(input: DataFrame, outDir: String, checkpointDir: String)(
      score: DataFrame => DataFrame): StreamingQuery =
    eachBatch(input, checkpointDir) { (batch, batchId) =>
      writeBatchPartition(score(batch), outDir, batchId)
    }

  /** The one sink of the batch-partitioned streams ([[scoreStream]],
    * [[spanIngest]], [[lineIngest]], [[webIngest]]) and their replay-
    * idempotence seam: `rows` land in the `batch_id=<batchId>`
    * partition of `outDir`, written with dynamic partition overwrite,
    * so a replayed batch (a foreachBatch retry re-runs with the SAME
    * batchId) REPLACES its own partition instead of appending
    * duplicate rows — row counts, not just row sets, survive a retry.
    * Consumers that don't care about provenance just don't select
    * `batch_id`.
    */
  private[graft] def writeBatchPartition(rows: DataFrame, outDir: String,
      batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    requireBatchPartitionedDir(
      p.getFileSystem(rows.sparkSession.sessionState.newHadoopConf()), p)
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Fail fast when `dir` holds data files OUTSIDE `batch_id=N`
    * partitions — the pre-r12 flat append layout. Resuming a
    * partition-overwrite sink against such a directory would mix flat
    * and partitioned files and break every subsequent read with a
    * partition-discovery error far from the cause; a clear error at
    * stream start is the kind one (README "Behavior changes").
    * Spark bookkeeping (`_SUCCESS`, `_temporary`, hidden files) is
    * not data and is ignored.
    */
  private def requireBatchPartitionedDir(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(dir)) {
      val legacy = fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (st.isFile || !n.startsWith("batch_id="))
      }
      if (legacy.nonEmpty)
        throw new IllegalStateException(
          s"batch_id sink '$dir' contains non-batch_id-partitioned entries " +
            s"(e.g. '${legacy.head.getPath.getName}') — a legacy " +
            "flat-layout output from a pre-partitioned version. Point " +
            "the stream at a fresh directory (or migrate the old files " +
            "into batch_id=N partitions) before resuming.")
    }

  /** Continuous exact-substring ingest — the streaming twin of
    * [[graft.operators.Dedup.exactSpanCoverage]]: each micro-batch's
    * documents are scored for duplicated `k`-token positions against
    * everything ingested BEFORE them (the on-disk corpus window-hash
    * index) plus earlier occurrences within the batch, then the
    * batch's windows join the index. First-SEEN semantics: when docs
    * arrive in ascending `doc_id` order the emitted coverage equals
    * the batch operator's global keep-first coverage row-for-row
    * (spec-pinned); out-of-order arrival scores against arrival
    * order, the only order a stream has.
    *
    * State is the distinct 8-byte window-hash set — no text, no
    * positions; per batch the work is batch-sized windows + one probe
    * join against the index. Replay safety comes from batch
    * provenance, not deduplication: index reads filter to
    * `batch_id < current` (a replayed batch never sees its own prior
    * append) and each batch's contribution is the anti-joined NEW
    * hashes written into its own `batch_id` partition with dynamic
    * partition overwrite, so a replay rewrites that partition with
    * identical rows. Coverage rows follow the same discipline — the
    * [[writeBatchPartition]] replay-idempotence pattern.
    *
    * A long-running stream accrues one index partition per batch, and
    * every batch re-reads the whole index — so every `compactEvery`
    * batches the settled partitions (strictly earlier batch_ids,
    * which streaming's replay contract guarantees will never re-run)
    * are folded into one manifest segment (see [[IndexCommit.fold]]);
    * `compactEvery = 0` disables compaction.
    */
  def spanIngest(
      docs: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      k: Int = 50,
      hash: Hashing.HashTier = Hashing.Fast,
      cutDir: Option[String] = None,
      compactEvery: Int = 16): StreamingQuery =
    eachBatch(docs, checkpointDir)(
      spanIngestBatch(_, stateDir, outDir, k, hash, cutDir, _, compactEvery))

  /** One [[spanIngest]] micro-batch — the replay-idempotence seam (a
    * retried foreachBatch re-runs this with the SAME batchId and must
    * leave both the coverage sink and the index unchanged). The index
    * carries batch provenance: reads filter to `batch_id < current`,
    * so a replayed batch never scores against its own prior append,
    * and each batch's contribution is the anti-joined NEW hashes
    * written with dynamic partition overwrite — replay rewrites its
    * own partition with identical rows, and the index holds every
    * hash exactly once (first batch that saw it) regardless of how
    * often boilerplate recurs in the stream.
    */
  private[graft] def spanIngestBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      k: Int,
      hash: Hashing.HashTier,
      cutDir: Option[String],
      batchId: Long,
      compactEvery: Int = 16): Unit = {
    val idxRoot = s"$stateDir/wh"
    val index = IndexCommit.openBefore(batch.sparkSession, idxRoot, batchId,
      StructType(Seq(StructField("wh", LongType, nullable = false))),
      compactEvery, "spanIngest window-hash index")
    val totals = batch.select(col("doc_id"),
      size(graft.operators.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val wins = Checkpoints.cut(
      Dedup.positionedWindows(batch, k, "text", "doc_id", hash), cutDir)
    // duplicated = earlier within the batch (the batch operator's
    // keep-first rule, shared code) OR already in the corpus index
    val nonFirst = Dedup.keepFirstNonFirst(wins)
      .unionByName(wins.join(index, Seq("wh"), "left_semi")
        .select(col("doc_id"), col("widx")))
      .distinct()
    try {
      writeBatchPartition(
        Dedup.spanCoverageFrom(totals, Dedup.spanIslands(nonFirst, k)),
        outDir, batchId)
      IndexCommit.commitBatch(
        wins.select(col("wh")).distinct().join(index, Seq("wh"), "left_anti"),
        idxRoot, batchId)
    } finally Checkpoints.release(Seq(wins))
  }

  /** Continuous LINE dedup — the streaming twin of
    * [[graft.operators.Dedup.lineDedup]] and the crawl-shaped front
    * door the r15 verdict flagged missing (a web crawl is the one
    * corpus that genuinely arrives as a stream): each micro-batch's
    * documents are line-deduped keep-first against everything ingested
    * BEFORE them (the on-disk line-hash index) plus earlier
    * occurrences within the batch, emit `(doc_id, n_lines, n_dropped,
    * retained_text, batch_id)`, and append their NEW first-occurrence
    * line hashes to the index — the [[spanIngest]] discipline verbatim
    * at line granularity, sharing [[graft.operators.Dedup.lineInstances]]
    * / `lineNonFirst` / `lineRebuild` with the batch operator so the
    * two sides cannot drift (hashing, `minChars` exemption, rebuild).
    *
    * First-SEEN semantics: when docs arrive in ascending `doc_id`
    * order the emitted rows equal the batch operator's global
    * keep-first output row-for-row (spec-pinned); out-of-order arrival
    * dedups against arrival order, the only order a stream has.
    *
    * State is the distinct 8-byte line-hash set — no text — with
    * batch-id provenance (reads filter `batch_id < current`) and the
    * periodic [[IndexCommit.fold]], so replayed batches emit
    * identical rows and the retry contract is [[spanIngest]]'s:
    * exactly-once by `batch_id` dynamic partition overwrite on both
    * the sink and the index.
    *
    * Scale shape per batch: batch-sized line instances (24-byte rows)
    * rank one window, probe the index by 8-byte keys (semi + anti
    * join), and the rebuild is the batch operator's in-row
    * segment-slice HOF; a corpus-wide boilerplate line costs its
    * per-batch occurrence count, never index growth (the index holds
    * each hash once).
    */
  def lineIngest(
      docs: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      minChars: Int = 5,
      hash: Hashing.HashTier = Hashing.Fast,
      cutDir: Option[String] = None,
      compactEvery: Int = 16): StreamingQuery =
    eachBatch(docs, checkpointDir)(
      lineIngestBatch(_, stateDir, outDir, minChars, hash, cutDir, _, compactEvery))

  /** One [[lineIngest]] micro-batch — the replay-idempotence seam
    * (same contract as [[spanIngestBatch]]).
    */
  private[graft] def lineIngestBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      minChars: Int,
      hash: Hashing.HashTier,
      cutDir: Option[String],
      batchId: Long,
      compactEvery: Int = 16): Unit = {
    val (rebuilt, newHashes, inst) = lineDedupVsIndex(batch, stateDir, batchId,
      minChars, hash, cutDir, compactEvery, "lineIngest line-hash index")
    try {
      writeBatchPartition(rebuilt, outDir, batchId)
      IndexCommit.commitBatch(newHashes, s"$stateDir/lh", batchId)
    } finally Checkpoints.release(Seq(inst))
  }

  /** The line-dedup-against-index core shared by [[lineIngestBatch]]
    * and [[webIngestBatch]]: dedup `batch` keep-first against the
    * on-disk line-hash index under `stateDir/lh` (segments below
    * `batchId`, opened through [[IndexCommit.openBefore]]) plus
    * earlier occurrences within the batch, and derive the NEW
    * first-occurrence hashes to append. Returns
    * `(rebuilt(doc_id, n_lines, n_dropped, retained_text),
    * newHashes(h), lineInstances)` — the frames unwritten, so each
    * caller owns its sinks, and the line-instance cut they read, which
    * the caller releases once both are written.
    */
  private def lineDedupVsIndex(
      batch: DataFrame,
      stateDir: String,
      batchId: Long,
      minChars: Int,
      hash: Hashing.HashTier,
      cutDir: Option[String],
      compactEvery: Int,
      what: String): (DataFrame, DataFrame, DataFrame) = {
    val index = IndexCommit.openBefore(batch.sparkSession, s"$stateDir/lh",
      batchId, StructType(Seq(StructField("h", LongType, nullable = false))),
      compactEvery, what)
    val inst = Checkpoints.cut(
      Dedup.lineInstances(batch, minChars, "text", "doc_id", hash), cutDir)
    // dropped = later keep-first occurrence within the batch (shared
    // batch rule) OR line already in the corpus index
    val drops = Dedup.lineNonFirst(inst)
      .unionByName(inst.join(index, Seq("h"), "left_semi")
        .select(col("doc_id"), col("pos")))
      .distinct()
    val rebuilt = Dedup.lineRebuild(batch, drops, "text", "doc_id")
    val newHashes = inst.select(col("h")).distinct()
      .join(index, Seq("h"), "left_anti")
    (rebuilt, newHashes, inst)
  }

  /** Continuous WEB FRONT DOOR — the streaming twin of
    * [[graft.pipelines.Curation.webCurate]] (RefinedWeb §3's
    * URL-filter → extract → line-dedup → balance over a crawl that
    * genuinely arrives as a stream). Per micro-batch, the batch
    * pipeline's stages in the batch pipeline's PINNED order:
    *
    *  1. URL gate ([[graft.operators.TextOps.urlParts]]) — runs FIRST
    *     so gated-out docs never claim keep-first line slots (the
    *     webCurate ordering rule, same rationale);
    *  2. extraction ([[graft.operators.TextOps.htmlStrip]]), docs with
    *     no surviving line drop;
    *  3. line dedup against the corpus line-hash index
    *     ([[lineDedupVsIndex]] — BYTE-shared with [[lineIngest]] and
    *     the batch operator);
    *  4. domain quota against the on-disk per-domain ADMISSION COUNT
    *     index: within the batch candidates rank by the batch
    *     operator's own deterministic rule (content hash of the
    *     deduped text, doc_id tiebreak), and a candidate admits iff
    *     `prior_admissions + in_batch_rank ≤ domainK`.
    *
    * Semantics vs batch: stages 1–3 match [[lineIngest]]'s contract
    * (ascending single-batch arrival ≡ batch, spec-pinned). The quota
    * stage is keep-FIRST across batches — the only admission rule a
    * stream can implement without revoking — so a single-batch run
    * equals `webCurate` ROW-FOR-ROW (prior = 0 makes the hash-rank
    * rule identical), while multi-batch runs guarantee ≤ `domainK`
    * docs per domain with earlier batches holding seniority.
    *
    * State: the line-hash index (8-byte keys) plus one
    * `(reg_domain, doc_id)` row per ADMISSION (bounded by
    * `domainK × domains`; readers DISTINCT before counting, so a
    * compaction crash that leaves stale partitions is harmless — an
    * additive count index would double-count that window) — both
    * batch-id-versioned parquet with `batch_id < current` reads and
    * dynamic partition overwrite, so replayed batches emit identical
    * rows and identical state (the [[spanIngest]] exactly-once
    * contract); both fold periodically through [[IndexCommit.fold]].
    *
    * Output per batch: `(doc_id, reg_domain, rn, batch_id)` — admitted
    * documents with their global quota rank.
    */
  def webIngest(
      docs: DataFrame,
      stateDir: String,
      outDir: String,
      checkpointDir: String,
      domainK: Int = 25,
      urlCol: String = "url",
      textCol: String = "text",
      minLineChars: Int = 5,
      hash: Hashing.HashTier = Hashing.Fast,
      cutDir: Option[String] = None,
      compactEvery: Int = 16): StreamingQuery =
    eachBatch(docs, checkpointDir)(webIngestBatch(_, stateDir, outDir, domainK,
      urlCol, textCol, minLineChars, hash, cutDir, _, compactEvery))

  /** One [[webIngest]] micro-batch — the replay-idempotence seam. */
  private[graft] def webIngestBatch(
      batch: DataFrame,
      stateDir: String,
      outDir: String,
      domainK: Int,
      urlCol: String,
      textCol: String,
      minLineChars: Int,
      hash: Hashing.HashTier,
      cutDir: Option[String],
      batchId: Long,
      compactEvery: Int = 16): Unit = {
    import org.apache.spark.sql.expressions.Window
    val dqRoot = s"$stateDir/dq"
    val dqSchema = StructType(Seq(
      StructField("reg_domain", org.apache.spark.sql.types.StringType, nullable = true),
      StructField("doc_id", LongType, nullable = false)))
    // 1) URL gate (FIRST — the webCurate pinned ordering)
    val parts = graft.operators.TextOps.urlParts(
        batch.select(col("doc_id"), col(urlCol)), urlCol)
      .filter(length(col("scheme")) > 0)
      .select(col("doc_id"), col("reg_domain"))
    val gated = batch.select(col("doc_id"), col(textCol).as("text"))
      .join(parts.select(col("doc_id")), Seq("doc_id"), "left_semi")
    // 2) extraction
    val stripped = graft.operators.TextOps.htmlStrip(gated)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text"))
    // 3) line dedup vs the corpus index (shared core)
    val (rebuilt, newHashes, inst) = lineDedupVsIndex(stripped, stateDir,
      batchId, minLineChars, hash, cutDir, compactEvery, "webIngest line-hash index")
    // 4) domain quota vs prior admissions; cut so the sink write and
    // the admission-index write compute the ranking window once.
    // The index stores one (reg_domain, doc_id) row per ADMISSION —
    // bounded by domainK × domains. Manifest commits make index reads
    // exactly-once in every crash window (IndexCommitSpec), so even
    // an additive count here would be safe — the r16 review finding's
    // whole class, retired by the device; the DISTINCT survives only
    // as semantics (an admission is a set member, not a tally).
    val prior = IndexCommit.openBefore(batch.sparkSession, dqRoot, batchId,
        dqSchema, compactEvery, "webIngest domain-quota index")
      .distinct()
      .groupBy(col("reg_domain"))
      .agg(count(lit(1)).as("prior"))
    val w = Window.partitionBy(col("reg_domain"))
      .orderBy(col("hkey").asc, col("doc_id").asc)
    val admitted = Checkpoints.cut(
      rebuilt
        .filter(length(col("retained_text")) > 0)
        .select(col("doc_id"), hash(col("retained_text")).as("hkey"))
        .join(parts, Seq("doc_id"))
        .withColumn("bn", row_number().over(w).cast("long"))
        .join(prior, Seq("reg_domain"), "left_outer")
        .select(col("doc_id"), col("reg_domain"),
          (col("bn") + coalesce(col("prior"), lit(0L))).as("rn"))
        .filter(col("rn") <= domainK),
      cutDir)
    try {
      writeBatchPartition(admitted, outDir, batchId)
      IndexCommit.commitBatch(newHashes, s"$stateDir/lh", batchId)
      IndexCommit.commitBatch(
        admitted.select(col("reg_domain"), col("doc_id")), dqRoot, batchId)
    } finally Checkpoints.release(Seq(inst, admitted))
  }

  /** Stream-static blocklist filter: drop stream documents whose
    * content matches a static blocklist (takedown lists, eval-set
    * exclusion) — a stateless stream-static left-anti join on the
    * content key, with the (small) blocklist key set broadcast to every
    * micro-batch. The static side is re-read per batch, so a blocklist
    * update lands without restarting the query; neither side's text
    * crosses the join.
    */
  def blocklistFilter(
      stream: DataFrame,
      blocklist: DataFrame,
      textCol: String = "text"): DataFrame = {
    val keys = blocklist.select(
      xxhash64(col(textCol)).as("__h"),
      xxhash64(lit(42L), col(textCol)).as("__h2"),
      length(col(textCol)).cast("long").as("__glen"))
    stream
      .withColumn("__h", xxhash64(col(textCol)))
      .withColumn("__h2", xxhash64(lit(42L), col(textCol)))
      .withColumn("__glen", length(col(textCol)).cast("long"))
      .join(broadcast(keys), Seq("__h", "__h2", "__glen"), "left_anti")
      .drop("__h", "__h2", "__glen")
  }
}
