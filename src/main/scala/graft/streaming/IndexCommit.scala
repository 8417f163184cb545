package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ONE commit device for every on-disk streaming state index
  * (span/line window hashes, web domain quotas, LSH band tables,
  * Bloom snapshots) — manifest-swap publication, replacing the five
  * hand-rolled batch-id-partitioned stores that each re-derived the
  * same crash-window argument (r16 verdict: "one shared manifest-swap
  * commit device would retire the whole class instead of fixing
  * instances").
  *
  * Layout under an index root:
  * {{{
  *   <root>/MANIFEST            committed segment list (the ONLY
  *                              thing readers trust)
  *   <root>/seg_<batchId>/      one parquet dir per committed batch
  *   <root>/fold_<maxBatch>/    a fold of every segment ≤ maxBatch
  * }}}
  *
  * The manifest is a text file, one `<maxBatch>\t<dirName>` line per
  * live segment after a version header. COMMIT = write the segment
  * dir fully, then swap the manifest (write `MANIFEST.tmp`, rename
  * over `MANIFEST` with `Options.Rename.OVERWRITE` — atomic on HDFS
  * and POSIX; object stores without atomic rename need a fronting
  * commit service, the same caveat Delta/Iceberg carry). Readers
  * resolve segment dirs through the manifest ONLY, so every crash
  * window collapses to one of two visible states:
  *
  *  - crash BEFORE the swap: the new segment/fold dir exists but is
  *    unreferenced — readers see the previous committed state,
  *    exactly once;
  *  - crash AFTER the swap, before pruning: stale dirs linger
  *    unreferenced — readers see the new state, exactly once.
  *
  * Neither window can duplicate rows, so indexes folded by SUM are as
  * crash-safe as existence sets — the class of bug the r16 quota-
  * index review fix patched instance-by-instance is retired by
  * construction (crash-injection laws in IndexCommitSpec).
  *
  * Replay discipline (the [[DocStreams]] batch-provenance contract,
  * preserved): every segment carries the batch id that wrote it;
  * readers filter `maxBatch < ownBatchId`, so a replayed batch never
  * reads its own earlier commit, rewrites its segment dir in place,
  * and republishes an identical manifest — idempotent end to end.
  *
  * Two read modes match the two state shapes:
  *  - INCREMENTAL stores (per-batch new-key appends): [[readBefore]]
  *    unions every live segment below the batch; [[fold]] merges
  *    settled segments into one `fold_` dir periodically.
  *  - CUMULATIVE stores (whole-state snapshots, e.g. Bloom word
  *    tables): [[commitBatch]] with `cumulative = true` keeps only
  *    the newest prior snapshot (the replay target) plus the new
  *    one; [[readLatestBefore]] reads the single newest live
  *    snapshot below the batch.
  */
object IndexCommit {

  /** One live segment: parquet dir name + the highest batch id whose
    * rows it contains (a `seg_` dir holds exactly that batch; a
    * `fold_` dir holds every batch ≤ `maxBatch`).
    */
  case class Segment(dir: String, maxBatch: Long)

  private val Header = "graft-index-v1"
  private val SegName = "^(?:seg|fold)_(-?\\d+)$".r

  private def fsOf(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The committed segment list — empty for an absent/new root. */
  def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Segment] = {
    val mf = new org.apache.hadoop.fs.Path(root, "MANIFEST")
    if (!fs.exists(mf)) return Seq.empty
    val in = fs.open(mf)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    require(lines.headOption.contains(Header),
      s"$root/MANIFEST is not a $Header manifest: ${lines.headOption}")
    lines.tail.map { l =>
      val Array(mb, dir) = l.split("\t", 2)
      Segment(dir, mb.toLong)
    }
  }

  /** Atomically publish `segs` as the committed manifest: write
    * `MANIFEST.tmp`, rename over `MANIFEST` (OVERWRITE — the one
    * atomic primitive the device rests on).
    */
  private[graft] def publish(spark: SparkSession, root: String,
      segs: Seq[Segment]): Unit = {
    val (fs, rootP) = fsOf(spark, root)
    fs.mkdirs(rootP)
    val tmp = new org.apache.hadoop.fs.Path(rootP, "MANIFEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (Header +: segs.sortBy(s => (s.maxBatch, s.dir))
        .map(s => s"${s.maxBatch}\t${s.dir}")).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      rootP.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, new org.apache.hadoop.fs.Path(rootP, "MANIFEST"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Union of every live segment with `maxBatch < batchId` — the
    * incremental-store probe frame (empty `schema` frame when none).
    */
  def readBefore(spark: SparkSession, root: String, batchId: Long,
      schema: StructType): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    val live = readManifest(fs, rootP).filter(_.maxBatch < batchId)
    if (live.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema)
        .parquet(live.map(s => s"$root/${s.dir}"): _*)
  }

  /** The single NEWEST live segment below `batchId` — the
    * cumulative-store (snapshot) probe frame, or None when no prior
    * snapshot is committed.
    */
  def readLatestBefore(spark: SparkSession, root: String, batchId: Long,
      schema: StructType): Option[DataFrame] = {
    val (fs, rootP) = fsOf(spark, root)
    readManifest(fs, rootP).filter(_.maxBatch < batchId)
      .sortBy(_.maxBatch).lastOption
      .map(s => spark.read.schema(schema).parquet(s"$root/${s.dir}"))
  }

  /** Open an incremental store for batch `batchId`: fail fast on a
    * foreign layout ([[requireManifestLayout]], `what` names the store
    * in the error), fold the settled segments with `distinct` every
    * `compactEvery` batches (`0` never folds), and return
    * [[readBefore]] — the per-batch sequence every incremental index
    * of [[DocStreams]] runs before it probes.
    */
  def openBefore(spark: SparkSession, root: String, batchId: Long,
      schema: StructType, compactEvery: Int, what: String): DataFrame = {
    val (fs, rootP) = fsOf(spark, root)
    requireManifestLayout(fs, rootP, what)
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      fold(spark, root, batchId, schema, _.distinct())
    readBefore(spark, root, batchId, schema)
  }

  /** Commit one batch's rows (incremental) or the whole-state
    * snapshot (`cumulative = true`): write `seg_<batchId>` fully,
    * then swap the manifest. A replayed batch rewrites the same dir
    * and republishes an identical manifest (its stale entry — and,
    * cumulative, any entry above the kept prior — is dropped before
    * the new one is appended). Cumulative commits retain the newest
    * PRIOR snapshot alongside the new one: it is the replay's read
    * target, pruned only by the NEXT batch's commit.
    */
  def commitBatch(df: DataFrame, root: String, batchId: Long,
      cumulative: Boolean = false): Unit = {
    val spark = df.sparkSession
    val dir = s"seg_$batchId"
    df.write.mode("overwrite").parquet(s"$root/$dir")
    val (fs, rootP) = fsOf(spark, root)
    val prior = readManifest(fs, rootP).filter(_.maxBatch < batchId)
    val kept =
      if (cumulative) prior.sortBy(_.maxBatch).lastOption.toSeq else prior
    publish(spark, root, kept :+ Segment(dir, batchId))
    if (cumulative) prune(spark, root)
  }

  /** Merge every settled segment (`maxBatch < batchId`) into one
    * `fold_<keep>` dir, swap the manifest, prune unreferenced dirs.
    * `merge` is the store's own fold rule (distinct keys for
    * existence sets; anything — including additive folds — is now
    * crash-safe, because readers never see a fold and its inputs in
    * the same manifest). No-op below two settled segments.
    */
  def fold(spark: SparkSession, root: String, batchId: Long,
      schema: StructType, merge: DataFrame => DataFrame): Unit = {
    foldNoPrune(spark, root, batchId, schema, merge)
    prune(spark, root)
  }

  /** [[fold]] minus the final prune — split out as the crash-
    * injection seam (IndexCommitSpec kills "between the fold write
    * and the stale-partition delete" by calling exactly this).
    */
  private[graft] def foldNoPrune(spark: SparkSession, root: String,
      batchId: Long, schema: StructType,
      merge: DataFrame => DataFrame): Unit = {
    val (fs, rootP) = fsOf(spark, root)
    val all = readManifest(fs, rootP)
    val settled = all.filter(_.maxBatch < batchId)
    if (settled.size <= 1) return
    val keep = settled.map(_.maxBatch).max
    val dir = s"fold_$keep"
    // the materializing cut breaks lineage so the fold never reads a
    // dir it may later replace (fold_<keep> can exist from a crashed
    // earlier attempt and may be among the live segments)
    val merged = graft.operators.Checkpoints.cut(
      merge(spark.read.schema(schema)
        .parquet(settled.map(s => s"$root/${s.dir}"): _*)), None)
    try merged.write.mode("overwrite").parquet(s"$root/$dir")
    finally graft.operators.Checkpoints.release(Seq(merged))
    publish(spark, root,
      Segment(dir, keep) +: all.filterNot(_.maxBatch < batchId))
  }

  /** Delete `seg_`/`fold_` dirs the committed manifest no longer
    * references. Garbage-only by construction: anything deletable
    * here is invisible to every reader.
    */
  private[graft] def prune(spark: SparkSession, root: String): Unit = {
    val (fs, rootP) = fsOf(spark, root)
    if (!fs.exists(rootP)) return
    val live = readManifest(fs, rootP).map(_.dir).toSet
    fs.listStatus(rootP).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && SegName.findFirstIn(n).isDefined && !live(n))
        fs.delete(st.getPath, true)
    }
  }

  /** Fail fast when `root` exists but is not a manifest-layout index
    * (e.g. a pre-r17 `batch_id=N`-partitioned store): silent reads of
    * a foreign layout would dedup/quota against an empty index. An
    * empty or absent root is fine (a new stream).
    */
  def requireManifestLayout(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, what: String): Unit = {
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root).map(_.getPath.getName)
      .filterNot(n => n == "MANIFEST" || n.startsWith("MANIFEST.tmp") ||
        n.startsWith("_") || n.startsWith("."))
    val foreign = entries.filterNot(n => SegName.findFirstIn(n).isDefined)
    require(foreign.isEmpty,
      s"$what: '$root' holds non-manifest entries ${foreign.take(3).mkString(", ")} — " +
        "migrate the legacy store (read it, commitBatch it as one segment) before resuming.")
  }
}
