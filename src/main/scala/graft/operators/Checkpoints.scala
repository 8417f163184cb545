package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.Bridge

/** Lineage cuts for the iterative operators (connected components,
  * PageRank, k-core, k-hop, BFS).
  *
  * Two durability modes, chosen by the `checkpointDir` knob every
  * iterative operator threads through:
  *
  *  - `None` → `localCheckpoint()`: blocks live in executor storage
  *    memory. Fast (no filesystem write) and right for single-JVM /
  *    short-job use — but a lost executor loses blocks that are
  *    UN-recomputable (the lineage was truncated), failing the job
  *    mid-iteration.
  *  - `Some(dir)` → reliable `checkpoint()`: blocks are written to a
  *    (HDFS-compatible) checkpoint directory and survive executor
  *    loss — the mode a 1000-executor job reading 100 TB should run,
  *    where the probability of losing SOME executor over a multi-round
  *    iteration approaches 1. Costs one distributed filesystem write
  *    per cut.
  *
  * The SparkContext has ONE checkpoint dir: the first `Some(dir)` cut
  * sets it if unset, later cuts reuse it (Spark creates a unique
  * subdirectory per checkpoint, so operators never collide). A later
  * cut requesting a DIFFERENT dir keeps the first one (logged at warn
  * — per-operator dirs would need per-operator SparkContexts).
  *
  * Reliable checkpoint files are not deleted at job end by default;
  * long-running services should set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (best
  * effort, on RDD GC) or clean the directory between runs.
  *
  * MEASURED SIZE. A cut carries its own size: the frame [[cut]]
  * returns is a `LogicalRDD` whose `Statistics` hold the exact row
  * count, counted by the cut's own materialization job as it copies
  * the rows (no job and no plan operator is added), and the bytes of
  * the blocks it wrote (executor storage for
  * local cuts, checkpoint files for durable ones), read on the driver.
  * Spark's own checkpoint keeps the optimizer's pre-cut ESTIMATE
  * instead (a 150-row cut of a parquet join+aggregate reports
  * 1.6 GiB), which would plan every join against a cut as a shuffle.
  * Loops read their convergence counts off [[rows]] instead of a
  * count pass.
  *
  * THE BROADCAST RULE. A join directly against a cut is planned by
  * Spark's own byte-aware `spark.sql.autoBroadcastJoinThreshold`.
  * Frames a loop DERIVES from its cuts by joins are not: Spark's
  * size-only estimator multiplies a join's input sizes (a measured
  * 23 KiB, 1,000-vertex rank frame is estimated at 1.15 GB after one
  * pageRank round and 6.9e13 B after two), so such loops hint their
  * per-round frames with [[broadcastRule]]: broadcast iff the loop's
  * cut frame measured at most that same threshold. This is the only
  * place graft decides broadcast-vs-shuffle for cut frames, and the
  * budget is bytes, not rows: a loop whose frames outgrow the 10 MiB
  * default shuffles unless the session raises the threshold.
  */
object Checkpoints {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Materialize `df` and truncate its lineage, durable iff `dir` is
    * set, returning a frame that carries its measured rows and bytes
    * (see MEASURED SIZE above). Both modes are eager, run ONE job (a
    * durable cut writes its files in the materializing job, so no
    * cache is needed to spare the upstream plan a second pass) and
    * preserve the physical partitioning (`outputPartitioning` stays on
    * the resulting `LogicalRDD` either way), so co-partitioned
    * iterative joins keep their shuffle-free rounds in both.
    */
  def cut(df: DataFrame, dir: Option[String]): DataFrame = {
    dir.foreach { d =>
      val sc = df.sparkSession.sparkContext
      sc.getCheckpointDir match {
        case None => sc.setCheckpointDir(d)
        case Some(cur) if !sameCheckpointDir(sc.hadoopConfiguration, d, cur) =>
          log.warn(s"Checkpoints.cut: checkpoint dir already set to '$cur'; " +
            s"ignoring requested '$d' (one dir per SparkContext)")
        case _ => ()
      }
    }
    val (cutPlan, rows) = Bridge.checkpoint(df, durable = dir.isDefined)
    val rdd = cutPlan.rdd
    val bytes = rdd.getCheckpointFile match {
      case Some(f) =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
      case None => Bridge.storedBytes(rdd)
    }
    Bridge.withStats(cutPlan, df.sparkSession, bytes, rows)
  }

  /** Rows `cut` counted while it materialized. */
  def rows(cut: DataFrame): Long = measured(cut).rowCount.get.toLong

  /** Bytes of the blocks `cut` wrote. */
  def bytes(cut: DataFrame): Long = measured(cut).sizeInBytes.toLong

  /** THE BROADCAST RULE (see above): `broadcast` for frames a loop
    * derives from `cut` by joins when `cut`'s measured bytes fit
    * `spark.sql.autoBroadcastJoinThreshold`, identity otherwise. Pass
    * a cut of the hinted frames' own size class: the vertex set for
    * vertex-sized frames, never the edge list, which can outgrow the
    * threshold while its vertices fit it many times over.
    */
  def broadcastRule(cut: DataFrame): DataFrame => DataFrame =
    if (fitsBroadcast(cut.sparkSession, bytes(cut))) broadcast(_) else identity

  /** Whether `bytes` fit `spark.sql.autoBroadcastJoinThreshold` (the
    * budget [[broadcastRule]] applies; a negative threshold fits
    * nothing).
    */
  def fitsBroadcast(spark: SparkSession, bytes: BigInt): Boolean = {
    val threshold = Bridge.broadcastThreshold(spark)
    threshold >= 0 && bytes <= threshold
  }

  /** [[broadcastRule]] for a loop that keeps no cut of its hinted
    * frames' size class: `df` (typically the loop's distinct vertex
    * set) is cut locally once to be measured and released at once.
    */
  def broadcastRuleFor(df: DataFrame): DataFrame => DataFrame = {
    val c = cut(df, None)
    try broadcastRule(c) finally release(Seq(c))
  }

  /** Free the executor blocks behind `cuts` — only the RDD each cut
    * frame is backed by, read off its `LogicalRDD`, so another query's
    * blocks on the same SparkContext are never touched. Durable cuts
    * hold no executor blocks (their files stay until the checkpoint
    * dir is cleaned). A released cut must not be read again: its
    * lineage is gone.
    */
  def release(cuts: Iterable[DataFrame]): Unit =
    cuts.flatMap(backing).foreach(_.rdd.unpersist(blocking = false))

  private def backing(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l)
      case _ => None
    }

  private def measured(cut: DataFrame) = backing(cut)
    .getOrElse(throw new IllegalArgumentException(
      "Checkpoints: not a frame returned by Checkpoints.cut"))
    .computeStats()

  /** `SparkContext.setCheckpointDir(d)` stores a fully-qualified path
    * with a per-context UUID subdirectory appended, so the current dir
    * matches a requested one iff its PARENT equals the qualified
    * request — substring checks false-negative on qualification
    * ('file:/x' vs '/x') and false-positive on prefixes ('/tmp/a' vs
    * '/tmp/ab/<uuid>').
    */
  private def sameCheckpointDir(
      conf: org.apache.hadoop.conf.Configuration,
      requested: String,
      current: String): Boolean = {
    val req = new org.apache.hadoop.fs.Path(requested)
    val qualified = req.getFileSystem(conf).makeQualified(req)
    val curParent = new org.apache.hadoop.fs.Path(current).getParent
    qualified == curParent
  }
}
