package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Lineage cuts carry their measured size: the exact row count and the
  * bytes they wrote, so the planner's own broadcast threshold applies
  * to joins against them.
  */
class CheckpointsSpec extends SparkSpec {

  /** Two parquet tables: 20,000 lines over 5,000 orders of 150 customers. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-cut").toString
    spark.range(20000).select((col("id") % 5000).as("l_orderkey"))
      .write.parquet(s"$d/lineitem")
    spark.range(5000).select(col("id").as("o_orderkey"), (col("id") % 150).as("o_custkey"))
      .write.parquet(s"$d/orders")
    d
  }

  /** A parquet join+aggregate: Spark's size-only estimator multiplies
    * the join's input sizes, so its pre-cut estimate is far above what
    * the aggregate really holds.
    */
  private def joinAgg(): DataFrame =
    spark.read.parquet(s"$dir/lineitem")
      .join(spark.read.parquet(s"$dir/orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_lines"))

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def rddId(cut: DataFrame): Int = cut.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
  }

  test("a cut of a parquet join+aggregate reports its exact rowCount, in both durability modes") {
    val expected = joinAgg().count()
    assert(expected > 0)
    for (dir <- Seq(None, Some(TestSpark.ckptDir))) {
      val cut = Checkpoints.cut(joinAgg(), dir)
      val stats = cut.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(expected)), s"$dir: $stats")
      assert(Checkpoints.rows(cut) === expected)
      // bytes are what the cut wrote: positive, and far below the
      // multiplied pre-cut estimate of the join it came from
      assert(stats.sizeInBytes > 0 && stats.sizeInBytes < BigInt(1L << 20),
        s"$dir: $stats")
      assert(cut.count() === expected)
    }
  }

  test("with AQE off, a hint-free join of two cuts plans a broadcast hash join") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val a = Checkpoints.cut(joinAgg(), None)
      val b = Checkpoints.cut(
        joinAgg().select(col("o_custkey"), (col("n_lines") * 2).as("m")), None)
      val joined = a.join(b, Seq("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
      assert(joined.count() === Checkpoints.rows(a))
    }
  }

  test("broadcastRule hints by the cut's measured bytes against the session threshold") {
    val cut = Checkpoints.cut(spark.range(100).toDF("id"), None)
    val derived = cut.select((col("id") + 1).as("id"))
    assert(Checkpoints.broadcastRule(cut)(derived).queryExecution.analyzed
      .toString.contains("ResolvedHint (strategy=broadcast)"))
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(Checkpoints.broadcastRule(cut)(derived) eq derived)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold",
      (Checkpoints.bytes(cut) - 1).toString) {
      assert(Checkpoints.broadcastRule(cut)(derived) eq derived)
    }
  }

  test("release frees the blocks of the given cuts and nothing else") {
    val sc = spark.sparkContext
    val kept = Checkpoints.cut(spark.range(50).toDF("id"), None)
    val gone = Checkpoints.cut(spark.range(60).toDF("id"), None)
    val other = spark.range(70).toDF("id").localCheckpoint()
    val goneId = rddId(gone)
    assert(sc.getPersistentRDDs.contains(goneId))
    Checkpoints.release(Seq(gone))
    assert(!sc.getPersistentRDDs.contains(goneId))
    assert(sc.getPersistentRDDs.contains(rddId(kept)))
    assert(sc.getPersistentRDDs.contains(rddId(other)))
    assert(kept.count() === 50L)
    assert(other.count() === 70L)
    Checkpoints.release(Seq(kept, other))
  }
}
