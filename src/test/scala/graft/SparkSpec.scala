package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (sbt forks a single test
  * JVM, so suites reuse the warm session instead of paying ~5s each).
  */
object TestSpark {
  /** One durable-checkpoint dir for the whole test JVM: the
    * SparkContext honors only the FIRST setCheckpointDir, so every
    * both-modes (reliable-checkpoint) test must request the same dir.
    */
  lazy val ckptDir: String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with broadcast joins off
    * (`spark.sql.autoBroadcastJoinThreshold=-1`) — the shuffle leg of
    * the both-path cases (the broadcast rule reads the same threshold).
    * Actions belong inside `body`: plans are made when they run.
    */
  def shuffled[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body
    finally spark.conf.set(key, prev)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Collect to a comparable set of plain tuples-as-rows. */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def strings(df: DataFrame, colName: String): Set[String] =
    df.select(colName).collect().map(_.getString(0)).toSet

  def shuffled[T](body: => T): T = TestSpark.shuffled(body)
}
