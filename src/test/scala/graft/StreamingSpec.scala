package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.OutputMode

import graft.model.{Edge, RelationshipDoc, Stats}
import graft.streaming.{EdgeStreams, EventStreams}

/** Top-level (not inner) so `.as[FixEv]` deserialization works on
  * parquet-sourced frames — inner classes can't be re-instantiated by
  * the encoder without the enclosing scope.
  */
case class FixEv(event_id: Long, user_id: String, event_type: String, ts: Timestamp, value: Double)

/** Top-level for the same encoder reason as [[FixEv]]. */
case class FixDoc(doc_id: Long, text: String)
case class FixWebDoc(doc_id: Long, url: String, text: String)
case class FixVec(vec_id: Long, embedding: Seq[Float])
case class FixSrcDoc(doc_id: Long, source: String, text: String)

/** Structured Streaming specs via MemoryStream: watermark late-data
  * eviction, windowed aggregation, and the T3 stateful
  * upsert-if-greater (monotone emissions).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Committed rows of a manifest-layout state index (the
    * [[graft.streaming.IndexCommit]] stores) — what a reader with no
    * batch fence sees. Requires at least one committed segment.
    */
  private def readIndex(root: String): org.apache.spark.sql.DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val segs = graft.streaming.IndexCommit.readManifest(fs, p)
    assert(segs.nonEmpty, s"no committed segments under $root")
    spark.read.parquet(segs.map(s => s"$root/${s.dir}"): _*)
  }

  /** seg_/fold_ dir names present on disk under an index root. */
  private def indexDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("seg_") || f.getName.startsWith("fold_")))
      .map(_.getName)

  /** The [[graft.streaming.DocStreams.scoreStream]] contract for one
    * batch scorer: `rows` replayed through a memory stream in three
    * chunks land in the sink as exactly the rows `score` gives over
    * the whole input (set AND count: an append-mode sink would pass a
    * set compare while duplicating rows), and a replayed batch (a
    * foreachBatch retry re-running the sink write with its own
    * batchId, twice) leaves its partition's row count and the whole
    * sink unchanged. Returns the streamed rows without `batch_id`.
    */
  private def scoreStreamLaw[T <: Product: org.apache.spark.sql.Encoder](
      rows: Seq[T], dirs: String)(
      score: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    def frame(part: Seq[T]) = spark.createDataset(part).toDF()
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    val in = MemoryStream[T]
    val q = graft.streaming.DocStreams.scoreStream(
      in.toDF(), s"$dirs/out", s"$dirs/ckpt")(score)
    try chunks.foreach { chunk =>
      in.addData(chunk)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$dirs/out")
    val batch = score(frame(rows)).collect()
    assert(batch.nonEmpty)
    assert(out.count() === batch.length.toLong)
    assert(rowSet(out.drop("batch_id")) === batch.map(_.toSeq).toSet)
    val last = (chunks.length - 1).toLong
    val before = rowSet(out)
    val lastCount = out.filter(col("batch_id") === last).count()
    (1 to 2).foreach(_ => graft.streaming.DocStreams.writeBatchPartition(
      score(frame(chunks.last)), s"$dirs/out", last))
    val replayed = spark.read.parquet(s"$dirs/out")
    assert(replayed.filter(col("batch_id") === last).count() === lastCount)
    assert(rowSet(replayed) === before)
    replayed.drop("batch_id")
  }

  case class Ev(event_id: Long, user_id: String, event_type: String, ts: Timestamp, value: Double)

  private def t(sec: Long) = new Timestamp(sec * 1000)

  test("tumbling stream: finalized windows exclude late data behind the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.tumbling(in.toDF(), delay = "10 seconds", size = "60 seconds")
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two events in window [0,60); head event at t=100 pushes
      // the watermark to 90 at the NEXT trigger, finalizing [0,60)
      in.addData(
        Ev(1, "u1", "click", t(5), 1.0),
        Ev(2, "u1", "click", t(20), 2.0),
        Ev(3, "u1", "click", t(100), 4.0))
      q.processAllAvailable()
      // batch 2: late event for the already-finalized window — dropped
      in.addData(Ev(4, "u1", "click", t(30), 100.0))
      q.processAllAvailable()
      // batch 3: advance watermark past window [60,120) to flush it
      in.addData(Ev(5, "u1", "click", t(200), 8.0))
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .as[(Long, String, Long, Long)].collect().toSet
      assert(rows.contains((0L, "click", 2L, 30000L))) // late 100.0 NOT counted
      assert(rows.contains((60000L, "click", 1L, 40000L)))
    } finally q.stop()
  }

  test("tumbling stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // the real sf0.001 events table, replayed through a MemoryStream in
    // ts-ordered chunks: the watermark only advances between batches, so
    // ordered chunks guarantee no event is ever dropped as late — the
    // streaming output over finalized windows must then equal the batch
    // operator exactly (the cross-engine-twin proof for §2.9/T1)
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.tumbling(in.toDF(), delay = "10 seconds", size = "3600 seconds")
      .writeStream.format("memory").queryName("tumble_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // flush sentinel two window-lengths past the end finalizes every
      // real window; its own window never finalizes so it never appears
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("tumble_fixture"))
      val batch = rowSet(graft.operators.EventOps.tumbling(evs.toSeq.toDF(), 3600000L))
      assert(streamed === batch)
    } finally q.stop()
  }

  test("sliding stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // completes the window-family parity trio (tumbling, sessions,
    // sliding): overlapping windows mean each event lands in
    // size/slide windows — the state-store bookkeeping differs most
    // from batch here
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.sliding(in.toDF(), delay = "10 seconds",
      size = "3600 seconds", slide = "900 seconds")
      .writeStream.format("memory").queryName("slide_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("slide_fixture"))
      val batch = rowSet(graft.operators.EventOps.sliding(
        evs.toSeq.toDF(), 3600000L, 900000L))
      assert(streamed === batch)
    } finally q.stop()
  }

  test("transitions stream: watermark-ordered emission under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.transitions(in.toDF(), delay = "10 seconds")
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append).start()
    try {
      // u1's first two events arrive OUT of order within one batch;
      // nothing is emitted yet (all above the initial watermark)
      in.addData(
        Ev(1, "u1", "b", t(20), 0), Ev(2, "u1", "a", t(5), 0),
        Ev(3, "u1", "c", t(40), 0))
      q.processAllAvailable()
      // watermark -> 30s: a@5 and b@20 finalize IN EVENT-TIME ORDER
      in.addData(Ev(4, "u2", "x", t(100), 0))
      q.processAllAvailable()
      // watermark -> 190s: the timeout drains c@40 with no new u1 data
      in.addData(Ev(5, "u3", "x", t(200), 0))
      q.processAllAvailable()
      // a late u1 event far below the watermark is dropped entirely
      in.addData(Ev(6, "u1", "late", t(15), 0))
      q.processAllAvailable()
      val rows = spark.table("trans_out")
        .as[(String, String, String, Long)].collect().toSet
      assert(rows === Set(
        ("u1", "a", "b", 20000000L),
        ("u1", "b", "c", 40000000L)))
    } finally q.stop()
  }

  test("transitions stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.transitions(in.toDF(), delay = "10 seconds")
      .writeStream.format("memory").queryName("trans_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // far-future sentinel on an unused user advances the watermark so
      // every real user's buffer drains via its event-time timeout; the
      // sentinel user has one event, so it contributes no transitions
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("trans_fixture")
        .groupBy($"from_type", $"to_type")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")))
      val batch = rowSet(graft.operators.EventOps.transitions(evs.toSeq.toDF()))
      assert(streamed === batch)
    } finally q.stop()
  }

  test("funnel stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.funnel(in.toDF(), delay = "10 seconds", steps = steps)
      .writeStream.format("memory").queryName("funnel_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // sentinel advances the watermark so buffers drain; its type is
      // not a funnel step, so it emits nothing
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("funnel_fixture")
        .groupBy($"step", $"event_type")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_users")))
      val batch = rowSet(graft.operators.EventOps.funnel(evs.toSeq.toDF(), steps))
      assert(streamed === batch)
      // each user advances a given step at most once
      val perUserStep = spark.table("funnel_fixture")
        .groupBy($"user_id", $"step").count().filter($"count" > 1).count()
      assert(perUserStep === 0L)
    } finally q.stop()
  }

  test("funnel stream: out-of-order arrivals still advance in event-time order") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.funnel(in.toDF(), delay = "10 seconds",
        steps = Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode(OutputMode.Append).start()
    try {
      // click arrives BEFORE the view in arrival order, but after it in
      // event time -> both steps complete once finalized
      in.addData(Ev(2, "u1", "click", t(50), 1.0), Ev(1, "u1", "view", t(20), 1.0))
      q.processAllAvailable()
      in.addData(Ev(9, "zz", "flush", t(1000), 0.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_ooo")
        .select("user_id", "step", "event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(rows === Set(("u1", 1L, "view"), ("u1", 2L, "click")))
    } finally q.stop()
  }

  test("funnel stream: same-millisecond step events match the batch ms clock") {
    // the batch twin compares unix_millis; a click in the SAME ms as
    // the view (different micros) must not advance the funnel here
    // either — a later click does
    implicit val sqlCtx = spark.sqlContext
    def tUs(us: Long) = { val ts = new Timestamp(us / 1000); ts.setNanos(((us % 1000000) * 1000).toInt); ts }
    val in = MemoryStream[Ev]
    val q = EventStreams.funnel(in.toDF(), delay = "10 seconds",
        steps = Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_msclock")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1, "u1", "view", tUs(20000500L), 1.0),   // ms 20000, +500us
        Ev(2, "u1", "click", tUs(20000900L), 1.0),  // SAME ms -> no advance
        Ev(3, "u1", "click", tUs(20002000L), 1.0))  // ms 20002 -> advances
      q.processAllAvailable()
      in.addData(Ev(9, "zz", "flush", t(1000), 0.0))
      q.processAllAvailable()
      val rows = spark.table("funnel_msclock")
        .select("user_id", "step", "event_type", "t_ms")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(rows === Set(("u1", 1L, "view", 20000L), ("u1", 2L, "click", 20002L)))
    } finally q.stop()
  }

  test("session stream: gap merge inside the state store") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessions(in.toDF(), delay = "5 seconds", gap = "30 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1, "u1", "x", t(0), 0), Ev(2, "u1", "x", t(10), 0), // one session
        Ev(3, "u1", "x", t(100), 0)) // second session
      q.processAllAvailable()
      in.addData(Ev(9, "u9", "x", t(1000), 0)) // flush watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[(String, Long, Long, Long)].collect().toSet
      assert(rows.contains(("u1", 0L, 10000L, 2L)))
      assert(rows.contains(("u1", 100000L, 100000L, 1L)))
    } finally q.stop()
  }

  test("session stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // same replay protocol as the tumbling case, but for the hardest
    // streaming state: gap-merged session windows. Proves the state
    // store's merge logic computes exactly the batch lag/sum-over-window
    // sessionization on real event data.
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.sessions(in.toDF(), delay = "10 seconds", gap = "1800 seconds")
      .writeStream.format("memory").queryName("sess_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // sentinel a full gap + delay past the end closes every real session
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 3700000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("sess_fixture"))
      val batch = rowSet(graft.operators.EventOps.sessions(evs.toSeq.toDF(), 1800000L))
      assert(streamed === batch)
    } finally q.stop()
  }

  test("T3 upsert-if-greater: emits only strict max increases per edge key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RelationshipDoc]
    val edges = EdgeStreams.edgesFromDocStream(in.toDF())
    val q = EdgeStreams.upsertIfGreater(edges)
      .writeStream.format("memory").queryName("upsert_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(RelationshipDoc(t(0), "A", "B", Stats(3, 7)))
      q.processAllAvailable()
      val afterB1 = spark.table("upsert_out").as[Edge].collect().toSet
      assert(afterB1 === Set(Edge("A", "B", 3.0), Edge("B", "A", 7.0)))
      // lower score: no emission; higher score: one emission
      in.addData(RelationshipDoc(t(1), "A", "B", Stats(2, 9)))
      q.processAllAvailable()
      val afterB2 = spark.table("upsert_out").as[Edge].collect().toSet
      assert(afterB2 === Set(Edge("A", "B", 3.0), Edge("B", "A", 7.0), Edge("B", "A", 9.0)))
      // final state per key equals the batch groupBy-max
      val finalPerKey = afterB2.groupBy(e => (e.src, e.dst)).view
        .mapValues(_.map(_.score).max).toMap
      assert(finalPerKey === Map(("A", "B") -> 3.0, ("B", "A") -> 9.0))
    } finally q.stop()
  }

  test("file etl: AvailableNow drains new files and merges into parquet state") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_etl").toString
    val (inDir, stateDir, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
    val schema = Seq.empty[RelationshipDoc].toDF().schema

    // batch 1
    Seq(RelationshipDoc(t(0), "A", "B", Stats(3, 7)))
      .toDF().write.mode("append").parquet(inDir)
    EdgeStreams.runFileEtl(spark, inDir, schema, stateDir, ckpt).awaitTermination()
    val s1 = spark.read.parquet(stateDir)
    assert(rowSet(s1) === Set(Seq("A", "B", 3.0), Seq("B", "A", 7.0)))

    // batch 2: one lower (ignored), one higher (upserted), one new pair
    Seq(
      RelationshipDoc(t(10), "A", "B", Stats(2, 9)),
      RelationshipDoc(t(11), "C", "D", Stats(1, 1)))
      .toDF().write.mode("append").parquet(inDir)
    EdgeStreams.runFileEtl(spark, inDir, schema, stateDir, ckpt).awaitTermination()
    val s2 = spark.read.parquet(stateDir)
    assert(rowSet(s2) === Set(
      Seq("A", "B", 3.0), Seq("B", "A", 9.0),
      Seq("C", "D", 1.0), Seq("D", "C", 1.0)))
  }

  test("file etl: durable cutDir mode merges identically") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_etl_cut").toString
    val (inDir, stateDir, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
    val schema = Seq.empty[RelationshipDoc].toDF().schema
    val cut = Some(TestSpark.ckptDir)
    Seq(RelationshipDoc(t(0), "A", "B", Stats(3, 7)))
      .toDF().write.mode("append").parquet(inDir)
    EdgeStreams.runFileEtl(spark, inDir, schema, stateDir, ckpt, cutDir = cut)
      .awaitTermination()
    Seq(
      RelationshipDoc(t(10), "A", "B", Stats(2, 9)),
      RelationshipDoc(t(11), "C", "D", Stats(1, 1)))
      .toDF().write.mode("append").parquet(inDir)
    EdgeStreams.runFileEtl(spark, inDir, schema, stateDir, ckpt, cutDir = cut)
      .awaitTermination()
    // reliable-checkpoint cuts must reach the same state as the
    // localCheckpoint default (the sibling test above)
    assert(rowSet(spark.read.parquet(stateDir)) === Set(
      Seq("A", "B", 3.0), Seq("B", "A", 9.0),
      Seq("C", "D", 1.0), Seq("D", "C", 1.0)))
  }

  test("stream-stream interval join pairs events only inside the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = EventStreams.attributionJoin(
      clicks.toDF(), purchases.toDF(), delay = "5 seconds", horizonSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(Ev(1, "u1", "click", t(100), 0))
      purchases.addData(
        Ev(10, "u1", "purchase", t(130), 9.0), // inside 60s horizon
        Ev(11, "u1", "purchase", t(200), 5.0), // outside
        Ev(12, "u2", "purchase", t(120), 1.0)) // other user
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(rows === Set((1L, "u1", 100000L, 10L, 130000L, 90000L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched lefts after watermark eviction") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = EventStreams.attributionJoin(
      clicks.toDF(), purchases.toDF(), delay = "5 seconds",
      horizonSeconds = 60, joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Ev(1, "u1", "click", t(100), 0), // will convert
        Ev(2, "u2", "click", t(100), 0)) // never converts
      purchases.addData(Ev(10, "u1", "purchase", t(130), 9.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past t(100)+horizon so u2's click is
      // provably unmatchable and leaves the state store as a null-match
      clicks.addData(Ev(3, "u3", "click", t(1000), 0))
      purchases.addData(Ev(11, "u3", "purchase", t(1001), 1.0))
      q.processAllAvailable()
      val rows = spark.table("attr_outer_out")
        .select("l_event_id", "r_event_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, Some(10L))))       // inner result
      assert(rows.contains((2L, None)))            // outer null-match
      assert(!rows.contains((3L, None)))           // still inside horizon
    } finally q.stop()
  }

  test("streaming dedup within watermark drops replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.dedup(in.toDF(), delay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, "u1", "x", t(0), 1.0), Ev(1, "u1", "x", t(0), 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, "u1", "x", t(1), 1.0), Ev(2, "u1", "x", t(2), 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2) // ids {1,2} once each
    } finally q.stop()
  }

  test("streaming first-seen doc dedup equals batch exactDedup on an id-ordered replay") {
    implicit val sqlCtx = spark.sqlContext
    // sf0.001 documents are all-distinct; append late re-crawls (same
    // text, higher ids) so the first-seen state is load-bearing
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val docs = base ++ base.take(20).map(d => d.copy(doc_id = d.doc_id + 100000L))
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.firstSeenDedup(in.toDF())
      .writeStream.format("memory").queryName("doc_dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(math.max(docs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("doc_dedup_out")
        .select("doc_id").as[Long].collect().toSet
      // id-ordered replay: first sight per content = min doc_id = the
      // batch canonical choice
      val batch = graft.operators.Dedup.exactDedup(docs.toSeq.toDF("doc_id", "text"))
        .select("canonical_id").as[Long].collect().toSet
      assert(streamed === batch)
      // duplicates exist in the fixture, so the dedup is load-bearing
      assert(streamed.size < docs.length)
    } finally q.stop()
  }

  test("cdc stream: end-state equals batch applyChangelog; stale changes absorbed") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Long, Long, Long)]
    val q = EventStreams.cdcApply(
        in.toDF().toDF("key", "op", "value_e4", "ts_ms", "seq"))
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(("a", "U", 100L, 10L, 1L), ("b", "U", 200L, 10L, 2L))
      q.processAllAvailable()
      // b's tombstone, a's newer value, new key c
      in.addData(("b", "D", 0L, 20L, 3L), ("a", "U", 150L, 20L, 4L),
        ("c", "U", 300L, 20L, 5L))
      q.processAllAvailable()
      // stale replays (at/below applied positions) must emit nothing
      in.addData(("a", "U", 999L, 10L, 1L), ("b", "U", 888L, 15L, 1L))
      q.processAllAvailable()
      val rows = spark.table("cdc_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      // last emission per key is the live state; b ends as a retraction
      val last = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, g) => k -> g.maxBy(_._2)._1 }
      assert(last("a") === (("a", 150L, 20L, false)))
      assert(last("b") === (("b", 0L, 20L, true)))
      assert(last("c") === (("c", 300L, 20L, false)))
      // the stale batch emitted zero rows
      assert(rows.length === 5)
      // live set ≡ the batch operator over the same changelog and empty state
      val allChanges = Seq(
        ("a", "U", 100L, 10L, 1L), ("b", "U", 200L, 10L, 2L),
        ("b", "D", 0L, 20L, 3L), ("a", "U", 150L, 20L, 4L),
        ("c", "U", 300L, 20L, 5L),
        ("a", "U", 999L, 10L, 1L), ("b", "U", 888L, 15L, 1L)
      ).toDF("key", "op", "value_e4", "ts_ms", "seq")
      val emptyState = Seq.empty[(String, Long, Long)]
        .toDF("key", "value_e4", "updated_ms")
      val batch = rowSet(graft.operators.EventOps.applyChangelog(emptyState, allChanges))
      val live = last.values.filter(!_._4).map(r => Seq[Any](r._1, r._2, r._3)).toSet
      assert(live === batch)
    } finally q.stop()
  }

  test("heavy-hitter stream: Misra-Gries invariants against exact counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = graft.streaming.DocStreams.heavyHitterTokens(
        in.toDF().toDF("source", "text"), k = 4)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(("s", "a a a b"), ("s", "a b c d e"))
      q.processAllAvailable()
      in.addData(("s", "a a f g b b b"))
      q.processAllAvailable()
      // exact totals over both batches: a:6 b:5 c:1 d:1 e:1 f:1 g:1, n=16
      val exact = Map("a" -> 6L, "b" -> 5L, "c" -> 1L, "d" -> 1L,
        "e" -> 1L, "f" -> 1L, "g" -> 1L)
      val n = 16L
      val bound = n / (4 + 1) // MG undercount bound with k=4 counters
      // the final summary = rows from the last trigger (n_tokens = 16)
      val est = spark.table("hh_out").filter(col("n_tokens") === n)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      // ≤ k entries; every true-heavy token (freq > n/(k+1)) present
      assert(est.size <= 4)
      assert(est.contains("a") && est.contains("b"),
        s"true heavy hitters missing from $est")
      // estimates never overcount and undercount by ≤ n/(k+1)
      est.foreach { case (t, e) =>
        assert(e <= exact(t) && exact(t) - e <= bound, s"$t: est $e vs ${exact(t)}")
      }
      // per-source isolation: an unrelated source gets its own summary
      in.addData(("z", "q q q"))
      q.processAllAvailable()
      val z = spark.table("hh_out").filter(col("source") === "z")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
      assert(z === Set(("q", 3L)))
    } finally q.stop()
  }

  test("heavy-hitter batch reduction: candidates are summary-sized; summary is repartition-invariant") {
    import graft.streaming.DocStreams
    val k = 4
    // one hot source, 500 docs — the shape that used to collapse the
    // whole batch (full text, sorted) onto a single task
    val docs = (0 until 500)
      .map(i => ("hot", s"common${i % 7} common${i % 7} word${i % 97} rare$i"))
      .toDF("source", "text")
    val P = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the stateful fold's input is candidate rows: at most top-(k+1)
    // tokens per source per shuffle partition plus one total marker —
    // summary-sized, never document- or text-sized
    val cands = DocStreams.tokenCandidates(docs.repartition(8), k)
    assert(cands.count() <= P * (k + 1) + 1)
    def fold(d: org.apache.spark.sql.DataFrame) = {
      val c = DocStreams.tokenCandidates(d, k).collect().iterator
      DocStreams.mgMergeStep(Map.empty[String, Long], c, 0L, k)
    }
    val (s1, n1) = fold(docs.repartition(1))
    val (s8, n8) = fold(docs.repartition(8))
    // token totals are exact and the summary is identical under any
    // input partitioning (complete counts + canonical tie-breaking)
    assert(n1 === 2000L && n8 === 2000L)
    assert(s1 === s8)
    // and it equals the one-shot MG reduction of the exact counts —
    // per-partition candidate pruning loses nothing
    val exact = docs.collect().flatMap(_.getString(1).split("\\s+"))
      .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    assert(s1 === DocStreams.mgTruncate(exact, k))
  }

  test("fuzzy ingest stream: accumulated pairs equal the full-batch LSH") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_fuzzy").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.fuzzyIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    try {
      base.grouped(math.max(base.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = rowSet(spark.read.parquet(s"$dirs/pairs"))
      // every pair surfaces exactly when its later member ingests, so
      // the accumulated output equals the one-shot batch LSH
      val batch = rowSet(graft.operators.Dedup.minhashLshPairs(
        base.toSeq.toDF("doc_id", "text")))
      assert(streamed === batch)
      assert(streamed.nonEmpty, "fixture should contain near-dups")
      // the index accumulated band + shingle state for every doc
      val idx = readIndex(s"$dirs/state/bands")
      assert(idx.select("doc_id").distinct().count() === base.length.toLong)
    } finally q.stop()
  }

  test("fuzzy ingest stream: a re-delivered document does not inflate Jaccard") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val batch = rowSet(graft.operators.Dedup.minhashLshPairs(
      base.toSeq.toDF("doc_id", "text")))
    val (first, second) = base.splitAt(base.length / 2)
    val firstIds = first.map(_.doc_id).toSet
    // three near-dup docs of the first batch arrive again in the second:
    // their shingles are then both new and in the index
    val again = batch.toSeq.flatMap(r => Seq(r(0), r(1))).collect { case id: Long => id }
      .filter(firstIds).distinct.sorted.take(3).toSet
    assert(again.size === 3, "fixture should hold near-dups in the first batch")
    val dirs = java.nio.file.Files.createTempDirectory("graft_fuzzy_redeliver").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.fuzzyIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    try {
      Seq(first, second ++ first.filter(d => again(d.doc_id))).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamed = rowSet(spark.read.parquet(s"$dirs/pairs"))
      assert(streamed.forall(_(2).asInstanceOf[Long] <= 1000L), s"Jaccard over 1: $streamed")
      // the re-delivered docs' pairs come again, with the same Jaccard
      assert(streamed === batch)
    } finally q.stop()
  }

  test("fuzzy ingest stream: no Exchange above the band-index scan") {
    // per batch the work is batch-sized: the band join streams the
    // index, which is never deduplicated, shuffled or broadcast whole.
    // The batch's frames run behind cuts and writes, so every executed
    // plan is captured
    implicit val sqlCtx = spark.sqlContext
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_fuzzy_plan").toString
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the stream runs its batches on a clone of the session, which
    // takes the listeners registered when the query starts
    spark.listenerManager.register(listener)
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.fuzzyIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    val sentinel = 987654502L
    try {
      in.addData(base.take(base.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(base.length / 2).toSeq)
      q.processAllAvailable()
      spark.range(sentinel, sentinel + 1).collect()
      val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
      while (!plans.asScala.exists(_.toString.contains(sentinel.toString)) &&
          System.nanoTime < deadline) Thread.sleep(25)
    } finally {
      spark.listenerManager.unregister(listener)
      q.stop()
    }
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case st: QueryStageExec => Seq(st.plan)
      case other => other.children
    }
    def isBandScan(p: SparkPlan) = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(s"$dirs/state/bands"))
      case _ => false
    }
    // band-index scans under an Exchange with no join between them
    def exchanged(p: SparkPlan, under: Option[SparkPlan]): Seq[SparkPlan] = p match {
      case f if isBandScan(f) => under.toSeq
      case _: BaseJoinExec => kids(p).flatMap(exchanged(_, None))
      case e: Exchange => kids(p).flatMap(exchanged(_, Some(e)))
      case _ => kids(p).flatMap(exchanged(_, under))
    }
    def scans(p: SparkPlan): Int = (if (isBandScan(p)) 1 else 0) + kids(p).map(scans).sum
    val ps = plans.asScala.toList
    assert(ps.map(scans).sum > 0, "no band-index scan captured - capture broken?")
    val bad = ps.flatMap(exchanged(_, None))
    assert(bad.isEmpty, s"Exchange above the band-index scan:\n${bad.mkString("\n")}")
  }

  test("bloom ingest stream: verdicts twin the batch probe, final sketch = whole-corpus build") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    // make cross-batch repeats certain: chunk 2 replays some of chunk
    // 1's texts under fresh ids
    val repeats = base.take(5).zipWithIndex.map { case (d, i) =>
      FixDoc(900000L + i, d.text)
    }
    val all = base ++ repeats
    val chunks = Seq(base.take(base.length / 2),
      base.drop(base.length / 2) ++ repeats)
    val dirs = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.bloomIngest(
      in.toDF(), s"$dirs/state", s"$dirs/out", s"$dirs/ckpt")
    try {
      var prior = Seq.empty[FixDoc]
      chunks.foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
        prior = prior ++ chunk
      }
      val verdicts = spark.read.parquet(s"$dirs/out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(verdicts.size === all.length)
      // NO FALSE NEGATIVES across batches: every replayed text (seen
      // in an earlier batch) probes true
      repeats.foreach { d =>
        assert(verdicts(d.doc_id), s"replayed content ${d.doc_id} probed false")
      }
      // batch-twin law in its NON-TRIVIAL form: chunk 2's verdicts
      // equal bloomMightContain against bloomBuild(chunk 1) — both
      // truth cells exercised (the repeats probe true, fresh docs
      // false), so a probe-after-OR gate-ordering regression fails
      // here, not just the degenerate empty-prior case
      val c1 = chunks.head.toSeq.toDF("doc_id", "text")
      val c2 = chunks(1).toSeq.toDF("doc_id", "text")
      val twin2 = graft.operators.Dedup.bloomMightContain(
        c2, graft.operators.Dedup.bloomBuild(c1)).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      chunks(1).foreach(d => assert(verdicts(d.doc_id) === twin2(d.doc_id),
        s"chunk-2 twin mismatch at ${d.doc_id}"))
      assert(twin2.values.exists(identity) && twin2.values.exists(!_),
        "fixture must exercise both verdict cells")
      // final sketch (the newest committed snapshot) = the whole-corpus
      // batch build (merge algebra); the cumulative store keeps only
      // the newest snapshot + the replay target
      val segs = indexDirs(s"$dirs/state/bloom")
      assert(segs.size <= 2, s"stale snapshots unpruned: $segs")
      val streamedSketch = rowSet(
        graft.streaming.IndexCommit.readLatestBefore(
          spark, s"$dirs/state/bloom", Long.MaxValue,
          spark.read.parquet(s"$dirs/state/bloom/${segs.max}").schema).get)
      val batchSketch = rowSet(graft.operators.Dedup.bloomBuild(
        all.toSeq.toDF("doc_id", "text")))
      assert(streamedSketch === batchSketch)
    } finally q.stop()
  }

  test("embedding ingest stream accumulates exactly the batch blocked near-dup pairs") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").as[FixVec].collect().sortBy(_.vec_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_embing").toString
    val in = MemoryStream[FixVec]
    val q = graft.streaming.DocStreams.embeddingIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    try {
      base.grouped(math.max(base.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // every pair surfaces exactly when its later member ingests, so
      // the accumulated output equals the one-shot batch blocked run
      val streamed = rowSet(spark.read.parquet(s"$dirs/pairs"))
      // maxBucketSize = None: the streaming incremental core is
      // uncapped, so its replay twin is the uncapped batch form (the
      // operator default caps since r14)
      val batch = rowSet(graft.operators.Similarity.cosineNearDupPairs(
        base.toSeq.toDF("vec_id", "embedding"), 400000L, blocked = true,
        maxBucketSize = None))
      assert(streamed === batch)
      assert(streamed.nonEmpty, "fixture should contain near-dups")
      // the index accumulated band + quantized-vector state per vector
      assert(readIndex(s"$dirs/state/bands")
        .select("vec_id").distinct().count() === base.length.toLong)
      assert(readIndex(s"$dirs/state/vecs")
        .count() === base.length.toLong)
    } finally q.stop()
  }

  test("embedding ingest stream: no Exchange above the band- or vector-index scan") {
    // the fuzzyIngest discipline for its cosine twin: neither index
    // read is deduplicated whole, the band join streams the band index
    // past the broadcast new bands, and the vector index is only read
    // through the semi-join on the matched ids
    implicit val sqlCtx = spark.sqlContext
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener

    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").as[FixVec].collect().sortBy(_.vec_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_embing_plan").toString
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val in = MemoryStream[FixVec]
    val q = graft.streaming.DocStreams.embeddingIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    val sentinel = 987654503L
    try {
      in.addData(base.take(base.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(base.drop(base.length / 2).toSeq)
      q.processAllAvailable()
      spark.range(sentinel, sentinel + 1).collect()
      val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
      while (!plans.asScala.exists(_.toString.contains(sentinel.toString)) &&
          System.nanoTime < deadline) Thread.sleep(25)
    } finally {
      spark.listenerManager.unregister(listener)
      q.stop()
    }
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case st: QueryStageExec => Seq(st.plan)
      case other => other.children
    }
    def isIndexScan(p: SparkPlan) = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists { r =>
        r.toString.contains(s"$dirs/state/bands") || r.toString.contains(s"$dirs/state/vecs")
      }
      case _ => false
    }
    def exchanged(p: SparkPlan, under: Option[SparkPlan]): Seq[SparkPlan] = p match {
      case f if isIndexScan(f) => under.toSeq
      case _: BaseJoinExec => kids(p).flatMap(exchanged(_, None))
      case e: Exchange => kids(p).flatMap(exchanged(_, Some(e)))
      case _ => kids(p).flatMap(exchanged(_, under))
    }
    def scans(p: SparkPlan): Int = (if (isIndexScan(p)) 1 else 0) + kids(p).map(scans).sum
    val ps = plans.asScala.toList
    assert(ps.map(scans).sum > 0, "no index scan captured - capture broken?")
    val bad = ps.flatMap(exchanged(_, None))
    assert(bad.isEmpty, s"Exchange above an index scan:\n${bad.mkString("\n")}")
  }

  test("fuzzy ingest stream refuses a pre-manifest (plain parquet) state dir") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dirs = java.nio.file.Files.createTempDirectory("graft_fuzzy_legacy").toString
    // a legacy plain-append band index: parquet files directly under
    // the root, no MANIFEST — silently read as EMPTY before the guard
    Seq((1L, 0L, 42L)).toDF("doc_id", "band", "band_sig")
      .write.parquet(s"$dirs/state/bands")
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.fuzzyIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt")
    try {
      in.addData(FixDoc(1L, "alpha beta gamma delta"))
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains("non-manifest entries")),
        s"expected the layout guard, got: ${chain(e).mkString(" | ")}")
    } finally q.stop()
  }

  test("bloom ingest stream refuses a legacy bloom_v<N> sketch dir") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dirs = java.nio.file.Files.createTempDirectory("graft_bloom_legacy").toString
    // the pre-r17 sketch location: $stateDir/bloom_v<N>, NOT under the
    // new $stateDir/bloom root — absent-root guard alone would pass
    Seq((0L, 7L)).toDF("word_idx", "bits")
      .write.parquet(s"$dirs/state/bloom_v3")
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.bloomIngest(
      in.toDF(), s"$dirs/state", s"$dirs/out", s"$dirs/ckpt")
    try {
      in.addData(FixDoc(1L, "alpha beta"))
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
      assert(chain(e).exists(m => m != null && m.contains("legacy sketch dirs")),
        s"expected the legacy-sketch guard, got: ${chain(e).mkString(" | ")}")
    } finally q.stop()
  }

  test("ann search stream over a frozen IVF index equals the batch probe") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dirs = java.nio.file.Files.createTempDirectory("graft_ann").toString
    // build once, freeze to parquet — the serving shape the op documents
    val index = graft.operators.Similarity.ivfBuild(emb, 16, kmeansIters = 4)
      .materialized(s"$dirs/index")
    val queries = emb.filter(col("vec_id") < 12)
      .select("vec_id", "embedding").as[FixVec].collect().sortBy(_.vec_id)
    scoreStreamLaw(queries.toSeq, dirs)(
      graft.operators.Similarity.ivfProbe(index, _, nProbe = 4, k = 5))
  }

  test("graph search stream over a frozen kNN-graph index equals the batch probe") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dirs = java.nio.file.Files.createTempDirectory("graft_gstream").toString
    // build once (the only corpus-sized cost), freeze to parquet
    val index = graft.operators.Similarity.graphBuild(emb, graphK = 5)
      .materialized(s"$dirs/index")
    val queries = emb.filter(col("vec_id") < 12)
      .select("vec_id", "embedding").as[FixVec].collect().sortBy(_.vec_id)
    scoreStreamLaw(queries.toSeq, dirs)(graft.operators.Similarity.graphProbe(
      index, _, k = 5, beam = 8, rounds = 2, seedProbes = 2))
  }

  test("fuzzy ingest stream: durable cutDir mode accumulates identical pairs") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_fuzzy_cut").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.fuzzyIngest(
      in.toDF(), s"$dirs/state", s"$dirs/pairs", s"$dirs/ckpt",
      cutDir = Some(TestSpark.ckptDir))
    try {
      base.grouped(math.max(base.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // durable in-batch cuts change durability, never the pair set
      val streamed = rowSet(spark.read.parquet(s"$dirs/pairs"))
      val batch = rowSet(graft.operators.Dedup.minhashLshPairs(
        base.toSeq.toDF("doc_id", "text")))
      assert(streamed === batch)
      assert(streamed.nonEmpty, "fixture should contain near-dups")
    } finally q.stop()
  }

  test("nb classify stream over a replayed fixture slice equals the batch scorer") {
    import graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val isTrain = pmod(graft.functions.Hashing.portableHash(col("text")), lit(1000L)) < 900
    val dirs = java.nio.file.Files.createTempDirectory("graft_nb").toString
    // train once, freeze to parquet — the deployment shape the op documents
    val model = TextOps.nbTrain(docs.filter(isTrain)).materialized(s"$dirs/model")
    val test = docs.filter(!isTrain).as[FixSrcDoc].collect().sortBy(_.doc_id)
    assert(test.nonEmpty, "fixture slice should hold out some docs")
    val streamed = scoreStreamLaw(test.toSeq, dirs)(TextOps.nbScore(_, model))
    // one row per held-out doc
    assert(streamed.count() === test.length.toLong)
    // and the whole chain equals the monolithic classifier
    assert(rowSet(streamed) === rowSet(TextOps.nbSourceClassify(docs, trainPermille = 900)))
  }

  test("linear classify stream over a replayed fixture slice equals the batch scorer") {
    import graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val isTrain = pmod(graft.functions.Hashing.portableHash(col("text")), lit(1000L)) < 900
    val dirs = java.nio.file.Files.createTempDirectory("graft_lin").toString
    val model = TextOps.linearTrain(docs.filter(isTrain)).materialized(s"$dirs/model")
    val test = docs.filter(!isTrain).as[FixSrcDoc].collect().sortBy(_.doc_id)
    assert(test.nonEmpty, "fixture slice should hold out some docs")
    val streamed = scoreStreamLaw(test.toSeq, dirs)(TextOps.linearScore(_, model))
    assert(streamed.count() === test.length.toLong)
    // and the whole chain equals the monolithic classifier
    assert(rowSet(streamed) ===
      rowSet(TextOps.linearSourceClassify(docs, trainPermille = 900)))
  }

  test("logistic classify stream over a replayed fixture slice equals the batch scorer") {
    import graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val isTrain = pmod(graft.functions.Hashing.portableHash(col("text")), lit(1000L)) < 900
    val dirs = java.nio.file.Files.createTempDirectory("graft_logi").toString
    val model = TextOps.logisticTrain(docs.filter(isTrain), epochs = 2,
      lrShift = 10).materialized(s"$dirs/model")
    val test = docs.filter(!isTrain).as[FixSrcDoc].collect().sortBy(_.doc_id)
    assert(test.nonEmpty, "fixture slice should hold out some docs")
    val streamed = scoreStreamLaw(test.toSeq, dirs)(TextOps.logisticScore(_, model))
    assert(streamed.count() === test.length.toLong)
    // and the whole chain equals the monolithic classifier
    assert(rowSet(streamed) === rowSet(
      TextOps.logisticSourceClassify(docs, trainPermille = 900,
        epochs = 2, lrShift = 10)))
  }

  test("span ingest stream over ordered fixture slices equals batch coverage") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_span").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.spanIngest(
      in.toDF(), s"$dirs/state", s"$dirs/out", s"$dirs/ckpt",
      k = 16, hash = graft.functions.Hashing.Portable)
    try {
      base.grouped(math.max(base.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val out = spark.read.parquet(s"$dirs/out")
      // ascending-id ingest makes first-SEEN ≡ the batch operator's
      // global keep-first: identical coverage rows, one per doc
      assert(out.count() === base.length.toLong)
      assert(rowSet(out.drop("batch_id")) ===
        rowSet(graft.operators.Dedup.exactSpanCoverage(
          base.toSeq.toDF("doc_id", "text"), 16,
          hash = graft.functions.Hashing.Portable)))
      // the corpus index holds each hash exactly once, committed
      // through the manifest device (segments carry batch provenance)
      val idx = readIndex(s"$dirs/state/wh")
      assert(idx.columns.toSet === Set("wh"))
      assert(idx.count() === idx.select("wh").distinct().count())
      // replay the LAST batch with its original id: coverage rows and
      // index must be byte-for-byte stable (the batch reads only
      // batch_id < its own, so it never scores against its own append)
      // partition-column values read back as Integer — widen safely
      val lastBatch = spark.read.parquet(s"$dirs/out")
        .orderBy(col("batch_id").desc).select("batch_id")
        .head().getAs[Number](0).longValue()
      val lastChunk = base.grouped(math.max(base.length / 3, 1)).toSeq.last
      val before = rowSet(spark.read.parquet(s"$dirs/out"))
      val idxBefore = rowSet(idx)
      graft.streaming.DocStreams.spanIngestBatch(
        lastChunk.toSeq.toDF("doc_id", "text"), s"$dirs/state", s"$dirs/out",
        16, graft.functions.Hashing.Portable, None, lastBatch)
      assert(rowSet(spark.read.parquet(s"$dirs/out")) === before)
      assert(rowSet(readIndex(s"$dirs/state/wh")) === idxBefore)
    } finally q.stop()
  }

  test("line ingest stream over ordered fixture slices equals batch lineDedup") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_line").toString
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.lineIngest(
      in.toDF(), s"$dirs/state", s"$dirs/out", s"$dirs/ckpt",
      hash = graft.functions.Hashing.Portable)
    try {
      base.grouped(math.max(base.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val out = spark.read.parquet(s"$dirs/out")
      // ascending-id ingest makes first-SEEN ≡ the batch operator's
      // global keep-first: identical rows, one per doc
      assert(out.count() === base.length.toLong)
      assert(rowSet(out.drop("batch_id")) ===
        rowSet(graft.operators.Dedup.lineDedup(
          base.toSeq.toDF("doc_id", "text"),
          hash = graft.functions.Hashing.Portable)))
      // the line-hash index holds each hash exactly once, committed
      // through the manifest device (segments carry batch provenance)
      val idx = readIndex(s"$dirs/state/lh")
      assert(idx.columns.toSet === Set("h"))
      assert(idx.count() === idx.select("h").distinct().count())
      // replay the LAST batch with its original id: sink and index
      // byte-for-byte stable
      val lastBatch = spark.read.parquet(s"$dirs/out")
        .orderBy(col("batch_id").desc).select("batch_id")
        .head().getAs[Number](0).longValue()
      val lastChunk = base.grouped(math.max(base.length / 3, 1)).toSeq.last
      val before = rowSet(spark.read.parquet(s"$dirs/out"))
      val idxBefore = rowSet(idx)
      graft.streaming.DocStreams.lineIngestBatch(
        lastChunk.toSeq.toDF("doc_id", "text"), s"$dirs/state", s"$dirs/out",
        5, graft.functions.Hashing.Portable, None, lastBatch)
      assert(rowSet(spark.read.parquet(s"$dirs/out")) === before)
      assert(rowSet(readIndex(s"$dirs/state/lh")) === idxBefore)
    } finally q.stop()
  }

  /** webIngest fixture: 3 registered domains × 6 docs, each doc one
    * unique line + one corpus-wide boilerplate line, plus 2 docs with
    * no URL (gated out — their lines must never claim keep-first
    * slots) and 1 doc that is ONLY boilerplate (dedups away past the
    * first batch).
    */
  private def webDocs: Seq[FixWebDoc] = {
    val boiler = "subscribe to our newsletter for daily updates today"
    (0L until 18L).map { i =>
      FixWebDoc(i, s"https://shop${i % 3}.com/item/$i",
        s"unique line number $i with enough characters to keep\n$boiler")
    } ++ Seq(
      FixWebDoc(90L, "no url on this row", s"gated doc shares this\n$boiler"),
      FixWebDoc(91L, "also not a url", "gated unique line that must vanish"),
      FixWebDoc(92L, s"https://shop0.com/item/92", boiler))
  }

  test("webIngest single batch equals batch webCurate row-for-row") {
    val dirs = java.nio.file.Files.createTempDirectory("graft_web1").toString
    val docs = webDocs.toDF()
    graft.streaming.DocStreams.webIngestBatch(
      docs, s"$dirs/state", s"$dirs/out", 3, "url", "text", 5,
      graft.functions.Hashing.Portable, None, 0L)
    val streamed = spark.read.parquet(s"$dirs/out").drop("batch_id")
    val batch = graft.pipelines.Curation.webCurate(
      docs, domainK = 3, hash = graft.functions.Hashing.Portable)
    assert(rowSet(streamed) === rowSet(batch))
    assert(streamed.count() > 0)
    // the all-boilerplate doc (92) lost every line to dedup -> absent;
    // the gated docs (90, 91) never reached any stage
    assert(streamed.filter(col("doc_id") >= 90L).count() === 0)
  }

  test("webIngest multi-batch: quota law, seniority, replay idempotence") {
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft_web2").toString
    val in = MemoryStream[FixWebDoc]
    val q = graft.streaming.DocStreams.webIngest(
      in.toDF(), s"$dirs/state", s"$dirs/out", s"$dirs/ckpt",
      domainK = 3, hash = graft.functions.Hashing.Portable)
    try {
      webDocs.grouped(7).foreach { chunk =>
        in.addData(chunk)
        q.processAllAvailable()
      }
      val out = spark.read.parquet(s"$dirs/out")
      // quota law: never more than domainK admissions per domain, and
      // the global ranks per domain are exactly 1..count (prior counts
      // only admitted docs, so ranks stay contiguous across batches)
      val perDomain = out.groupBy("reg_domain")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.collect_list("rn").as("rns"))
        .as[(String, Long, Seq[Long])].collect()
      assert(perDomain.nonEmpty)
      for ((dom, n, rns) <- perDomain) {
        assert(n <= 3, s"$dom over quota")
        assert(rns.sorted === (1L to n).toSeq, s"$dom ranks $rns")
      }
      // seniority: a batch never evicts an earlier admission — every
      // (doc, domain) admitted in batch b keeps rn < any batch b' > b
      // admission of the same domain
      val byDom = out.select("reg_domain", "batch_id", "rn")
        .as[(String, Long, Long)].collect().groupBy(_._1)
      for ((dom, rows) <- byDom; Array(a, b) <- rows.sortBy(_._3).sliding(2))
        assert(a._2 <= b._2, s"$dom: rank order crosses batch seniority")
      // gated docs never admitted
      assert(out.filter(col("doc_id") >= 90L).count() === 0)
      // replay the LAST batch: sink and both indexes byte-stable. The
      // batch id comes from the chunk count, NOT the sink — the last
      // batch admitted nothing (its domains were already at quota) so
      // it has no sink partition, only index entries
      val chunks = webDocs.grouped(7).toSeq
      val lastBatch = (chunks.size - 1).toLong
      val lastChunk = chunks.last
      val before = rowSet(spark.read.parquet(s"$dirs/out"))
      val lhBefore = rowSet(readIndex(s"$dirs/state/lh"))
      val dqBefore = rowSet(readIndex(s"$dirs/state/dq"))
      graft.streaming.DocStreams.webIngestBatch(
        lastChunk.toDF(), s"$dirs/state", s"$dirs/out", 3, "url", "text", 5,
        graft.functions.Hashing.Portable, None, lastBatch)
      assert(rowSet(spark.read.parquet(s"$dirs/out")) === before)
      assert(rowSet(readIndex(s"$dirs/state/lh")) === lhBefore)
      assert(rowSet(readIndex(s"$dirs/state/dq")) === dqBefore)
    } finally q.stop()
  }

  test("pplIngest: frozen model + frozen thresholds — stream equals batch scorer and pplBuckets; replay stable") {
    import graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val P = graft.functions.Hashing.Portable
    // offline: train on the 900-permille slice, freeze model +
    // tercile thresholds (the CCNet deployment order)
    val model = TextOps.trigramLmTrain(
      docs.filter(pmod(P(col("text")), lit(1000L)) < 900), hash = P)
      .materialized(
        java.nio.file.Files.createTempDirectory("graft_ppl_m").toString)
    val scored = TextOps.trigramLmScoreWith(docs, model)
      .select("doc_id", "n_trigrams", "bits_per_trigram_e3")
      .as[(Long, Long, Long)].collect()
    val sig = scored.filter(_._2 > 0).map(_._3).sorted
    val n = sig.length.toLong
    val cum = sig.distinct.map(s => s -> sig.count(_ <= s).toLong)
    val t1 = cum.collectFirst { case (s, c) if c * 3 >= n => s }.get
    val t2 = cum.collectFirst { case (s, c) if c * 3 >= 2 * n => s }.get
    val dirs = java.nio.file.Files.createTempDirectory("graft_ppl").toString
    val base = docs.as[FixDoc].collect().sortBy(_.doc_id)
    val out = scoreStreamLaw(base.toSeq, dirs)(
      TextOps.trigramLmScoreWith(_, model)
        .withColumn("bucket", TextOps.pplBucket(lit(t1), lit(t2))))
    // stateless scorer: the union over batches IS the batch scorer
    assert(rowSet(out.drop("bucket")) ===
      rowSet(TextOps.trigramLmScoreWith(docs, model)))
    // frozen thresholds from the same corpus reproduce pplBuckets
    val expected = TextOps.pplBuckets(docs, hash = P)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    val got = out.select("doc_id", "bucket")
      .as[(Long, String)].collect().toMap
    assert(got === expected)
  }

  test("webIngest quota-index compaction sums settled counts without changing admissions") {
    val dirs = java.nio.file.Files.createTempDirectory("graft_web3").toString
    val dirsRef = java.nio.file.Files.createTempDirectory("graft_web3r").toString
    val chunks = webDocs.grouped(5).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      graft.streaming.DocStreams.webIngestBatch(
        chunk.toDF(), s"$dirs/state", s"$dirs/out", 3, "url", "text", 5,
        graft.functions.Hashing.Portable, None, i.toLong, compactEvery = 2)
      graft.streaming.DocStreams.webIngestBatch(
        chunk.toDF(), s"$dirsRef/state", s"$dirsRef/out", 3, "url", "text", 5,
        graft.functions.Hashing.Portable, None, i.toLong, compactEvery = 0)
    }
    // identical admissions with and without mid-run compaction
    assert(rowSet(spark.read.parquet(s"$dirs/out")) ===
      rowSet(spark.read.parquet(s"$dirsRef/out")))
    // the compacted quota index folded settled segments
    val parts = indexDirs(s"$dirs/state/dq")
    val refParts = indexDirs(s"$dirsRef/state/dq")
    assert(parts.size < refParts.size,
      s"expected folded quota index: ${parts.sorted}")
    // and the folded admission rows still reproduce the true totals
    val folded = readIndex(s"$dirs/state/dq")
      .select("reg_domain", "doc_id").distinct()
      .groupBy("reg_domain")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val truth = spark.read.parquet(s"$dirs/out")
      .groupBy("reg_domain")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    assert(rowSet(folded) === rowSet(truth))
    // the crash window itself: an orphan segment dir on disk that no
    // manifest references (exactly what a fold-then-crash, or a
    // commit-then-crash-before-swap, leaves behind) — admissions must
    // be unaffected because readers resolve through the manifest only
    readIndex(s"$dirs/state/dq").limit(2)
      .write.mode("overwrite").parquet(s"$dirs/state/dq/seg_98")
    val outBefore = rowSet(spark.read.parquet(s"$dirs/out"))
    graft.streaming.DocStreams.webIngestBatch(
      webDocs.take(3).toDF(), s"$dirs/state", s"$dirs/out", 3, "url", "text",
      5, graft.functions.Hashing.Portable, None, 99L)
    // batch 99 re-offers already-admitted docs: the orphan segment
    // must not change the prior counts, so nothing over-admits
    // and nothing previously admitted is recounted
    val after = spark.read.parquet(s"$dirs/out")
    val perDom = after.groupBy("reg_domain")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .as[(String, Long)].collect()
    for ((dom, n) <- perDom) assert(n <= 3, s"$dom over quota after orphan rows")
    assert(rowSet(after.filter(col("batch_id") < 98L)) === outBefore)
  }

  test("span index compaction coalesces settled partitions without changing results") {
    implicit val sqlCtx = spark.sqlContext
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[FixDoc].collect().sortBy(_.doc_id)
    val dirs = java.nio.file.Files.createTempDirectory("graft_span_cmp").toString
    // drive batches by hand (deterministic batch ids) with a tight
    // compaction interval so the sweep actually fires mid-run
    val chunks = base.grouped(math.max(base.length / 5, 1)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      graft.streaming.DocStreams.spanIngestBatch(
        chunk.toSeq.toDF("doc_id", "text"), s"$dirs/state", s"$dirs/out",
        16, graft.functions.Hashing.Portable, None, i.toLong, compactEvery = 2)
    }
    // coverage still equals the batch operator (ascending-id ingest)
    assert(rowSet(spark.read.parquet(s"$dirs/out").drop("batch_id")) ===
      rowSet(graft.operators.Dedup.exactSpanCoverage(
        base.toSeq.toDF("doc_id", "text"), 16,
        hash = graft.functions.Hashing.Portable)))
    // the index still holds each hash exactly once, in few segments:
    // the last fold (at the largest even batch id) merged every
    // earlier segment into one, so only it + later batches remain
    val idx = readIndex(s"$dirs/state/wh")
    assert(idx.count() === idx.select("wh").distinct().count())
    val parts = indexDirs(s"$dirs/state/wh")
    val maxId = chunks.size - 1
    val lastCompaction = (maxId / 2) * 2
    val bound = if (lastCompaction > 0) maxId - lastCompaction + 2 else maxId + 1
    assert(parts.size <= bound && parts.size < chunks.size,
      s"expected folded index, got ${parts.sorted}")
    // replaying the LAST batch after a fold is still a no-op
    val before = rowSet(readIndex(s"$dirs/state/wh"))
    val outBefore = rowSet(spark.read.parquet(s"$dirs/out"))
    graft.streaming.DocStreams.spanIngestBatch(
      chunks.last.toSeq.toDF("doc_id", "text"), s"$dirs/state", s"$dirs/out",
      16, graft.functions.Hashing.Portable, None, (chunks.size - 1).toLong,
      compactEvery = 2)
    assert(rowSet(readIndex(s"$dirs/state/wh")) === before)
    assert(rowSet(spark.read.parquet(s"$dirs/out")) === outBefore)
  }

  test("batch-partitioned sinks fail fast on a legacy flat-layout directory") {
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft_legacy").toString
    // simulate a pre-r12 flat append sink: parquet files directly in outDir
    Seq((1L, "old body")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dirs/out")
    val model = graft.operators.TextOps.nbTrain(
      Seq((1L, "srcA", "some text"), (2L, "srcB", "other text"))
        .toDF("doc_id", "source", "text"))
    val e = intercept[IllegalStateException] {
      graft.streaming.DocStreams.writeBatchPartition(graft.operators.TextOps.nbScore(
        Seq((3L, "srcA", "new text")).toDF("doc_id", "source", "text"), model),
        s"$dirs/out", 0L)
    }
    assert(e.getMessage.contains("legacy"))
    val e2 = intercept[IllegalStateException] {
      graft.streaming.DocStreams.spanIngestBatch(
        Seq((3L, "a b c")).toDF("doc_id", "text"), s"$dirs/state", s"$dirs/out",
        3, graft.functions.Hashing.Portable, None, 0L)
    }
    assert(e2.getMessage.contains("legacy"))
    // a healthy batch_id-partitioned dir (plus Spark bookkeeping
    // files) passes the guard untouched
    Seq((1L, "x")).toDF("doc_id", "text").withColumn("batch_id", lit(0L))
      .write.mode("overwrite").partitionBy("batch_id").parquet(s"$dirs/ok")
    graft.streaming.DocStreams.writeBatchPartition(graft.operators.TextOps.nbScore(
      Seq((3L, "srcA", "new text")).toDF("doc_id", "source", "text"), model),
      s"$dirs/ok", 1L)
  }

  test("stream-static blocklist filter drops blocked content mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    val blocklist = Seq((100L, "blocked body one"), (101L, "blocked body two"))
      .toDF("doc_id", "text")
    val in = MemoryStream[FixDoc]
    val q = graft.streaming.DocStreams.blocklistFilter(in.toDF(), blocklist)
      .writeStream.format("memory").queryName("blocklist_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(FixDoc(1L, "clean body"), FixDoc(2L, "blocked body one"))
      q.processAllAvailable()
      in.addData(FixDoc(3L, "blocked body two"), FixDoc(4L, "also clean"))
      q.processAllAvailable()
      val kept = spark.table("blocklist_out").select("doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 4L))
    } finally q.stop()
  }

  test("windowed funnel stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val gap = 3600000L
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.funnel(in.toDF(), delay = "10 seconds", steps = steps,
        maxGapMs = Some(gap))
      .writeStream.format("memory").queryName("funnel_windowed_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("funnel_windowed_fixture")
        .groupBy($"step", $"event_type")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_users")))
      val batch = rowSet(
        graft.operators.EventOps.funnelWindowed(evs.toSeq.toDF(), steps, gap)
          .filter($"n_users" > 0)) // append-mode stream has no 0-count rows
      assert(streamed === batch)
      // the deadline must actually bite on this slice: fewer converts
      // than the unbounded funnel at some step
      val unbounded = graft.operators.EventOps.funnel(evs.toSeq.toDF(), steps)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val bounded = graft.operators.EventOps.funnelWindowed(evs.toSeq.toDF(), steps, gap)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(steps.indices.map(i => (i + 1).toLong).exists(s => bounded(s) < unbounded(s)),
        s"gap never binds on the fixture slice: $bounded vs $unbounded")
    } finally q.stop()
  }

  test("rolling anomaly stream over a replayed fixture slice equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[FixEv].collect().sortBy(_.ts.getTime)
    val in = MemoryStream[FixEv]
    val q = EventStreams.rollingAnomaly(in.toDF(), delay = "10 seconds")
      .writeStream.format("memory").queryName("anomaly_fixture")
      .outputMode(OutputMode.Append).start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val maxTs = evs.last.ts.getTime
      in.addData(FixEv(-1L, "zz", "flush", new Timestamp(maxTs + 7200000L), 0.0))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("anomaly_fixture")
        .select($"event_id", $"user_id", $"t", $"v_e2", $"n_prev"))
      val batch = rowSet(graft.operators.EventOps.rollingAnomaly(evs.toSeq.toDF()))
      assert(batch.nonEmpty, "fixture slice produced no anomalies — test is vacuous")
      assert(streamed === batch)
    } finally q.stop()
  }
}
