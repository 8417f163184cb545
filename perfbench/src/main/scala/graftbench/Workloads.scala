package graftbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{Hashing, NativeOps}
import graft.operators.{Checkpoints, Dedup, GraphOps, Similarity, TextOps}
import graft.pipelines.{Curation, Pipelines}
import graft.sinks.Rdf
import graft.sources.Tables
import graft.streaming.DocStreams

/** The single closed-loop client: one request at a time, the next only
  * after the previous one returned. Every request is timed (traced or
  * not); spans are recorded only while the tracer is enabled.
  */
final class Client(val spark: SparkSession, val tracer: Tracer, val data: String) {
  var pass = 0
  var traced = false
  val requests = mutable.ArrayBuffer.empty[Map[String, Any]]
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** The last pass's results, kept for the correctness check. */
  val results = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  /** Outputs the program wrote to disk in the last pass, by name. */
  val written = mutable.LinkedHashMap.empty[String, String]

  def request[T](cls: String, span: String)(body: => T): T = {
    val req = tracer.newRequest()
    val t0 = System.nanoTime()
    val r = tracer.span(span, req)(body)
    requests += Map("cls" -> cls, "s" -> (System.nanoTime() - t0) / 1e9, "pass" -> pass,
      "traced" -> traced, "request" -> req)
    r
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Receive a result as a client does: collect it to the driver. */
  def keep(name: String, df: DataFrame): Array[Row] = {
    val rows = df.collect()
    tracer.note("rows_out", rows.length)
    results(name) = (df.schema, rows)
    rows
  }

  /** Data files under `path` (hidden and marker files excluded). */
  def filesUnder(path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_")) n += 1
    }
    n
  }
}

trait Workload {
  /** One full pass: generated inputs to every result of the workload. */
  def pass(c: Client, work: String): Unit
  /** Registered `SparkEntry.queries` names whose oracle SQL checks a result. */
  def oracles: Seq[String]
  /** Traced runs only: calls that split a pass into layers, run after
    * the timed passes so they never change what a pass measures. */
  def layerProbes(c: Client): Map[String, Double]
}

object Workloads {
  def apply(name: String, p: Map[String, Any]): Workload = name match {
    case "ref_etl" => new RefEtl(p)
    case "graph_iter" => new GraphIter
    case "curation" => new CurationWl
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Kernel throughput probe: each kernel over the workload's own text
    * into a noop sink. The text is repeated up to ~200k rows, so per-row
    * work, not per-job overhead, sets the rate. */
  def functionsProbe(c: Client, text: DataFrame): Map[String, Double] = {
    val n = text.count()
    val copies = math.max(1L, 200000L / math.max(1L, n))
    val corpus = text.crossJoin(c.spark.range(copies)).select(col("text")).cache()
    val rows = corpus.count()
    def rate(name: String, col: org.apache.spark.sql.Column): (String, Double) = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        c.span(name)(corpus.select(col.as("h")).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      s"${name}_rows_per_s" -> rows / times.sorted.apply(1)
    }
    try Map(
      rate("functions.shingleHashes", NativeOps.shingleHashes(col("text"), 3, portable = false)),
      rate("functions.portableHash", Hashing.portableHash(col("text"))))
    finally corpus.unpersist()
  }

  /** Person-id strings of the relationship docs, the graph workloads'
    * own text for the kernel probe. */
  def personCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.relationshipDocs(s, dir)
      .select(concat_ws(" ", col("from_person_id"), col("to_person_id")).as("text"))
}

/** Reference chain: bulk RDF export, watermark increments, hop queries. */
final class RefEtl(p: Map[String, Any]) extends Workload {
  private val teams = p("hop_teams").asInstanceOf[Seq[String]]
  private val watermarks = p("watermarks_us").asInstanceOf[Seq[Any]]
    .map(x => x.toString.toDouble.toLong)
  private val nHop = p("hop_queries").toString.toDouble.toInt
  private val nJson = p("hop_json_queries").toString.toDouble.toInt

  val oracles: Seq[String] = Seq("pipe_bulk_triples", "g_pagerank", "g_kcore_fixpoint")

  def pass(c: Client, work: String): Unit = {
    val s = c.spark
    val dir = c.data
    val rdf = s"$work/rdf"
    val state = s"$work/state"
    Seq(rdf, state, s"$state.staging").foreach(Workloads.rmrf)

    c.request("bulk", "pipelines.bulk") {
      val docs = c.span("sources.relationshipDocs")(Tables.relationshipDocs(s, dir))
      val users = c.span("sources.troveUsers")(Tables.troveUsers(s, dir))
      val members = c.span("sources.teamMembers")(Tables.teamMembers(s, dir))
      // Pipelines.bulk is exactly these two calls; split so the sink
      // write is its own span
      val triples = c.span("pipelines.bulkTriples")(Pipelines.bulkTriples(docs, users, members))
      c.span("sinks.rdf_write") {
        Rdf.writeTriples(rdf, triples)
        c.tracer.note("files_written", c.filesUnder(rdf))
      }
    }
    c.written("rdf") = rdf

    def increment(cls: String, docs: => DataFrame, wm: Timestamp): Unit =
      c.request(cls, "pipelines.etlIncrement") {
        val prior = c.span("pipelines.readStateSafe")(Pipelines.readStateSafe(s, state))
        val batch = c.span("sources.incrementBatch")(docs)
        val next = c.span("pipelines.etlIncrementPlan")(Pipelines.etlIncrement(prior, batch, wm))
        c.span("sinks.state_write") {
          Pipelines.writeStateAtomic(next, state)
          c.tracer.note("files_written", c.filesUnder(state))
        }
      }
    // the accumulated state starts as the whole history, then grows by
    // one watermark batch per increment
    increment("state_load", Tables.relationshipDocs(s, dir), new Timestamp(0L))
    // iterative analytics over the loaded history (the merged person
    // graph the g_pagerank / g_kcore_fixpoint registrations build)
    val history = Pipelines.readStateSafe(s, state).get
    c.request("pagerank", "operators.GraphOps.pageRank")(
      c.keep("g_pagerank", GraphOps.pageRank(history, 3)))
    c.request("kcore", "operators.GraphOps.kCorePeel")(
      c.keep("g_kcore_fixpoint", GraphOps.kCorePeel(history, 32, -1)))
    watermarks.zipWithIndex.foreach { case (wm, b) =>
      increment("increment", s.read.parquet(f"$dir/incr_$b%03d.parquet"),
        new Timestamp(wm / 1000L))
    }
    c.written("state") = state

    val committed = Pipelines.readStateSafe(s, state).get
    val members = Tables.teamMembers(s, dir)
    teams.take(nHop).foreach { t =>
      c.request("hop", "pipelines.hopQuery")(c.keep(s"hop_$t", Pipelines.hopQuery(committed, members, t)))
    }
    teams.take(nJson).foreach { t =>
      c.request("hop_json", "pipelines.hopQueryJson") {
        c.keep(s"hopjson_$t", Pipelines.hopQueryJson(committed, members, t))
      }
    }
  }

  def layerProbes(c: Client): Map[String, Double] =
    Workloads.functionsProbe(c, Workloads.personCorpus(c.spark, c.data))
}

/** Iterative graph family over the merged person graph. */
final class GraphIter extends Workload {
  val oracles: Seq[String] = Seq("g_pagerank", "g_kcore_fixpoint", "g_louvain",
    "g_sgns_train", "g_cooccurrence")

  def pass(c: Client, work: String): Unit = {
    val s = c.spark
    val dir = c.data
    val edges = c.span("sources.relationshipDocs")(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(s, dir)))
    // the merged graph and the co-occurrence projection are built in
    // the pass (no SparkEntry.sharedGraph memo) and cut once, as a
    // user running all of these analytics would
    val merged = c.request("graph_build", "operators.GraphOps.mergeMaxEdges") {
      c.span("operators.Checkpoints.cut")(
        Checkpoints.cut(GraphOps.mergeMaxEdges(edges, preShuffle = true), None))
    }
    val pairs = c.request("cooccurrence", "operators.GraphOps.coOccurrencePairs") {
      val p = c.span("operators.Checkpoints.cut")(
        Checkpoints.cut(GraphOps.coOccurrencePairs(edges, maxFanout = 20, minShared = 2), None))
      c.keep("g_cooccurrence", p)
      p
    }
    c.request("pagerank", "operators.GraphOps.pageRank")(
      c.keep("g_pagerank", GraphOps.pageRank(merged, 3)))
    c.request("kcore", "operators.GraphOps.kCorePeel")(
      c.keep("g_kcore_fixpoint", GraphOps.kCorePeel(merged, 32, -1)))
    c.request("louvain", "operators.GraphOps.louvain")(
      c.keep("g_louvain", GraphOps.louvain(pairs, moveRounds = 2, levels = 2)))
    c.request("sgns", "operators.GraphOps.sgnsTrain") {
      val walks = c.span("operators.GraphOps.randomWalks")(GraphOps.randomWalks(merged,
        pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
        walkLen = 3, walksPerVertex = 2))
      val ctx = c.span("operators.GraphOps.walkContexts")(GraphOps.walkContexts(walks, window = 2))
      c.keep("g_sgns_train", GraphOps.sgnsTrain(ctx, dim = 4, epochs = 2, negatives = 2,
        lrShift = 2, negBuckets = 8)
        .select(col("person_id"), concat_ws(",", col("emb")).as("emb_csv")))
    }
  }

  def layerProbes(c: Client): Map[String, Double] =
    Workloads.functionsProbe(c, Workloads.personCorpus(c.spark, c.data))
}

/** LLM-data curation: streaming near-dup ingest, the full curation
  * chain, and embedding near-dup pairs. */
final class CurationWl extends Workload {
  val oracles: Seq[String] = Seq("pipe_curation_full", "sim_near_dup_blocked", "d_incr_near_dup")

  private def curated(docs: DataFrame): DataFrame =
    Curation.curate(docs, 800, 100, 3, Hashing.Portable,
      maxTopBigramE3 = 80,
      probes = Some(docs.filter(col("doc_id") % 50 === 0)),
      minSharedShingles = 2)

  def pass(c: Client, work: String): Unit = {
    val s = c.spark
    val dir = c.data
    Workloads.rmrf(work)
    val spool = s"$dir/spool"
    // each micro-batch is one request of the stream's client
    c.span("streaming.DocStreams.fuzzyIngest") {
      val schema = s.read.parquet(spool).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(spool)
      val q = DocStreams.fuzzyIngest(stream, s"$work/state", s"$work/pairs", s"$work/ckpt",
        hash = Hashing.Portable)
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
        c.requests += Map("cls" -> "ingest_batch", "s" -> pr.batchDuration / 1000.0,
          "pass" -> c.pass, "traced" -> c.traced, "request" -> 0)
        c.batches += Map("pass" -> c.pass, "traced" -> c.traced,
          "batch_s" -> pr.batchDuration / 1000.0, "rows" -> pr.numInputRows)
      }
    }
    c.written("ingest_pairs") = s"$work/pairs"
    c.request("curate", "pipelines.curate")(
      c.keep("pipe_curation_full", curated(c.span("sources.documents")(Tables.documents(s, dir)))))
    c.request("cosine", "operators.Similarity.cosineNearDupPairs") {
      val emb = c.span("sources.embeddings")(Tables.embeddings(s, dir))
      c.keep("sim_near_dup_blocked",
        Similarity.cosineNearDupPairs(emb, 400000L, blocked = true, maxBucketSize = None))
    }
  }

  /** `Curation.curate` taken apart into its public stage calls (same
    * arguments as [[curated]]), each stage cut so its span holds its
    * own work. The split result must equal the fused chain's. */
  def layerProbes(c: Client): Map[String, Double] = {
    val s = c.spark
    val docs = Tables.documents(s, c.data)
    val hash = Hashing.Portable
    def cut(df: DataFrame) = Checkpoints.cut(df, None)
    val out = c.request("curate_stages", "pipelines.curate.stages") {
      val keep = c.span("operators.TextOps.qualityScore")(
        cut(TextOps.qualityScore(docs).filter(col("keep")).select(col("doc_id"))))
      val keepRep = c.span("operators.TextOps.repetitionStats")(
        cut(TextOps.repetitionStats(docs, hash = hash)
          .filter(col("top_bigram_ratio_e3") <= 80).select(col("doc_id"))))
      val bad = c.span("operators.Dedup.contamination")(
        cut(Dedup.contamination(docs, docs.filter(col("doc_id") % 50 === 0), 3, 2, hash)
          .select(col("doc_id")).distinct()))
      val quality = docs.join(keep, Seq("doc_id"), "left_semi")
        .join(keepRep, Seq("doc_id"), "left_semi")
        .join(bad, Seq("doc_id"), "left_anti")
      val exactIds = c.span("operators.Dedup.exactDedup")(
        cut(Dedup.exactDedup(quality).select(col("canonical_id").as("doc_id"))))
      val exact = docs.join(exactIds, Seq("doc_id"), "left_semi")
      val sigs = c.span("operators.Dedup.simhashSignatures")(
        cut(Dedup.simhashSignatures(exact, hash = hash)))
      val pairs = c.span("operators.Dedup.simhashPairs")(cut(Dedup.simhashPairs(sigs, 3, None,
        maxBucketSize = Curation.DefaultMaxBucketSize)))
      val comps = c.span("operators.Dedup.connectedComponents")(cut(
        Dedup.connectedComponents(pairs, exactIds, broadcastLabels = true, checkpointDir = None)))
      val survivors = exact.join(
        comps.filter(col("doc_id") === col("component_id")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val split = c.span("operators.TextOps.hashSplit")(
        TextOps.hashSplit(survivors, 800, 100, hash = hash).collect())
      // pair yield: confirmed (Hamming <= 3) over every band-collision
      // candidate (no Hamming limit on 64-bit signatures)
      val confirmed = pairs.count()
      val candidates = c.span("operators.Dedup.simhashPairs.candidates")(
        Dedup.simhashPairs(sigs, 64, None, maxBucketSize = Curation.DefaultMaxBucketSize).count())
      (split, confirmed, candidates)
    }
    val (split, confirmed, candidates) = out
    val fused = c.results("pipe_curation_full")._2
    val same = split.map(_.toString).sorted.sameElements(fused.map(_.toString).sorted)
    Workloads.functionsProbe(c, docs.select(col("text"))) ++ Map(
      "dedup.pair_yield" -> (if (candidates > 0) confirmed.toDouble / candidates else 0.0),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "check.curate_stages_match" -> (if (same) 1.0 else 0.0))
  }
}
