package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{AsofJoin, BloomJoin, Dedup, EventOps, GraphOps, Multimodal, Similarity, TextOps}
import graft.sinks.Rdf
import graft.sources.Tables

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the extended LLM-pipeline surface), each with a
  * DuckDB-equivalent `oracleSql`.
  *
  * Oracle discipline (why every numeric output is BIGINT / exact):
  * the driver hash-compares Spark parquet output against DuckDB output.
  * Cross-engine floating-point aggregation order differs, so any
  * double-typed *aggregate* would be a flaky hash. All money/score
  * aggregates are therefore quantized per-row with `floor(x*K + 0.5)`
  * (identical IEEE arithmetic in both engines — the per-row double
  * expression is order-free) and summed as exact BIGINTs. Column names
  * are aliased identically on both sides; the driver sorts columns by
  * name before hashing.
  */
object SparkEntry {

  // ---------------------------------------------------------------------------
  // Shared oracle fragments — the SQL twin of graft.sources.Tables.
  // ---------------------------------------------------------------------------

  /** SQL twin of [[Tables.relationshipDocs]] (flattened stats). */
  private val DOCS =
    """docs AS (
      |  SELECT l_shipdate AS last_update,
      |         'C' || CAST(o_custkey AS VARCHAR) AS from_person_id,
      |         'S' || CAST(l_suppkey AS VARCHAR) AS to_person_id,
      |         CAST(l_quantity AS INT) AS raw_score_in,
      |         CAST(l_partkey % 100 AS INT) AS raw_score_out
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin

  /** SQL twin of [[GraphOps.edgesFromDocs]]. */
  private val EDGES =
    s"""$DOCS,
       |edges AS (
       |  SELECT from_person_id AS src, to_person_id AS dst,
       |         CAST(raw_score_in AS DOUBLE) AS score FROM docs
       |  UNION ALL
       |  SELECT to_person_id AS src, from_person_id AS dst,
       |         CAST(raw_score_out AS DOUBLE) AS score FROM docs)""".stripMargin

  /** SQL twin of [[GraphOps.mergeMaxEdges]]. */
  private val MERGED =
    s"""$EDGES,
       |merged AS (
       |  SELECT src, dst, MAX(score) AS score FROM edges GROUP BY src, dst)""".stripMargin

  /** SQL twin of [[Tables.troveUsers]]. */
  private val USERS =
    """users AS (
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS person_id_user
      |  FROM customer WHERE c_acctbal > 0)""".stripMargin

  /** SQL twin of [[Tables.teamMembers]]. */
  private val TEAMS =
    """team_members AS (
      |  SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS team_id,
      |         'C' || CAST(c_custkey AS VARCHAR) AS person_id
      |  FROM customer)""".stripMargin

  private val WATERMARK = "1995-06-01 00:00:00"

  // Spark-side shared builders -------------------------------------------------

  private def docsOf(s: SparkSession, dir: String): DataFrame = Tables.relationshipDocs(s, dir)
  private def edgesOf(s: SparkSession, dir: String): DataFrame = GraphOps.edgesFromDocs(docsOf(s, dir))
  // preShuffle: this derivation yields near-unique (src,dst) keys
  // (~1.02 docs/pair), where the map-side partial agg is pure overhead
  private def mergedOf(s: SparkSession, dir: String): DataFrame =
    GraphOps.mergeMaxEdges(edgesOf(s, dir), preShuffle = true)

  /** Exact money quantization — identical IEEE expression in DuckDB. */
  private def e2(c: org.apache.spark.sql.Column) = floor(c * 100 + 0.5).cast("long")

  // Shared co-occurrence projection ---------------------------------------------
  //
  // Five analytics (triangles, clustering, assortativity, jaccard- and
  // adamic-link-prediction) are downstream of ONE projection frame
  // ([[GraphOps.cappedBipartite]] → pairs). A real pipeline running
  // several of them materializes the projection once; each query here
  // must stay independently runnable (Verify calls them one at a
  // time with no setup hook), so the queries consult a process-local
  // memo that is EMPTY unless a host explicitly warmed it
  // ([[warmSharedGraph]] — Bench does, modeling the sharing user;
  // Verify does not, so the oracle still checks each query's full
  // self-contained plan). g_cooccurrence itself never reads the memo:
  // it IS the projection build and always pays its full cost.
  private val sharedGraph =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame)]()

  /** Materialize the co-occurrence projection for `dir` once (capped
    * bipartite frame + pairs, both lineage-cut into executor storage)
    * and memoize it for the dependent `g_*` queries. Returns the ids
    * of the persisted RDD blocks so a host that unpersists between
    * queries (Bench) can spare the shared frames.
    */
  def warmSharedGraph(s: SparkSession, dir: String): Set[Int] = {
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    val capped = GraphOps.cappedBipartite(edgesOf(s, dir), maxFanout = 20)
    val pairs = graft.operators.Checkpoints.cut(
      GraphOps.coOccurrencePairsFromCapped(capped, minShared = 2), None)
    sharedGraph.put(dir, (capped, pairs))
    s.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  /** Drop the memo (does not unpersist — caller owns the blocks). */
  def clearSharedGraph(): Unit = sharedGraph.clear()

  private def coocCapped(s: SparkSession, dir: String): DataFrame =
    Option(sharedGraph.get(dir)).map(_._1)
      .getOrElse(GraphOps.cappedBipartite(edgesOf(s, dir), maxFanout = 20))

  /** Synthetic absolute-URL column over the documents table (one URL
    * class per `doc_id mod 10`: tracking params, userinfo + port +
    * multi-label suffix, punycode, an explicit default port, an
    * uppercase host, a fragment, a non-URL row, and — r16 — the
    * snapshot-PSL classes the 26-entry subset mis-keyed: a `com.hk`
    * registrant and a `co.id` registrant) so every
    * [[TextOps.urlParts]] stage is oracle-exercised on corpus rows —
    * the `t_html_strip` fixture device.
    */
  private def urlFixtureExpr: Column = {
    val m = pmod(col("doc_id"), lit(10))
    val id = col("doc_id").cast("string")
    when(m === 0, concat(lit("https://www.example.com/a/"), id,
        lit("?utm_source=news&q="), id))
      .when(m === 1, concat(lit("http://user:pw@Blog.Example.co.uk:8080/post/"),
        id, lit("?id="), id, lit("&utm_campaign=x&ref=tw")))
      .when(m === 2, concat(lit("https://xn--bcher-kva.example/katalog/"), id))
      .when(m === 3, concat(lit("ftp://files.example.org:21/pub/"), id, lit(".txt")))
      .when(m === 4, concat(lit("https://example.com:443/x?b=2&a=1&gclid="), id))
      .when(m === 5, concat(lit("http://EXAMPLE.COM:8080/Upper/Case?fbclid=1&keep="), id))
      .when(m === 6, concat(lit("https://sub.shop.example.com.au/cart?item="), id,
        lit("&utm_medium=cpc#frag")))
      .when(m === 7, concat(lit("https://shop.brandmall.com.hk/item/"), id,
        lit("?sku="), id))
      .when(m === 8, concat(lit("http://berita.portalweb.co.id/read/"), id,
        lit("?utm_source=feed&page=1")))
      .otherwise(concat(lit("doc "), id, lit(" has no url")))
  }

  private def urlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), urlFixtureExpr.as("url"))

  /** Directed person graph for [[GraphOps.sccLabels]]: hash-sliced
    * C→S interaction edges (1/12 of the distinct pairs) plus
    * same-nation S→C back-edges (1/60 of the supplier×customer
    * same-nation pairs) — two real joins over the base tables whose
    * composition has genuine directed cycles and a non-trivial
    * condensation (at sf0.01: ~4.1k edges, 3 multi-vertex SCCs,
    * largest 151). The MERGED person graph is symmetric by
    * construction (P4 emits both directions), where SCC degenerates
    * to connected components — this fixture is the directed shape the
    * operator exists for (the `urlFixture` device).
    */
  private def sccFixture(s: SparkSession, dir: String): DataFrame = {
    val fwd = Tables.relationshipDocs(s, dir)
      .select(col("from_person_id").as("src"), col("to_person_id").as("dst"))
      .distinct()
      .filter(pmod(Hashing.portableHash(
        concat(col("src"), lit("|"), col("dst"))), lit(12)) === 0)
    val bwd = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("s_nationkey") === col("c_nationkey"))
      .select(
        concat(lit("S"), col("s_suppkey").cast("string")).as("src"),
        concat(lit("C"), col("c_custkey").cast("string")).as("dst"))
      .filter(pmod(Hashing.portableHash(
        concat(col("src"), lit(">"), col("dst"))), lit(60)) === 0)
    fwd.unionAll(bwd)
  }

  /** URL + HTML fixtures in ONE projection (both are row-local column
    * derivations — a doc_id self-join here would put a corpus-sized
    * exchange in front of the chain under test).
    */
  private def webFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), urlFixtureExpr.as("url"),
      htmlFixtureExpr.as("text"))

  /** HTML-ified fixture of the documents table (one markup class per
    * `doc_id mod 4`: full page w/ script+style+nav, entities, `<br>`
    * boilerplate, already-clean) — every [[TextOps.htmlStrip]] stage
    * exercised on corpus text; shared by `t_html_strip` and the
    * composed `pipe_web_curation` chain.
    */
  private def htmlFixtureExpr: Column = {
    val m = pmod(col("doc_id"), lit(4))
    when(m === 0, concat(
        lit("<html><head><style type=\"text/css\">.x{a:b}</style>" +
          "<script>var x = 1 < 2;</script></head><body><h1>Title</h1><p>"),
        col("text"),
        lit("</p><div>Home | About | Contact</div></body></html>")))
      .when(m === 1, concat(
        lit("Tom &amp; Jerry &lt;3 say &quot;hi&quot; can&#39;t&nbsp;stop. "),
        col("text")))
      .when(m === 2, concat(col("text"), lit("<br>Nav<br>(c) 2020")))
      .otherwise(col("text"))
  }

  private def htmlFixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), htmlFixtureExpr.as("text"))

  /** Multi-line fixture of the documents table for [[TextOps.c4Rules]]
    * (the corpus text is single-line and punctuation-free, so the raw
    * table exercises nothing) — one rule per `doc_id mod 6` class:
    * all-kept clean page; a no-terminal-punct line (and only 2
    * surviving sentences — the minSentences gate); a <5-word line; a
    * "JavaScript" boilerplate line; a "Lorem Ipsum" page gate; a
    * curly-brace code-leak gate. The `htmlFixture` device.
    */
  private def c4FixtureExpr: Column = {
    val m = pmod(col("doc_id"), lit(6))
    val a = substring(col("text"), 1, 60)
    val b = substring(col("text"), 61, 60)
    val c = substring(col("text"), 121, 60)
    when(m === 0, concat(a, lit(".\n"), b, lit("!\n"), c, lit("?\nTiny.")))
      .when(m === 1, concat(a, lit("\n"), b, lit(".\n"), c, lit("!")))
      .when(m === 2, concat(lit("One two three.\n"), a, lit(".\n"), b,
        lit("?\n"), c, lit(".")))
      .when(m === 3, concat(
        lit("This page requires JavaScript enabled to work.\n"), a,
        lit(".\n"), b, lit("!\n"), c, lit("?")))
      .when(m === 4, concat(lit("Lorem Ipsum dolor sit amet consectetur.\n"),
        a, lit(".\n"), b, lit(".\n"), c, lit(".")))
      .otherwise(concat(lit("if (x) { return 1; }\n"), a, lit(".\n"), b,
        lit(".\n"), c, lit(".")))
  }

  private def c4Fixture(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), c4FixtureExpr.as("text"))

  private def coocPairs(s: SparkSession, dir: String): DataFrame =
    Option(sharedGraph.get(dir)).map(_._2)
      .getOrElse(GraphOps.coOccurrencePairs(edgesOf(s, dir), maxFanout = 20, minShared = 2))

  // ---------------------------------------------------------------------------
  // Flagship
  // ---------------------------------------------------------------------------

  /** Flagship: the reference's `query` binary (2-hop team expansion,
    * cmd/query/main.go:29-43) on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("j4_two_hop")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ extendedQueries ++ modeVariantQueries ++ frozenIndexQueries

  def oracleSql: Map[String, String] = {
    val base = coreOracles ++ extendedOracles
    base ++ modeVariantOracles(base)
  }

  /** Broadcast-fallback twins: the same contamination operators with
    * the probe-side broadcast hint dropped (`broadcastProbes = false`,
    * the beyond-broadcast-budget path). They share the hinted rows'
    * oracle SQL verbatim — the parameter is plan-shape-only, and
    * running both modes through the oracle proves it row-for-row.
    */
  private def modeVariantQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_contam_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(docs, docs.filter(col("doc_id") % 50 === 0), 3, 2,
        Hashing.Portable, broadcastProbes = false)
        .filter(col("doc_id") =!= col("probe_id"))
    }),
    "d_span_contam_shuffle" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactSpanContamination(docs, docs.filter(col("doc_id") % 50 === 0), 16,
        minSharedWindows = 2, hash = Hashing.Portable, broadcastProbes = false)
    }))

  private def modeVariantOracles(base: Map[String, String]): Map[String, String] = Map(
    "d_contam_shuffle" -> base("d_contamination"),
    "d_span_contam_shuffle" -> base("d_exact_span_contam"),
    // frozen-index serving twins: build → .materialized → reload →
    // probe. Values equal the inline operators by the frozen-reload
    // law (SimilaritySpec pins it), so the inline SQL is the oracle —
    // what the green row proves is the persisted-artifact query path
    // end to end (write, reload, probe) under the full gate.
    "sim_ivf_frozen" -> base("sim_ivf_topk"),
    "sim_graph_frozen" -> base("sim_graph_search"),
    "sim_sq8_frozen" -> base("sim_sq8_topk"),
    "sim_pq_frozen" -> base("sim_pq_topk"))

  /** Frozen ANN index queries — the `.materialized` train-once/
    * probe-forever serving path ([[graft.operators.Similarity]]'s
    * `IvfIndex`/`GraphIndex`/`Sq8Index`/`PqIndex`): each builds its
    * index, persists it to a fresh temp dir, reloads, and probes with
    * the same query slice as its inline twin.
    */
  private def frozenIndexQueries: Map[String, (SparkSession, String) => DataFrame] = {
    def tmp(name: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    Map(
      "sim_ivf_frozen" -> ((s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idx = Similarity.ivfBuild(emb, 16, kmeansIters = 0)
          .materialized(tmp("ivf_frozen"))
        Similarity.ivfProbe(idx, emb.filter(col("vec_id") < 8), nProbe = 4, k = 5)
      }),
      "sim_graph_frozen" -> ((s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idx = Similarity.graphBuild(emb, graphK = 5, planes = 8)
          .materialized(tmp("graph_frozen"))
        Similarity.graphProbe(idx, emb.filter(col("vec_id") < 8),
          k = 5, beam = 8, rounds = 2)
      }),
      "sim_sq8_frozen" -> ((s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idx = Similarity.sq8Build(emb).materialized(tmp("sq8_frozen"))
        Similarity.sq8Probe(idx, emb.filter(col("vec_id") < 8), k = 5)
      }),
      "sim_pq_frozen" -> ((s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idx = Similarity.pqBuild(emb).materialized(tmp("pq_frozen"))
        Similarity.pqProbe(idx, emb.filter(col("vec_id") < 8), k = 5)
      }))
  }

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1+P1+T1: watermark-filtered incremental scan (predicate pushes to parquet)
    "s1_watermark_scan" -> ((s, dir) => {
      GraphOps.watermarkFilter(docsOf(s, dir), java.sql.Timestamp.valueOf(WATERMARK))
        .select(
          unix_timestamp(col("last_update")).as("last_update_s"),
          col("from_person_id"), col("to_person_id"),
          col("stats.raw_score_in").as("raw_score_in"),
          col("stats.raw_score_out").as("raw_score_out"))
    }),

    // P3: numeric-parse id filter (keep string ids; uint64-safe)
    "p3_numeric_filter" -> ((s, dir) => {
      val raw = Tables.customer(s, dir).select(
        when(col("c_custkey") % 7 === 0, col("c_name"))
          .otherwise(col("c_custkey").cast("string")).as("person_id_raw"))
      GraphOps.numericIdFilter(raw, "person_id_raw")
    }),

    // P4+U1: doc → two directed edges (explode, no shuffle)
    "p4_explode_edges" -> ((s, dir) => edgesOf(s, dir)),

    // A2: grouped max — the reference's core merge semantics
    "a2_merge_max" -> ((s, dir) => mergedOf(s, dir)),

    // A3: group-into-list (sorted for determinism) + member count
    "a3_team_groups" -> ((s, dir) => {
      GraphOps.groupTeamMembers(Tables.teamMembers(s, dir))
        .select(
          col("team_id"),
          size(col("members")).cast("long").as("n_members"),
          concat_ws(",", col("members")).as("members_csv"))
    }),

    // A4+J1: distinct vertex set of the edge list
    "a4_distinct_persons" -> ((s, dir) => GraphOps.distinctPersons(edgesOf(s, dir))),

    // J2 (+S2+S4): existence semi-join → boolean is_trove_user flag
    "j2_trove_flags" -> ((s, dir) => {
      GraphOps.markTroveUsers(
        GraphOps.distinctPersons(edgesOf(s, dir)),
        Tables.troveUsers(s, dir))
    }),

    // J3: incremental MERGE (full-outer + greatest) of old vs new edge state
    "j3_incremental_merge" -> ((s, dir) => {
      val docs = docsOf(s, dir)
      val wm = java.sql.Timestamp.valueOf(WATERMARK)
      val old = GraphOps.mergeMaxEdges(GraphOps.edgesFromDocs(
        docs.filter(col("last_update") < lit(wm))), preShuffle = true)
      val nw = GraphOps.mergeMaxEdges(GraphOps.edgesFromDocs(
        docs.filter(col("last_update") >= lit(wm))), preShuffle = true)
      GraphOps.mergeEdgeStates(old, nw)
    }),

    // J4+U2: 2-hop team expansion with per-hop exclusion. Fed the RAW
    // edge list: reachability is invariant under the max-merge (kHop's
    // per-hop distinct subsumes it), so the groupBy-max shuffle would be
    // dead computation here — same rows, one less shuffle.
    "j4_two_hop" -> ((s, dir) => {
      val seeds = Tables.teamMembers(s, dir)
        .filter(col("team_id") === "N1").select(col("person_id"))
      // materializeEdges=false: upstream is one broadcast-join scan —
      // recomputing it per hop is cheaper than checkpointing 2N pairs
      GraphOps.kHop(edgesOf(s, dir), seeds, 2, materializeEdges = false)
    }),

    // BFS depth labels from the same team seed — the traversal
    // generalized from "who is 2 hops out" to "how far is everyone"
    "g_bfs_depth" -> ((s, dir) => {
      val seeds = Tables.teamMembers(s, dir)
        .filter(col("team_id") === "N1").select(col("person_id"))
      // broadcastFrontier stays OFF here: on this dense bipartite
      // fixture one hop reaches most vertices, so re-broadcasting the
      // visited set per hop costs more than the small shuffle join
      // (measured 2.1s vs 2.8s at sf0.1) — the switch is for graphs
      // whose frontier stays small relative to the edge partitions
      GraphOps.bfsDepths(edgesOf(s, dir), seeds, 3, materializeEdges = false)
    }),

    // fixed-round k-core peel: strip the low-degree periphery of the
    // person graph (3 unrolled peels, oracle-matched round for round)
    "g_kcore" -> ((s, dir) => GraphOps.kCorePeel(mergedOf(s, dir), 32, 3)),
    // fixpoint mode: peel until no vertex falls below k (convergence is
    // the per-round cut's measured row count, no extra count pass)
    "g_kcore_fixpoint" -> ((s, dir) => GraphOps.kCorePeel(mergedOf(s, dir), 32, -1)),

    // weight-proportional PageRank over the stored edge scores
    "g_pagerank_weighted" -> ((s, dir) =>
      GraphOps.pageRankWeighted(mergedOf(s, dir), 3)),

    // U2: except (anti + distinct) — persons that are not trove users
    "u2_except_non_trove" -> ((s, dir) => {
      GraphOps.distinctPersons(edgesOf(s, dir))
        .except(Tables.troveUsers(s, dir)
          .select(col("person_id_user").as("person_id")))
    }),

    // U: intersect — persons that ARE trove users (set form of J2's true side)
    "u_intersect_trove" -> ((s, dir) => {
      GraphOps.distinctPersons(edgesOf(s, dir))
        .intersect(Tables.troveUsers(s, dir)
          .select(col("person_id_user").as("person_id")))
    }),

    // S6+P5: RDF edge triples, byte-format pinned to the reference
    "s6_rdf_edges" -> ((s, dir) => Rdf.edgeTriples(mergedOf(s, dir))),

    // S6: person triples incl. typed boolean literal
    "s6_rdf_persons" -> ((s, dir) => {
      Rdf.personTriples(GraphOps.markTroveUsers(
        GraphOps.distinctPersons(edgesOf(s, dir)),
        Tables.troveUsers(s, dir)))
    }),

    // O: global top-k with deterministic tiebreak (TakeOrderedAndProject)
    // whole-pipeline oracle for the bulk binary: teams + members +
    // persons (edge endpoints ∪ team members — cmd/bulk/main.go:124-131
    // emits person triples for team-only members too) + merged edges
    "pipe_bulk_triples" -> ((s, dir) =>
      graft.pipelines.Pipelines.bulkTriples(
        docsOf(s, dir), Tables.troveUsers(s, dir), Tables.teamMembers(s, dir))),

    "o_topk_edges" -> ((s, dir) => {
      mergedOf(s, dir)
        .orderBy(col("score").desc, col("src").asc, col("dst").asc)
        .limit(20)
    }),

    // Graph analytics: per-person degree/strength profile over the
    // merged edge list — hub detection on the person graph. Two partial
    // +final aggs on 8-byte-ish keys, one full-outer merge; no text,
    // no edge list re-materialization.
    "g_degree_stats" -> ((s, dir) => {
      val merged = mergedOf(s, dir)
      val out = merged.groupBy(col("src").as("person_id"))
        .agg(count(lit(1)).as("out_deg"), sum(e2(col("score"))).as("out_score_e2"))
      val in = merged.groupBy(col("dst").as("person_id"))
        .agg(count(lit(1)).as("in_deg"))
      out.join(in, Seq("person_id"), "full_outer")
        .select(
          col("person_id"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("out_score_e2"), lit(0L)).as("out_score_e2"))
    }),

    // Fixed-iteration integer PageRank over the merged person graph;
    // the rank-loop broadcast/shuffle choice is the Checkpoints rule
    // (the cut vertex frame's measured bytes vs
    // spark.sql.autoBroadcastJoinThreshold) — broadcast here, shuffle
    // once the vertex frame outgrows the threshold
    "g_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(mergedOf(s, dir), 3)),

    // personalized PageRank from a deterministic ~5% hash-slice seed
    // set — teleport mass returns to seeds only (Haveliwala 2002),
    // same integral e9 scheme as g_pagerank
    "g_ppr" -> ((s, dir) =>
      GraphOps.personalizedPageRankByPred(
        mergedOf(s, dir),
        pmod(Hashing.portableHash(col("person_id")), lit(20)) === 0,
        3)),

    // Bipartite co-occurrence projection: person pairs sharing >= 2
    // distinct neighbors, hub dsts (fanout > 20) dropped before the
    // quadratic pairing — the fanout cap is pinned operator semantics
    "g_cooccurrence" -> ((s, dir) =>
      GraphOps.coOccurrencePairs(edgesOf(s, dir), maxFanout = 20, minShared = 2)),

    // Per-vertex triangle counts over the co-occurrence projection —
    // the bipartite person graph has none until projected; the
    // degree-ordered orientation bounds the wedge join at O(E^1.5)
    "g_triangles" -> ((s, dir) =>
      GraphOps.triangleCounts(coocPairs(s, dir))),

    // Watts–Strogatz local clustering coefficient (permille) on the
    // same projected graph — integer floor division, oracle-exact
    "g_clustering" -> ((s, dir) =>
      GraphOps.clusteringCoefficients(coocPairs(s, dir))),

    // Newman degree assortativity of the projected graph — exact
    // integer sufficient statistics, one final double (agg_correlation
    // device), e6-floored
    "g_assortativity" -> ((s, dir) =>
      GraphOps.degreeAssortativity(coocPairs(s, dir))),

    // common-neighbors link prediction: cooc pairs + exact permille
    // Jaccard of the capped neighbor sets
    "g_link_jaccard" -> ((s, dir) =>
      GraphOps.coOccurrenceJaccardFromCapped(coocCapped(s, dir), minShared = 2)),

    // Adamic-Adar with integer ilog2 weights — rare shared neighbors
    // outweigh promiscuous ones, no transcendental, oracle-exact
    "g_link_adamic" -> ((s, dir) =>
      GraphOps.coOccurrenceAdamicAdarFromCapped(coocCapped(s, dir), minShared = 2)),

    // synchronous 2-round label propagation on the projected graph —
    // deterministic neighbor-label mode, ties to the smallest label
    "g_label_prop" -> ((s, dir) =>
      GraphOps.labelPropagation(coocPairs(s, dir), rounds = 2)),

    // Newman modularity of the LPA partition over the same graph —
    // exact integer sufficient stats, one final double, e6-floored
    "g_modularity" -> ((s, dir) => {
      val p = coocPairs(s, dir)
      GraphOps.modularity(p, GraphOps.labelPropagation(p, rounds = 2))
    }),

    // Louvain-style modularity optimization on the projected graph:
    // 2 synchronous local-move rounds (integer gain scores, singleton
    // min-label swap guard), contraction, 2 weighted rounds — the
    // modularity-OPTIMIZING sibling of g_label_prop (GraphOpsSpec law:
    // Q(louvain) >= Q(LPA) on this graph)
    "g_louvain" -> ((s, dir) =>
      GraphOps.louvain(coocPairs(s, dir), moveRounds = 2, levels = 2)),

    // Leiden-style connectivity refinement of g_louvain: same move
    // rounds, then each community splits into the connected components
    // of its induced subgraph before contraction — every output
    // community is connected and Q never drops vs the unrefined level
    // (GraphOpsSpec law: Q(leiden) >= Q(louvain) here)
    "g_leiden" -> ((s, dir) =>
      GraphOps.leiden(coocPairs(s, dir), moveRounds = 2, levels = 2)),

    // k-truss peel on the projected graph: synchronous edge-support
    // rounds, round-8 snapshot contract (the oracle unrolls exactly 8
    // recursive rounds; the operator's fixpoint early-stop is
    // idempotent past convergence). k = 72 sits inside the dense cooc
    // support range so the peel cascades for several rounds
    "g_ktruss" -> ((s, dir) =>
      GraphOps.kTruss(coocPairs(s, dir), k = 72, maxRounds = 8)),

    // resolution knob (Reichardt-Bornholdt gamma = 1.2): g_louvain's
    // exact rounds with the null-model term scaled 1.2x -> finer,
    // non-degenerate communities (3 -> 13 on this graph; gamma >= 2
    // singleton-izes the near-clique). GraphOpsSpec law: community
    // count non-decreasing in gamma
    "g_louvain_res" -> ((s, dir) =>
      GraphOps.louvain(coocPairs(s, dir), moveRounds = 2, levels = 2,
        resolutionE3 = 1200L)),

    // strongly connected components over the genuinely DIRECTED
    // fixture graph (FW-BW-Trim coloring to fixpoint); the oracle is
    // the DEFINITION — recursive-CTE transitive closure -> mutual
    // reachability -> min-member labels — so a pass certifies the
    // whole peel/color/backward loop, not a round count
    "g_scc" -> ((s, dir) => GraphOps.sccLabels(sccFixture(s, dir))),
    // the condensation DAG: SCCs contracted to vertices, distinct
    // between-component edges — acyclic by the definition of SCC.
    // KNOWN DUPLICATE EXECUTION (r16 verdict #3, decision pinned):
    // this composes over sccLabels, so the bench pays the SCC
    // fixpoint twice across g_scc + g_scc_condensation (~2×8 s at
    // sf0.1 — the two most expensive queries). The warm-set memo rule
    // is ≥5 consumers (PERF_r11 §shared-projection); SCC has exactly
    // these two. A real user labels once and passes the frame to both
    // consumers — revisit the warm set the moment a third SCC
    // consumer registers.
    "g_scc_condensation" -> ((s, dir) => {
      // the fixture feeds BOTH the label fixpoint and the contraction
      // joins — cut it once so its two base-table joins don't execute
      // twice (within-query reuse, not a cross-query memo)
      val fixture = graft.operators.Checkpoints.cut(sccFixture(s, dir), None)
      GraphOps.condensationEdges(fixture, GraphOps.sccLabels(fixture))
    }),

    // HITS hubs & authorities over the same directed fixture (the
    // symmetric merged graph would degenerate hub ≡ auth) — 2 rounds,
    // e6 integer scores, per-round max-rescale in place of L2
    "g_hits" -> ((s, dir) => GraphOps.hits(sccFixture(s, dir), 2)),

    // deterministic DeepWalk corpus: 2 walks × 3 steps from a ~4%
    // hash-slice of the merged person graph; step t moves to the
    // hash(walk:t:cur) mod outdeg ranked neighbor (oracle unrolls)
    "g_random_walks" -> ((s, dir) =>
      GraphOps.randomWalks(mergedOf(s, dir),
        pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
        walkLen = 3, walksPerVertex = 2)),

    // skip-gram (center, context, offset) pairs over the SAME walk
    // corpus (window 2) — the word2vec-style training pairs DeepWalk
    // actually feeds the embedding fit
    "g_walk_contexts" -> ((s, dir) =>
      GraphOps.walkContexts(
        GraphOps.randomWalks(mergedOf(s, dir),
          pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
          walkLen = 3, walksPerVertex = 2),
        window = 2)),

    // SGNS embedding fit on the walk-context corpus (Mikolov 2013 /
    // Perozzi 2014 §4.2): dim-4 q10 integer embeddings, 2 full-batch
    // epochs, 2 hash-coin negatives per pair, hard-sigmoid gradient —
    // deterministic, so the oracle unrolls both epochs as CTEs.
    // The array output flattens to CSV at the registration site (the
    // a3_team_groups convention): the oracle gate compares scalar
    // cells only.
    "g_sgns_train" -> ((s, dir) =>
      GraphOps.sgnsTrain(
        GraphOps.walkContexts(
          GraphOps.randomWalks(mergedOf(s, dir),
            pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
            walkLen = 3, walksPerVertex = 2),
          window = 2),
        dim = 4, epochs = 2, negatives = 2, lrShift = 2, negBuckets = 8)
        .select(col("person_id"),
          concat_ws(",", col("emb")).as("emb_csv"))),

    // DeepWalk END-TO-END: walks → skip-gram contexts → SGNS fit →
    // the trained q10 vectors enter the similarity tier — per
    // hash-sliced query vertex, its 5 nearest embedding-space
    // neighbors (cosineTopKQ: exact integer dots, self excluded,
    // ties by neighbor id). The composed proof that the engine's
    // graph-embedding output is directly consumable by its ANN tier.
    // BUDGET NOTE (pinned): the query side is a 1/10 hash slice of
    // the trained vocab, so this exact-rank tail is (|V|²/10) —
    // correct for the oracle, quadratic at corpus scale. The scale
    // path swaps the tail for the banded/graph tiers (knnGraph /
    // graphProbe consume the same (id, q, nq) frame); revisit if this
    // query ever leaves the oracle-proof role.
    "g_embed_neighbors" -> ((s, dir) => {
      val emb = GraphOps.sgnsTrain(
        GraphOps.walkContexts(
          GraphOps.randomWalks(mergedOf(s, dir),
            pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
            walkLen = 3, walksPerVertex = 2),
          window = 2),
        dim = 4, epochs = 2, negatives = 2, lrShift = 2, negBuckets = 8)
      val corpus = emb
        .select(col("person_id").as("vec_id"), col("emb").as("q"))
        .withColumn("nq", Similarity.normQ(col("q")))
        // zero-norm vectors cosine-NaN against everything (both
        // engines sort NaN first desc) — drop them, the mmr rule
        .filter(col("nq") > 0)
      Similarity.cosineTopKQ(corpus,
        pmod(Hashing.portableHash(col("vec_id")), lit(10)) === 0, k = 5)
    }),

    // node2vec biased walks (integer weights 250/1000/500 ≈ p=4, q=2):
    // second-order transitions — returns discounted, distance-1
    // neighbors favored; step 1 is the uniform DeepWalk hop
    "g_node2vec_walks" -> ((s, dir) =>
      GraphOps.node2vecWalks(mergedOf(s, dir),
        pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
        walkLen = 3)),

    // GraphSAGE layered fanout sample (3, 2) from the same ~4% seed
    // slice — GNN minibatch computation graphs, generated as data
    "g_sage_sample" -> ((s, dir) =>
      GraphOps.sageSample(mergedOf(s, dir),
        pmod(Hashing.portableHash(col("person_id")), lit(25)) === 0,
        fanouts = Seq(3, 2))),

    // radius-2 harmonic centrality on the projected graph — exact
    // permille 1000·n1 + 500·n2, one wedge self-join + anti-join
    "g_harmonic2" -> ((s, dir) =>
      GraphOps.harmonicCentrality2(coocPairs(s, dir))),
    // ANF / neighborhood function (HyperANF): per-vertex HLL ball
    // sketches advanced 2 hops over the shared cooc graph — O(V)
    // sketch state where the exact closure is quadratic; the audited
    // form rides the exact bounded closure + a 5% gate (x_hll_merge
    // device), the estimates form is the production path (spec-gated)
    "g_anf" -> ((s, dir) =>
      GraphOps.neighborhoodFunctionAudited(coocPairs(s, dir), maxT = 2)),

    // Relational agg: TPC-H Q1-shaped pricing summary, exact cents
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(e2(col("l_extendedprice"))).as("sum_base_cents"),
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000 + 0.5)
            .cast("long")).as("sum_disc_e4"),
          count(lit(1)).as("n_rows"))
    }),

    // Relational join + agg + top-k: Q3-shaped revenue per order
    "q3_topk_revenue" -> ((s, dir) => {
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000 + 0.5)
          .cast("long")).as("revenue_e4"))
        .orderBy(col("revenue_e4").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: the 6-table star join — fact tables join on keys,
    // every dimension (supplier/customer/nation/region) broadcasts, one
    // shuffle total (the final per-nation aggregate). The local-supplier
    // condition (c_nationkey = s_nationkey) rides the supplier join.
    "q5_region_revenue" -> ((s, dir) => {
      val natRegion = Tables.nation(s, dir)
        .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(natRegion), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000 + 0.5)
            .cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_items"))
    }),

    // Window: top-2 customers per nation by balance (deterministic tiebreak)
    "w_rank_per_nation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, dir)
        .select(
          col("c_nationkey"), col("c_custkey"),
          e2(col("c_acctbal")).as("acctbal_cents"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 2)
    }),

    // Analytic offset function: per-user event-over-event value change
    // (lag over the event-time order — sessionized rate-of-change)
    "w_score_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(
          col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 10000 + 0.5).cast("long").as("value_e4"))
        .withColumn("delta_e4",
          (col("value_e4") - coalesce(lag(col("value_e4"), 1).over(w), col("value_e4")))
            .cast("long"))
        .drop("ts")
    }),

    // Distribution bucketing: per-language quality deciles (ntile) —
    // the "keep the top decile per language" selection primitive
    "t_quality_deciles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("alpha_ratio_e3").desc, col("doc_id").asc)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(TextOps.qualityScore(Tables.documents(s, dir))
          .select(col("doc_id"), col("alpha_ratio_e3")), Seq("doc_id"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
    }),

    // quality-score calibration: per-language percent-rank (e6 integer
    // so the cross-engine hash is exact) — the standard "normalize a
    // raw quality signal to a comparable [0,1] percentile" step before
    // thresholding across heterogeneous languages
    "t_quality_pctile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("alpha_ratio_e3").asc, col("doc_id").asc)
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .join(TextOps.qualityScore(Tables.documents(s, dir))
          .select(col("doc_id"), col("alpha_ratio_e3")), Seq("doc_id"))
        .withColumn("pctile_e6",
          floor(percent_rank().over(w) * 1e6 + 0.5).cast("long"))
    }),

    // per-column null/empty audit — the ingest data-quality gate: one
    // aggregate pass over the table, unpivoted to a row per column
    "t_null_audit" -> ((s, dir) => {
      Tables.documents(s, dir)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).as("nu_t"),
          sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("em_t"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("nu_l"),
          sum(when(length(col("lang")) === 0, 1L).otherwise(0L)).as("em_l"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("nu_s"),
          sum(when(length(col("source")) === 0, 1L).otherwise(0L)).as("em_s"))
        .select(expr(
          "stack(3, 'text', n, nu_t, em_t, 'lang', n, nu_l, em_l, " +
            "'source', n, nu_s, em_s) AS (col_name, n_rows, n_null, n_empty)"))
    }),

    // deterministic corpus-wide k-sample: global bottom-k by content
    // hash — TakeOrderedAndProject (per-partition heads), no global
    // sort; the corpus-level twin of the per-stratum samplers
    "t_corpus_sample" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Hashing.portableHash(col("text")).as("hkey"))
        .orderBy(col("hkey").asc, col("doc_id").asc)
        .limit(100)),

    // Distinct aggregate
    "agg_count_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }),

    // Date arithmetic: monthly order volumes with exact cents
    "agg_monthly_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"),
          col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(e2(col("o_totalprice"))).as("total_cents"))
    }),

    // Bloom-pruned big–big semi/anti join: the bloom bitset prunes the
    // probe side BEFORE the join shuffle; the exact verifying join
    // removes false positives, so semantics are exactly IN / NOT IN —
    // which is what the oracle pins. mBits is sized ~10 bits/key at
    // sf0.01 (fpp < 1%); at 100 TB the same 1-row bitset broadcasts
    // where the key set itself could not.
    "b_bloom_semi" -> ((s, dir) =>
      BloomJoin.bloomSemiJoin(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
        Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
          .select(col("o_orderkey").as("l_orderkey")),
        "l_orderkey", mBits = 1 << 18, k = 5)),

    "b_bloom_anti" -> ((s, dir) =>
      BloomJoin.bloomAntiJoin(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
        Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey").as("l_orderkey")),
        "l_orderkey", mBits = 1 << 20, k = 5)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity").cast("long")).as("sum_qty"))),

    // Pearson correlation from EXACT integer sufficient statistics:
    // per-row quantization, exact integer sums (order-free), one final
    // double expression per group — engine-portable where a naive
    // corr() over doubles is not (its running sums are order-dependent)
    "agg_correlation" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"),
          floor(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") * 1e6 /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
            .cast("long").as("corr_e6"))
    }),

    // HLL sketch: Spark's HLL++ and DuckDB's HLL differ by construction,
    // so the sketch VALUE can't cross-engine hash-match. Gate it anyway:
    // emit the exact distinct count plus a Spark-side 10%-tolerance
    // verdict; the oracle computes the same exact counts with approx_ok
    // pinned TRUE — the row hash-matches iff the HLL estimate was in
    // bound for every group. The permanent no_oracle asterisk becomes a
    // real accuracy gate.
    "x_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey")).as("approx"))
        .select(
          col("l_returnflag"), col("exact_orders"),
          (abs(col("approx") - col("exact_orders")) <=
            col("exact_orders").cast("double") * 0.1).as("approx_ok"))
    }),

    // approximate median with a RANK-ERROR gate: the sketch value is
    // engine-specific, but its guarantee — the returned element's rank
    // sits within n/accuracy of n/2 — is exactly checkable from the
    // data. The output carries only (n, approx_ok); the oracle pins
    // exact n + TRUE, so a hash match certifies the bound held for
    // every group (same device as x_approx_distinct).
    "x_approx_quantile" -> ((s, dir) => {
      // null values are invisible to percentile_approx AND to the
      // rank counts below — filter them up front so `n` counts the
      // same population the sketch and the rank gate actually see
      // (a count(lit(1)) over null rows would inflate n and could
      // spuriously fail the gate)
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        floor(col("value") * 10000 + 0.5).cast("long").as("v_e4"))
        .filter(col("v_e4").isNotNull)
      val ap = ev.groupBy(col("event_type"))
        .agg(
          percentile_approx(col("v_e4"), lit(0.5), lit(1000)).as("med"),
          count(lit(1)).as("n"))
      val ranks = ev.join(ap.select(col("event_type"), col("med")), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("v_e4") < col("med"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("v_e4") <= col("med"), 1L).otherwise(0L)).as("n_below_eq"))
      // valid ε-approx median: rank window [n/2 − εn, n/2 + εn] with
      // ε = 1/accuracy; +2 absorbs the two integer floors. Integer
      // `div` keeps the whole gate in longs (repo discipline).
      ap.join(ranks, Seq("event_type"))
        .select(
          col("event_type"), col("n"),
          (col("n_below") * 2 <= col("n") + expr("(n * 2) div 1000") + 2 &&
            col("n_below_eq") * 2 >= col("n") - expr("(n * 2) div 1000") - 2)
            .as("approx_ok"))
    })
  )

  // ---------------------------------------------------------------------------
  // Extended surface: LLM-data-pipeline operators (SURVEY §7.4)
  // ---------------------------------------------------------------------------

  private def extendedQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis ------------------------------------------------------
    "t_token_counts" -> ((s, dir) => TextOps.tokenCounts(Tables.documents(s, dir))),
    "t_quality" -> ((s, dir) => TextOps.qualityScore(Tables.documents(s, dir))),
    // the Gopher rule bundle (Rae et al. 2021 App. A): every rule its
    // own integer signal + composite keep — one narrow HOF projection
    "t_gopher_rules" -> ((s, dir) => TextOps.gopherRules(Tables.documents(s, dir))),
    // the Gopher repetition table, two-endpoint variant (Rae 2021 Table A1): top-2/3/4
    // n-gram char-coverage + dup-5/10 overlap-deduped char coverage,
    // one multi-n generator pass + hash-keyed aggregates
    "t_gopher_ngram_rep" -> ((s, dir) =>
      TextOps.gopherRepetition(Tables.documents(s, dir))),
    // the C4 bundle (Raffel et al. 2020 §2.2): line-level scrub
    // (terminal punct, ≥5 words, no "javascript") + doc gates (lorem
    // ipsum, curly brace, ≥3 sentences) over a multi-line fixture —
    // one class per doc_id mod 6, each exercising one rule
    "t_c4_rules" -> ((s, dir) =>
      TextOps.c4Rules(c4Fixture(Tables.documents(s, dir)))),
    "t_lang_id" -> ((s, dir) => TextOps.langId(Tables.documents(s, dir))),
    // compression-ratio quality screen: distinct/total char-4-gram
    // dictionary ratio, the deterministic LZ-compressibility proxy
    // (Gopher-family repetition screen; low = machine-generated/
    // repetitive, ~1000 = incompressible)
    "t_compress_ratio" -> ((s, dir) =>
      TextOps.compressionRatio(Tables.documents(s, dir))),
    // HTML/boilerplate strip over an HTML-ified fixture of the
    // documents table (script/style + tags, entities, <br>
    // boilerplate, already-clean — one class per doc_id mod 4), so
    // every stage of the stripper is oracle-exercised on corpus text
    "t_html_strip" -> ((s, dir) =>
      TextOps.htmlStrip(htmlFixture(Tables.documents(s, dir)))),
    "t_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.documents(s, dir), hash = Hashing.Portable)),
    "t_hash_split" -> ((s, dir) =>
      TextOps.hashSplit(Tables.documents(s, dir), 800, 100, hash = Hashing.Portable)),
    // deterministic epoch shuffle into 32 training shards (portable
    // position hash; the plan IS the shard-writer's partition+sort)
    "t_shard_shuffle" -> ((s, dir) =>
      TextOps.shardShuffle(Tables.documents(s, dir), 32)),
    // pairwise total-variation distance between source token
    // distributions — the exact-rational mixture-drift audit
    "t_source_tvd" -> ((s, dir) =>
      TextOps.sourceTvd(Tables.documents(s, dir))),
    // sqrt-temperature mixture weights + exact integer token-budget
    // quotas (α = 1/2 up-sampling of low-resource sources)
    "t_temp_mix" -> ((s, dir) =>
      TextOps.temperatureMix(Tables.documents(s, dir), budgetTokens = 100000L)),
    // explicit portable count-min sketch audited against the exact
    // top-20 vocabulary — estimates hash-match the SQL twin bit-exactly
    "x_cms_vocab" -> ((s, dir) =>
      TextOps.cmsTokenEstimates(Tables.documents(s, dir))),
    // mergeable distinct-count sketches: one HLL per source, unioned,
    // estimate gated at ±5% of the exact distinct-token count (the
    // x_approx_distinct device — the oracle pins exact + TRUE)
    "x_hll_merge" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      val perSource = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("tok")).as("sk"))
      val est = perSource.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      toks.agg(countDistinct(col("tok")).as("exact_tokens"))
        .crossJoin(est)
        .select(
          col("exact_tokens"),
          (abs(col("est") - col("exact_tokens")) <=
            col("exact_tokens").cast("double") * 0.05).as("merge_ok"))
    }),
    // sketch-based join-cardinality estimate: CMS inner product of the
    // click-keyed vs purchase-keyed user streams, audited against the
    // exact join size (never undercounts; grids replicate in SQL)
    "x_cms_join_size" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      TextOps.cmsJoinSize(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id")
    }),
    // PMI collocation mining: top-20 adjacent bigrams by association
    // ratio (≡ PMI rank for a fixed corpus), support floor 5
    "t_pmi_topk" -> ((s, dir) =>
      TextOps.pmiTopK(Tables.documents(s, dir), minCount = 5, k = 20)),
    // distributed BPE merge training (Sennrich et al. 2016): the first
    // 6 learned merges, greedy left-to-right rewrite via run-parity
    // windows — the merge table bit-replicates in SQL
    "t_bpe_merges" -> ((s, dir) =>
      TextOps.bpeMerges(Tables.documents(s, dir), steps = 6)),
    // BPE segmentation with the self-trained merge table: one row per
    // distinct word with its subword pieces — the corpus-independent
    // vocabulary artifact a shard writer joins back by word
    "t_bpe_segment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextOps.bpeSegment(d, TextOps.bpeMerges(d, steps = 6))
    }),
    // byte-level BPE (GPT-2 mode): train-and-self-segment over the
    // byte-pre-tokenized corpus — pieces are 2-hex-digit UTF-8 byte
    // symbols (no UNK by construction, lossless on any input); the
    // 6-step end state pins the whole merge chain in both engines
    "t_bpe_bytes" -> ((s, dir) =>
      TextOps.bpeTrainSegmentation(Tables.documents(s, dir), steps = 6,
        byteLevel = true)),
    // WordPiece greedy longest-match segmentation against a FIXED
    // corpus-derived vocabulary (frequent whole words + their 2-char
    // prefix / ##-suffix splits + every corpus character except 'e' in
    // both forms — 'e'-gaps exercise the all-or-nothing [UNK] rule)
    "t_wordpiece_segment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = docs
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val freq = words.filter(col("n") >= 935).select(col("word"))
      val chars = words
        .select(explode(expr("filter(split(word, ''), x -> x != '')")).as("c"))
        .filter(col("c") =!= "e").distinct()
      val vocab = freq.select(col("word").as("piece"))
        .union(words.filter(length(col("word")) >= 4)
          .select(substring(col("word"), 1, 2).as("piece")))
        .union(words.filter(length(col("word")) >= 4)
          .select(concat(lit("##"), expr("substring(word, 3)")).as("piece")))
        .union(chars.select(col("c").as("piece")))
        .union(chars.select(concat(lit("##"), col("c")).as("piece")))
      TextOps.wordpieceSegment(docs, vocab)
    }),
    // unigram-LM Viterbi segmentation VALUE against a corpus-derived
    // scored vocabulary: substrings (len ≤ 3) present in ≥ 2 distinct
    // words, priced ilog2(tot+1) − ilog2(cnt+1) whole bits — hapax
    // chars ('j', 'q') drop out, so the unreachable ok=false branch
    // is live beside the min-cost DP
    "t_unigram_segment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val words = docs
        .select(explode(TextOps.tokens(col("text"))).as("word")).distinct()
      val pieces = words.select(col("word"),
        explode(expr(
          """flatten(transform(sequence(0, length(word) - 1), p ->
            |  transform(sequence(1, least(3, length(word) - p)), l ->
            |    substring(word, p + 1, l))))""".stripMargin)).as("piece"))
      val counted = pieces.groupBy(col("piece"))
        .agg(countDistinct(col("word")).as("cnt"))
        .filter(col("cnt") >= 2)
      def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
      val vocab = counted
        .crossJoin(broadcast(counted.agg(sum(col("cnt")).as("tot"))))
        .select(col("piece"),
          (ilog2(col("tot") + 1) - ilog2(col("cnt") + 1)).as("cost_bits"))
      TextOps.unigramSegment(docs, vocab)
    }),
    // unigram-LM VOCABULARY TRAINING (the SentencePiece trainer
    // quadrant): seed substrings + char coverage, then hard-EM epochs
    // of forward/backward packed Viterbi DP -> on-optimal-path usage
    // counts -> whole-bit re-pricing -> top-vocabSize prune (chars
    // exempt). The oracle unrolls both DPs per epoch with the
    // t_unigram_segment dp device
    "t_unigram_train" -> ((s, dir) =>
      TextOps.unigramTrain(Tables.documents(s, dir), vocabSize = 64,
        epochs = 2)),
    // end-to-end tokenize→pack DAG: learn 6 BPE merges, segment the
    // vocabulary, attach per-word piece counts back to the token
    // stream by an 8-byte-ish word join, and pack documents into
    // 256-SUBWORD training sequences (the packer's budget is now the
    // tokenizer's unit, not whitespace tokens)
    "pipe_tokenize_pack" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // train-and-self-segment in ONE loop: the training end state is
      // the corpus segmentation (≡ bpeSegment(d, bpeMerges(d)) by spec)
      val seg = TextOps.bpeTrainSegmentation(d, steps = 6)
      val perDoc = d
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
        .join(seg.select(col("word"), col("n_pieces")), Seq("word"))
        .groupBy(col("doc_id")).agg(sum(col("n_pieces")).as("n_tok"))
      TextOps.packByCount(perDoc, budget = 256, nShards = 8,
        hash = Hashing.Portable)
    }),
    // KMV distinct sketch per source (k=16 minimum mixed portable
    // hashes — k < per-source vocab so the estimator branch is live),
    // audited against the exact count — whole row replicates in SQL
    // bit-exactly, estimator included
    "x_kmv_distinct" -> ((s, dir) =>
      TextOps.kmvDistinct(Tables.documents(s, dir), k = 16)),
    // KMV sketch SET ALGEBRA: pairwise union / intersection / Jaccard
    // estimates composed from the same bottom-k sketches as
    // x_kmv_distinct (Beyer et al. 2007), audited against exact
    // counts — the whole row, estimators included, replicates in SQL
    "x_kmv_overlap" -> ((s, dir) =>
      TextOps.kmvOverlap(Tables.documents(s, dir), k = 16)),
    // Bloom membership sketch: build over the 90% corpus slice, probe
    // the doc_id%10==0 batch — the sketch-tier admission filter for
    // incremental dedup; the exact `present` column rides along so the
    // no-false-negative guarantee is oracle-audited row by row
    "x_bloom_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      // the probe batch carries KNOWN members too (corpus docs re-ided
      // +1e6) so the no-false-negative guarantee is audited on rows
      // where present = true, not vacuously
      val probe = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val bloom = Dedup.bloomBuild(corpus, hash = Hashing.Portable)
      val mc = Dedup.bloomMightContain(probe, bloom, hash = Hashing.Portable)
      // left_semi already deduplicates the build side — no distinct()
      val present = probe
        .join(corpus.select(col("text")), Seq("text"), "left_semi")
        .select(col("doc_id"), lit(true).as("present"))
      mc.join(present, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("might_contain"),
          coalesce(col("present"), lit(false)).as("present"))
    }),
    // quantile member of the mergeable-sketch tier: deterministic
    // 1-in-10 hash-rate sample, type-1 quantiles at p50/p90, exact
    // audit columns ride along — whole artifact bit-replicates in SQL
    "x_sample_quantiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"), col("event_id"),
        floor(col("value") * 10000 + 0.5).cast("long").as("v_e4"))
      TextOps.hashSampleQuantiles(ev, "event_type", "event_id", "v_e4",
        rate = 10)
    }),
    // self-trained multinomial NB source classifier (the DCLM-shaped
    // cheap-linear-classifier curation stage): deterministic 90/10
    // text-hash split, whole-bit ilog2 Laplace scoring, lexicographic
    // tie-break — exact in both engines
    "t_nb_classify" -> ((s, dir) =>
      TextOps.nbSourceClassify(Tables.documents(s, dir), trainPermille = 900)),
    // hashed linear one-vs-rest classifier (fastText-grade, the
    // model-based ranker DCLM curation actually ships): hashed
    // unigram+bigram buckets, closed-form NB log-count-ratio weights
    // in whole ilog2 bits, odds-argmax with lexicographic tie-break
    "t_linear_classify" -> ((s, dir) =>
      TextOps.linearSourceClassify(Tables.documents(s, dir), trainPermille = 900)),
    // gradient-TRAINED one-vs-rest logistic on the same hashed
    // unigram+bigram space (Joulin 2017 by full-batch integer GD):
    // q20 weights, hard-sigmoid gradient, >>-shift learning rate —
    // 2 deterministic epochs the oracle unrolls as CTEs
    "t_logistic_classify" -> ((s, dir) =>
      TextOps.logisticSourceClassify(Tables.documents(s, dir),
        trainPermille = 900, epochs = 2, lrShift = 10)),
    // Heaps'-law vocabulary growth per source: cumulative tokens vs
    // cumulative distinct tokens in doc_id order (two-phase prefix sum)
    "t_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(Tables.documents(s, dir), bucketSize = 64)),
    // Zipf rank–frequency slope: ilog2 whole-bit least squares over
    // the vocabulary, exact integer sufficient stats, one final double
    "t_zipf_slope" -> ((s, dir) =>
      TextOps.zipfSlope(Tables.documents(s, dir), hash = Hashing.Portable)),
    "t_quality_topk" -> ((s, dir) =>
      TextOps.qualityTopK(Tables.documents(s, dir), Seq("lang", "source"), 3)),
    // PII scrub over a synthesized contact corpus (the fixture text has
    // no PII shapes, so the query derives one deterministically from
    // customer — same construction in the oracle)
    "t_pii_redact" -> ((s, dir) => {
      val contact = Tables.customer(s, dir).select(
        col("c_custkey"),
        concat(
          lit("Reach "), col("c_name"),
          lit(" at user"), col("c_custkey").cast("string"), lit("@mail.example.org"),
          lit(" or +1-555-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" (last ip 10.0."), (col("c_custkey") % 256).cast("string"), lit(".77)")
        ).as("contact"))
      TextOps.redactPii(contact, "contact")
        .select(col("c_custkey"), col("contact_redacted"), col("n_redactions"))
    }),
    "t_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(Tables.documents(s, dir), hash = Hashing.Portable)),
    // self-trained bigram-LM perplexity screen (CCNet-shaped): integer
    // bits via ilog2 = length(bin(n))-1, exact in both engines. The
    // keep threshold sits at the corpus median (~4.6 bits/bigram) so
    // both branches of the flag are exercised by the gate.
    "t_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLmScore(Tables.documents(s, dir), maxBitsE3 = 4600,
        hash = Hashing.Portable)),
    // order-3 stupid-backoff sibling, trained on the 900-permille
    // hash slice so held-out docs exercise the backoff chain; same
    // whole-bit ilog2 arithmetic, keep threshold near the corpus
    // median so both flag branches are exercised
    "t_trigram_lm" -> ((s, dir) =>
      TextOps.trigramLmScore(Tables.documents(s, dir), maxBitsE3 = 3600,
        hash = Hashing.Portable)),
    // CCNet §3.3 head/middle/tail perplexity terciles over the trigram
    // scores: thresholds are VALUES off a score-histogram cumulative
    // (never a corpus-wide rank), no-signal docs pin to tail
    "t_ppl_buckets" -> ((s, dir) =>
      TextOps.pplBuckets(Tables.documents(s, dir), maxBitsE3 = 3600,
        hash = Hashing.Portable)),
    // DSIR importance weighting against a deterministic target slice
    // (sources src0/src1 ≈ 10% of the corpus) — integer bits via the
    // same ilog2 convention as t_bigram_lm, exact in both engines
    "t_dsir_weights" -> ((s, dir) =>
      TextOps.dsirWeights(Tables.documents(s, dir),
        col("source").isin("src0", "src1"), hash = Hashing.Portable)),
    "t_dsir_sample" -> ((s, dir) =>
      TextOps.dsirSample(Tables.documents(s, dir),
        col("source").isin("src0", "src1"), 100, hash = Hashing.Portable)),
    // threshold-selection diagnostic: per distinct weight value, the
    // precision/recall of a "keep every doc scoring >= t" cut
    "t_dsir_pr_curve" -> ((s, dir) =>
      TextOps.dsirPrCurve(Tables.documents(s, dir),
        col("source").isin("src0", "src1"), hash = Hashing.Portable)),
    "t_domain_quota" -> ((s, dir) =>
      TextOps.domainQuota(Tables.documents(s, dir), "source", 10, hash = Hashing.Portable)),
    // URL parse/normalize over a synthetic absolute-URL fixture (one
    // class per doc_id mod 10: tracking params, userinfo+port+multi-
    // label suffix, punycode, default ports, uppercase host, fragment,
    // com.hk + co.id snapshot-PSL registrants, one non-URL row) —
    // every urlParts stage oracle-exercised
    "t_url_parts" -> ((s, dir) =>
      TextOps.urlParts(urlFixture(Tables.documents(s, dir)))),
    // the web-corpus quota chain: parse URLs -> registered domain ->
    // deterministic per-domain cap (domainQuota keyed on reg_domain
    // instead of the assumed-clean source column)
    "pipe_domain_quota" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val rd = TextOps.urlParts(urlFixture(docs))
        .select(col("doc_id"), col("reg_domain"))
      TextOps.domainQuota(
        docs.join(rd, Seq("doc_id")), "reg_domain", 25, hash = Hashing.Portable)
    }),
    // the COMPOSED web front door (RefinedWeb §3 / CCNet): URL gate ->
    // registered domain, HTML strip, corpus-wide keep-first line
    // dedup, per-domain quota — one whole-chain oracle over the URL
    // and HTML fixtures together
    "pipe_web_curation" -> ((s, dir) =>
      graft.pipelines.Curation.webCurate(
        webFixture(Tables.documents(s, dir)), hash = Hashing.Portable)),
    "t_vocab_topk" -> ((s, dir) => TextOps.vocabTopK(Tables.documents(s, dir), 20)),
    "t_chunks" -> ((s, dir) =>
      TextOps.charChunks(Tables.documents(s, dir), 64, 48, hash = Hashing.Portable)),
    "t_tfidf_top3" -> ((s, dir) => TextOps.tfidfTopK(Tables.documents(s, dir), 3)),
    // BM25 lexical retrieval over the corpus — all-integer rational-idf
    // pinned semantics (no transcendentals, so the oracle is exact)
    "t_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), Seq("vector", "stream", "spark"), 20)),
    // BM25 over a query SET (queries as data, broadcast term map) —
    // same pinned integer semantics, top-k per query_id
    "t_bm25_multiquery" -> ((s, dir) => {
      import s.implicits._
      val q = Seq(
        1L -> "vector", 1L -> "stream",
        2L -> "spark", 2L -> "data",
        3L -> "query").toDF("query_id", "term")
      TextOps.bm25MultiQuery(Tables.documents(s, dir), q, 20)
    }),
    // DPR-style hard-negative mining: each ~1% hash-slice query doc
    // retrieves its BM25 top-20, same-source docs (weak positives)
    // and self drop, top-5 survivors re-ranked — the contrastive-
    // training negative set
    "q_hard_negatives" -> ((s, dir) =>
      TextOps.hardNegatives(Tables.documents(s, dir),
        col("doc_id") % 97 === 0, poolK = 20, k = 5)),
    // the same recipe in embedding space: cosine top-20 pool,
    // same-label weak positives drop, top-5 survivors in pool order
    "q_semantic_negatives" -> ((s, dir) =>
      Similarity.semanticNegatives(Tables.embeddings(s, dir),
        col("vec_id") < 8)),
    // tokenizer coverage: OOV permille vs the corpus's own top-20 vocab
    "t_oov_rate" -> ((s, dir) =>
      TextOps.oovRateTopVocab(Tables.documents(s, dir), 20)),
    // corpus mixing plan: budget bound by the most-constrained source
    "t_mix_plan" -> ((s, dir) =>
      TextOps.mixPlan(Tables.documents(s, dir),
        Seq("src0" -> 300, "src1" -> 500, "src2" -> 200))),
    // token-diversity quality signal (Gini impurity, integer-exact)
    "t_token_gini" -> ((s, dir) =>
      TextOps.tokenGini(Tables.documents(s, dir))),
    "t_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(Tables.documents(s, dir), 256, 8, hash = Hashing.Portable)),
    "t_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(Tables.documents(s, dir),
        Seq("en" -> 500, "zh" -> 250), 800, hash = Hashing.Portable)),
    "t_length_quartiles" -> ((s, dir) =>
      TextOps.lengthQuartiles(Tables.documents(s, dir))),
    // quality-weighted deterministic sampling (weight = doc length here:
    // longer docs proportionally likelier to win a slot)
    "t_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(Tables.documents(s, dir),
        length(col("text")).cast("long"), "source", 10, hash = Hashing.Portable)),
    // compaction planning over a (dir, file, size) listing — documents
    // stand in for the file metadata table (source=dir, doc=file,
    // text length=bytes)
    "l_compaction_bins" -> ((s, dir) =>
      graft.operators.Layout.compactionBins(
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), length(col("text")).as("sz")),
        "source", "doc_id", "sz", 4096L)),
    // decontamination join: probes = every 50th doc as a stand-in
    // benchmark set; self-pairs excluded
    "d_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(docs, docs.filter(col("doc_id") % 50 === 0), 3, 2, Hashing.Portable)
        .filter(col("doc_id") =!= col("probe_id"))
    }),
    // cross-source duplication matrix; maxSources=10 < the fixture's 20
    // sources so the clique-shingle cap is actually exercised
    "d_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(Tables.documents(s, dir), 3, maxSources = 10,
        hash = Hashing.Portable)),
    "e_pivot_types" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          col("click").as("n_click"), col("view").as("n_view"),
          col("purchase").as("n_purchase"), col("signup").as("n_signup"),
          col("error").as("n_error"))
    }),

    // -- deduplication ------------------------------------------------------
    "d_exact_dedup" -> ((s, dir) => Dedup.exactDedup(Tables.documents(s, dir))),
    "d_shingle_sets" -> ((s, dir) =>
      Dedup.shingles(Tables.documents(s, dir), 3, hash = Hashing.Portable)),
    "d_dup_spans" -> ((s, dir) =>
      Dedup.dupSpanStats(Tables.documents(s, dir), 8, hash = Hashing.Portable)),
    // exact-substring span removal: keep-first over non-overlapping
    // 8-word blocks, reassembled retained text per doc
    "d_span_removal" -> ((s, dir) =>
      Dedup.spanRemoval(Tables.documents(s, dir), 8, hash = Hashing.Portable)),
    // CCNet line/paragraph dedup over a boilerplate-injected fixture
    // (per-source header + global footer wrap every doc): keep-first
    // drops each repeated line everywhere but its first carrier;
    // rebuilds ride an in-row indexed HOF, text never shuffles
    "d_line_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fx = docs.select(col("doc_id"), concat(
        lit("Subscribe to the "), col("source"), lit(" newsletter today"),
        lit("\n"), col("text"),
        lit("\nCopyright 2024 all rights reserved worldwide")).as("text"))
      Dedup.lineDedup(fx, hash = Hashing.Portable)
    }),

    // suffix-array-grade exact-substring coverage: OVERLAPPING k-token
    // windows (every offset tested, unlike the block-aligned
    // d_span_removal), global keep-first by (doc_id, offset), runs
    // merged to maximal spans. k=16 here (fixture docs average ~54
    // tokens; the API default is the Lee et al. 50)
    "d_exact_span_cov" -> ((s, dir) =>
      Dedup.exactSpanCoverage(Tables.documents(s, dir), 16, hash = Hashing.Portable)),
    // the removal form: duplicated positions dropped keep-first and
    // the surviving tokens reassembled in order
    "d_exact_span_scrub" -> ((s, dir) =>
      Dedup.exactSpanScrub(Tables.documents(s, dir), 16, hash = Hashing.Portable)),
    // span-level decontamination evidence vs the every-50th-doc probe
    // set: shared exact-window counts + longest consecutive run per
    // (doc, probe) pair
    "d_exact_span_contam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactSpanContamination(
        docs, docs.filter(col("doc_id") % 50 === 0), 16,
        minSharedWindows = 2, hash = Hashing.Portable)
    }),
    // general edit-distance join, pinned scope = pairs sharing the
    // 7-digit key prefix (edits beyond it are out of scope by
    // contract); the finer block keeps in-bucket pairing linear-ish
    "d_edit_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("doc_id"), col("c_name")),
        "c_name", substring(col("c_name"), 10, 7), maxDist = 1)),
    // exact single-substitution pairs over the full name corpus —
    // interleaved-class pigeonhole, no caller block, no hot bucket
    "d_hamming_pairs" -> ((s, dir) =>
      Dedup.hammingNearDupPairs(
        Tables.customer(s, dir)
          .select(col("c_custkey").as("doc_id"), col("c_name")),
        "c_name", maxSubs = 1)),
    // incremental-ingest dedup: every 10th doc plays the "new batch",
    // the rest the existing corpus
    "d_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        hash = Hashing.Portable)
    }),
    // fuzzy incremental ingest: near-dup pairs touching the new batch
    // (doc_id % 5 == 0) against a persisted band-table index of the
    // settled corpus — only colliding corpus docs re-shingle
    "d_incr_near_dup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 5 === 0), corpus,
        Dedup.bandTableOf(Dedup.shingles(corpus, 3, hash = Hashing.Portable), 4, 2),
        3, 4, 2, 500, Hashing.Portable)
    }),
    "d_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), 3, 50, 500, Hashing.Portable)),
    // asymmetric containment: sub-document duplication that Jaccard's
    // union denominator hides (short doc quoted inside a long one)
    "d_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), 3, 50, 800, Hashing.Portable)),
    "d_minhash_sigs" -> ((s, dir) =>
      Dedup.minhashSignatures(
        Dedup.shingles(Tables.documents(s, dir), 3, hash = Hashing.Portable), 8)),
    "d_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), 3, 4, 2, 500, Hashing.Portable)),
    "d_simhash_sigs" -> ((s, dir) =>
      Dedup.simhashSignatures(Tables.documents(s, dir), hash = Hashing.Portable)),
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhashSignatures(Tables.documents(s, dir), hash = Hashing.Portable), 3)),
    // occupancy-guarded simhash: (band, band_val) buckets above
    // maxBucketSize sub-split by a portable doc_id hash, with the
    // exact-signature star floor keeping identical-signature docs
    // connected. cap=8 ≪ the 500-doc degenerate top bands at sf0.01
    // (the ~30-bit portable-hash signatures zero bands 2-3), so the
    // sub-split is exercised in exactly the hot-bucket regime the
    // guard exists for.
    "d_simhash_pairs_capped" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhashSignatures(Tables.documents(s, dir), hash = Hashing.Portable), 3,
        maxBucketSize = Some(8))),
    "d_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.connectedComponents(
        Dedup.simhashPairs(
          Dedup.simhashSignatures(docs, hash = Hashing.Portable), 3),
        docs.select(col("doc_id")),
        broadcastLabels = true)
    }),
    // the same chain over the occupancy-capped candidate generator —
    // the composition a 100 TB dedup actually runs: the cap thins the
    // CC edge list (the loop's per-round cost driver) at the pair
    // stage, before anything iterates
    "d_dedup_clusters_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.connectedComponents(
        Dedup.simhashPairs(
          Dedup.simhashSignatures(docs, hash = Hashing.Portable), 3,
          maxBucketSize = Some(8)),
        docs.select(col("doc_id")),
        broadcastLabels = true)
    }),

    // the SAME clusters computed by the large-star/small-star rounds
    // (Kiveris et al.) instead of label propagation — the deep-graph
    // algorithm gets its own oracle row over the capped pair graph,
    // pinning the two algorithms to one answer against DuckDB
    "d_star_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.largeSmallStarComponents(
        Dedup.simhashPairs(
          Dedup.simhashSignatures(docs, hash = Hashing.Portable), 3,
          maxBucketSize = Some(8)),
        docs.select(col("doc_id")))
    }),

    // cluster-representative selection: the step after clustering in a
    // production dedup chain — keep the best-quality member per cluster
    "d_cluster_reps" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.connectedComponents(
        Dedup.simhashPairs(
          Dedup.simhashSignatures(docs, hash = Hashing.Portable), 3),
        docs.select(col("doc_id")),
        broadcastLabels = true)
      Dedup.clusterReps(clusters, TextOps.qualityScore(docs), "alpha_ratio_e3")
    }),

    // -- similarity search --------------------------------------------------
    "sim_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir), col("vec_id") < 8, 5)),
    // pairwise label-centroid cosine (embedding-space drift monitor):
    // exact integer (label, dim) sums, DECIMAL cross-products, one
    // final double e6-floored
    "sim_label_drift" -> ((s, dir) =>
      Similarity.labelCentroidDrift(Tables.embeddings(s, dir))),
    // MRL-style truncated-prefix retrieval: same queries/k as the
    // full-dim baseline but over the first 16 of 64 components — the
    // coarse stage of coarse-to-fine retrieval, 4x fewer payload bytes
    "sim_matryoshka_topk" -> ((s, dir) =>
      Similarity.matryoshkaTopK(Tables.embeddings(s, dir), col("vec_id") < 8, 5, 16)),
    "sim_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))),
    // MIPS: rank by raw inner product (magnitude matters) — all-integer
    // ordering, no doubles anywhere
    "sim_mips_topk" -> ((s, dir) =>
      Similarity.mipsTopK(Tables.embeddings(s, dir), col("vec_id") < 8, 5)),
    "sim_lsh_neighbors" -> ((s, dir) =>
      Similarity.lshBucketedNeighbors(Tables.embeddings(s, dir), col("vec_id") < 8, 8)),
    // multi-probe LSH (Lv et al. 2007): own bucket + the 3 single-bit
    // flips of smallest |projection| — the recall knob that doesn't
    // rebuild the index; strict candidate superset of sim_lsh_neighbors
    // (spec law)
    "sim_lsh_multiprobe" -> ((s, dir) =>
      Similarity.lshMultiProbeNeighbors(Tables.embeddings(s, dir),
        col("vec_id") < 8, planes = 8, probes = 3)),
    // blocked (LSH-bucketed) near-dup is the gated + benched path — the
    // brute crossJoin form is O(n²) and lives in SimilaritySpec only.
    // maxBucketSize = None is the PINNED uncapped oracle form (the
    // operator default caps at DefaultBandCap since r14); the
    // occupancy probe warns when this opt-out runs hot
    "sim_near_dup_blocked" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 400000L,
        blocked = true, maxBucketSize = None)),
    // kNN graph: every vector's top-5 neighbors from the directed
    // banded-LSH candidate set (the graph-ANN build primitive); the
    // exact crossJoin baseline is SimilaritySpec-only, same taxonomy
    // as the near-dup brute branch
    // (maxBucketSize = None: the pinned uncapped oracle form — the
    // operator default caps at DefaultBandCap since r14)
    "sim_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5, maxBucketSize = None)),
    // occupancy-capped kNN graph: the fixed 4×16-bucket banding
    // saturates quadratically as the corpus outgrows the bucket space
    // (the sf10 smoke measured the uncapped form unrunnable at 200k
    // vectors — ~10^10 candidates); the sub-split bounds every
    // candidate block, trading tail recall, and is the form a 100 TB
    // graph build runs
    "sim_knn_graph_capped" -> ((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5,
        maxBucketSize = Some(8))),
    // the SHIPPED r14 DEFAULT (maxBucketSize = DefaultBandCap = 128):
    // identical output to the uncapped form until a bucket runs hot,
    // bounded candidate blocks after — the form a 100 TB graph build
    // actually gets when it calls knnGraph(emb, k)
    "sim_knn_graph_capped128" -> ((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), k = 5)),
    // one NN-Descent round over the banded seed graph — candidates
    // expand to reverse neighbors + neighbors-of-neighbors, exact
    // re-rank; recovers recall the banding seed loses at O(n·k²)
    "sim_nn_descent" -> ((s, dir) =>
      Similarity.nnDescentRefine(Tables.embeddings(s, dir), k = 5, rounds = 1,
        maxBucketSize = None)),
    // ρ-sampled descent round (Dong et al. §2.3): the hop join reads a
    // deterministically sampled (LCG-ordered) neighbor list on both
    // endpoints, bounding every middle vertex to sampleK² hop
    // candidates — the corpus-scale form of the round
    "sim_nn_descent_sampled" -> ((s, dir) =>
      Similarity.nnDescentRefine(Tables.embeddings(s, dir), k = 5, rounds = 1,
        maxBucketSize = None, sampleK = Some(3))),
    // graph-navigable search (HNSW-class layer-0 beam, Malkov 2018):
    // LSH-bucket seeds → 2 beam rounds over the built kNN graph →
    // exact top-5 — the QUERY path for the graph the two builders
    // above produce. The graph build is the SHIPPED capped default
    // (DefaultBandCap=128): the uncapped form's banding saturates
    // quadratically with the corpus (8.9×/decade at the sf1 smoke —
    // caught by the smoke-row rule in-session), the capped build is
    // identical until a bucket runs hot and bounded after
    "sim_graph_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.graphSearchTopK(emb, col("vec_id") < 8, k = 5,
        graph = Similarity.knnGraph(emb, k = 5),
        beam = 8, rounds = 2, planes = 8)
    }),
    // product quantization: per-subspace integer-L2 codes (the
    // persistable PQ index) and ADC top-k scored through codes only —
    // closed-form stand-in codebooks (iters=0), so both are SQL-exact
    "sim_pq_codes" -> ((s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir))),
    "sim_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), col("vec_id") < 8)),
    // IVF-PQ two-stage retrieval (the FAISS IVF,PQ composition):
    // queries probe 4 of 16 coarse cells, candidates score through
    // their 4 PQ codes only (exact-integer ADC) — closed-form
    // stand-in tiers on both stages keep the whole index SQL-exact
    "sim_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), col("vec_id") < 8)),
    // residual IVF-PQ + exact refine (the FAISS IVF,PQ,Refine
    // composition): codes quantize cell-relative residuals, the
    // top-refineK ADC candidates re-rank by exact cosine — the
    // recall-monotone production form of the two-stage index.
    // refineK=10 < the ~125-candidate probe pool, so the ADC
    // preselection boundary is actually exercised by the oracle
    "sim_ivfpq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(Tables.embeddings(s, dir),
        col("vec_id") < 8, refineK = 10)),
    // SQ8 scalar quantization (the FAISS SQ8 tier): per-dimension
    // [mn,mx] 8-bit codes — no codebook, the bounds aggregate is the
    // entire training — scored asymmetrically against the dequantized
    // reconstruction; all-integer floor-division arithmetic, so both
    // the codes and the top-k replicate exactly in SQL
    "sim_sq8_codes" -> ((s, dir) =>
      // exploded to (vec_id, dim, code) rows for the oracle hash (the
      // sim_pq_codes convention — arrays don't cross the compare)
      Similarity.sq8Encode(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("code"))),
    "sim_sq8_topk" -> ((s, dir) =>
      Similarity.sq8TopK(Tables.embeddings(s, dir), col("vec_id") < 8)),
    // IVF-SQ8 (the FAISS IVF,SQ8 family): coarse cells route queries,
    // candidates score against the 8-bit reconstruction — the
    // recall-heavy sibling of sim_ivfpq_topk at 4x (not 16x)
    // compression; stand-in cells keep the whole index SQL-exact
    "sim_ivfsq8_topk" -> ((s, dir) =>
      Similarity.ivfSq8TopK(Tables.embeddings(s, dir), col("vec_id") < 8)),

    // binary quantization (1 bit/dim, corpus-mean threshold): the 32×
    // end of the scalar-quantization family — codes as (vec_id, dim,
    // bit) rows, the sim_sq8_codes convention
    "sim_bq_codes" -> ((s, dir) =>
      Similarity.bqEncode(Tables.embeddings(s, dir))),
    // BQ two-stage retrieval: Hamming-distance candidates over the
    // bit codes (popc(a)+popc(b)-2·a·b — the dotQ kernel IS the
    // scorer), exact L2 rerank of the top-20 shortlist
    "sim_bq_topk" -> ((s, dir) =>
      Similarity.bqTopK(Tables.embeddings(s, dir), col("vec_id") < 8)),

    // MMR diversified rerank: greedy λ-tradeoff of relevance against
    // redundancy-to-selected over each query's top-8 cosine pool —
    // all-integer e6 cosines, pool-sized work after one corpus scan
    "q_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir), col("vec_id") < 8,
        poolK = 8, selectK = 4, lambdaE3 = 700)),
    // greedy k-center (farthest-point) coreset selection: exact
    // integer squared-L2 distances, deterministic lowest-id seed, one
    // corpus pass per round with a 1-row argmax broadcast back
    "sim_kcenter_select" -> ((s, dir) =>
      Similarity.kCenterSelect(Tables.embeddings(s, dir), 5)),

    // incremental-ingest embedding near-dup: every 5th vector plays the
    // "new batch" against the persisted band index of the rest — the
    // d_incr_near_dup device for embeddings (full banded LSH restricted
    // to new-touching pairs)
    "sim_incr_near_dup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 5 =!= 0)
      Similarity.incrementalNearDupPairs(
        emb.filter(col("vec_id") % 5 === 0), corpus,
        Similarity.bandTable(corpus), 400000L)
    }),

    // occupancy-guarded blocked near-dup: buckets above maxBucketSize
    // sub-split by a portable vec_id hash (bounds every candidate
    // block), with the hash-keyed exact-dup star floor recovering cos=1
    // pairs the sub-split would separate. cap=8 < n/16 at sf0.01 so the
    // sub-split is actually exercised.
    "sim_near_dup_capped" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 400000L,
        blocked = true, maxBucketSize = Some(8))),

    // SemDeDup: k-means-cell-blocked near-dup pruning, keep-min-id.
    // kmeansIters=0 selects the closed-form centroid stand-in so the
    // DuckDB oracle replicates the whole operator; the learned-centroid
    // path shares its machinery with sim_ivf_kmeans (oracle-proven).
    "sim_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), 8, 400000L, kmeansIters = 0)),

    // capped SemDeDup: cells above maxCellSize sub-split by a portable
    // vec_id hash (bounds every pair block), with a linear exact-dup
    // pass recovering cos=1 pairs the id-hash split would separate.
    // cap=32 < 500/8 so the sub-split is actually exercised at sf0.01.
    "sim_semantic_dedup_capped" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), 8, 400000L,
        kmeansIters = 0, maxCellSize = Some(32))),

    // hybrid retrieval: BM25 lexical top-20 fused with vector cosine
    // top-20 (query = vec 5) by reciprocal-rank fusion
    "q_hybrid_rrf" -> ((s, dir) => {
      val lex = TextOps.bm25TopK(
        Tables.documents(s, dir), Seq("vector", "stream", "spark"), 20)
        .select(col("doc_id").as("id"), col("rank"))
      val sem = Similarity.cosineTopK(Tables.embeddings(s, dir), col("vec_id") === 5, 20)
        .select(col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuse(lex, sem, 10)
    }),
    // query-SET hybrid retrieval: bm25MultiQuery ∪ per-query cosine
    // top-k, fused per query_id
    "q_hybrid_rrf_multi" -> ((s, dir) => {
      import s.implicits._
      val q = Seq(
        0L -> "vector", 0L -> "stream",
        1L -> "spark", 1L -> "data",
        2L -> "query").toDF("query_id", "term")
      val lex = TextOps.bm25MultiQuery(Tables.documents(s, dir), q, 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val sem = Similarity.cosineTopK(Tables.embeddings(s, dir), col("vec_id") < 3, 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuseByQuery(lex, sem, 10)
    }),
    // Kendall rank agreement between the full-dimension cosine top-20
    // and its Matryoshka 16-dim truncation, per query — the
    // integer-exact concordant/discordant counts that quantify what
    // the MRL coarse stage reorders (the rank-order complement of
    // RECALL.md's set-overlap recall)
    "q_rank_agreement" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val full = Similarity.cosineTopK(emb, col("vec_id") < 3, 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      val trunc = Similarity.matryoshkaTopK(emb, col("vec_id") < 3, 20, 16)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rankAgreement(full, trunc)
    }),

    // SSL-prototypes curation metric: rank within each k-means cell by
    // cosine to the own centroid (kmeansIters=0 stand-in so the oracle
    // replicates assignment + scoring + rank end-to-end)
    "sim_prototypicality" -> ((s, dir) =>
      Similarity.prototypicality(Tables.embeddings(s, dir), 8, kmeansIters = 0)),

    // embedding-side dedup clustering: connected components over the
    // banded-LSH near-dup pairs — the semantic-dedup composition
    // (cluster near-identical embeddings, keep the min-id exemplar)
    "sim_dedup_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.connectedComponents(
        Similarity.cosineNearDupPairs(emb, 400000L, blocked = true,
          maxBucketSize = None)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
        emb.select(col("vec_id").as("doc_id")),
        broadcastLabels = true)
    }),

    // -- event-time windows -------------------------------------------------
    "e_tumbling" -> ((s, dir) => EventOps.tumbling(Tables.events(s, dir), 3600000L)),
    "e_sliding" -> ((s, dir) => EventOps.sliding(Tables.events(s, dir), 3600000L, 900000L)),
    "e_sessions" -> ((s, dir) => EventOps.sessions(Tables.events(s, dir), 1800000L)),
    "e_latest_per_key" -> ((s, dir) => EventOps.latestPerKey(Tables.events(s, dir))),
    // recency-weighted engagement: 3-day half-life staircase decay
    "e_decayed" -> ((s, dir) =>
      EventOps.decayedValue(Tables.events(s, dir), 259200000L)),
    // SCD2 validity windows per (user, event_type)
    "e_validity" -> ((s, dir) =>
      EventOps.validityIntervals(Tables.events(s, dir))),
    // delete-aware CDC merge: state = per-user latest before Jan 15;
    // changelog = later events ('error' = delete tombstone)
    "e_cdc_apply" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("key"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          floor(col("value") * 10000 + 0.5).cast("long").as("value_e4"))
      val cutoff = 1705276800000L // 2024-01-15 00:00:00 UTC
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("ts_ms").desc, col("event_id").desc)
      val state = ev.filter(col("ts_ms") < cutoff)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("key"), col("value_e4"), col("ts_ms").as("updated_ms"))
      val changes = ev.filter(col("ts_ms") >= cutoff)
        .select(col("key"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value_e4"), col("ts_ms"), col("event_id").as("seq"))
      EventOps.applyChangelog(state, changes)
    }),

    // ordered conversion funnel, first-touch semantics
    "e_funnel" -> ((s, dir) =>
      EventOps.funnel(Tables.events(s, dir), Seq("view", "click", "purchase"))),

    // time-bounded funnel: each step must land within 1 h of the
    // previous step's completion (greedy first-touch per step)
    "e_funnel_window" -> ((s, dir) =>
      EventOps.funnelWindowed(Tables.events(s, dir),
        Seq("view", "click", "purchase"), 3600000L)),

    // rolling per-user anomaly flags: trailing-8-event window,
    // ≥4 samples, |z| > 3 tested in exact integer arithmetic
    "e_rolling_anomaly" -> ((s, dir) =>
      EventOps.rollingAnomaly(Tables.events(s, dir), 8, 4, 3)),

    // first-order Markov transition counts per user stream
    "e_transitions" -> ((s, dir) => EventOps.transitions(Tables.events(s, dir))),

    // daily cohort retention counts (integer epoch-day periods)
    "e_retention" -> ((s, dir) => EventOps.retention(Tables.events(s, dir))),

    // fixed-width value histogram per event type (floor-bucketed; the
    // double division is per-row IEEE-identical in both engines)
    "e_value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 5.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // exact sufficient statistics per event type: the variance/corr
    // building blocks (n, Σx, Σx², min, max) as order-free BIGINTs —
    // one map-side-combined aggregate, no doubles cross the engine
    "agg_value_stats" -> ((s, dir) => {
      val v2 = floor(col("value") * 100 + 0.5).cast("long")
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(v2).as("sum_e2"),
          sum(v2 * v2).as("sumsq_e4"),
          min(v2).as("min_e2"),
          max(v2).as("max_e2"))
    }),

    // Z-order (Morton) code for 2-D layout clustering — the data-
    // skipping key behind Layout.zOrder; closed-form bit spreading,
    // exactly reproducible cross-engine
    "e_zorder" -> ((s, dir) => {
      val x = pmod(col("user_id"), lit(65536L))
      val y = pmod(floor(col("value") * 100 + 0.5).cast("long"), lit(65536L))
      Tables.events(s, dir).select(col("event_id"), graft.operators.Layout.zValue(x, y))
    }),

    // Per-type z-score outliers in pure integer arithmetic: flag
    // events with (x−μ)² > k²·(E[x²]−μ²) at k=3, on cent-quantized
    // values with floor-divided moments — no doubles cross the engine
    // and no overflow (all terms ≤ ~1e9). One grouped aggregate
    // broadcast back over one narrow pass.
    "e_outliers" -> ((s, dir) => {
      val v2 = floor(col("value") * 100 + 0.5).cast("long")
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), v2.as("v2"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v2")).as("s"),
          sum(col("v2") * col("v2")).as("sq"))
        .select(col("event_type"),
          expr("s div n").as("mu"),
          expr("sq div n").as("msq"))
      ev.join(broadcast(stats), Seq("event_type"))
        .filter((col("v2") - col("mu")) * (col("v2") - col("mu")) >
          lit(9L) * (col("msq") - col("mu") * col("mu")))
        .select(col("event_id"), col("event_type"), col("v2"), col("mu"))
    }),

    // -- multimodal (mapPartitions decode plumbing vs SQL-expressible oracle)
    "m_decode_meta" -> ((s, dir) =>
      Multimodal.decodeMeta(Multimodal.withPayload(Tables.documents(s, dir)))),
    "m_resize_meta" -> ((s, dir) =>
      Multimodal.resizeMeta(Multimodal.withPayload(Tables.documents(s, dir)), 64, 64)),
    "m_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.withPayload(Tables.documents(s, dir)), 7)),
    "m_payload_dedup" -> ((s, dir) =>
      Multimodal.payloadDedup(Multimodal.withPayload(Tables.documents(s, dir)))),

    // -- custom DataSource V2 connector (deterministic generator with
    //    pushdown + pruning); the oracle regenerates the same corpus
    //    from range() — proving the connector end-to-end
    "dgen_source_stats" -> ((s, dir) =>
      s.read.format(classOf[graft.sources.DocGenSource].getName)
        .option("rows", 2000).option("partitions", 8).load()
        .filter(col("doc_id") >= 500)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))),
    "m_block_stats" -> ((s, dir) =>
      Multimodal.blockStats(Tables.documents(s, dir), 64)),

    // scene-cut detection over the block-feature stream: adjacent-mean
    // deltas, cut where the e3 jump clears the threshold — threshold
    // at 200 so both branches of is_cut are live on the fixture
    "m_scene_cuts" -> ((s, dir) =>
      Multimodal.sceneCuts(Tables.documents(s, dir), 64, thresholdE3 = 200)),

    // perceptual media near-dup: aHash fingerprint over content blocks,
    // banded Hamming join — re-encoded/edited copies of a payload
    // collide where exact payloadDedup cannot
    "m_perceptual_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Multimodal.perceptualHash(Tables.documents(s, dir), 16), 3, bits = 32)),

    // audio fingerprint (Haitsma–Kalker energy-delta signs) over the
    // codec sample stream: 4-sample windows, 60 sign bits packed into
    // one BIGINT — the audio half of the media near-dup tier
    "m_audio_fp" -> ((s, dir) =>
      Multimodal.audioFingerprint(
        Multimodal.withPayload(Tables.documents(s, dir)), win = 4)),

    // -- as-of join: latest purchase at-or-before each click, per user
    "j_asof_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"),
          floor(col("value") * 10000 + 0.5).cast("long").as("p_value_e4"))
      AsofJoin.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event_id", "p_value_e4"), "p_event_id")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("asof_p_event_id"), col("asof_p_value_e4"))
    }),

    // -- as-of via the custom LogicalPlan/Strategy/Exec path — same
    //    oracle as j_asof_purchase, so the DuckDB hash proves the native
    //    sort-merge exec ≡ the union+window composition on real data
    "j_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"),
          floor(col("value") * 10000 + 0.5).cast("long").as("p_value_e4"))
      AsofJoin.asofJoinNative(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_event_id", "p_value_e4"), "p_event_id")
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("asof_p_event_id"), col("asof_p_value_e4"))
    }),

    // -- interval/range join: clicks inside 1h attribution windows
    //    around sampled purchases (bucket-replicated equi-join, no
    //    cross product)
    "j_range_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), unix_millis(col("ts")).as("t"))
      val windows = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 50 === 0)
        .select(col("event_id").as("purchase_id"),
          unix_millis(col("ts")).as("w_start"),
          (unix_millis(col("ts")) + 3600000L).as("w_end"))
      graft.operators.RangeJoin.intervalJoin(clicks, "t", windows, "w_start", "w_end", 900000L)
        .select(col("click_id"), col("purchase_id"), col("t"), col("w_start"))
    }),

    // interval×interval overlap join: per user, which click validity
    // windows overlap which purchase validity windows — both sides
    // chunk-exploded so the range predicate becomes a hash equi-join
    // on (user, chunk); open (NULL-ended) intervals close at the
    // global max endpoint + 1
    "j_interval_overlap" -> ((s, dir) => {
      val iv = graft.operators.EventOps.validityIntervals(Tables.events(s, dir))
      def side(t: String) = iv.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id").as("id"),
          col("valid_from").as("from_ms"), col("valid_to").as("to_ms"))
      graft.operators.RangeJoin.overlapJoin(
        side("click"), side("purchase"), Seq("user_id"), chunkMs = 86400000L)
    }),

    // -- ordered-set aggregate: exact median over integer cents (the
    //    interpolated midpoint of BIGINTs is IEEE-exact in both engines)
    "agg_median_price" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          floor(expr(
            "percentile(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT), 0.5)") * 10)
            .cast("long").as("median_cents_e1"),
          count(lit(1)).as("n_orders"))
    }),

    // exact WEIGHTED median (weight = quantity): smallest value whose
    // cumulative weight reaches half the total. The cumulative sum uses
    // the default RANGE frame, so equal values share one cumw and the
    // result is deterministic under ties on both engines — no
    // interpolation, no doubles
    "agg_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val s0 = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("g"),
        e2(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("w"))
      val c = s0
        .withColumn("cumw", sum(col("w")).over(Window.partitionBy(col("g")).orderBy(col("v"))))
        .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("g"))))
      c.filter(col("cumw") * 2 >= col("tot"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(min(col("v")).as("wmedian_cents"))
    }),

    // -- IVF ANN: probe-limited approximate top-k (the similarity scale
    //    path). kmeansIters=0 selects the closed-form stand-in centroids
    //    so the oracle can replicate restricted-probe behavior in SQL.
    "sim_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), col("vec_id") < 8, 16, 4, 5,
        kmeansIters = 0)),

    // -- IVF with REAL k-means centroids at full probe: the result is
    //    centroid-independent there, so the brute-force SQL is an exact
    //    oracle — a green row proving the k-means path end-to-end
    //    (restricted-probe recall is spec-gated, SimilaritySpec)
    "sim_ivf_kmeans" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), col("vec_id") < 8, 16, 16, 5)),

    // -- grouping sets: rollup over the pricing summary
    "agg_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // arbitrary grouping-sets lattice — the general form under ROLLUP
    // and CUBE; Spark plans one Expand + a single aggregate, one scan
    // for all three sets
    "agg_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // full grouping-sets lattice (CUBE) — rollup's sibling; Spark
    // expands both into one Expand + single aggregate, no per-set scans
    "agg_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // mergeable aggregate state (the additive twin of J3's max-merge):
    // partial (n, sum) states from two corpus halves merged by key —
    // the incremental-view-maintenance primitive for count/sum/avg
    "agg_state_merge" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def state(df: DataFrame) = df.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("s"))
      val old = state(li.filter(col("l_orderkey") % 2 === 0))
      val nw = state(li.filter(col("l_orderkey") % 2 =!= 0))
      old.select(col("l_suppkey"), col("n"), col("s"))
        .join(nw.select(col("l_suppkey"), col("n").as("n2"), col("s").as("s2")),
          Seq("l_suppkey"), "full_outer")
        .select(
          col("l_suppkey"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("s2"), lit(0L))).as("s"))
    }),

    // -- JSON property extraction (F6) from the events props column
    "e_props_json" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    // -- flagship composition: the full curation DAG (quality gate →
    //    exact dedup → SimHash near-dup clusters → hash split) with a
    //    single DuckDB oracle over the whole chain. Runs the DEFAULT
    //    configuration — which, as of r12, caps near-dup bucket
    //    occupancy (Curation.DefaultMaxBucketSize), so the headline
    //    pipeline is the scale-safe form.
    "pipe_curation" -> ((s, dir) =>
      graft.pipelines.Curation.curate(
        Tables.documents(s, dir), 800, 100, 3, Hashing.Portable)),

    // -- scrub-then-curate (RefinedWeb-style): exact-substring
    //    positions removed keep-first, then the default curation DAG
    //    over the scrubbed text — whole-chain oracle
    "pipe_curation_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the scrubbed corpus is cached ONCE: the curation DAG's
      // quality/dedup/simhash stages each consume the text, and
      // re-executing the scrub's first-occurrence shuffle + island
      // windows per consumer costs more than one materialization (the
      // inverse of the id-set-only rule Curation.curate documents,
      // because here the downstream NEEDS the rewritten text, not a
      // row subset). cache, not localCheckpoint: a checkpointed RDD
      // scan loses size stats and silently demotes every downstream
      // broadcast to a sort-merge join
      val scrubbed = graft.operators.Dedup
        .exactSpanScrub(docs, 16, hash = Hashing.Portable)
        .select(col("doc_id"), col("retained_text").as("text"))
        .cache()
      graft.pipelines.Curation.curate(scrubbed, 800, 100, 3, Hashing.Portable)
    }),

    // -- base chain + the corpus-mixing quota stage (1 doc per source
    //    among the dedup survivors)
    "pipe_curation_quota" -> ((s, dir) =>
      graft.pipelines.Curation.curate(
        Tables.documents(s, dir), 800, 100, 3, Hashing.Portable,
        quota = Some(("source", 1)))),

    // -- the FULL production chain: quality → repetition gate →
    //    benchmark decontamination → exact dedup → SimHash clusters →
    //    split, one whole-chain oracle (probes = every 50th doc)
    "pipe_curation_full" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipelines.Curation.curate(
        docs, 800, 100, 3, Hashing.Portable,
        maxTopBigramE3 = 80,
        probes = Some(docs.filter(col("doc_id") % 50 === 0)),
        minSharedShingles = 2)
    }),

    // -- leakage-safe splitting: split assigned per near-dup CLUSTER
    //    (hash of the component's min id), so near-copies never
    //    straddle train/val — whole-chain oracle over SimHash pairs +
    //    CC + the bucket derivation
    // Explicitly UNCAPPED (maxBucketSize = None opts out of the r12
    // capped default): kept as the documented motivation row for the
    // hot-bucket quadratic cliff the default now avoids.
    "pipe_leakage_split" -> ((s, dir) =>
      graft.pipelines.Curation.leakageSafeSplit(
        Tables.documents(s, dir), 800, 100, 3, Hashing.Portable,
        maxBucketSize = None)),
    // leakage-safe split over the occupancy-capped near-dup graph —
    // exercises the DEFAULT (capped) configuration, proving the
    // default path is the scale-safe one
    "pipe_leakage_split_capped" -> ((s, dir) =>
      graft.pipelines.Curation.leakageSafeSplit(
        Tables.documents(s, dir), 800, 100, 3, Hashing.Portable))
  )

  // -- DuckDB oracle fragments for the extended surface ----------------------

  /** The `g_scc` closure-by-definition CTE chain (directed fixture →
    * recursive transitive closure → mutual reachability → min-member
    * `scc(v, scc_label)`), shared by `g_scc` and `g_scc_condensation`
    * — `tail` is the final SELECT over `scc` (and `dir_e`).
    */
  /** SQL twin of the directed [[sccFixture]] graph — the `dir_e(src,
    * dst)` CTE chain shared by every directed-graph oracle (`g_scc`,
    * `g_scc_condensation`, `g_hits`).
    */
  private def dirECtes: String =
    s"""fwd AS (
       |  SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
       |                  'S' || CAST(l_suppkey AS VARCHAR) AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |fwd_s AS (SELECT src, dst FROM fwd
       |          WHERE ${ph("src || '|' || dst")} % 12 = 0),
       |bwd AS (
       |  SELECT DISTINCT 'S' || CAST(s_suppkey AS VARCHAR) AS src,
       |                  'C' || CAST(c_custkey AS VARCHAR) AS dst
       |  FROM supplier JOIN customer ON s_nationkey = c_nationkey),
       |bwd_s AS (SELECT src, dst FROM bwd
       |          WHERE ${ph("src || '>' || dst")} % 60 = 0),
       |dir_e AS MATERIALIZED (SELECT src, dst FROM fwd_s UNION SELECT src, dst FROM bwd_s)""".stripMargin

  /** One max-rescaled HITS half-round as a CTE chain (the
    * [[louvainRoundSql]] device for [[GraphOps.hits]]): sums `score`
    * from `prev(person_id, score)` across `dir_e` — inward (authority
    * update) or outward (hub update) — then rescales to e6 by the
    * round max; emits `$out(person_id, score)`.
    */
  private def hitsHalfSql(prev: String, out: String, inward: Boolean): String = {
    val (grp, key) = if (inward) ("e.dst", "e.src") else ("e.src", "e.dst")
    s"""r$out AS (
       |  SELECT $grp AS person_id, CAST(SUM(p.score) AS BIGINT) AS s
       |  FROM dir_e e JOIN $prev p ON p.person_id = $key
       |  GROUP BY 1),
       |f$out AS (
       |  SELECT v.person_id, CAST(COALESCE(r.s, 0) AS BIGINT) AS s
       |  FROM hverts v LEFT JOIN r$out r USING (person_id)),
       |m$out AS (SELECT MAX(s) AS mx FROM f$out),
       |$out AS MATERIALIZED (
       |  SELECT person_id,
       |         CAST(CASE WHEN (SELECT mx FROM m$out) > 0
       |              THEN (s * 1000000) // (SELECT mx FROM m$out)
       |              ELSE 0 END AS BIGINT) AS score
       |  FROM f$out)""".stripMargin
  }

  /** The `g_random_walks` CTE chain (dst-sorted adjacency ranks +
    * per-src outdeg once, then 3 hash-driven unrolled steps) ending in
    * `walks(walk_id, step, cur)` — `tail` selects over it; shared by
    * `g_random_walks` and `g_walk_contexts`.
    */
  private def randomWalksSql(tail: String): String =
    s"""WITH $MERGED,
       |adj AS (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (
       |           PARTITION BY src ORDER BY dst ASC) AS BIGINT) AS nbr_rank,
       |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS out_deg
       |  FROM merged),
       |verts AS (SELECT src AS person_id FROM merged
       |          UNION SELECT dst FROM merged),
       |starts AS (SELECT person_id FROM verts
       |           WHERE ${ph("person_id")} % 25 = 0),
       |f0 AS (
       |  SELECT person_id || '#' || CAST(r AS VARCHAR) AS walk_id,
       |         person_id AS cur
       |  FROM starts CROSS JOIN (SELECT unnest(range(0, 2)) AS r) t),
       |s1 AS (
       |  SELECT f.walk_id, a.dst AS cur
       |  FROM f0 f JOIN adj a ON a.src = f.cur
       |   AND a.nbr_rank = ${ph("f.walk_id || ':1:' || f.cur")} % a.out_deg + 1),
       |s2 AS (
       |  SELECT f.walk_id, a.dst AS cur
       |  FROM s1 f JOIN adj a ON a.src = f.cur
       |   AND a.nbr_rank = ${ph("f.walk_id || ':2:' || f.cur")} % a.out_deg + 1),
       |s3 AS (
       |  SELECT f.walk_id, a.dst AS cur
       |  FROM s2 f JOIN adj a ON a.src = f.cur
       |   AND a.nbr_rank = ${ph("f.walk_id || ':3:' || f.cur")} % a.out_deg + 1),
       |walks AS (
       |  SELECT walk_id, CAST(0 AS BIGINT) AS step, cur FROM f0
       |  UNION ALL SELECT walk_id, CAST(1 AS BIGINT), cur FROM s1
       |  UNION ALL SELECT walk_id, CAST(2 AS BIGINT), cur FROM s2
       |  UNION ALL SELECT walk_id, CAST(3 AS BIGINT), cur FROM s3)
       |$tail""".stripMargin

  /** The full SGNS training chain as CTEs appended after `walks`
    * (shared by the `g_sgns_train` and `g_embed_neighbors` oracles):
    * skip-gram pairs → bucketed vocab ranks → 2 hash-coin negatives →
    * weighted distinct examples → hash-init q10 model → 2 unrolled
    * epochs, ending at `u2(id, d, val)`. Starts with "," — callers
    * append their own final SELECT (and further CTEs after a ",").
    */
  private lazy val sgnsCtes: String =
    s""", pr AS MATERIALIZED (
       |  SELECT a.cur AS center, b.cur AS context
       |  FROM walks a JOIN walks b
       |    ON a.walk_id = b.walk_id AND a.step <> b.step
       |   AND abs(a.step - b.step) <= 2),
       |vc AS MATERIALIZED (SELECT center AS id FROM pr UNION SELECT context FROM pr),
       |vr AS MATERIALIZED (
       |  SELECT id, bucket,
       |         CAST(row_number() OVER (
       |           PARTITION BY bucket ORDER BY id ASC) - 1 AS BIGINT) AS vrank,
       |         CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS bsize
       |  FROM (SELECT id, ${ph("id")} % 8 AS bucket FROM vc)),
       |nb AS (
       |  SELECT center, context, j,
       |         ${ph("center || ':' || context || ':n' || CAST(j AS VARCHAR) || ':b'")} % 8 AS bucket
       |  FROM pr CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t),
       |nr AS (
       |  SELECT n.center, n.bucket,
       |         ${ph("n.center || ':' || n.context || ':n' || CAST(n.j AS VARCHAR) || ':r'")} % s.bsize AS vrank
       |  FROM nb n JOIN (SELECT DISTINCT bucket, bsize FROM vr) s USING (bucket)),
       |ex AS MATERIALIZED (
       |  SELECT center, ctx, y, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT center, context AS ctx, CAST(1 AS BIGINT) AS y FROM pr
       |    UNION ALL
       |    SELECT n.center, v.id AS ctx, CAST(0 AS BIGINT) AS y
       |    FROM nr n JOIN vr v ON v.bucket = n.bucket AND v.vrank = n.vrank)
       |  GROUP BY center, ctx, y),
       |dd AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS d),
       |u0 AS MATERIALIZED (
       |  SELECT id, d,
       |         CAST(${ph("id || ':u:' || CAST(d AS VARCHAR)")} % 256 - 128 AS BIGINT) AS val
       |  FROM vc CROSS JOIN dd),
       |v0 AS MATERIALIZED (
       |  SELECT id, d,
       |         CAST(${ph("id || ':v:' || CAST(d AS VARCHAR)")} % 256 - 128 AS BIGINT) AS val
       |  FROM vc CROSS JOIN dd),
       |${sgnsEpochSql("0", "1")},
       |${sgnsEpochSql("1", "2")}""".stripMargin

  /** One SGNS full-batch epoch as a CTE chain (the unrolled-epoch
    * device, `t_unigram_train` class): reads `ex(center, ctx, y, w)`
    * and the flat model frames `u$p`/`v$p` `(id, d, val)`, emits
    * `u$e`/`v$e`. Mirrors [[graft.operators.GraphOps.sgnsTrain]]
    * exactly: q20 dot, hard sigmoid `clamp(2^19 + (dot >> 2), 0,
    * 2^20)`, update `Σ w·g·other >> 22` (lrShift 2), clamp ±8192 —
    * BIGINT + arithmetic shifts only, bit-identical to Spark.
    */
  private def sgnsEpochSql(p: String, e: String): String =
    s"""sc$e AS (
       |  SELECT x.center, x.ctx, x.y, x.w,
       |         CAST(SUM(u.val * v.val) AS BIGINT) AS dot
       |  FROM ex x
       |  JOIN u$p u ON u.id = x.center
       |  JOIN v$p v ON v.id = x.ctx AND v.d = u.d
       |  GROUP BY x.center, x.ctx, x.y, x.w),
       |gr$e AS MATERIALIZED (
       |  SELECT center, ctx, w,
       |         y * 1048576 -
       |           LEAST(GREATEST(524288 + (dot >> 2), 0), 1048576) AS g
       |  FROM sc$e),
       |du$e AS (
       |  SELECT g.center AS id, v.d,
       |         CAST(SUM(g.w * g.g * v.val) AS BIGINT) >> 22 AS delta
       |  FROM gr$e g JOIN v$p v ON v.id = g.ctx
       |  GROUP BY g.center, v.d),
       |dv$e AS (
       |  SELECT g.ctx AS id, u.d,
       |         CAST(SUM(g.w * g.g * u.val) AS BIGINT) >> 22 AS delta
       |  FROM gr$e g JOIN u$p u ON u.id = g.center
       |  GROUP BY g.ctx, u.d),
       |u$e AS MATERIALIZED (
       |  SELECT u.id, u.d,
       |         LEAST(GREATEST(u.val + COALESCE(t.delta, 0), -8192), 8192) AS val
       |  FROM u$p u LEFT JOIN du$e t ON t.id = u.id AND t.d = u.d),
       |v$e AS MATERIALIZED (
       |  SELECT v.id, v.d,
       |         LEAST(GREATEST(v.val + COALESCE(t.delta, 0), -8192), 8192) AS val
       |  FROM v$p v LEFT JOIN dv$e t ON t.id = v.id AND t.d = v.d)""".stripMargin

  /** One full-batch logistic epoch as a CTE chain (the unrolled-epoch
    * device): reads the per-(doc, f) count frame `fx(doc_id, source,
    * is_train, f, n)`, train labels `trd(doc_id, src)`, the class
    * frame `cands(cand)`, and the model `w$p`/`bb$p`; emits
    * `w$e`/`bb$e`. Mirrors [[graft.operators.TextOps.logisticTrain]]:
    * q20 weights, hard sigmoid `clamp(2^19 + (score >> 2), 0, 2^20)`,
    * update `Σ g·n >> lrShift`, clamp ±8·2^20.
    */
  private def logisticEpochSql(p: String, e: String, lrShift: Int): String =
    s"""ldp$e AS (
       |  SELECT x.doc_id, c.cand,
       |         CAST(SUM(x.n * COALESCE(w.wq, 0)) AS BIGINT) AS dw
       |  FROM fx x CROSS JOIN cands c
       |  LEFT JOIN w$p w ON w.cand = c.cand AND w.f = x.f
       |  WHERE x.is_train GROUP BY 1, 2),
       |lg$e AS (
       |  SELECT t.doc_id, c.cand,
       |         CAST((CASE WHEN t.src = c.cand THEN 1048576 ELSE 0 END)
       |           - LEAST(GREATEST(524288
       |               + ((COALESCE(dp.dw, 0) + bb.bq) >> 2), 0), 1048576)
       |           AS BIGINT) AS g
       |  FROM trd t CROSS JOIN cands c
       |  LEFT JOIN ldp$e dp ON dp.doc_id = t.doc_id AND dp.cand = c.cand
       |  JOIN bb$p bb ON bb.cand = c.cand),
       |ldw$e AS (
       |  SELECT g.cand, x.f,
       |         CAST(SUM(g.g * x.n) AS BIGINT) >> $lrShift AS delta
       |  FROM lg$e g JOIN fx x ON x.doc_id = g.doc_id AND x.is_train
       |  GROUP BY 1, 2),
       |w$e AS (
       |  SELECT COALESCE(w.cand, d.cand) AS cand, COALESCE(w.f, d.f) AS f,
       |         LEAST(GREATEST(COALESCE(w.wq, 0) + COALESCE(d.delta, 0),
       |           -8388608), 8388608) AS wq
       |  FROM w$p w FULL OUTER JOIN ldw$e d
       |    ON d.cand = w.cand AND d.f = w.f),
       |ldb$e AS (SELECT cand, CAST(SUM(g) AS BIGINT) >> $lrShift AS delta
       |          FROM lg$e GROUP BY 1),
       |bb$e AS (
       |  SELECT bb.cand,
       |         LEAST(GREATEST(bb.bq + COALESCE(d.delta, 0),
       |           -8388608), 8388608) AS bq
       |  FROM bb$p bb LEFT JOIN ldb$e d ON d.cand = bb.cand)""".stripMargin

  /** One biased node2vec step as a CTE chain: candidates = `prev`
    * frame ⋈ `adj`, weight CASE back(250)/side(1000)/forward(500) via
    * the distinct-edge marker `em`, per-walk cumulative-weight window,
    * coin = ph(walk ':t:' prev '>' cur) mod total; emits
    * `out(walk_id, prev, cur)`. Zero-total candidate sets truncate.
    */
  private def n2vStepSql(prev: String, out: String, t: Int): String =
    s"""c$out AS (
       |  SELECT f.walk_id, f.prev, f.cur, a.dst AS nxt, a.nbr_rank,
       |         CASE WHEN a.dst = f.prev THEN 250
       |              WHEN m.is_side THEN 1000
       |              ELSE 500 END AS w
       |  FROM $prev f
       |  JOIN adj a ON a.src = f.cur
       |  LEFT JOIN em m ON m.msrc = f.prev AND m.mdst = a.dst),
       |w$out AS (
       |  SELECT *,
       |         CAST(SUM(w) OVER (PARTITION BY walk_id
       |           ORDER BY nbr_rank) AS BIGINT) AS cum,
       |         CAST(SUM(w) OVER (PARTITION BY walk_id) AS BIGINT) AS tot
       |  FROM c$out),
       |$out AS (
       |  SELECT walk_id, cur AS prev, nxt AS cur FROM w$out
       |  WHERE tot > 0
       |    AND ${ph(s"walk_id || ':$t:' || prev || '>' || cur")} % tot
       |          >= cum - w
       |    AND ${ph(s"walk_id || ':$t:' || prev || '>' || cur")} % tot
       |          < cum)""".stripMargin

  private def sccOracleSql(tail: String): String =
    s"""WITH $dirECtes,
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT src, dst FROM dir_e
       |    UNION
       |    SELECT r.src, e.dst FROM r JOIN dir_e e ON e.src = r.dst)
       |  SELECT src, dst FROM r),
       |mutual AS (
       |  SELECT a.src AS v, a.dst AS u
       |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
       |scc AS (
       |  SELECT v, least(min(u), v) AS scc_label FROM (
       |    SELECT v, u FROM mutual
       |    UNION SELECT src AS v, src AS u FROM dir_e
       |    UNION SELECT dst AS v, dst AS u FROM dir_e) GROUP BY v)
       |$tail""".stripMargin

  /** DuckDB twin of [[Hashing.portableHash]]. */
  private def ph(s: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(a, b) -> (a*31 + b) % 1000000007)"

  /** DuckDB twin of [[TextOps.tokens]]. */
  private val TOKS = """regexp_extract_all(text, '\S+')"""

  /** [[TextOps.trigramLmScore]] as a shared CTE chain ending in
    * `lm_scored(doc_id, n_trigrams, n_backoff, bits_total,
    * bits_per_trigram_e3, keep)` — `t_trigram_lm` selects it
    * directly; `t_ppl_buckets` layers the CCNet tercile cut on top.
    * Pins the query parameters (train 900‰, backoff 1 bit, keep ≤
    * 3600 e3-bits).
    */
  private lazy val TRIGRAM_LM_CTES =
    s"""t AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
       |tt AS (SELECT doc_id, toks, ${ph("text")} % 1000 < 900 AS is_train FROM t),
       |inst AS MATERIALIZED (
       |  SELECT doc_id, is_train,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> ${ph("array_to_string(toks[i:i+2], ' ')")})) AS t3h,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> ${ph("array_to_string(toks[i:i+1], ' ')")})) AS b12h,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> ${ph("array_to_string(toks[i+1:i+2], ' ')")})) AS b23h,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> ${ph("toks[i+1]")})) AS w2h,
       |         unnest(list_transform(range(1, len(toks) - 1),
       |           i -> ${ph("toks[i+2]")})) AS w3h
       |  FROM tt WHERE len(toks) >= 3),
       |tr AS MATERIALIZED (SELECT * FROM inst WHERE is_train),
       |c3 AS (SELECT t3h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS l3
       |       FROM tr GROUP BY t3h),
       |p3 AS (SELECT b12h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS lp3
       |       FROM tr GROUP BY b12h),
       |c2 AS (SELECT b23h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS l2
       |       FROM tr GROUP BY b23h),
       |p2 AS (SELECT w2h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS lp2
       |       FROM tr GROUP BY w2h),
       |cu AS MATERIALIZED (SELECT w3h, CAST(count(*) AS BIGINT) AS cw
       |      FROM tr GROUP BY w3h),
       |tv AS (SELECT CAST(length(bin(CAST(COALESCE(SUM(cw), 0) + COUNT(*)
       |         AS BIGINT))) - 1 AS BIGINT) AS ltv FROM cu),
       |ic AS (SELECT doc_id, t3h, b12h, b23h, w2h, w3h,
       |              CAST(count(*) AS BIGINT) AS n
       |       FROM inst GROUP BY 1, 2, 3, 4, 5, 6),
       |sc AS (
       |  SELECT ic.doc_id, ic.n,
       |         CASE WHEN l3 IS NOT NULL THEN lp3 - l3
       |              WHEN l2 IS NOT NULL THEN 1 + lp2 - l2
       |              ELSE 2 + tv.ltv -
       |                   CAST(length(bin(COALESCE(cw, 0) + 1)) - 1 AS BIGINT)
       |         END AS bits,
       |         CASE WHEN l3 IS NULL THEN ic.n ELSE CAST(0 AS BIGINT) END AS nb
       |  FROM ic
       |  LEFT JOIN c3 USING (t3h) LEFT JOIN p3 USING (b12h)
       |  LEFT JOIN c2 USING (b23h) LEFT JOIN p2 USING (w2h)
       |  LEFT JOIN cu USING (w3h) CROSS JOIN tv),
       |pd AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_trigrams,
       |         CAST(SUM(nb) AS BIGINT) AS n_backoff,
       |         CAST(SUM(n * bits) AS BIGINT) AS bits_total
       |  FROM sc GROUP BY doc_id),
       |lm_scored AS (
       |  SELECT d.doc_id,
       |         CAST(COALESCE(n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |         CAST(COALESCE(n_backoff, 0) AS BIGINT) AS n_backoff,
       |         CAST(COALESCE(bits_total, 0) AS BIGINT) AS bits_total,
       |         CAST(CASE WHEN n_trigrams > 0
       |              THEN floor(bits_total*1000/n_trigrams) ELSE 0 END AS BIGINT)
       |           AS bits_per_trigram_e3,
       |         (n_trigrams IS NOT NULL AND n_trigrams > 0
       |          AND floor(bits_total*1000/n_trigrams) <= 3600) AS keep
       |  FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id))""".stripMargin

  /** DuckDB twin of [[TextOps.bpeMerges]]: `steps` unrolled
    * count → argmax → run-parity-rewrite stages over the word table —
    * the same greedy-left-to-right merge computed with the same two
    * window passes (candidate runs via pos − cumulative-count; a
    * candidate merges iff its offset from the run's first candidate
    * is even).
    */
  private def bpeSql(steps: Int): String =
    bpeCtes(steps) + "\n" + (1 to steps).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a AS sym_a, b AS sym_b, " +
        s"pn AS pair_count FROM top$i")
      .mkString("", "\nUNION ALL\n", "")

  /** DuckDB twin of [[TextOps.bpeSegment]] over self-trained merges:
    * the same CTE chain's END state is the segmentation vocabulary.
    */
  private def bpeSegmentSql(steps: Int): String =
    bpeCtes(steps) + s"""
      |SELECT word, n, CAST(len(syms) AS BIGINT) AS n_pieces,
      |       array_to_string(syms, ' ') AS segmented
      |FROM st$steps""".stripMargin

  // Every CTE in the chain is MATERIALIZED: each step references the
  // previous state table three times (pair counts, explode, fallback
  // branch), so DuckDB's default inlining re-evaluates the chain
  // O(3^steps) times — measured 259 s for the 6-step segment twin at
  // sf0.01 vs 0.6 s materialized, identical rows. This keeps the
  // driver's whole oracle sweep inside its time budget.
  private def bpeCtes(steps: Int): String = bpeCtesFrom(steps,
    s"""WITH st0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
       |         list_filter(string_split(word, ''), x -> x != '') AS syms
       |  FROM (SELECT unnest($TOKS) AS word FROM documents) GROUP BY 1)""".stripMargin)

  /** Byte-level st0: GPT-2-ish pre-tokens (RE2-portable subset,
    * explicit whitespace class — Java `\s` includes VT, RE2's does
    * not), symbols = 2-hex-digit UTF-8 bytes via `hex(encode(word))`
    * — the DuckDB twin of [[graft.operators.TextOps.byteTokens]] +
    * hex-pair split.
    */
  private def bpeByteCtes(steps: Int): String = bpeCtesFrom(steps,
    s"""WITH st0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
       |         regexp_extract_all(hex(encode(word)), '..') AS syms
       |  FROM (SELECT unnest(regexp_extract_all(text,
       |          ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+')) AS word
       |        FROM documents) GROUP BY 1)""".stripMargin)

  private def bpeCtesFrom(steps: Int, st0: String): String = {
    val sb = new StringBuilder
    sb.append(st0)
    for (i <- 1 to steps) {
      val p = i - 1
      sb.append(s""",
         |pc$i AS MATERIALIZED (
         |  SELECT a, b, CAST(SUM(n) AS BIGINT) AS pn FROM (
         |    SELECT n,
         |           unnest(list_transform(range(1, len(syms)), j -> syms[j])) AS a,
         |           unnest(list_transform(range(1, len(syms)), j -> syms[j + 1])) AS b
         |    FROM st$p WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |top$i AS MATERIALIZED (SELECT a, b, pn FROM pc$i ORDER BY pn DESC, a ASC, b ASC LIMIT 1),
         |ex$i AS MATERIALIZED (
         |  SELECT e.word, e.n, e.pos, e.sym,
         |         lead(e.sym) OVER (PARTITION BY e.word ORDER BY e.pos) AS nxt,
         |         t.a, t.b
         |  FROM (SELECT word, n, unnest(syms) AS sym,
         |               generate_subscripts(syms, 1) AS pos
         |        FROM st$p) e CROSS JOIN top$i t),
         |fl$i AS MATERIALIZED (
         |  SELECT *, COALESCE(sym = a AND nxt = b, FALSE) AS c,
         |         pos - SUM(CASE WHEN COALESCE(sym = a AND nxt = b, FALSE)
         |                        THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY word ORDER BY pos) AS run
         |  FROM ex$i),
         |act$i AS MATERIALIZED (
         |  SELECT *, c AND ((pos - MIN(CASE WHEN c THEN pos END)
         |                          OVER (PARTITION BY word, run)) % 2 = 0) AS active
         |  FROM fl$i),
         |mg$i AS MATERIALIZED (
         |  SELECT word, n, pos,
         |         CASE WHEN active THEN sym || nxt
         |              WHEN COALESCE(lag(active) OVER (PARTITION BY word ORDER BY pos),
         |                            FALSE) THEN NULL
         |              ELSE sym END AS out
         |  FROM act$i),
         |st$i AS MATERIALIZED (
         |  SELECT word, n, list(out ORDER BY pos) AS syms
         |  FROM mg$i WHERE out IS NOT NULL GROUP BY 1, 2
         |  UNION ALL
         |  SELECT word, n, syms FROM st$p
         |  WHERE NOT EXISTS (SELECT 1 FROM top$i))""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB twin of [[TextOps.dsirWeights]] (buckets=4096, target =
    * sources src0/src1): hashed-bigram bucket model, add-one
    * smoothing, ilog2 bits via `length(bin(n)) - 1` — the same
    * integer convention as `t_bigram_lm`. Split into the CTE chain
    * and the final projection so `t_dsir_sample` can append its
    * ORDER/LIMIT to the identical body.
    */
  // COALESCE pins the engine's documented null-is-non-target
  // semantics (TextOps.dsirWeights coalesces isTarget ONCE, feeding
  // both the model counts and the output column): without it a NULL
  // source would make DuckDB's is_target NULL where Spark emits false
  private val DSIR_TGT = "COALESCE(source IN ('src0', 'src1'), FALSE)"
  private lazy val DSIR_CTES =
    s"""WITH t AS (SELECT doc_id, $DSIR_TGT AS is_t, $TOKS AS toks FROM documents),
       |inst AS (
       |  SELECT doc_id, is_t,
       |         unnest(list_transform(range(1, len(toks)),
       |           i -> ${ph("array_to_string(toks[i:i+1], ' ')")} % 4096)) AS b
       |  FROM t WHERE len(toks) >= 2),
       |model AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS cr,
       |         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM inst GROUP BY b),
       |nrm AS (
       |  SELECT CAST((length(bin(COALESCE(SUM(ct), 0) + 4096)) - 1)
       |       - (length(bin(COALESCE(SUM(cr), 0) + 4096)) - 1) AS BIGINT) AS norm_bits
       |  FROM model),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(SUM((length(bin(ct + 1)) - 1)
       |                - (length(bin(cr + 1)) - 1)) AS BIGINT) AS s_bits
       |  FROM inst JOIN model USING (b)
       |  GROUP BY doc_id)""".stripMargin
  private lazy val DSIR_SELECT =
    s"""SELECT d.doc_id, $DSIR_TGT AS is_target,
       |       CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
       |       CAST(COALESCE(s_bits - n_feats * norm_bits, 0) AS BIGINT) AS weight_bits
       |FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN nrm""".stripMargin

  /** The query-panel lexical (BM25 multi-query) + semantic (per-query
    * brute cosine) top-20 ranking CTEs behind `q_hybrid_rrf_multi` —
    * expects `$QNORM` in scope, yields `lex(query_id, id, rank_a)`
    * and `sem(query_id, id, rank_b)`.
    */
  private lazy val HYBRID_LEXSEM =
    s"""q(query_id, term) AS (VALUES
       |    (0, 'vector'), (0, 'stream'),
       |    (1, 'spark'), (1, 'data'),
       |    (2, 'query')),
       |pd AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS dl
       |       FROM documents),
       |cst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |               CAST(SUM(dl) AS BIGINT) AS tot_tok FROM pd),
       |hits AS (
       |  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
       |  WHERE tok IN (SELECT DISTINCT term FROM q)
       |  GROUP BY doc_id, tok),
       |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM hits GROUP BY term),
       |sc AS (
       |  SELECT h.doc_id, h.term,
       |    ((1000*(2*n_docs - 2*df + 1)) // (2*df + 1) * tf * 2200)
       |      // (tf*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
       |      AS s
       |  FROM hits h JOIN dfs USING (term) JOIN pd USING (doc_id)
       |       CROSS JOIN cst),
       |qs AS (
       |  SELECT q.query_id, sc.doc_id, CAST(SUM(sc.s) AS BIGINT) AS score_e3
       |  FROM q JOIN sc ON q.term = sc.term
       |  GROUP BY q.query_id, sc.doc_id),
       |lex AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS id, rank_a
       |  FROM (SELECT query_id, doc_id,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY score_e3 DESC, doc_id ASC) AS rank_a
       |        FROM qs)
       |  WHERE rank_a <= 20),
       |sem AS (
       |  SELECT query_id, id, rank_b FROM (
       |    SELECT qq.vec_id AS query_id, c.vec_id AS id,
       |           row_number() OVER (PARTITION BY qq.vec_id ORDER BY
       |             CAST(${dotSql("c.q", "qq.q")} AS DOUBLE) /
       |               sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) DESC,
       |             c.vec_id ASC) AS rank_b
       |    FROM qn c JOIN qn qq ON qq.vec_id < 3 AND c.vec_id <> qq.vec_id)
       |  WHERE rank_b <= 20)""".stripMargin

  /** DuckDB twin of [[Dedup.shingles]] (word n-grams, portable hash). */
  private def shinglesSql(n: Int): String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(
       |      CASE WHEN len($TOKS) >= $n
       |      THEN list_transform(range(1, len($TOKS) - ${n - 2}),
       |           i -> ${ph(s"array_to_string(($TOKS)[i:i+${n - 1}], ' ')")})
       |      ELSE [] END) AS sh
       |    FROM documents))""".stripMargin

  private val SHINGLES = shinglesSql(3)

  /** DuckDB twin of the DEFAULT [[graft.pipelines.Curation.curate]]
    * chain (quality gate → exact dedup → capped SimHash clusters →
    * hash split) over any `(doc_id, text)` relation `rel` — the CTE
    * list from `kq` through the final split SELECT. Shared by
    * `pipe_curation` (rel = documents) and `pipe_curation_scrub`
    * (rel = the exact-span-scrubbed corpus).
    */
  private def curationCoreSql(rel: String): String =
    s"""kq AS (SELECT doc_id, text, $TOKS AS toks FROM $rel),
       |cd0 AS (
       |  SELECT doc_id, text FROM kq
       |  WHERE len(toks) >= 5 AND len(toks) <= 100000
       |    AND len(list_filter(toks, t -> list_contains(
       |      ['the','a','an','of','and','to','in','is','it','on'], t)))*1000
       |        >= len(toks)*10),
       |exd AS (SELECT min(doc_id) AS doc_id FROM cd0 GROUP BY text),
       |cd AS (SELECT c.doc_id, c.text FROM cd0 c JOIN exd USING (doc_id)),
       |${simhashSql("cd")},
       |$SIMHASH_CAPPED_CPAIRS,
       |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
       |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM cd
       |  UNION
       |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
       |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a),
       |surv AS (
       |  SELECT c.doc_id, c.text FROM cd c
       |  JOIN comp p ON c.doc_id = p.doc_id AND p.doc_id = p.component_id),
       |bk AS (SELECT doc_id, ${ph("text")} % 1000 AS bucket FROM surv)
       |SELECT doc_id, bucket,
       |       CASE WHEN bucket < 800 THEN 'train'
       |            WHEN bucket < 900 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM bk""".stripMargin

  /** DuckDB twin of [[Dedup.exactSpanCoverage]]'s island derivation at
    * k=16: positioned OVERLAPPING window hashes (0-based offsets, NOT
    * the distinct positionless [[shinglesSql]] form), global
    * keep-first rank by (doc_id, offset), non-first windows merged
    * gaps-and-islands into maximal `iv(doc_id, isl, wstart, wend)`
    * intervals; `tot` carries per-doc token counts. Shared by the
    * coverage and scrub oracles.
    */
  /** The positioned rolling-window-hash CTEs (`th`, `win`) shared by
    * every k=16 exact-span oracle: per-token portable hashes combined
    * per window by the same mod-P polynomial the rolling kernel
    * computes.
    */
  private lazy val EXACT_SPAN_WIN =
    s"""th AS (SELECT doc_id,
       |              list_transform($TOKS, t -> ${ph("t")}) AS t
       |       FROM documents),
       |win AS (
       |  SELECT doc_id,
       |         unnest(CASE WHEN len(t) >= 16
       |           THEN range(0, len(t) - 15) ELSE [] END) AS widx,
       |         unnest(CASE WHEN len(t) >= 16
       |           THEN list_transform(range(0, len(t) - 15),
       |                i -> list_reduce(t[i+1:i+16],
       |                     (a, b) -> (a*31 + b) % 1000000007))
       |           ELSE [] END) AS wh
       |  FROM th)""".stripMargin

  private lazy val EXACT_SPAN_ISLANDS =
    s"""tot AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens
       |        FROM documents),
       |$EXACT_SPAN_WIN,
       |rk AS (SELECT doc_id, widx, row_number() OVER (
       |         PARTITION BY wh ORDER BY doc_id, widx) AS rn FROM win),
       |nf AS (SELECT doc_id, widx FROM rk WHERE rn > 1),
       |fl AS (SELECT doc_id, widx,
       |         CASE WHEN widx > COALESCE(MAX(widx) OVER (
       |                PARTITION BY doc_id ORDER BY widx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |              -1000000) + 15
       |              THEN 1 ELSE 0 END AS brk FROM nf),
       |il AS (SELECT doc_id, widx, SUM(brk) OVER (
       |         PARTITION BY doc_id ORDER BY widx
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |       FROM fl),
       |iv AS (SELECT doc_id, isl, MIN(widx) AS wstart, MAX(widx) + 15 AS wend
       |       FROM il GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[Dedup.minhashSignatures]] (k=8) over SHINGLES. */
  private val MINHASH =
    s"""$SHINGLES,
       |mh AS (
       |  SELECT doc_id, j,
       |         min(((((j+1)*961748941) % 1000000007) * (sh % 1000000007)
       |              + ((j+1)*982451653) % 1000000007) % 1000000007) AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
       |  GROUP BY doc_id, j)""".stripMargin

  /** DuckDB twin of [[Dedup.simhashSignatures]] (64-bit, portable
    * hash) over any `(doc_id, text)` source. Bit 63 forces HUGEINT
    * assembly (BIGINT `1 << 63` overflows in DuckDB); the final wrap
    * reproduces the two's-complement Long Spark emits.
    */
  private def simhashSql(src: String): String =
    s"""tok AS (
       |  SELECT doc_id, h, count(*) AS cnt FROM (
       |    SELECT doc_id, ${ph("tok")} AS h
       |    FROM (SELECT doc_id, unnest($TOKS) AS tok FROM $src))
       |  GROUP BY doc_id, h),
       |v AS (
       |  SELECT doc_id, b, sum(cnt * (((h >> b) & 1)*2 - 1)) AS v
       |  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
       |  GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |         CAST(CASE WHEN su >= 9223372036854775808
       |              THEN su - 18446744073709551616 ELSE su END AS BIGINT)
       |           AS simhash
       |  FROM (SELECT doc_id,
       |          sum(CASE WHEN v >= 0 THEN (CAST(1 AS HUGEINT) << b)
       |              ELSE CAST(0 AS HUGEINT) END) AS su
       |        FROM v GROUP BY doc_id))""".stripMargin

  private val SIMHASH = simhashSql("documents")

  /** DuckDB twin of [[Dedup.simhashPairs]] with `maxBucketSize =
    * Some(8)`: the portable doc_id sub-split over per-(band, band_val)
    * occupancy + the exact-signature star floor, ending in a
    * `cpairs(doc_a, doc_b, hamming)` CTE. Assumes a `sig(doc_id,
    * simhash)` CTE is already in scope; shared by the capped pair,
    * cluster, and leakage-split oracles.
    */
  private val SIMHASH_CAPPED_CPAIRS =
    """banded AS (
      |  SELECT doc_id, simhash, band, (simhash >> (band*16)) & 65535 AS band_val
      |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      |sizes AS (SELECT band, band_val, COUNT(*) AS bkt_n
      |          FROM banded GROUP BY band, band_val),
      |sb AS (
      |  SELECT b.doc_id, b.simhash, b.band, b.band_val,
      |         ((b.doc_id % 1000000007) * 1103515245 + 12345) % 1000000007
      |           % CAST(ceil(CAST(z.bkt_n AS DOUBLE) / 8) AS BIGINT) AS sub
      |  FROM banded b JOIN sizes z ON z.band = b.band AND z.band_val = b.band_val),
      |bandpairs AS (
      |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
      |         CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
      |  FROM sb l JOIN sb r
      |    ON l.band = r.band AND l.band_val = r.band_val AND l.sub = r.sub
      |   AND l.doc_id < r.doc_id
      |  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3),
      |reps AS (SELECT simhash, MIN(doc_id) AS rep_id
      |         FROM sig GROUP BY simhash HAVING COUNT(*) > 1),
      |stars AS (
      |  SELECT e.rep_id AS doc_a, v.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
      |  FROM sig v JOIN reps e ON e.simhash = v.simhash
      |  WHERE v.doc_id > e.rep_id),
      |cpairs AS (
      |  SELECT DISTINCT doc_a, doc_b, hamming FROM
      |    (SELECT * FROM bandpairs UNION ALL SELECT * FROM stars))""".stripMargin

  /** DuckDB twin of [[Similarity.quantize]] over `embeddings`. */
  private val QVEC =
    """qv AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** QVEC + squared norms ([[Similarity.normQ]]). */
  /** SQL twin of [[urlFixture]] + [[TextOps.urlParts]]: the parse
    * chain as CTEs ending in `urlparsed(doc_id, scheme, host, port,
    * reg_domain, path, params, kept)` — identical RE2 patterns, list
    * HOFs for the param split, DuckDB 1-based list indexing for the
    * label cuts (`ls[n-1]` twins Spark's 0-based `get(labels, n-2)`;
    * invalid indices are NULL and `concat_ws` skips them on both
    * engines).
    */
  private val URLPARSED =
    """urlfx AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 10 AS INTEGER)
      |           WHEN 0 THEN 'https://www.example.com/a/' || CAST(doc_id AS VARCHAR) ||
      |                       '?utm_source=news&q=' || CAST(doc_id AS VARCHAR)
      |           WHEN 1 THEN 'http://user:pw@Blog.Example.co.uk:8080/post/' ||
      |                       CAST(doc_id AS VARCHAR) || '?id=' ||
      |                       CAST(doc_id AS VARCHAR) || '&utm_campaign=x&ref=tw'
      |           WHEN 2 THEN 'https://xn--bcher-kva.example/katalog/' || CAST(doc_id AS VARCHAR)
      |           WHEN 3 THEN 'ftp://files.example.org:21/pub/' || CAST(doc_id AS VARCHAR) || '.txt'
      |           WHEN 4 THEN 'https://example.com:443/x?b=2&a=1&gclid=' || CAST(doc_id AS VARCHAR)
      |           WHEN 5 THEN 'http://EXAMPLE.COM:8080/Upper/Case?fbclid=1&keep=' || CAST(doc_id AS VARCHAR)
      |           WHEN 6 THEN 'https://sub.shop.example.com.au/cart?item=' ||
      |                       CAST(doc_id AS VARCHAR) || '&utm_medium=cpc#frag'
      |           WHEN 7 THEN 'https://shop.brandmall.com.hk/item/' ||
      |                       CAST(doc_id AS VARCHAR) || '?sku=' || CAST(doc_id AS VARCHAR)
      |           WHEN 8 THEN 'http://berita.portalweb.co.id/read/' ||
      |                       CAST(doc_id AS VARCHAR) || '?utm_source=feed&page=1'
      |           ELSE 'doc ' || CAST(doc_id AS VARCHAR) || ' has no url' END AS url
      |  FROM documents),
      |uraw AS (
      |  SELECT doc_id,
      |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |         regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                        '^[^@/]*@', '') AS hostport,
      |         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |         regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1) AS query
      |  FROM urlfx),
      |uhp AS (
      |  SELECT doc_id, scheme, path, query,
      |         lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
      |         CAST(NULLIF(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS BIGINT) AS port
      |  FROM uraw),
      |ulab AS (
      |  SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n,
      |         concat_ws('.', (string_split(host, '.'))[len(string_split(host, '.')) - 1],
      |                   (string_split(host, '.'))[len(string_split(host, '.'))]) AS last2
      |  FROM uhp),
      |urlparsed AS (
      |  SELECT doc_id, scheme, host, port, path,
      |         CASE WHEN n >= 3 AND list_contains(__PSL_SNAPSHOT__, last2)
      |              THEN concat_ws('.', ls[n - 2], last2)
      |              WHEN n >= 2 THEN last2
      |              ELSE host END AS reg_domain,
      |         list_filter(string_split(query, '&'), x -> len(x) > 0) AS params,
      |         list_filter(list_filter(string_split(query, '&'), x -> len(x) > 0),
      |           x -> NOT (starts_with(lower(regexp_extract(x, '^([^=]*)', 1)), 'utm_')
      |                 OR list_contains(['gclid','fbclid','msclkid','igshid','mc_eid','ref','ref_src'],
      |                      lower(regexp_extract(x, '^([^=]*)', 1))))) AS kept
      |  FROM ulab)""".stripMargin
      // the same file-driven PSL snapshot the Spark side loads — one
      // source of truth, inlined as a DuckDB list literal (the
      // generated-SQL device; ~350 entries, well under literal limits)
      .replace("__PSL_SNAPSHOT__",
        TextOps.SnapshotMultiLabelSuffixes.map(s => s"'$s'")
          .mkString("[", ",", "]"))

  /** SQL twin of [[htmlFixture]]: emits `<out>(doc_id, html)` from
    * `<src>(doc_id, text)` — shared by `t_html_strip` and
    * `pipe_web_curation` so the fixture can never drift between them
    * (the [[htmlFixture]] rationale on the SQL side).
    */
  private def htmlFixtureSql(src: String, out: String): String =
    s"""$out AS (
       |  SELECT doc_id,
       |         CASE CAST(doc_id % 4 AS INTEGER)
       |           WHEN 0 THEN '<html><head><style type="text/css">.x{a:b}</style><script>var x = 1 < 2;</script></head><body><h1>Title</h1><p>' ||
       |                       text ||
       |                       '</p><div>Home | About | Contact</div></body></html>'
       |           WHEN 1 THEN 'Tom &amp; Jerry &lt;3 say &quot;hi&quot; can&#39;t&nbsp;stop. ' || text
       |           WHEN 2 THEN text || '<br>Nav<br>(c) 2020'
       |           ELSE text END AS html
       |  FROM $src)""".stripMargin

  /** SQL twin of the [[TextOps.htmlStrip]] 5-stage rewrite: emits
    * `<out>(doc_id, alll, kept)` (all trimmed lines / surviving
    * lines) from `<src>(doc_id, html)`; `tag` uniquifies the
    * intermediate CTE.
    */
  private def htmlStripSql(src: String, out: String, tag: String): String =
    s"""hs$tag AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(
       |      html,
       |      '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
       |      '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
       |      '(?i)<(?:br|/p|/div|/li|/h[1-6]|/tr)\\b[^>]*>', chr(10), 'g'),
       |      '<[^>]*>', ' ', 'g'),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |      '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g')
       |      AS txt
       |  FROM $src),
       |$out AS (
       |  SELECT doc_id,
       |         list_transform(string_split(txt, chr(10)), x -> trim(x)) AS alll,
       |         list_filter(list_transform(string_split(txt, chr(10)), x -> trim(x)),
       |           x -> len(regexp_extract_all(x, '\\S+')) >= 4 AND
       |                3 * len(list_filter(regexp_extract_all(x, '\\S+'),
       |                      t -> regexp_matches(t, '^[^\\p{L}\\p{N}]+$$')))
       |                  <= len(regexp_extract_all(x, '\\S+'))) AS kept
       |  FROM hs$tag)""".stripMargin

  /** SQL twin of [[graft.operators.Dedup.lineDedup]] (keep-first,
    * `minChars = 5`): emits `<out>(doc_id, n_lines, n_dropped,
    * retained_text)` from `<src>(doc_id, text)`; `tag` uniquifies the
    * intermediate CTEs.
    */
  private def lineDedupSql(src: String, out: String, tag: String): String =
    s"""ls$tag AS MATERIALIZED (
       |  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM $src),
       |li$tag AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(ls) + 1), i -> i - 1)) AS pos,
       |         unnest(list_transform(range(1, len(ls) + 1), i -> ${ph("ls[i]")})) AS h,
       |         unnest(list_transform(range(1, len(ls) + 1), i -> len(ls[i]))) AS ll
       |  FROM ls$tag),
       |lr$tag AS (
       |  SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |  FROM li$tag WHERE ll >= 5),
       |ld$tag AS (
       |  SELECT doc_id, list(pos) AS drops FROM lr$tag WHERE rn > 1 GROUP BY doc_id),
       |$out AS (
       |  SELECT l.doc_id,
       |         CAST(len(ls) AS BIGINT) AS n_lines,
       |         CAST(COALESCE(len(drops), 0) AS BIGINT) AS n_dropped,
       |         CASE WHEN drops IS NULL THEN l.text
       |              ELSE array_to_string(
       |                list_filter(ls, (x, i) -> NOT list_contains(drops, i - 1)),
       |                chr(10)) END AS retained_text
       |  FROM ls$tag l LEFT JOIN ld$tag USING (doc_id))""".stripMargin

  /** The full g_louvain oracle chain (2 move rounds, contraction,
    * 2 weighted rounds) parameterized by the resolution gamma —
    * `g_louvain` is gamma = 1000 (byte-identical to the
    * pre-resolution oracle), `g_louvain_res` is the scaled form.
    */
  private def louvainOracleSql(gammaE3: Long): String =
    s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e1 AS MATERIALIZED (
         |  SELECT pa AS a, pb AS b, CAST(1 AS BIGINT) AS w FROM cooc),
         |sym1 AS MATERIALIZED (
         |  SELECT a AS v, b AS u, w FROM e1
         |  UNION ALL SELECT b, a, w FROM e1),
         |deg1 AS MATERIALIZED (
         |  SELECT v, CAST(SUM(w) AS BIGINT) AS deg FROM sym1 GROUP BY v),
         |tw1 AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS tot_w FROM deg1),
         |l10 AS MATERIALIZED (
         |  SELECT v, v AS label FROM (SELECT DISTINCT v FROM sym1)),
         |${louvainRoundSql("l10", "l11", "sym1", "deg1", "tw1", "11", gammaE3)},
         |${louvainRoundSql("l11", "l12", "sym1", "deg1", "tw1", "12", gammaE3)},
         |e2 AS MATERIALIZED (
         |  SELECT least(la.label, lb.label) AS a,
         |         greatest(la.label, lb.label) AS b,
         |         CAST(SUM(e1.w) AS BIGINT) AS w
         |  FROM e1
         |  JOIN l12 la ON la.v = e1.a
         |  JOIN l12 lb ON lb.v = e1.b
         |  GROUP BY 1, 2),
         |sym2 AS MATERIALIZED (
         |  SELECT a AS v, b AS u, w FROM e2 WHERE a <> b
         |  UNION ALL SELECT b, a, w FROM e2 WHERE a <> b),
         |verts2 AS MATERIALIZED (
         |  SELECT DISTINCT v FROM
         |    (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)),
         |deg2 AS MATERIALIZED (
         |  SELECT vv.v,
         |         CAST(COALESCE(s.dw, 0) + 2*COALESCE(sl.sw, 0) AS BIGINT) AS deg
         |  FROM verts2 vv
         |  LEFT JOIN (SELECT v, SUM(w) AS dw FROM sym2 GROUP BY v) s
         |    ON s.v = vv.v
         |  LEFT JOIN (SELECT a AS v, SUM(w) AS sw FROM e2 WHERE a = b
         |             GROUP BY a) sl ON sl.v = vv.v),
         |tw2 AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS tot_w FROM deg2),
         |l20 AS MATERIALIZED (SELECT v, v AS label FROM verts2),
         |${louvainRoundSql("l20", "l21", "sym2", "deg2", "tw2", "21", gammaE3)},
         |${louvainRoundSql("l21", "l22", "sym2", "deg2", "tw2", "22", gammaE3)}
         |SELECT l12.v AS person_id, l22.label AS community
         |FROM l12 JOIN l22 ON l22.v = l12.label""".stripMargin

  private val QNORM =
    s"""$QVEC,
       |qn AS (SELECT vec_id, q,
       |              CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nq
       |       FROM qv)""".stripMargin

  /** One synchronous Louvain move round as a CTE chain (the unrolled-
    * rounds oracle device of `g_label_prop`, with the integer gain
    * score and the singleton min-label swap guard of
    * [[GraphOps.louvain]]): reads labels from `prev(v, label)`, the
    * symmetric weighted edges from `sym(v, u, w)`, weighted degrees
    * from `deg(v, deg)` and the 1-row 2m_w total from `tw(tot_w)`;
    * emits `out(v, label)`. `tag` uniquifies the intermediate CTEs.
    */
  private def louvainRoundSql(
      prev: String, out: String, sym: String, deg: String, tw: String,
      tag: String, gammaE3: Long = 1000L): String = {
    // gamma = 1000 emits the UNSCALED score so the default oracles
    // stay byte-identical to the pre-resolution form (the operator's
    // same branch); scaled rounds mirror GraphOps.louvainMoves
    val score =
      if (gammaE3 == 1000L)
        s"""(SELECT tot_w FROM $tw) * cc.kvc
       |           - d.deg * (t.tot - CASE WHEN cc.c = o.label THEN d.deg
       |                                   ELSE 0 END)""".stripMargin
      else
        s"""1000 * (SELECT tot_w FROM $tw) * cc.kvc
       |           - $gammaE3 * d.deg * (t.tot - CASE WHEN cc.c = o.label THEN d.deg
       |                                   ELSE 0 END)""".stripMargin
    s"""sz$tag AS MATERIALIZED (
       |  SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS tot,
       |         CAST(COUNT(*) AS BIGINT) AS csize
       |  FROM $prev l JOIN $deg d USING (v) GROUP BY 1),
       |k$tag AS (
       |  SELECT s.v, l.label AS c, CAST(SUM(s.w) AS BIGINT) AS kvc
       |  FROM $sym s JOIN $prev l ON l.v = s.u GROUP BY 1, 2),
       |c$tag AS (
       |  SELECT v, c, CAST(SUM(kvc) AS BIGINT) AS kvc FROM (
       |    SELECT v, c, kvc FROM k$tag
       |    UNION ALL SELECT v, label AS c, 0 FROM $prev)
       |  GROUP BY 1, 2),
       |s$tag AS (
       |  SELECT cc.v, cc.c,
       |         $score AS score
       |  FROM c$tag cc
       |  JOIN $prev o ON o.v = cc.v
       |  JOIN $deg d ON d.v = cc.v
       |  JOIN sz$tag t ON t.label = cc.c
       |  JOIN sz$tag osz ON osz.label = o.label
       |  WHERE cc.c = o.label OR osz.csize > 1 OR t.csize > 1
       |     OR cc.c < o.label),
       |$out AS MATERIALIZED (
       |  SELECT v, c AS label FROM (
       |    SELECT v, c, row_number() OVER (PARTITION BY v
       |      ORDER BY score DESC, c ASC) AS rn FROM s$tag)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Occupancy-capped directed kNN oracle, parameterized by the cap:
    * per-(band, bucket) sizes drive the portable sub-split hash
    * (the `sim_semantic_dedup_capped` device), candidates collide on
    * (band, bucket, sub), exact re-rank top-5. `cap = 8` is the
    * exercised-split fixture; `cap = 128` is the shipped r14 default
    * ([[graft.operators.Similarity.DefaultBandCap]]).
    */
  private def knnCappedSql(cap: Int): String =
    s"""WITH ${knnCappedCtes(cap)}
       |SELECT id_a AS vec_id, id_b AS neighbor_id, dot_q, "rank"
       |FROM ranked WHERE "rank" <= 5""".stripMargin

  /** Occupancy-capped banded-kNN CTE chain ending in `ranked(id_a,
    * id_b, dot_q, rank)` — [[KNN_RANKED]] with the `vec_id`-hash
    * sub-split on hot (band, bucket) groups; shared by the capped
    * `sim_knn_graph_*` oracles and `sim_graph_search` (whose shipped
    * graph build is the capped default).
    */
  private def knnCappedCtes(cap: Int): String =
    s"""$QNORM,
       |nz AS (SELECT * FROM qn WHERE nq > 0),
       |s AS (
       |  SELECT vec_id, j,
       |         list_sum(list_transform(range(1, len(q)+1),
       |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
       |  FROM nz CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
       |bk AS (
       |  SELECT vec_id, j // 4 AS band,
       |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
       |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM s GROUP BY vec_id, band),
       |sizes AS (SELECT band, bucket, COUNT(*) AS bkt_n FROM bk GROUP BY band, bucket),
       |sb AS (
       |  SELECT b.vec_id, b.band, b.bucket,
       |         ((b.vec_id % 1000000007) * 1103515245 + 12345) % 1000000007
       |           % CAST(ceil(CAST(z.bkt_n AS DOUBLE) / $cap) AS BIGINT) AS sub
       |  FROM bk b JOIN sizes z ON z.band = b.band AND z.bucket = b.bucket),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sb a JOIN sb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
       |   AND a.vec_id <> b.vec_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |         ${dotSql("a.q", "b.q")} AS dot_q,
       |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
       |  FROM cands c
       |  JOIN nz a ON a.vec_id = c.id_a
       |  JOIN nz b ON b.vec_id = c.id_b),
       |ranked AS (
       |  SELECT id_a, id_b, dot_q,
       |         CAST(row_number() OVER (
       |           PARTITION BY id_a
       |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, id_b ASC)
       |         AS BIGINT) AS "rank"
       |  FROM pairs)""".stripMargin

  /** DuckDB twin of [[Similarity.dotQ]]. */
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a)+1), i -> ($a)[i]*($b)[i])) AS BIGINT)"

  /** Banded-LSH directed kNN CTE chain shared by the `sim_knn_graph`
    * and `sim_nn_descent` oracles: quantize → drop zero-norm → 16
    * sign-random-projection planes → 4 bands × 4 rows → directed
    * candidate collisions → exact re-rank (`ranked(id_a, id_b, dot_q,
    * rank)`). Callers append their own final SELECT / descent CTEs.
    */
  private val KNN_RANKED =
    s"""$QNORM,
       |nz AS (SELECT * FROM qn WHERE nq > 0),
       |s AS (
       |  SELECT vec_id, j,
       |         list_sum(list_transform(range(1, len(q)+1),
       |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
       |  FROM nz CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
       |bk AS (
       |  SELECT vec_id, j // 4 AS band,
       |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
       |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM s GROUP BY vec_id, band),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |pairs AS (
       |  SELECT c.id_a, c.id_b,
       |         ${dotSql("a.q", "b.q")} AS dot_q,
       |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
       |  FROM cands c
       |  JOIN nz a ON a.vec_id = c.id_a
       |  JOIN nz b ON b.vec_id = c.id_b),
       |ranked AS (
       |  SELECT id_a, id_b, dot_q,
       |         CAST(row_number() OVER (
       |           PARTITION BY id_a
       |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, id_b ASC)
       |         AS BIGINT) AS "rank"
       |  FROM pairs)""".stripMargin

  /** One exact beam rerank as a CTE (the `sim_graph_search` round
    * device): reads `(query_id, cand)` from `$src`, joins both
    * vectors from `nz`, keeps each query's cosine top-`$keep` as
    * `$out(query_id, cand, dot_q)`. Ordering mirrors
    * [[graft.operators.Similarity.graphSearchTopK]]: cosine double
    * DESC (ranking only), cand ASC ties.
    */
  private def beamRankSql(src: String, out: String, keep: Int): String =
    s"""$out AS (
       |  SELECT query_id, cand, dot_q, CAST(rn AS BIGINT) AS rnk FROM (
       |    SELECT query_id, cand, dot_q,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, cand ASC)
       |             AS rn
       |    FROM (
       |      SELECT f.query_id, f.cand,
       |             ${dotSql("a.q", "b.q")} AS dot_q,
       |             CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
       |      FROM $src f
       |      JOIN nz a ON a.vec_id = f.query_id
       |      JOIN nz b ON b.vec_id = f.cand))
       |  WHERE rn <= $keep)""".stripMargin

  /** One beam-search expansion round: previous beam ∪ its graph
    * out-neighbors (self excluded), distinct, exact-reranked to the
    * beam width. Emits `b$e`; reads `b$p` and the kNN edge frame
    * `gk(id_a, id_b)`.
    */
  private def beamRoundSql(p: Int, e: Int, beam: Int): String =
    s"""x$e AS (
       |  SELECT DISTINCT query_id, cand FROM (
       |    SELECT query_id, cand FROM b$p
       |    UNION ALL
       |    SELECT b.query_id, g.id_b AS cand
       |    FROM b$p b JOIN gk g ON g.id_a = b.cand
       |    WHERE g.id_b <> b.query_id)),
       |${beamRankSql(s"x$e", s"b$e", beam)}""".stripMargin

  /** Product-quantization CTE chain shared by the `sim_pq_codes` and
    * `sim_pq_topk` oracles: 4 subspaces × 16-entry stand-in codebooks
    * (subvectors of `vec_id < 16`, codes 0..15 in vec_id order), codes
    * via integer-L2 argmin (`‖c‖² − 2·sub·c`, the row norm constant
    * under the argmin), ties to the lowest code — `codes(vec_id, j,
    * cid)`. All-BIGINT, mirroring [[Similarity.bestCodeExpr]].
    */
  private val PQ_CODES =
    s"""$QNORM,
       |sub AS (
       |  SELECT vec_id, j,
       |         list_slice(q, j*(len(q)//4) + 1, (j+1)*(len(q)//4)) AS sq
       |  FROM qn CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
       |cb AS (
       |  SELECT j,
       |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
       |              AS BIGINT) AS cid,
       |         sq AS cq,
       |         CAST(list_sum(list_transform(sq, x -> x*x)) AS BIGINT) AS cnq
       |  FROM sub WHERE vec_id < 16),
       |scores AS (
       |  SELECT s.vec_id, s.j, c.cid,
       |         c.cnq - 2*${dotSql("s.sq", "c.cq")} AS score
       |  FROM sub s JOIN cb c USING (j)),
       |codes AS (
       |  SELECT vec_id, j, cid FROM (
       |    SELECT vec_id, j, cid,
       |           row_number() OVER (PARTITION BY vec_id, j
       |                              ORDER BY score ASC, cid ASC) AS rn
       |    FROM scores) WHERE rn = 1)""".stripMargin

  /** Jaccard verification tail shared by the two near-dup oracles:
    * exact |∩|/|∪| over shingle sets for candidate pairs in `cands`.
    */
  private val JACCARD_TAIL =
    """sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS n_inter
      |  FROM cands c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b,
      |       CAST(floor(n_inter*1000/(sa.n_sh + sb.n_sh - n_inter)) AS BIGINT) AS jaccard_e3
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE floor(n_inter*1000/(sa.n_sh + sb.n_sh - n_inter)) >= 500""".stripMargin

  /** As-of join oracle (DuckDB twin of the union+window composition),
    * shared by the window-form and native-exec queries.
    */
  private val ASOF_SQL =
    """WITH l AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, ts, event_id AS p_event_id,
      |         CAST(floor(value*10000 + 0.5) AS BIGINT) AS p_value_e4
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, ts AS t, 0 AS side, CAST(NULL AS BIGINT) AS tb,
      |         event_id, CAST(NULL AS BIGINT) AS p_event_id,
      |         CAST(NULL AS BIGINT) AS p_value_e4
      |  FROM l
      |  UNION ALL
      |  SELECT user_id, ts, 1, p_event_id, NULL, p_event_id, p_value_e4 FROM r),
      |w AS (
      |  SELECT user_id, t, side, event_id,
      |         last_value(p_event_id IGNORE NULLS) OVER win AS asof_p_event_id,
      |         last_value(p_value_e4 IGNORE NULLS) OVER win AS asof_p_value_e4
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY t ASC, side DESC, tb ASC
      |                 ROWS UNBOUNDED PRECEDING))
      |SELECT event_id, user_id, CAST(epoch_ms(t) AS BIGINT) AS ts_ms,
      |       asof_p_event_id, asof_p_value_e4
      |FROM w WHERE side = 0""".stripMargin

  /** Brute-force cosine top-k oracle — shared by `sim_cosine_topk` and
    * `sim_ivf_kmeans` (full-probe IVF ≡ brute force).
    */
  private lazy val BRUTE_TOPK_SQL =
    s"""WITH $QNORM,
       |scored AS (
       |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotSql("qq.q", "c.q")} AS dot_q,
       |         CAST(qq.nq AS DOUBLE)*CAST(c.nq AS DOUBLE) AS nn
       |  FROM qn c JOIN qn qq ON qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dot_q,
       |         CAST(row_number() OVER (
       |           PARTITION BY query_id
       |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, neighbor_id ASC)
       |         AS BIGINT) AS "rank"
       |  FROM scored)
       |SELECT query_id, neighbor_id, dot_q, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** e6-floored cosine SQL twin of `Similarity.cosE6` — identical
    * operand order (`dot·10⁶ / √(nqA·nqB)`), one IEEE
    * multiply-divide-floor.
    */
  private def cosE6Sql(dot: String, nqA: String, nqB: String): String =
    s"""CAST(floor(CAST($dot AS DOUBLE) * 1000000.0 /
       |  sqrt(CAST($nqA AS DOUBLE) * CAST($nqB AS DOUBLE))) AS BIGINT)""".stripMargin

  /** MMR greedy-rerank oracle (`Similarity.mmrRerank` twin): top-`poolK`
    * e6-cosine pool per query (vec_id < 8) and its pairwise sims
    * materialize once; `selectK` greedy steps unroll as CTEs, each
    * picking the `(λ·rel − (1000−λ)·max_sim_to_selected)`-argmax of
    * the not-yet-selected pool (ties by cand_id).
    */
  private def mmrSql(poolK: Int, selectK: Int, lambdaE3: Int): String = {
    val mu = 1000 - lambdaE3
    val steps = (2 to selectK).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT query_id, cand_id, rel_e6, CAST($t AS BIGINT) AS step FROM (
         |    SELECT r.query_id, r.cand_id, r.rel_e6,
         |           row_number() OVER (PARTITION BY r.query_id
         |             ORDER BY $lambdaE3*r.rel_e6 - $mu*m.max_sim_e6 DESC,
         |                      r.cand_id ASC) AS rn
         |    FROM pool r
         |    JOIN (SELECT w.query_id, w.cand_id, max(w.sim_e6) AS max_sim_e6
         |          FROM pw w JOIN sel${t - 1} s
         |            ON w.query_id = s.query_id AND w.other_id = s.cand_id
         |          GROUP BY w.query_id, w.cand_id) m
         |      ON m.query_id = r.query_id AND m.cand_id = r.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} z
         |                      WHERE z.query_id = r.query_id AND z.cand_id = r.cand_id))
         |  WHERE rn = 1),
         |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $QNORM,
       |nz AS (SELECT * FROM qn WHERE nq > 0),
       |rel AS MATERIALIZED (
       |  SELECT qq.vec_id AS query_id, c.vec_id AS cand_id, c.q, c.nq,
       |         ${cosE6Sql(dotSql("qq.q", "c.q"), "qq.nq", "c.nq")} AS rel_e6
       |  FROM nz c JOIN nz qq ON qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
       |pool AS MATERIALIZED (
       |  SELECT query_id, cand_id, q, nq, rel_e6 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel_e6 DESC, cand_id ASC) AS rn FROM rel)
       |  WHERE rn <= $poolK),
       |pw AS MATERIALIZED (
       |  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
       |         ${cosE6Sql(dotSql("a.q", "b.q"), "a.nq", "b.nq")} AS sim_e6
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, cand_id, rel_e6, CAST(1 AS BIGINT) AS step FROM (
       |    SELECT query_id, cand_id, rel_e6, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel_e6 DESC, cand_id ASC) AS rn FROM pool)
       |  WHERE rn = 1),
       |$steps
       |SELECT query_id, cand_id, rel_e6, step FROM sel$selectK""".stripMargin
  }

  /** Unigram-LM Viterbi oracle (`TextOps.unigramSegment` twin): the
    * query's corpus-derived scored vocab rebuilt in SQL, then `rounds`
    * unrolled min-relaxation rounds over the `cost·2²⁰ + pieces`
    * encoded key — integer MIN ≡ lexicographic (cost, pieces) min,
    * the engine's value contract. `dp_t` covers paths of ≤ t − 1
    * pieces (dp1 is the zero-piece start state), and a word can need
    * up to `length(word)` single-char pieces, so `rounds` must be ≥
    * the max word length at the verified SF PLUS ONE (8 + 1 at
    * sf0.01; called with 12 for slack).
    */
  /** DuckDB twin of [[TextOps.unigramTrain]]: the `unigramSql` dp
    * device run in BOTH directions per epoch — forward `f` (prefix
    * minima) and backward `b` (suffix minima) — so a candidate slot is
    * "used" iff `f[p] + pack + b[p+l] = f[len]` (the packed values add
    * across concatenation). `dpRounds` must exceed the longest optimal
    * path (= longest word, all-chars case); sf0.01's longest word is 8
    * chars, 10 leaves margin.
    */
  private def unigramTrainSql(
      epochs: Int, vocabSize: Int, maxLen: Int, minWords: Int,
      dpRounds: Int): String = {
    def fwdSteps(e: Int) = (2 to dpRounds).map { t =>
      s"""f${e}_$t AS MATERIALIZED (
         |  SELECT word, pos, min(k) AS k FROM (
         |    SELECT word, pos, k FROM f${e}_${t - 1}
         |    UNION ALL
         |    SELECT c.word, f.pos + c.l AS pos, f.k + c.cb * 1048576 + 1 AS k
         |    FROM f${e}_${t - 1} f JOIN cand$e c ON c.word = f.word AND c.p = f.pos)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    def bwdSteps(e: Int) = (2 to dpRounds).map { t =>
      s"""b${e}_$t AS MATERIALIZED (
         |  SELECT word, pos, min(k) AS k FROM (
         |    SELECT word, pos, k FROM b${e}_${t - 1}
         |    UNION ALL
         |    SELECT c.word, c.p AS pos, c.cb * 1048576 + 1 + b.k AS k
         |    FROM b${e}_${t - 1} b JOIN cand$e c
         |      ON c.word = b.word AND b.pos = c.p + c.l)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    def epoch(e: Int) =
      s"""cand$e AS MATERIALIZED (
         |  SELECT c.word, c.p, c.l, c.piece, v.cb
         |  FROM cand0 c JOIN v${e - 1} v USING (piece)),
         |f${e}_1 AS (SELECT word, CAST(0 AS BIGINT) AS pos,
         |            CAST(0 AS BIGINT) AS k FROM words),
         |${fwdSteps(e)},
         |b${e}_1 AS (SELECT word, CAST(length(word) AS BIGINT) AS pos,
         |            CAST(0 AS BIGINT) AS k FROM words),
         |${bwdSteps(e)},
         |fend$e AS (SELECT word, k FROM f${e}_$dpRounds
         |           WHERE pos = CAST(length(word) AS BIGINT)),
         |used$e AS MATERIALIZED (
         |  SELECT c.piece, CAST(SUM(w.n) AS BIGINT) AS cnt
         |  FROM cand$e c
         |  JOIN f${e}_$dpRounds f ON f.word = c.word AND f.pos = c.p
         |  JOIN b${e}_$dpRounds b ON b.word = c.word AND b.pos = c.p + c.l
         |  JOIN fend$e fe ON fe.word = c.word
         |  JOIN words w ON w.word = c.word
         |  WHERE f.k + c.cb * 1048576 + 1 + b.k = fe.k
         |  GROUP BY c.piece),
         |counted$e AS (
         |  SELECT ch.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS cnt
         |  FROM (SELECT piece FROM v${e - 1} WHERE length(piece) = 1) ch
         |  LEFT JOIN used$e u USING (piece)
         |  UNION ALL
         |  SELECT u.piece, u.cnt FROM used$e u WHERE length(u.piece) > 1),
         |pruned$e AS (
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |           row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
         |    FROM counted$e)
         |  WHERE rn <= $vocabSize OR length(piece) = 1),
         |v$e AS MATERIALIZED (
         |  SELECT piece, cnt,
         |         CAST((length(bin(tot + 1)) - 1)
         |              - (length(bin(cnt + 1)) - 1) AS BIGINT) AS cb
         |  FROM pruned$e,
         |       (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS tot
         |        FROM pruned$e) t$e)""".stripMargin
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest($TOKS) AS word FROM documents) GROUP BY word),
       |cand0 AS MATERIALIZED (
       |  SELECT word, CAST(c.p AS BIGINT) AS p, CAST(c.l AS BIGINT) AS l, c.piece
       |  FROM (
       |    SELECT word, unnest(flatten(list_transform(range(0, length(word)), p ->
       |      list_transform(range(1, least($maxLen, length(word) - p) + 1), l ->
       |        struct_pack(p := p, l := l,
       |          piece := substring(word, CAST(p AS INT) + 1, CAST(l AS INT))))))) AS c
       |    FROM words)),
       |pw AS (SELECT piece, CAST(COUNT(DISTINCT word) AS BIGINT) AS cnt
       |       FROM cand0 GROUP BY piece),
       |seed AS (SELECT piece, cnt FROM pw
       |         WHERE cnt >= $minWords OR length(piece) = 1),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |         CAST((length(bin(tot + 1)) - 1)
       |              - (length(bin(cnt + 1)) - 1) AS BIGINT) AS cb
       |  FROM seed,
       |       (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS tot FROM seed) t0),
       |${(1 to epochs).map(epoch).mkString(",\n")}
       |SELECT piece, cnt, cb AS cost_bits FROM v$epochs""".stripMargin
  }

  private def unigramSql(rounds: Int): String = {
    val steps = (2 to rounds).map { t =>
      s"""dp$t AS MATERIALIZED (
         |  SELECT word, pos, min(k) AS k FROM (
         |    SELECT word, pos, k FROM dp${t - 1}
         |    UNION ALL
         |    SELECT d.word, d.pos + c.l AS pos, d.k + c.cb * 1048576 + 1 AS k
         |    FROM dp${t - 1} d JOIN cand c ON c.word = d.word AND c.p = d.pos)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest($TOKS) AS word FROM documents)
       |  GROUP BY word),
       |sub AS (
       |  SELECT word, unnest(flatten(list_transform(range(0, length(word)), p ->
       |    list_transform(range(1, least(3, length(word) - p) + 1), l ->
       |      substring(word, CAST(p AS INT) + 1, CAST(l AS INT)))))) AS piece
       |  FROM words),
       |pc AS MATERIALIZED (
       |  SELECT piece, CAST(COUNT(DISTINCT word) AS BIGINT) AS cnt
       |  FROM sub GROUP BY piece HAVING COUNT(DISTINCT word) >= 2),
       |v AS MATERIALIZED (
       |  SELECT piece,
       |         (length(bin(tot + 1)) - 1) - (length(bin(cnt + 1)) - 1) AS cb
       |  FROM pc, (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pc) tt),
       |cand AS MATERIALIZED (
       |  SELECT s.word, s.p, s.l, v.cb FROM (
       |    SELECT word, CAST(c.p AS BIGINT) AS p, CAST(c.l AS BIGINT) AS l, c.piece
       |    FROM (
       |      SELECT word, unnest(flatten(list_transform(range(0, length(word)), p ->
       |        list_transform(range(1, least(16, length(word) - p) + 1), l ->
       |          struct_pack(p := p, l := l,
       |            piece := substring(word, CAST(p AS INT) + 1, CAST(l AS INT))))))) AS c
       |      FROM words)) s
       |  JOIN v ON v.piece = s.piece),
       |dp1 AS MATERIALIZED (
       |  SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS k FROM words),
       |$steps
       |SELECT w.word, w.n, (b.k IS NOT NULL) AS ok,
       |       CASE WHEN b.k IS NOT NULL THEN b.k // 1048576 END AS cost_bits,
       |       CASE WHEN b.k IS NOT NULL THEN b.k % 1048576 END AS n_pieces
       |FROM words w LEFT JOIN dp$rounds b
       |  ON b.word = w.word AND b.pos = CAST(length(w.word) AS BIGINT)""".stripMargin
  }

  /** Greedy k-center oracle (`Similarity.kCenterSelect` twin): lowest-id
    * seed, then `selectK − 1` unrolled rounds, each recomputing every
    * remaining vector's exact integer min squared-L2 distance to the
    * selected set and taking the `(md DESC, vec_id ASC)` argmax.
    */
  private def kCenterSql(selectK: Int): String = {
    val steps = (2 to selectK).map { t =>
      s"""st$t AS MATERIALIZED (
         |  SELECT vec_id, CAST($t AS BIGINT) AS step, md AS min_dist_q FROM (
         |    SELECT vec_id, md,
         |           row_number() OVER (ORDER BY md DESC, vec_id ASC) AS rn FROM (
         |      SELECT c.vec_id, min(c.nq + s.nq - 2*${dotSql("c.q", "s.q")}) AS md
         |      FROM qn c, qn s
         |      WHERE s.vec_id IN (SELECT vec_id FROM sel${t - 1})
         |        AND c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |      GROUP BY c.vec_id))
         |  WHERE rn = 1),
         |sel$t AS MATERIALIZED (
         |  SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM st$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $QNORM,
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS min_dist_q
       |  FROM qn WHERE vec_id = (SELECT min(vec_id) FROM qn)),
       |$steps
       |SELECT vec_id, step, min_dist_q FROM sel$selectK""".stripMargin
  }

  private def extendedOracles: Map[String, String] = Map(
    "t_token_counts" ->
      s"""SELECT doc_id,
         |       CAST(len($TOKS) AS BIGINT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         |         AS n_bpe_tokens,
         |       CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM documents""".stripMargin,

    "t_quality" ->
      s"""WITH s AS (
         |  SELECT doc_id, $TOKS AS toks,
         |         CAST(length(text) AS BIGINT) AS nchar,
         |         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok,
         |         CAST(len(list_filter(toks, t -> list_contains(
         |           ['the','a','an','of','and','to','in','is','it','on'], t))) AS BIGINT) AS stop_hits,
         |         nchar, alpha
         |  FROM s)
         |SELECT doc_id, ntok AS n_tokens,
         |       CAST(floor(nchar*1000/ntok) AS BIGINT) AS mean_tok_len_e3,
         |       CAST(floor(stop_hits*1000/ntok) AS BIGINT) AS stop_ratio_e3,
         |       CAST(floor(alpha*1000/nchar) AS BIGINT) AS alpha_ratio_e3,
         |       (ntok >= 5 AND ntok <= 100000 AND stop_hits*1000 >= ntok*10) AS keep
         |FROM t""".stripMargin,

    // Gopher rule bundle: same in-row list HOFs (word-char mean,
    // #/ellipsis symbol ratio, bullet/ellipsis line fractions over
    // non-empty lines, alpha-word fraction, >= 2 distinct gopher
    // stops), e3 fixed point, composite keep
    "t_gopher_rules" ->
      s"""WITH d0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
         |s AS (
         |  SELECT doc_id, text, $TOKS AS toks,
         |         list_filter(string_split(text, chr(10)),
         |           l -> length(trim(l)) > 0) AS lines
         |  FROM d0),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS ntok,
         |         CAST(COALESCE(list_sum(list_transform(toks,
         |           t -> length(t))), 0) AS BIGINT) AS wchars,
         |         CAST(len(regexp_extract_all(text, '#')) +
         |              len(regexp_extract_all(text, '(\\.\\.\\.|…)'))
         |           AS BIGINT) AS nsym,
         |         CAST(len(lines) AS BIGINT) AS nlines,
         |         CAST(len(list_filter(lines, l -> regexp_matches(
         |           trim(l), '^[•\\-\\*]'))) AS BIGINT) AS nbullet,
         |         CAST(len(list_filter(lines, l -> regexp_matches(
         |           trim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS nellline,
         |         CAST(len(list_filter(toks, t -> regexp_matches(
         |           t, '[A-Za-z]'))) AS BIGINT) AS nalpha,
         |         CAST(len(list_intersect(list_distinct(toks),
         |           ['the','be','to','of','and','that','have','with']))
         |           AS BIGINT) AS nstops
         |  FROM s)
         |SELECT doc_id, ntok AS n_tokens,
         |       CAST(CASE WHEN ntok > 0 THEN floor(wchars*1000/ntok)
         |            ELSE 0 END AS BIGINT) AS mean_word_len_e3,
         |       CAST(CASE WHEN ntok > 0 THEN floor(nsym*1000/ntok)
         |            ELSE 0 END AS BIGINT) AS symbol_ratio_e3,
         |       CAST(CASE WHEN nlines > 0 THEN floor(nbullet*1000/nlines)
         |            ELSE 0 END AS BIGINT) AS bullet_lines_e3,
         |       CAST(CASE WHEN nlines > 0 THEN floor(nellline*1000/nlines)
         |            ELSE 0 END AS BIGINT) AS ellipsis_lines_e3,
         |       CAST(CASE WHEN ntok > 0 THEN floor(nalpha*1000/ntok)
         |            ELSE 0 END AS BIGINT) AS alpha_word_e3,
         |       nstops AS n_gopher_stops,
         |       (ntok >= 50 AND ntok <= 100000
         |        AND (CASE WHEN ntok > 0 THEN floor(wchars*1000/ntok) ELSE 0 END)
         |              BETWEEN 3000 AND 10000
         |        AND (CASE WHEN ntok > 0 THEN floor(nsym*1000/ntok) ELSE 0 END) <= 100
         |        AND (CASE WHEN nlines > 0 THEN floor(nbullet*1000/nlines) ELSE 0 END) <= 900
         |        AND (CASE WHEN nlines > 0 THEN floor(nellline*1000/nlines) ELSE 0 END) <= 300
         |        AND (CASE WHEN ntok > 0 THEN floor(nalpha*1000/ntok) ELSE 0 END) >= 800
         |        AND nstops >= 2) AS keep
         |FROM m""".stripMargin,

    // C4 bundle over the multi-line fixture (one rule class per
    // doc_id mod 6): line keep = terminal punct AND >= 5 words
    // (explicit [ \t]+ class, the engine-portable split) AND no
    // "javascript"; doc keep = no lorem-ipsum / no brace / >= 3
    // sentences in the RETAINED text
    "t_c4_rules" ->
      s"""WITH c4f AS (
         |  SELECT doc_id,
         |    CASE doc_id % 6
         |      WHEN 0 THEN substr(text,1,60) || '.' || chr(10) ||
         |        substr(text,61,60) || '!' || chr(10) ||
         |        substr(text,121,60) || '?' || chr(10) || 'Tiny.'
         |      WHEN 1 THEN substr(text,1,60) || chr(10) ||
         |        substr(text,61,60) || '.' || chr(10) ||
         |        substr(text,121,60) || '!'
         |      WHEN 2 THEN 'One two three.' || chr(10) ||
         |        substr(text,1,60) || '.' || chr(10) ||
         |        substr(text,61,60) || '?' || chr(10) ||
         |        substr(text,121,60) || '.'
         |      WHEN 3 THEN 'This page requires JavaScript enabled to work.'
         |        || chr(10) || substr(text,1,60) || '.' || chr(10) ||
         |        substr(text,61,60) || '!' || chr(10) ||
         |        substr(text,121,60) || '?'
         |      WHEN 4 THEN 'Lorem Ipsum dolor sit amet consectetur.'
         |        || chr(10) || substr(text,1,60) || '.' || chr(10) ||
         |        substr(text,61,60) || '.' || chr(10) ||
         |        substr(text,121,60) || '.'
         |      ELSE 'if (x) { return 1; }' || chr(10) ||
         |        substr(text,1,60) || '.' || chr(10) ||
         |        substr(text,61,60) || '.' || chr(10) ||
         |        substr(text,121,60) || '.'
         |    END AS orig
         |  FROM documents),
         |lx AS (
         |  SELECT doc_id, orig,
         |         list_filter(string_split(orig, chr(10)),
         |           l -> length(trim(l)) > 0) AS lines
         |  FROM c4f),
         |kx AS (
         |  SELECT doc_id, orig, lines,
         |         list_filter(lines, l ->
         |           regexp_matches(trim(l), '[.!?"]\\z')
         |           AND len(string_split_regex(trim(l), '[ \t]+')) >= 5
         |           AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM lx),
         |fin AS (
         |  -- array_to_string([]) is NULL in DuckDB (Spark array_join
         |  -- gives '') — coalesce pins the empty-retention docs
         |  SELECT doc_id, orig,
         |         COALESCE(array_to_string(kept, chr(10)), '') AS text,
         |         CAST(len(lines) AS BIGINT) AS n_lines,
         |         CAST(len(kept) AS BIGINT) AS n_lines_kept,
         |         CAST(len(regexp_extract_all(
         |           COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]'))
         |           AS BIGINT) AS n_sentences
         |  FROM kx)
         |SELECT doc_id, text, n_lines, n_lines_kept, n_sentences,
         |       (NOT contains(lower(orig), 'lorem ipsum')
         |        AND NOT contains(orig, '{')
         |        AND n_sentences >= 3) AS keep
         |FROM fin""".stripMargin,

    // char-4-gram dictionary ratio: windows enumerated in-row on both
    // engines (substring is character-based in both), docs shorter
    // than the window pin to 1000
    "t_compress_ratio" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |         CAST(greatest(len(text) - 3, 0) AS BIGINT) AS n_windows,
         |         CASE WHEN len(text) >= 4 THEN
         |           CAST(len(list_distinct(list_transform(
         |             range(1, len(text) - 2),
         |             i -> substring(text, CAST(i AS INTEGER), 4)))) AS BIGINT)
         |         ELSE CAST(0 AS BIGINT) END AS n_distinct
         |  FROM documents)
         |SELECT doc_id, n_windows, n_distinct,
         |       CASE WHEN n_windows > 0 THEN n_distinct * 1000 // n_windows
         |            ELSE CAST(1000 AS BIGINT) END AS ratio_e3
         |FROM g""".stripMargin,

    // the 5-stage strip mirrored in RE2 (shared htmlFixtureSql /
    // htmlStripSql fragments — pipe_web_curation chains the same ones)
    "t_html_strip" ->
      s"""WITH ${htmlFixtureSql("documents", "fx")},
         |${htmlStripSql("fx", "kp", "0")}
         |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
         |       CAST(len(alll) AS BIGINT) AS n_lines,
         |       CAST(len(kept) AS BIGINT) AS n_kept
         |FROM kp""".stripMargin,

    "t_lang_id" ->
      s"""WITH s AS (
         |  SELECT doc_id, text, regexp_extract_all(lower(text), '\\S+') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, text,
         |    len(list_filter(toks, t -> list_contains(['the','a','is','and','of'], t))) AS en,
         |    len(list_filter(toks, t -> list_contains(['el','la','los','de','que'], t))) AS es,
         |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS de,
         |    len(list_filter(toks, t -> list_contains(['le','les','des','une','est'], t))) AS fr
         |  FROM s)
         |SELECT doc_id,
         |       CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh'
         |            WHEN en >= es AND en >= de AND en >= fr THEN 'en'
         |            WHEN es >= de AND es >= fr THEN 'es'
         |            WHEN de >= fr THEN 'de'
         |            ELSE 'fr' END AS pred_lang
         |FROM c""".stripMargin,

    "t_fingerprint" ->
      s"""SELECT doc_id, ${ph("text")} AS fp FROM documents""",

    "t_hash_split" ->
      s"""WITH b AS (SELECT doc_id, ${ph("text")} % 1000 AS bucket FROM documents)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin,

    // portable hash is non-negative, so % == pmod on both engines
    "t_shard_shuffle" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         ${ph("'graft:' || CAST(doc_id AS VARCHAR)")} AS pos
         |  FROM documents)
         |SELECT doc_id, pos, pos % 32 AS shard,
         |       CAST(row_number() OVER (
         |         PARTITION BY pos % 32 ORDER BY pos ASC, doc_id ASC)
         |       AS BIGINT) AS pos_in_shard
         |FROM p""".stripMargin,

    "t_quality_topk" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, source,
         |         CAST(len($TOKS) AS BIGINT) AS n_tokens,
         |         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))*1000
         |              / length(text)) AS BIGINT) AS alpha_ratio_e3
         |  FROM documents)
         |SELECT doc_id, lang, source, n_tokens, alpha_ratio_e3, rn FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY lang, source
         |    ORDER BY alpha_ratio_e3 DESC, doc_id ASC) AS BIGINT) AS rn
         |  FROM q)
         |WHERE rn <= 3""".stripMargin,

    "t_pii_redact" ->
      """WITH contact AS (
        |  SELECT c_custkey,
        |         'Reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
        |         || '@mail.example.org or +1-555-'
        |         || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |         || ' (last ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.77)'
        |           AS contact
        |  FROM customer),
        |red AS (
        |  SELECT c_custkey,
        |         regexp_replace(regexp_replace(regexp_replace(contact,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |           '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS contact_redacted
        |  FROM contact)
        |SELECT c_custkey, contact_redacted,
        |       CAST(len(regexp_extract_all(contact_redacted,
        |            '<EMAIL>|<IP>|<PHONE>')) AS BIGINT) AS n_redactions
        |FROM red""".stripMargin,

    "e_zorder" ->
      """WITH b0 AS (
        |  SELECT event_id,
        |         CAST(user_id % 65536 AS BIGINT) AS x,
        |         CAST(CAST(floor(value*100 + 0.5) AS BIGINT) % 65536 AS BIGINT) AS y
        |  FROM events),
        |b1 AS (SELECT event_id, ((x | (x<<8)) & 16711935) AS x,
        |              ((y | (y<<8)) & 16711935) AS y FROM b0),
        |b2 AS (SELECT event_id, ((x | (x<<4)) & 252645135) AS x,
        |              ((y | (y<<4)) & 252645135) AS y FROM b1),
        |b3 AS (SELECT event_id, ((x | (x<<2)) & 858993459) AS x,
        |              ((y | (y<<2)) & 858993459) AS y FROM b2),
        |b4 AS (SELECT event_id, ((x | (x<<1)) & 1431655765) AS x,
        |              ((y | (y<<1)) & 1431655765) AS y FROM b3)
        |SELECT event_id, (x | (y << 1)) AS zval FROM b4""".stripMargin,

    "e_outliers" ->
      """WITH v AS (
        |  SELECT event_id, event_type,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS v2 FROM events),
        |st AS (
        |  SELECT event_type,
        |         CAST(SUM(v2) // COUNT(*) AS BIGINT) AS mu,
        |         CAST(SUM(v2*v2) // COUNT(*) AS BIGINT) AS msq
        |  FROM v GROUP BY 1)
        |SELECT event_id, v.event_type, v2, mu
        |FROM v JOIN st ON v.event_type = st.event_type
        |WHERE (v2 - mu)*(v2 - mu) > 9*(msq - mu*mu)""".stripMargin,

    "e_value_histogram" ->
      """SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "agg_value_stats" ->
      """WITH v AS (
        |  SELECT event_type,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS v2 FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(v2) AS BIGINT) AS sum_e2,
        |       CAST(SUM(v2*v2) AS BIGINT) AS sumsq_e4,
        |       MIN(v2) AS min_e2, MAX(v2) AS max_e2
        |FROM v GROUP BY 1""".stripMargin,

    "t_domain_quota" ->
      s"""SELECT doc_id, source, rn FROM (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY ${ph("text")} ASC, doc_id ASC) AS BIGINT) AS rn
         |  FROM documents)
         |WHERE rn <= 10""".stripMargin,

    // the urlParts projection verbatim: scheme/host/port/reg_domain/
    // path plus param counts and the normalized clean_url (kept params
    // in original order, fragment dropped, scheme-default port dropped)
    "t_url_parts" ->
      s"""WITH $URLPARSED
         |SELECT doc_id, scheme, host, port, reg_domain, path,
         |       CAST(len(params) AS BIGINT) AS n_params,
         |       CAST(len(params) - len(kept) AS BIGINT) AS n_tracking,
         |       CASE WHEN len(scheme) > 0 THEN
         |         scheme || '://' || host ||
         |         (CASE WHEN port IS NOT NULL AND NOT (
         |                 (scheme = 'http' AND port = 80) OR
         |                 (scheme = 'https' AND port = 443) OR
         |                 (scheme = 'ftp' AND port = 21))
         |               THEN ':' || CAST(port AS VARCHAR) ELSE '' END) ||
         |         path ||
         |         (CASE WHEN len(array_to_string(kept, '&')) > 0
         |               THEN '?' || array_to_string(kept, '&') ELSE '' END)
         |       ELSE '' END AS clean_url
         |FROM urlparsed""".stripMargin,

    "pipe_domain_quota" ->
      s"""WITH $URLPARSED
         |SELECT doc_id, reg_domain, rn FROM (
         |  SELECT d.doc_id, u.reg_domain,
         |         CAST(row_number() OVER (
         |           PARTITION BY u.reg_domain
         |           ORDER BY ${ph("d.text")} ASC, d.doc_id ASC) AS BIGINT) AS rn
         |  FROM documents d JOIN urlparsed u ON u.doc_id = d.doc_id)
         |WHERE rn <= 25""".stripMargin,

    "t_vocab_topk" ->
      s"""SELECT tok, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest($TOKS) AS tok FROM documents)
         |GROUP BY tok
         |ORDER BY n DESC, tok ASC
         |LIMIT 20""".stripMargin,

    // the full sketch replicated in SQL: same portable bucket hash over
    // '<seed>#<tok>', same min-over-rows estimate — bit-exact compare
    "x_cms_vocab" ->
      s"""WITH cnt AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT unnest($TOKS) AS tok FROM documents)
         |  GROUP BY tok),
         |seeds AS (SELECT unnest(range(0, 4)) AS seed),
         |sk AS (
         |  SELECT seed,
         |         ${ph("CAST(seed AS VARCHAR) || '#' || tok")} % 256 AS bucket,
         |         CAST(SUM(n) AS BIGINT) AS bn
         |  FROM cnt CROSS JOIN seeds
         |  GROUP BY 1, 2),
         |topk AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok ASC LIMIT 20),
         |probes AS (
         |  SELECT tok, n,
         |         seed, ${ph("CAST(seed AS VARCHAR) || '#' || tok")} % 256 AS bucket
         |  FROM topk CROSS JOIN seeds)
         |SELECT p.tok, p.n AS n_exact,
         |       CAST(MIN(sk.bn) AS BIGINT) AS cms_est,
         |       MIN(sk.bn) >= p.n AS over_ok
         |FROM probes p JOIN sk ON sk.seed = p.seed AND sk.bucket = p.bucket
         |GROUP BY p.tok, p.n""".stripMargin,

    // the sketch estimate is engine-specific; the oracle pins the exact
    // distinct count + merge_ok=TRUE, certifying the Spark-side union
    // of per-source sketches landed within the gate
    "x_hll_merge" ->
      s"""SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_tokens,
         |       TRUE AS merge_ok
         |FROM (SELECT unnest($TOKS) AS tok FROM documents)""".stripMargin,

    // both CMS grids replicated bit-exactly (same '<seed>#<key>'
    // bucket hash over the stringified key), inner product per row,
    // min over rows, next to the exact join size — over_ok certified
    "x_cms_join_size" ->
      s"""WITH a AS (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |         CAST(COUNT(*) AS BIGINT) AS na
         |  FROM events WHERE event_type = 'click' GROUP BY 1),
         |b AS (
         |  SELECT CAST(user_id AS VARCHAR) AS key,
         |         CAST(COUNT(*) AS BIGINT) AS nb
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |ex AS (
         |  SELECT CAST(COALESCE(SUM(CAST(na AS HUGEINT) * nb), 0) AS BIGINT)
         |    AS exact_n
         |  FROM a JOIN b USING (key)),
         |seeds AS (SELECT unnest(range(0, 4)) AS seed),
         |ga AS (
         |  SELECT seed,
         |         ${ph("CAST(seed AS VARCHAR) || '#' || key")} % 256 AS bucket,
         |         CAST(SUM(na) AS BIGINT) AS an
         |  FROM a CROSS JOIN seeds GROUP BY 1, 2),
         |gb AS (
         |  SELECT seed,
         |         ${ph("CAST(seed AS VARCHAR) || '#' || key")} % 256 AS bucket,
         |         CAST(SUM(nb) AS BIGINT) AS bn
         |  FROM b CROSS JOIN seeds GROUP BY 1, 2),
         |re AS (
         |  SELECT ga.seed, SUM(CAST(an AS HUGEINT) * bn) AS row_est
         |  FROM ga JOIN gb ON ga.seed = gb.seed AND ga.bucket = gb.bucket
         |  GROUP BY 1),
         |est AS (SELECT CAST(COALESCE(MIN(row_est), 0) AS BIGINT) AS cms_est
         |        FROM re)
         |SELECT exact_n, cms_est, cms_est >= exact_n AS over_ok
         |FROM ex CROSS JOIN est""".stripMargin,

    // the KMV sketch replicated in SQL: k=16 smallest DISTINCT mixed
    // portable token hashes per source (same multiplicative spread mod
    // P as the engine — raw ph() clusters short tokens near zero);
    // estimate (k−1)·P // m_k, exact-size short-circuit below k —
    // every column hash-matches bit-exactly
    "x_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT source,
         |         (${ph("tok")} * 961748941 + 982451653) % 1000000007 AS hv
         |  FROM (SELECT source, unnest($TOKS) AS tok FROM documents)),
         |ex AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
         |  FROM h GROUP BY 1),
         |bk AS (
         |  SELECT source, hv,
         |         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
         |  FROM h),
         |kth AS (
         |  SELECT source,
         |         CAST(MAX(CASE WHEN rn = 16 THEN hv END) AS BIGINT) AS mk,
         |         CAST(COUNT(*) AS BIGINT) AS nk
         |  FROM bk WHERE rn <= 16 GROUP BY 1),
         |est AS (
         |  SELECT e.source, e.exact_distinct,
         |         CAST(CASE WHEN k.nk < 16 THEN k.nk
         |              ELSE (CAST(15 AS BIGINT) * 1000000007) // k.mk
         |              END AS BIGINT) AS kmv_est
         |  FROM ex e JOIN kth k ON e.source = k.source)
         |SELECT source, exact_distinct, kmv_est,
         |       CAST((kmv_est * 1000) // exact_distinct AS BIGINT) AS est_permille
         |FROM est""".stripMargin,

    // hash-rate sample quantiles: same mixed portable hash admission,
    // same type-1 rank pick ⌈q·n/1000⌉ over (value, id) order, NULL
    // estimates for sample-empty groups
    "x_sample_quantiles" ->
      s"""WITH base AS (
         |  SELECT event_type AS key, event_id AS id,
         |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
         |         ((${ph("CAST(event_id AS VARCHAR)")} * 961748941 + 982451653)
         |          % 1000000007) % 10 = 0 AS in_sample
         |  FROM events WHERE value IS NOT NULL),
         |ex AS (
         |  SELECT key, CAST(MAX(n) AS BIGINT) AS n,
         |         MAX(CASE WHEN rn = (n * 500 + 999) // 1000 THEN v END) AS p50_exact,
         |         MAX(CASE WHEN rn = (n * 900 + 999) // 1000 THEN v END) AS p90_exact
         |  FROM (SELECT key, v,
         |               row_number() OVER (PARTITION BY key ORDER BY v, id) AS rn,
         |               COUNT(*) OVER (PARTITION BY key) AS n
         |        FROM base)
         |  GROUP BY key),
         |sm AS (
         |  SELECT key, CAST(MAX(n) AS BIGINT) AS n_sample,
         |         MAX(CASE WHEN rn = (n * 500 + 999) // 1000 THEN v END) AS p50_est,
         |         MAX(CASE WHEN rn = (n * 900 + 999) // 1000 THEN v END) AS p90_est
         |  FROM (SELECT key, v,
         |               row_number() OVER (PARTITION BY key ORDER BY v, id) AS rn,
         |               COUNT(*) OVER (PARTITION BY key) AS n
         |        FROM base WHERE in_sample)
         |  GROUP BY key)
         |SELECT e.key, e.n, COALESCE(s.n_sample, 0) AS n_sample,
         |       e.p50_exact, s.p50_est, e.p90_exact, s.p90_est
         |FROM ex e LEFT JOIN sm s ON e.key = s.key""".stripMargin,

    // KMV set algebra replicated in SQL: per-source bottom-16 sketches
    // (same mixed portable hash), union sketch = 16 smallest of the
    // sketch union, K = union-sketch members present in both bottom-k
    // sets; jaccard = K/k_u, |A∪B| = 15·P // τ, |A∩B| = K·|A∪B| // k_u
    // — every estimator column bit-matches the engine's
    // the sketch replicated in SQL: 63-bit words (sign bit never set),
    // seeded positions ph('<j>#'||text) % m, bit_or build, all-bits
    // probe with COALESCE(bits, 0) for never-touched words
    "x_bloom_incremental" ->
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT * FROM documents WHERE doc_id % 10 <> 0),
         |probe AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 1),
         |bpos AS (
         |  SELECT unnest([
         |    ${ph("'0#' || text")} % 64512, ${ph("'1#' || text")} % 64512,
         |    ${ph("'2#' || text")} % 64512, ${ph("'3#' || text")} % 64512]) AS p
         |  FROM corpus),
         |words AS MATERIALIZED (
         |  SELECT p // 63 AS word_idx,
         |         bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
         |  FROM bpos GROUP BY 1),
         |ppos AS (
         |  SELECT doc_id, unnest([
         |    ${ph("'0#' || text")} % 64512, ${ph("'1#' || text")} % 64512,
         |    ${ph("'2#' || text")} % 64512, ${ph("'3#' || text")} % 64512]) AS p
         |  FROM probe),
         |chk AS (
         |  SELECT doc_id,
         |         ((COALESCE(w.bits, 0) >> CAST(pp.p % 63 AS INTEGER)) % 2 = 1) AS ok
         |  FROM ppos pp LEFT JOIN words w ON w.word_idx = pp.p // 63),
         |mc AS (
         |  SELECT doc_id,
         |         (COUNT(CASE WHEN NOT ok THEN 1 END) = 0) AS might_contain
         |  FROM chk GROUP BY doc_id)
         |SELECT m.doc_id, m.might_contain,
         |       (p.text IN (SELECT text FROM corpus)) AS present
         |FROM mc m JOIN probe p USING (doc_id)""".stripMargin,

    "x_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT source,
         |         (${ph("tok")} * 961748941 + 982451653) % 1000000007 AS hv
         |  FROM (SELECT source, unnest($TOKS) AS tok FROM documents)),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM h GROUP BY 1),
         |bk AS (SELECT source, hv,
         |              row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
         |       FROM h),
         |sk AS (SELECT source, hv FROM bk WHERE rn <= 16),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |             a.nd AS nd_a, b.nd AS nd_b
         |      FROM nd a JOIN nd b ON a.source < b.source),
         |uk AS (
         |  SELECT src_a, src_b, hv,
         |         row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS urn
         |  FROM (SELECT DISTINCT p.src_a, p.src_b, s.hv
         |        FROM p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b)),
         |us AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_union,
         |              CAST(MAX(hv) AS BIGINT) AS tau
         |       FROM uk WHERE urn <= 16 GROUP BY 1, 2),
         |nb AS (SELECT u.src_a, u.src_b, CAST(COUNT(*) AS BIGINT) AS n_both
         |       FROM uk u
         |       JOIN sk x ON x.source = u.src_a AND x.hv = u.hv
         |       JOIN sk y ON y.source = u.src_b AND y.hv = u.hv
         |       WHERE u.urn <= 16 GROUP BY 1, 2),
         |ei AS (SELECT a.source AS src_a, b.source AS src_b,
         |              CAST(COUNT(*) AS BIGINT) AS exact_inter
         |       FROM h a JOIN h b ON a.hv = b.hv AND a.source < b.source
         |       GROUP BY 1, 2),
         |alg AS (
         |  SELECT p.src_a, p.src_b, us.k_union,
         |         COALESCE(nb.n_both, 0) AS n_both,
         |         CAST(CASE WHEN us.k_union < 16 THEN us.k_union
         |              ELSE (CAST(15 AS BIGINT) * 1000000007) // us.tau
         |              END AS BIGINT) AS union_est,
         |         p.nd_a + p.nd_b - COALESCE(ei.exact_inter, 0) AS exact_union,
         |         COALESCE(ei.exact_inter, 0) AS exact_inter
         |  FROM p JOIN us ON us.src_a = p.src_a AND us.src_b = p.src_b
         |  LEFT JOIN nb ON nb.src_a = p.src_a AND nb.src_b = p.src_b
         |  LEFT JOIN ei ON ei.src_a = p.src_a AND ei.src_b = p.src_b)
         |SELECT src_a, src_b, k_union, n_both, union_est,
         |       CAST(exact_union AS BIGINT) AS exact_union,
         |       CAST((union_est * 1000) // exact_union AS BIGINT) AS union_permille,
         |       CAST((n_both * union_est) // k_union AS BIGINT) AS inter_est,
         |       exact_inter,
         |       CAST((n_both * 1000000) // k_union AS BIGINT) AS jaccard_e6
         |FROM alg""".stripMargin,

    // NB source classifier replicated in SQL: same text-hash split,
    // same (source, token-hash) count model, whole-bit ilog2 scoring
    // via length(bin(n))-1, same (bits, source) tie-break
    "t_nb_classify" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, $TOKS AS toks,
         |         (${ph("text")} % 1000) < 900 AS is_train
         |  FROM documents),
         |cnt AS (
         |  SELECT source, ${ph("tok")} AS th, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest(toks) AS tok FROM b WHERE is_train)
         |  GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT th) AS BIGINT) AS v FROM cnt),
         |pri AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |        FROM b WHERE is_train GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_train FROM pri),
         |cands AS (SELECT p.source AS cand, p.n_docs, t.tot
         |          FROM pri p JOIN tot t ON p.source = t.source),
         |te AS (SELECT doc_id, source AS actual, toks FROM b WHERE NOT is_train),
         |ti AS (SELECT doc_id, ${ph("tok")} AS th
         |       FROM (SELECT doc_id, unnest(toks) AS tok FROM te)),
         |tb AS (
         |  SELECT ti.doc_id, cd.cand,
         |         CAST(COUNT(*) AS BIGINT) AS n_inst,
         |         CAST(SUM(length(bin(COALESCE(c.c, 0) + 1)) - 1) AS BIGINT) AS sum_lc
         |  FROM ti CROSS JOIN (SELECT cand FROM cands) cd
         |  LEFT JOIN cnt c ON c.source = cd.cand AND c.th = ti.th
         |  GROUP BY 1, 2),
         |g AS (
         |  SELECT te.doc_id, te.actual, cd.cand,
         |         CAST(COALESCE(tb.n_inst, 0) * (length(bin(cd.tot + v.v)) - 1)
         |              - COALESCE(tb.sum_lc, 0)
         |              + (length(bin(nt.n_train)) - 1)
         |              - (length(bin(cd.n_docs)) - 1) AS BIGINT) AS bits
         |  FROM te CROSS JOIN cands cd CROSS JOIN v CROSS JOIN nt
         |  LEFT JOIN tb ON tb.doc_id = te.doc_id AND tb.cand = cd.cand),
         |r AS (SELECT doc_id, actual, cand, bits,
         |             row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY bits ASC, cand ASC) AS rn
         |      FROM g)
         |SELECT doc_id, actual, cand AS predicted, bits AS bits_best,
         |       cand = actual AS correct
         |FROM r WHERE rn = 1""".stripMargin,

    // hashed unigram+bigram buckets (fastText hashing trick,
    // B = 2^20), per-(cand, bucket) train counts, one-vs-rest
    // log-count-ratio odds in whole ilog2 bits with the smoothing
    // denominators hoisted per candidate; odds-argmax, ties by cand
    "t_linear_classify" ->
      s"""WITH b AS MATERIALIZED (
         |  SELECT doc_id, source, $TOKS AS toks,
         |         (${ph("text")} % 1000) < 900 AS is_train
         |  FROM documents),
         |feats AS MATERIALIZED (
         |  SELECT doc_id, source, is_train,
         |         unnest(list_concat(
         |           list_transform(range(1, len(toks) + 1),
         |             i -> ${ph("toks[i]")} % 1048576),
         |           list_transform(range(1, len(toks)),
         |             i -> ${ph("array_to_string(toks[i:i+1], ' ')")} % 1048576))) AS f
         |  FROM b WHERE len(toks) >= 1),
         |cnt AS MATERIALIZED (
         |  SELECT source AS cand, f, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats WHERE is_train GROUP BY 1, 2),
         |ctot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS ct FROM cnt GROUP BY 1),
         |tot AS (SELECT cand, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
         |cs AS (SELECT CAST(COUNT(DISTINCT f) AS BIGINT) AS v,
         |              CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t_all FROM cnt),
         |pri AS (SELECT source AS cand, CAST(COUNT(*) AS BIGINT) AS n_docs
         |        FROM b WHERE is_train GROUP BY 1),
         |nt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_train FROM pri),
         |cands AS (SELECT p.cand, p.n_docs, t.tot
         |          FROM pri p JOIN tot t USING (cand)),
         |ti AS (SELECT doc_id, f FROM feats WHERE NOT is_train),
         |tb AS (
         |  SELECT ti.doc_id, cd.cand,
         |         CAST(COUNT(*) AS BIGINT) AS n_inst,
         |         CAST(SUM((length(bin(COALESCE(c.c, 0) + 1)) - 1)
         |                - (length(bin(COALESCE(ct.ct, 0) - COALESCE(c.c, 0) + 1)) - 1))
         |              AS BIGINT) AS sum_w
         |  FROM ti CROSS JOIN (SELECT cand FROM cands) cd
         |  LEFT JOIN cnt c ON c.cand = cd.cand AND c.f = ti.f
         |  LEFT JOIN ctot ct ON ct.f = ti.f
         |  GROUP BY 1, 2),
         |te AS (SELECT doc_id, source AS actual FROM b WHERE NOT is_train),
         |g AS (
         |  SELECT te.doc_id, te.actual, cd.cand,
         |         CAST(COALESCE(tb.sum_w, 0)
         |              + COALESCE(tb.n_inst, 0) *
         |                ((length(bin(cs.t_all - cd.tot + cs.v)) - 1)
         |                 - (length(bin(cd.tot + cs.v)) - 1))
         |              + (length(bin(cd.n_docs)) - 1)
         |              - (length(bin(nt.n_train - cd.n_docs + 1)) - 1)
         |              AS BIGINT) AS odds
         |  FROM te CROSS JOIN cands cd CROSS JOIN cs CROSS JOIN nt
         |  LEFT JOIN tb ON tb.doc_id = te.doc_id AND tb.cand = cd.cand),
         |r AS (SELECT doc_id, actual, cand, odds,
         |             row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY odds DESC, cand ASC) AS rn
         |      FROM g)
         |SELECT doc_id, actual, cand AS predicted, odds AS odds_best,
         |       cand = actual AS correct
         |FROM r WHERE rn = 1""".stripMargin,

    // trained logistic: the t_linear_classify feature prologue, then
    // per-(doc, f) counts, 2 unrolled full-batch epochs (q20 weights,
    // hard sigmoid, >>10 learning rate, ±8·2^20 clamp — BIGINT +
    // arithmetic shifts only), then the sparse-probe scoring of the
    // held-out slice
    "t_logistic_classify" ->
      s"""WITH b AS MATERIALIZED (
         |  SELECT doc_id, source, $TOKS AS toks,
         |         (${ph("text")} % 1000) < 900 AS is_train
         |  FROM documents),
         |feats AS MATERIALIZED (
         |  SELECT doc_id, source, is_train,
         |         unnest(list_concat(
         |           list_transform(range(1, len(toks) + 1),
         |             i -> ${ph("toks[i]")} % 1048576),
         |           list_transform(range(1, len(toks)),
         |             i -> ${ph("array_to_string(toks[i:i+1], ' ')")} % 1048576))) AS f
         |  FROM b WHERE len(toks) >= 1),
         |fx AS MATERIALIZED (
         |  SELECT doc_id, source, is_train, f,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM feats GROUP BY 1, 2, 3, 4),
         |trd AS (SELECT doc_id, source AS src FROM b WHERE is_train),
         |cands AS (SELECT DISTINCT source AS cand FROM b WHERE is_train),
         |w0 AS (SELECT cand, CAST(NULL AS BIGINT) AS f,
         |              CAST(0 AS BIGINT) AS wq FROM cands WHERE FALSE),
         |bb0 AS (SELECT cand, CAST(0 AS BIGINT) AS bq FROM cands),
         |${logisticEpochSql("0", "1", 10)},
         |${logisticEpochSql("1", "2", 10)},
         |tdp AS (
         |  SELECT x.doc_id, c.cand,
         |         CAST(SUM(x.n * COALESCE(w.wq, 0)) AS BIGINT) AS dw
         |  FROM fx x CROSS JOIN cands c
         |  LEFT JOIN w2 w ON w.cand = c.cand AND w.f = x.f
         |  WHERE NOT x.is_train GROUP BY 1, 2),
         |ted AS (SELECT doc_id, source AS actual FROM b WHERE NOT is_train),
         |scg AS (
         |  SELECT t.doc_id, t.actual, c.cand,
         |         CAST(COALESCE(dp.dw, 0) + bb.bq AS BIGINT) AS odds
         |  FROM ted t CROSS JOIN cands c
         |  LEFT JOIN tdp dp ON dp.doc_id = t.doc_id AND dp.cand = c.cand
         |  JOIN bb2 bb ON bb.cand = c.cand),
         |scr AS (SELECT doc_id, actual, cand, odds,
         |               row_number() OVER (PARTITION BY doc_id
         |                 ORDER BY odds DESC, cand ASC) AS rn
         |        FROM scg)
         |SELECT doc_id, actual, cand AS predicted, odds AS odds_best,
         |       cand = actual AS correct
         |FROM scr WHERE rn = 1""".stripMargin,

    "t_bpe_merges" -> bpeSql(6),
    "t_bpe_segment" -> bpeSegmentSql(6),
    "t_bpe_bytes" -> (bpeByteCtes(6) + s"""
      |SELECT word, n, CAST(len(syms) AS BIGINT) AS n_pieces,
      |       array_to_string(syms, ' ') AS segmented
      |FROM st6""".stripMargin),

    // WordPiece greedy longest-match: the per-position longest-match
    // table resolves set-orientedly (cands × vocab join), and the
    // per-word left-to-right walk is a recursive CTE stepping
    // pos → pos + step(pos) — the oracle twin of the engine's
    // aggregate-HOF walk. Any no-match position fails the whole word
    // to [UNK] (all-or-nothing, pinned both sides).
    "t_wordpiece_segment" ->
      s"""WITH RECURSIVE words AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT unnest($TOKS) AS word FROM documents)
         |  GROUP BY word),
         |freq AS (SELECT word FROM words WHERE n >= 935),
         |chars AS (
         |  SELECT DISTINCT c FROM (
         |    SELECT unnest(list_transform(range(1, length(word) + 1),
         |      i -> substring(word, CAST(i AS INT), 1))) AS c
         |    FROM words)
         |  WHERE c <> 'e'),
         |vocab AS MATERIALIZED (
         |  SELECT DISTINCT piece FROM (
         |    SELECT word AS piece FROM freq
         |    UNION ALL SELECT substring(word, 1, 2) FROM words WHERE length(word) >= 4
         |    UNION ALL SELECT '##' || substring(word, 3) FROM words WHERE length(word) >= 4
         |    UNION ALL SELECT c FROM chars
         |    UNION ALL SELECT '##' || c FROM chars)),
         |cands AS (
         |  SELECT word, CAST(c.p AS BIGINT) AS p, CAST(c.l AS BIGINT) AS l, c.piece
         |  FROM (
         |    SELECT word, unnest(flatten(list_transform(range(0, length(word)), p ->
         |      list_transform(range(1, least(16, length(word) - p) + 1), l ->
         |        struct_pack(p := p, l := l,
         |          piece := (CASE WHEN p > 0 THEN '##' ELSE '' END)
         |                   || substring(word, CAST(p AS INT) + 1, CAST(l AS INT))))))) AS c
         |    FROM words)),
         |steps AS MATERIALIZED (
         |  SELECT c.word, c.p, CAST(MAX(c.l) AS BIGINT) AS step
         |  FROM cands c JOIN vocab v ON v.piece = c.piece
         |  GROUP BY 1, 2),
         |walk AS (
         |  SELECT word, n, CAST(0 AS BIGINT) AS pos,
         |         CAST([] AS VARCHAR[]) AS pieces, true AS ok
         |  FROM words
         |  UNION ALL
         |  SELECT wk.word, wk.n,
         |         CASE WHEN s.step IS NULL THEN CAST(length(wk.word) AS BIGINT)
         |              ELSE wk.pos + s.step END,
         |         CASE WHEN s.step IS NULL THEN wk.pieces
         |              ELSE list_append(wk.pieces,
         |                (CASE WHEN wk.pos > 0 THEN '##' ELSE '' END)
         |                || substring(wk.word, CAST(wk.pos AS INT) + 1, CAST(s.step AS INT)))
         |         END,
         |         s.step IS NOT NULL
         |  FROM walk wk LEFT JOIN steps s ON s.word = wk.word AND s.p = wk.pos
         |  WHERE wk.ok AND wk.pos < length(wk.word))
         |SELECT word, n,
         |       CASE WHEN ok THEN CAST(len(pieces) AS BIGINT)
         |            ELSE CAST(1 AS BIGINT) END AS n_pieces,
         |       CASE WHEN ok THEN array_to_string(pieces, ' ')
         |            ELSE '[UNK]' END AS segmented
         |FROM walk
         |WHERE NOT ok OR pos >= length(word)""".stripMargin,

    // unigram-LM Viterbi VALUE replicated: same corpus-derived scored
    // vocab, 12 unrolled min-relaxation rounds (≥ max word length 8
    // at sf0.01 + 1 — dp_t covers ≤ t−1 pieces — with slack) over the
    // cost·2^20 + pieces encoding
    "t_unigram_segment" -> unigramSql(12),
    "t_unigram_train" -> unigramTrainSql(
      epochs = 2, vocabSize = 64, maxLen = 3, minWords = 2, dpRounds = 10),

    // the whole tokenize→pack DAG replicated: BPE end state → per-word
    // piece counts → per-doc subword totals → the t_pack_sequences
    // packing form over subword lengths
    "pipe_tokenize_pack" ->
      (bpeCtes(6) + s""",
         |pieces AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_pieces FROM st6),
         |perdoc AS (
         |  SELECT doc_id, CAST(SUM(n_pieces) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, unnest($TOKS) AS word FROM documents) tw
         |  JOIN pieces USING (word) GROUP BY 1),
         |t AS (SELECT doc_id, ${ph("CAST(doc_id AS VARCHAR)")} % 8 AS shard, n_tok
         |      FROM perdoc),
         |c AS (SELECT doc_id, shard, n_tok,
         |             CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM t WHERE n_tok > 0),
         |x AS (SELECT doc_id, shard, n_tok, cum,
         |             unnest(range((cum - n_tok) // 256, (cum - 1) // 256 + 1)) AS seq_id
         |      FROM c)
         |SELECT doc_id, shard, seq_id,
         |       least(cum, (seq_id + 1) * 256)
         |         - greatest(cum - n_tok, seq_id * 256) AS toks_in_seq
         |FROM x""".stripMargin),

    // adjacent pairs by zipped parallel unnest; association ratio in
    // HUGEINT floor division ≡ Spark's DECIMAL(38,0) div (both
    // operands positive), PMI-rank-equivalent for a fixed corpus
    "t_pmi_topk" ->
      s"""WITH tk AS (SELECT $TOKS AS t FROM documents),
         |inst AS (
         |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         |         unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w2
         |  FROM tk WHERE len(t) >= 2),
         |big AS (
         |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
         |  FROM inst GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |uni AS (
         |  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY 1)
         |SELECT b.w1, b.w2, b.n_pair, u1.c AS c_w1, u2.c AS c_w2,
         |       CAST(CAST(b.n_pair AS HUGEINT) * 1000000000000 //
         |            (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS assoc_e12
         |FROM big b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
         |ORDER BY assoc_e12 DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    // the naive single-window cumulative form — the Spark side's
    // two-phase bucketed prefix sum is pinned ≡ to it by spec
    "t_vocab_growth" ->
      s"""WITH tk AS (
         |  SELECT source, doc_id, $TOKS AS t FROM documents),
         |inst AS (SELECT source, doc_id, unnest(t) AS tok FROM tk),
         |firsts AS (
         |  SELECT source, fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_toks
         |  FROM (SELECT source, tok, MIN(doc_id) AS fdoc
         |        FROM inst GROUP BY 1, 2)
         |  GROUP BY 1, 2),
         |pd AS (
         |  SELECT tk.source, tk.doc_id, CAST(len(t) AS BIGINT) AS n_toks,
         |         CAST(COALESCE(f.new_toks, 0) AS BIGINT) AS new_toks
         |  FROM tk LEFT JOIN firsts f
         |    ON tk.source = f.source AND tk.doc_id = f.doc_id)
         |SELECT source, doc_id, n_toks, new_toks,
         |       CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_toks,
         |       CAST(SUM(new_toks) OVER w AS BIGINT) AS cum_vocab
         |FROM pd
         |WINDOW w AS (PARTITION BY source ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // whole-bit Zipf regression: HUGEINT cross products ≡ Spark's
    // DECIMAL(38,0), one final double e6-floored; ranks row_number
    // by (freq DESC, hash ASC) on both engines
    "t_zipf_slope" ->
      s"""WITH th AS (
         |  SELECT ${ph("tok")} AS h
         |  FROM (SELECT unnest($TOKS) AS tok FROM documents)),
         |fr AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS freq FROM th GROUP BY h),
         |xy AS (
         |  SELECT CAST(length(bin(CAST(row_number() OVER (
         |           ORDER BY freq DESC, h ASC) AS BIGINT))) - 1 AS BIGINT) AS x,
         |         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
         |  FROM fr),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
         |         CAST(SUM(x) AS BIGINT) AS sum_x,
         |         CAST(SUM(y) AS BIGINT) AS sum_y,
         |         SUM(CAST(x AS HUGEINT) * y) AS sum_xy,
         |         SUM(CAST(x AS HUGEINT) * x) AS sum_xx
         |  FROM xy)
         |SELECT n_vocab, sum_x, sum_y,
         |       CASE WHEN CAST(n_vocab AS HUGEINT) * sum_xx
         |                 - CAST(sum_x AS HUGEINT) * sum_x <> 0
         |            THEN CAST(floor(
         |              CAST(CAST(n_vocab AS HUGEINT) * sum_xy
         |                   - CAST(sum_x AS HUGEINT) * sum_y AS DOUBLE)
         |              * 1000000.0 /
         |              CAST(CAST(n_vocab AS HUGEINT) * sum_xx
         |                   - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE))
         |            AS BIGINT) END AS slope_e6
         |FROM s""".stripMargin,

    // one correctly-rounded IEEE sqrt per SOURCE, then pure integer
    // division; the quota split s·(B div T) + ((B mod T)·s) div T is
    // exactly floor(B·s/T) without the overflowing B·s product
    "t_temp_mix" ->
      s"""WITH t AS (
         |  SELECT source, CAST(COALESCE(SUM(len($TOKS)), 0) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |s AS (SELECT source, n_tokens,
         |             CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_n
         |      FROM t),
         |g AS (SELECT CAST(COALESCE(SUM(sqrt_n), 0) AS BIGINT) AS tot_s FROM s)
         |SELECT source, n_tokens, sqrt_n,
         |       CAST(CASE WHEN tot_s > 0
         |            THEN (sqrt_n * 1000000) // tot_s ELSE 0 END AS BIGINT) AS w_e6,
         |       CAST(CASE WHEN tot_s > 0
         |            THEN sqrt_n * (100000 // tot_s)
         |                 + ((100000 % tot_s) * sqrt_n) // tot_s
         |            ELSE 0 END AS BIGINT) AS quota_tokens
         |FROM s, g""".stripMargin,

    // signed-contribution trick: a (src, tok) count row contributes
    // +cnt·N_b under the pair's left source and −cnt·N_a under the
    // right, so the per-(pair, tok) SUM is c_at·N_b − c_bt·N_a with
    // missing-in-one-source handled without a full outer join;
    // DECIMAL(38,0) cross products, one final double (Spark twin:
    // TextOps.sourceTvd)
    "t_source_tvd" ->
      s"""WITH c AS (
         |  SELECT src, tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT source AS src, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |t AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY src),
         |p AS (SELECT a.src AS source_a, a.n AS n_a,
         |             b.src AS source_b, b.n AS n_b
         |      FROM t a JOIN t b ON a.src < b.src),
         |sgn AS (
         |  SELECT source_a, source_b, n_a, n_b, tok,
         |         SUM(CASE WHEN c.src = source_a
         |                  THEN CAST(cnt AS DECIMAL(38,0)) * n_b
         |                  ELSE -CAST(cnt AS DECIMAL(38,0)) * n_a END) AS sgn
         |  FROM p JOIN c ON c.src = source_a OR c.src = source_b
         |  GROUP BY 1, 2, 3, 4, 5),
         |s AS (SELECT source_a, source_b, n_a, n_b,
         |             CAST(SUM(ABS(sgn)) AS DECIMAL(38,0)) AS s
         |      FROM sgn GROUP BY 1, 2, 3, 4)
         |SELECT source_a, source_b, n_a, n_b,
         |       CAST(FLOOR(CAST(s AS DOUBLE) * 1e6 /
         |            (2.0 * n_a * n_b)) AS BIGINT) AS tvd_e6
         |FROM s""".stripMargin,

    "t_chunks" ->
      s"""SELECT doc_id,
         |       CAST(off AS BIGINT) AS off,
         |       CAST(off // 48 AS BIGINT) AS chunk_idx,
         |       CAST(length(substring(text, off + 1, 64)) AS BIGINT) AS chunk_len,
         |       ${ph("substring(text, off + 1, 64)")} AS chunk_hash
         |FROM (SELECT doc_id, text, unnest(range(0, length(text), 48)) AS off
         |      FROM documents WHERE length(text) > 0)""".stripMargin,

    "t_tfidf_top3" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT doc_id, tok, tf, score_e3, rn FROM (
         |  SELECT tf.doc_id, tf.tok, tf.tf,
         |         CAST((tf.tf * 1000 * n.n_docs) // dfq.df AS BIGINT) AS score_e3,
         |         CAST(row_number() OVER (
         |           PARTITION BY tf.doc_id
         |           ORDER BY (tf.tf * 1000 * n.n_docs) // dfq.df DESC, tf.tok ASC)
         |           AS BIGINT) AS rn
         |  FROM tf JOIN dfq ON tf.tok = dfq.tok CROSS JOIN n)
         |WHERE rn <= 3""".stripMargin,

    "t_token_gini" ->
      s"""WITH cnt AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |g AS (
         |  SELECT doc_id,
         |         CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |         CAST(SUM(c*c) AS BIGINT) AS ss
         |  FROM cnt GROUP BY doc_id)
         |SELECT d.doc_id,
         |       COALESCE(n_tokens, 0) AS n_tokens,
         |       COALESCE(n_distinct, 0) AS n_distinct,
         |       COALESCE(CAST((1000000 * (n_tokens*n_tokens - ss))
         |           // (n_tokens*n_tokens) AS BIGINT), 0) AS gini_e6
         |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id""".stripMargin,

    "t_mix_plan" ->
      s"""WITH have AS (
         |  SELECT source, CAST(SUM(len($TOKS)) AS BIGINT) AS have_tok
         |  FROM documents GROUP BY source),
         |j AS (
         |  SELECT h.source, h.have_tok, CAST(t.tp AS BIGINT) AS target_permille
         |  FROM have h
         |  JOIN (VALUES ('src0', 300), ('src1', 500), ('src2', 200)) t(source, tp)
         |    ON h.source = t.source),
         |b AS (SELECT MIN((have_tok * 1000) // target_permille) AS budget FROM j)
         |SELECT source, have_tok, target_permille,
         |       CAST((b.budget * target_permille) // 1000 AS BIGINT) AS take_tok,
         |       CAST(least(1000, ((b.budget * target_permille) // 1000) * 1000
         |                        // have_tok) AS BIGINT) AS rate_e3
         |FROM j CROSS JOIN b""".stripMargin,

    "t_oov_rate" ->
      s"""WITH vt AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS n
         |    FROM (SELECT unnest($TOKS) AS tok FROM documents)
         |    GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20)),
         |v AS (SELECT list(tok) AS vl FROM vt)
         |SELECT doc_id,
         |       CAST(len($TOKS) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter($TOKS, t -> NOT list_contains(v.vl, t)))
         |         AS BIGINT) AS n_oov,
         |       CAST(CASE WHEN len($TOKS) > 0
         |         THEN floor(len(list_filter($TOKS, t -> NOT list_contains(v.vl, t)))
         |                    * 1000 / len($TOKS))
         |         ELSE 0 END AS BIGINT) AS oov_e3
         |FROM documents CROSS JOIN v""".stripMargin,

    // BM25 with the pinned rational idf surrogate — every step integer
    // (// is floor division, but all operands are non-negative so it
    // matches Spark's truncating div exactly)
    "t_bm25_topk" ->
      s"""WITH pd AS (
         |  SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS dl,
         |         CAST(len(list_filter($TOKS, t -> t = 'vector')) AS BIGINT) AS tf_0,
         |         CAST(len(list_filter($TOKS, t -> t = 'stream')) AS BIGINT) AS tf_1,
         |         CAST(len(list_filter($TOKS, t -> t = 'spark')) AS BIGINT) AS tf_2
         |  FROM documents),
         |c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(dl) AS BIGINT) AS tot_tok,
         |         CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
         |         CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
         |         CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
         |  FROM pd),
         |s AS (
         |  SELECT doc_id,
         |    CAST(
         |      (CASE WHEN tf_0 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_0 + 1)) // (2*df_0 + 1) * tf_0 * 2200)
         |          // (tf_0*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |       ELSE 0 END) +
         |      (CASE WHEN tf_1 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_1 + 1)) // (2*df_1 + 1) * tf_1 * 2200)
         |          // (tf_1*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |       ELSE 0 END) +
         |      (CASE WHEN tf_2 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_2 + 1)) // (2*df_2 + 1) * tf_2 * 2200)
         |          // (tf_2*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |       ELSE 0 END) AS BIGINT) AS score_e3
         |  FROM pd CROSS JOIN c)
         |SELECT doc_id, score_e3,
         |       CAST(row_number() OVER (ORDER BY score_e3 DESC, doc_id ASC)
         |         AS BIGINT) AS "rank"
         |FROM s ORDER BY score_e3 DESC, doc_id ASC LIMIT 20""".stripMargin,

    // query-set BM25: same rational-idf/length-norm pinned arithmetic,
    // formulated as the (query_id, term) join — hits restricted to the
    // query vocabulary, df from the hits, top-20 per query_id
    "t_bm25_multiquery" ->
      s"""WITH q(query_id, term) AS (VALUES
         |    (1, 'vector'), (1, 'stream'),
         |    (2, 'spark'), (2, 'data'),
         |    (3, 'query')),
         |pd AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS dl
         |       FROM documents),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(dl) AS BIGINT) AS tot_tok FROM pd),
         |hits AS (
         |  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, tok),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM hits GROUP BY term),
         |sc AS (
         |  SELECT h.doc_id, h.term,
         |    ((1000*(2*n_docs - 2*df + 1)) // (2*df + 1) * tf * 2200)
         |      // (tf*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |      AS s
         |  FROM hits h JOIN dfs USING (term) JOIN pd USING (doc_id)
         |       CROSS JOIN c),
         |qs AS (
         |  SELECT q.query_id, sc.doc_id, CAST(SUM(sc.s) AS BIGINT) AS score_e3
         |  FROM q JOIN sc ON q.term = sc.term
         |  GROUP BY q.query_id, sc.doc_id),
         |r AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_e3,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |               ORDER BY score_e3 DESC, doc_id ASC) AS BIGINT) AS "rank"
         |      FROM qs)
         |SELECT query_id, doc_id, score_e3, "rank" FROM r
         |WHERE "rank" <= 20""".stripMargin,

    // hard negatives: the t_bm25_multiquery scoring CTEs with the
    // query term sets drawn from the ~1% hash-slice docs' own distinct
    // tokens; pool rank <= 20, self + same-source dropped, survivors
    // re-ranked top-5
    "q_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT doc_id AS query_id, unnest(list_distinct($TOKS)) AS term
         |  FROM documents WHERE doc_id % 97 = 0),
         |pd AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS dl
         |       FROM documents),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(dl) AS BIGINT) AS tot_tok FROM pd),
         |hits AS (
         |  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  WHERE tok IN (SELECT DISTINCT term FROM q)
         |  GROUP BY doc_id, tok),
         |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM hits GROUP BY term),
         |sc AS (
         |  SELECT h.doc_id, h.term,
         |    ((1000*(2*n_docs - 2*df + 1)) // (2*df + 1) * tf * 2200)
         |      // (tf*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |      AS s
         |  FROM hits h JOIN dfs USING (term) JOIN pd USING (doc_id)
         |       CROSS JOIN c),
         |qs AS (
         |  SELECT q.query_id, sc.doc_id, CAST(SUM(sc.s) AS BIGINT) AS score_e3
         |  FROM q JOIN sc ON q.term = sc.term
         |  GROUP BY q.query_id, sc.doc_id),
         |pool AS (
         |  SELECT query_id, doc_id, score_e3,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY score_e3 DESC, doc_id ASC) AS rn
         |  FROM qs),
         |filt AS (
         |  SELECT p.query_id, p.doc_id, p.score_e3
         |  FROM pool p
         |  JOIN documents a ON a.doc_id = p.query_id
         |  JOIN documents b ON b.doc_id = p.doc_id
         |  WHERE p.rn <= 20 AND p.doc_id <> p.query_id
         |    AND a.source <> b.source),
         |r AS (
         |  SELECT query_id, doc_id, score_e3,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY score_e3 DESC, doc_id ASC) AS BIGINT) AS "rank"
         |  FROM filt)
         |SELECT query_id, doc_id, score_e3, "rank" FROM r
         |WHERE "rank" <= 5""".stripMargin,

    // the Gopher repetition table (two-endpoint variant): one instance CTE per n
    // (top grams by max count*chars; dup grams by within-doc count>=2
    // with overlap-deduped position coverage), char base = word chars
    "t_gopher_ngram_rep" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(COALESCE(list_sum(list_transform(toks,
         |           x -> length(x))), 0) AS BIGINT) AS char_base
         |  FROM t),
         |inst AS (
         |  SELECT doc_id, n, pos,
         |         ${ph("array_to_string(toks[pos+1:pos+n], ' ')")} AS h,
         |         CAST(list_sum(list_transform(toks[pos+1:pos+n],
         |           x -> length(x))) AS BIGINT) AS clen
         |  FROM t,
         |       UNNEST([CAST(2 AS BIGINT), 3, 4, 5, 10]) AS tn(n),
         |       UNNEST(range(0, len(toks) - n + 1)) AS tp(pos)),
         |cnt AS (
         |  SELECT doc_id, n, h, CAST(COUNT(*) AS BIGINT) AS c,
         |         MAX(clen) AS clen
         |  FROM inst GROUP BY 1, 2, 3),
         |tops AS (
         |  SELECT doc_id, n, CAST(MAX(c * clen) AS BIGINT) AS cov
         |  FROM cnt WHERE n IN (2, 3, 4) GROUP BY 1, 2),
         |dh AS (SELECT doc_id, n, h FROM cnt
         |       WHERE n IN (5, 10) AND c >= 2),
         |dp AS (
         |  SELECT DISTINCT i.doc_id, i.n, pp AS p
         |  FROM inst i
         |  JOIN dh ON dh.doc_id = i.doc_id AND dh.n = i.n AND dh.h = i.h,
         |       UNNEST(range(i.pos, i.pos + i.n)) AS u(pp)),
         |lens AS (
         |  SELECT doc_id,
         |         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS p,
         |         CAST(length(unnest(toks)) AS BIGINT) AS len
         |  FROM t),
         |dcov AS (
         |  SELECT dp.doc_id, dp.n, CAST(SUM(len) AS BIGINT) AS cov
         |  FROM dp JOIN lens ON lens.doc_id = dp.doc_id AND lens.p = dp.p
         |  GROUP BY 1, 2),
         |wide AS (
         |  SELECT doc_id,
         |         MAX(CASE WHEN n = 2 THEN cov END) AS cov2,
         |         MAX(CASE WHEN n = 3 THEN cov END) AS cov3,
         |         MAX(CASE WHEN n = 4 THEN cov END) AS cov4,
         |         MAX(CASE WHEN n = 5 THEN cov END) AS covd1,
         |         MAX(CASE WHEN n = 10 THEN cov END) AS covd2
         |  FROM (SELECT * FROM tops UNION ALL SELECT * FROM dcov)
         |  GROUP BY doc_id),
         |e AS (
         |  SELECT b.doc_id, b.n_tokens,
         |    CAST(CASE WHEN char_base > 0
         |      THEN floor(COALESCE(cov2, 0)*1000/char_base) ELSE 0 END
         |      AS BIGINT) AS top2_chars_e3,
         |    CAST(CASE WHEN char_base > 0
         |      THEN floor(COALESCE(cov3, 0)*1000/char_base) ELSE 0 END
         |      AS BIGINT) AS top3_chars_e3,
         |    CAST(CASE WHEN char_base > 0
         |      THEN floor(COALESCE(cov4, 0)*1000/char_base) ELSE 0 END
         |      AS BIGINT) AS top4_chars_e3,
         |    CAST(CASE WHEN char_base > 0
         |      THEN floor(COALESCE(covd1, 0)*1000/char_base) ELSE 0 END
         |      AS BIGINT) AS dup5_chars_e3,
         |    CAST(CASE WHEN char_base > 0
         |      THEN floor(COALESCE(covd2, 0)*1000/char_base) ELSE 0 END
         |      AS BIGINT) AS dup10_chars_e3
         |  FROM base b LEFT JOIN wide w ON w.doc_id = b.doc_id)
         |SELECT doc_id, n_tokens, top2_chars_e3, top3_chars_e3,
         |       top4_chars_e3, dup5_chars_e3, dup10_chars_e3,
         |       (top2_chars_e3 <= 200 AND top3_chars_e3 <= 180
         |        AND top4_chars_e3 <= 160 AND dup5_chars_e3 <= 150
         |        AND dup10_chars_e3 <= 100) AS keep
         |FROM e""".stripMargin,

    "t_repetition" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t),
         |bi AS (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(range(1, len(toks)),
         |           i -> ${ph("array_to_string(toks[i:i+1], ' ')")})
         |      ELSE [] END) AS sh
         |    FROM t) GROUP BY doc_id, sh),
         |bia AS (SELECT doc_id, max(c) AS max_c, CAST(sum(c) AS BIGINT) AS n_bi
         |        FROM bi GROUP BY doc_id)
         |SELECT b.doc_id, n_tokens,
         |       CAST(CASE WHEN n_tokens > 0
         |            THEN floor((n_tokens - n_distinct)*1000/n_tokens)
         |            ELSE 0 END AS BIGINT) AS dup_token_ratio_e3,
         |       CAST(CASE WHEN n_bi IS NOT NULL AND n_bi > 0
         |            THEN floor(max_c*1000/n_bi)
         |            ELSE 0 END AS BIGINT) AS top_bigram_ratio_e3
         |FROM base b LEFT JOIN bia USING (doc_id)""".stripMargin,

    "t_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
         |inst AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)), i -> ${ph("toks[i]")})) AS w1h,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> ${ph("array_to_string(toks[i:i+1], ' ')")})) AS bh
         |  FROM t WHERE len(toks) >= 2),
         |ic AS (SELECT doc_id, w1h, bh, count(*) AS n FROM inst GROUP BY 1, 2, 3),
         |uni AS (SELECT w1h, CAST(length(bin(count(*))) - 1 AS BIGINT) AS lu
         |        FROM inst GROUP BY w1h),
         |big AS (SELECT bh, CAST(length(bin(count(*))) - 1 AS BIGINT) AS lb
         |        FROM inst GROUP BY bh),
         |pd AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |         CAST(sum(n * (lu - lb)) AS BIGINT) AS bits_total
         |  FROM ic JOIN big USING (bh) JOIN uni USING (w1h)
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(COALESCE(bits_total, 0) AS BIGINT) AS bits_total,
         |       CAST(CASE WHEN n_bigrams > 0
         |            THEN floor(bits_total*1000/n_bigrams) ELSE 0 END AS BIGINT)
         |         AS bits_per_bigram_e3,
         |       (n_bigrams IS NOT NULL AND n_bigrams > 0
         |        AND floor(bits_total*1000/n_bigrams) <= 4600) AS keep
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)""".stripMargin,

    // the trigram instance frame with all five hash roles; counts over
    // the 900-permille train slice; stupid backoff bits with the
    // whole-bit convention (backoff level = +1 bit each)
    "t_trigram_lm" ->
      s"""WITH $TRIGRAM_LM_CTES
         |SELECT doc_id, n_trigrams, n_backoff, bits_total,
         |       bits_per_trigram_e3, keep
         |FROM lm_scored""".stripMargin,

    // CCNet terciles over the shared trigram-LM chain: histogram of
    // score VALUES -> cumulative -> value thresholds t1/t2 -> CASE
    "t_ppl_buckets" ->
      s"""WITH $TRIGRAM_LM_CTES,
         |hist AS (SELECT bits_per_trigram_e3 AS s,
         |                CAST(count(*) AS BIGINT) AS c
         |         FROM lm_scored WHERE n_trigrams > 0 GROUP BY 1),
         |cum AS (SELECT s, sum(c) OVER (ORDER BY s ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |        FROM hist),
         |tot AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n FROM hist),
         |th AS (SELECT min(CASE WHEN cum*3 >= n THEN s END) AS t1,
         |              min(CASE WHEN cum*3 >= 2*n THEN s END) AS t2
         |       FROM cum CROSS JOIN tot)
         |SELECT doc_id, n_trigrams, bits_per_trigram_e3,
         |       CASE WHEN n_trigrams = 0 THEN 'tail'
         |            WHEN bits_per_trigram_e3 <= t1 THEN 'head'
         |            WHEN bits_per_trigram_e3 <= t2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM lm_scored CROSS JOIN th""".stripMargin,

    // the whole front-door chain in SQL, each stage the SHARED
    // fragment of its own oracle: URL gate FIRST (gated-out docs must
    // not consume keep-first slots), then htmlFixtureSql/htmlStripSql,
    // then lineDedupSql over the stripped survivors, then the
    // domain-keyed quota window
    "pipe_web_curation" ->
      s"""WITH $URLPARSED,
         |gdocs AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN urlparsed u
         |    ON u.doc_id = d.doc_id AND len(u.scheme) > 0),
         |${htmlFixtureSql("gdocs", "hfx")},
         |${htmlStripSql("hfx", "hkp", "1")},
         |ext AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(kept, chr(10)) AS text
         |  FROM hkp WHERE len(kept) > 0),
         |${lineDedupSql("ext", "ldout", "1")},
         |adm AS (
         |  SELECT r.doc_id, u.reg_domain, r.retained_text AS text
         |  FROM ldout r JOIN urlparsed u ON u.doc_id = r.doc_id
         |  WHERE len(r.retained_text) > 0)
         |SELECT doc_id, reg_domain, rn FROM (
         |  SELECT doc_id, reg_domain,
         |         CAST(row_number() OVER (
         |           PARTITION BY reg_domain
         |           ORDER BY ${ph("text")} ASC, doc_id ASC) AS BIGINT) AS rn
         |  FROM adm)
         |WHERE rn <= 25""".stripMargin,

    "t_dsir_weights" -> s"$DSIR_CTES\n$DSIR_SELECT",

    "t_dsir_pr_curve" ->
      s"""$DSIR_CTES,
         |wts AS ($DSIR_SELECT),
         |per AS (
         |  SELECT weight_bits AS threshold_bits,
         |         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |         CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS n_f
         |  FROM wts GROUP BY 1),
         |c AS (
         |  SELECT threshold_bits,
         |         CAST(SUM(n_t) OVER (ORDER BY threshold_bits DESC
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |         CAST(SUM(n_f) OVER (ORDER BY threshold_bits DESC
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
         |         CAST(SUM(n_t) OVER () AS BIGINT) AS n_targets
         |  FROM per)
         |SELECT threshold_bits, tp, fp, n_targets - tp AS fn,
         |       tp * 1000000 // (tp + fp) AS precision_e6,
         |       CASE WHEN n_targets > 0 THEN tp * 1000000 // n_targets
         |            ELSE 0 END AS recall_e6
         |FROM c""".stripMargin,

    "t_dsir_sample" ->
      s"""$DSIR_CTES
         |SELECT * FROM ($DSIR_SELECT)
         |ORDER BY weight_bits DESC, doc_id ASC LIMIT 100""".stripMargin,

    "d_contamination" ->
      s"""WITH $SHINGLES,
         |p AS (SELECT doc_id AS probe_id, sh FROM sh WHERE doc_id % 50 = 0)
         |SELECT s.doc_id, p.probe_id, count(*) AS n_shared
         |FROM sh s JOIN p ON s.sh = p.sh AND s.doc_id <> p.probe_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "d_source_overlap" ->
      s"""WITH s0 AS (
         |  SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(
         |      CASE WHEN len($TOKS) >= 3
         |      THEN list_transform(range(1, len($TOKS) - 1),
         |           i -> ${ph(s"array_to_string(($TOKS)[i:i+2], ' ')")})
         |      ELSE [] END) AS sh
         |    FROM documents)),
         |kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS c FROM s0 GROUP BY sh)
         |         WHERE c <= 10),
         |sc AS (SELECT s0.source, s0.sh FROM s0 JOIN kept USING (sh)),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nsh FROM sc GROUP BY source),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
         |  FROM sc a JOIN sc b ON a.sh = b.sh AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared,
         |       za.nsh AS n_a, zb.nsh AS n_b,
         |       CAST((1000 * n_shared) // least(za.nsh, zb.nsh) AS BIGINT) AS overlap_e3
         |FROM p
         |JOIN sz za ON za.source = p.source_a
         |JOIN sz zb ON zb.source = p.source_b""".stripMargin,

    "e_pivot_types" ->
      """SELECT user_id,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
        |       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,

    "d_exact_dedup" ->
      """SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents GROUP BY text""".stripMargin,

    "d_shingle_sets" ->
      s"""WITH $SHINGLES
         |SELECT doc_id, sh FROM sh""".stripMargin,

    // the keep-first line rank in SQL (shared lineDedupSql fragment —
    // pipe_web_curation chains the same one over stripped text)
    "d_line_dedup" ->
      s"""WITH fx AS (
         |  SELECT doc_id,
         |         'Subscribe to the ' || source || ' newsletter today' || chr(10) ||
         |         text || chr(10) ||
         |         'Copyright 2024 all rights reserved worldwide' AS text
         |  FROM documents),
         |${lineDedupSql("fx", "out", "0")}
         |SELECT doc_id, n_lines, n_dropped, retained_text FROM out""".stripMargin,

    "d_incremental" ->
      """WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |corp AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0)
        |SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM inc
        |WHERE text NOT IN (SELECT text FROM corp)
        |GROUP BY text""".stripMargin,

    "t_length_quartiles" ->
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(floor(quantile_cont(n_chars, 0.25)*100 + 0.5) AS BIGINT) AS p25_e2,
        |       CAST(floor(quantile_cont(n_chars, 0.5)*100 + 0.5) AS BIGINT) AS p50_e2,
        |       CAST(floor(quantile_cont(n_chars, 0.75)*100 + 0.5) AS BIGINT) AS p75_e2
        |FROM documents GROUP BY source""".stripMargin,

    "d_dup_spans" ->
      s"""WITH ${shinglesSql(8)},
         |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       CAST(floor(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)*1000
         |            / count(*)) AS BIGINT) AS dup_frac_e3
         |FROM sh JOIN dfq USING (sh)
         |GROUP BY doc_id""".stripMargin,

    "d_span_removal" ->
      s"""WITH t AS (
         |  SELECT doc_id, $TOKS AS toks FROM documents WHERE len($TOKS) > 0),
         |i AS (
         |  SELECT doc_id, toks,
         |         unnest(range(0, (len(toks)-1)//8 + 1)) AS idx FROM t),
         |b AS (
         |  SELECT doc_id, idx,
         |         array_to_string(toks[idx*8+1 : idx*8+8], ' ') AS block FROM i),
         |hb AS (SELECT doc_id, idx, block, ${ph("block")} AS bh FROM b),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks
         |        FROM hb GROUP BY 1),
         |kept AS (
         |  SELECT doc_id, idx, block FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY bh ORDER BY doc_id, idx) AS rn FROM hb)
         |  WHERE rn = 1),
         |ka AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         string_agg(block, ' ' ORDER BY idx) AS retained_text
         |  FROM kept GROUP BY 1)
         |SELECT tot.doc_id, tot.n_blocks,
         |       COALESCE(ka.n_kept, 0) AS n_kept,
         |       COALESCE(ka.retained_text, '') AS retained_text
         |FROM tot LEFT JOIN ka USING (doc_id)""".stripMargin,

    "d_exact_span_cov" ->
      s"""WITH $EXACT_SPAN_ISLANDS
         |SELECT tot.doc_id, tot.n_tokens,
         |       CAST(COALESCE(dup.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |       CAST(CASE WHEN tot.n_tokens > 0
         |            THEN floor(COALESCE(dup.n_dup_tokens, 0)*1000 / tot.n_tokens)
         |            ELSE 0 END AS BIGINT) AS dup_frac_e3
         |FROM tot LEFT JOIN (
         |  SELECT doc_id, CAST(SUM(wend - wstart + 1) AS BIGINT) AS n_dup_tokens
         |  FROM iv GROUP BY 1) dup USING (doc_id)""".stripMargin,

    "d_exact_span_contam" ->
      s"""WITH $EXACT_SPAN_WIN,
         |pw AS (SELECT DISTINCT doc_id AS probe_id, wh FROM win
         |       WHERE doc_id % 50 = 0),
         |hits AS (
         |  SELECT DISTINCT w.doc_id, p.probe_id, w.widx
         |  FROM win w JOIN pw p ON p.wh = w.wh),
         |runs AS (
         |  SELECT doc_id, probe_id,
         |         widx - row_number() OVER (
         |           PARTITION BY doc_id, probe_id ORDER BY widx) AS grp
         |  FROM hits),
         |rl AS (SELECT doc_id, probe_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
         |       FROM runs GROUP BY 1, 2, 3)
         |SELECT doc_id, probe_id,
         |       CAST(SUM(run_len) AS BIGINT) AS n_shared_windows,
         |       CAST(MAX(run_len) + 15 AS BIGINT) AS longest_span_tokens
         |FROM rl GROUP BY 1, 2
         |HAVING SUM(run_len) >= 2""".stripMargin,

    "d_exact_span_scrub" ->
      s"""WITH $EXACT_SPAN_ISLANDS,
         |pos AS (SELECT doc_id, unnest(range(wstart, wend + 1)) AS pos FROM iv),
         |tk AS (SELECT doc_id, unnest($TOKS) AS tok,
         |              generate_subscripts($TOKS, 1) - 1 AS pos
         |       FROM documents),
         |keep AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM tk t
         |  LEFT JOIN pos p ON p.doc_id = t.doc_id AND p.pos = t.pos
         |  WHERE p.doc_id IS NULL),
         |ka AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY pos) AS retained_text
         |  FROM keep GROUP BY 1)
         |SELECT tot.doc_id, tot.n_tokens,
         |       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
         |       COALESCE(ka.retained_text, '') AS retained_text
         |FROM tot LEFT JOIN ka USING (doc_id)""".stripMargin,

    "d_edit_pairs" ->
      """WITH k AS (
        |  SELECT c_custkey AS id, c_name AS s,
        |         substring(c_name, 10, 7) AS blk FROM customer),
        |ok AS (SELECT blk FROM k GROUP BY blk HAVING COUNT(*) <= 10000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM k a JOIN ok USING (blk) JOIN k b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin,

    "d_hamming_pairs" ->
      """WITH k AS (
        |  SELECT c_custkey AS id, c_name AS s, length(c_name) AS len
        |  FROM customer),
        |cls AS (
        |  SELECT id, s, len, r,
        |         array_to_string(list_transform(
        |           list_filter(range(1, len+1), i -> i % 2 = r),
        |           i -> s[i:i]), '') AS v
        |  FROM k CROSS JOIN (SELECT unnest(range(0, 2)) AS r)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |  FROM cls a JOIN cls b
        |    ON a.len = b.len AND a.r = b.r AND a.v = b.v AND a.id < b.id)
        |SELECT id_a, id_b,
        |       CAST(len(list_filter(range(1, length(s_a)+1),
        |            i -> s_a[i:i] != s_b[i:i])) AS BIGINT) AS n_subs
        |FROM cand
        |WHERE len(list_filter(range(1, length(s_a)+1),
        |      i -> s_a[i:i] != s_b[i:i])) <= 1""".stripMargin,

    "d_ngram_jaccard" ->
      s"""WITH $SHINGLES,
         |capped AS (
         |  SELECT doc_id, sh FROM sh
         |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 50)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |$JACCARD_TAIL""".stripMargin,

    // same capped candidate generator + exact full-set intersection as
    // d_ngram_jaccard; per-side normalization instead of the union
    "d_containment" ->
      s"""WITH $SHINGLES,
         |capped AS (
         |  SELECT doc_id, sh FROM sh
         |  WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 50)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM cands c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b, n_inter,
         |       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
         |       CAST(floor(n_inter*1000/sa.n_sh) AS BIGINT) AS cont_a_e3,
         |       CAST(floor(n_inter*1000/sb.n_sh) AS BIGINT) AS cont_b_e3
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE greatest(floor(n_inter*1000/sa.n_sh),
         |               floor(n_inter*1000/sb.n_sh)) >= 800""".stripMargin,

    "d_minhash_sigs" ->
      s"""WITH $MINHASH
         |SELECT doc_id, j, mh FROM mh""".stripMargin,

    "d_minhash_lsh" ->
      s"""WITH $MINHASH,
         |banded AS (
         |  SELECT doc_id, j // 2 AS band,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), list(mh ORDER BY j)),
         |                     (a, b) -> (a*31 + b % 1000000007) % 1000000007) AS band_sig
         |  FROM mh GROUP BY doc_id, band),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id),
         |$JACCARD_TAIL""".stripMargin,

    // identical banding to d_minhash_lsh, restricted to pairs touching
    // the new batch — MinHash of a doc is ingest-invariant, so the
    // full-corpus twin is the incremental operator's oracle
    "d_incr_near_dup" ->
      s"""WITH $MINHASH,
         |banded AS (
         |  SELECT doc_id, j // 2 AS band,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), list(mh ORDER BY j)),
         |                     (a, b) -> (a*31 + b % 1000000007) % 1000000007) AS band_sig
         |  FROM mh GROUP BY doc_id, band),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
         |  WHERE l.doc_id % 5 = 0 OR r.doc_id % 5 = 0),
         |$JACCARD_TAIL""".stripMargin,

    "d_simhash_sigs" ->
      s"""WITH $SIMHASH
         |SELECT doc_id, simhash FROM sig""".stripMargin,

    "d_simhash_pairs" ->
      s"""WITH $SIMHASH,
         |banded AS (
         |  SELECT doc_id, band, (simhash >> (band*16)) & 65535 AS band_val
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |FROM cands
         |JOIN sig sa ON sa.doc_id = doc_a
         |JOIN sig sb ON sb.doc_id = doc_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin,

    // capped variant: per-(band, band_val) occupancy sizes drive the
    // same portable doc_id sub-split hash as sim_near_dup_capped; the
    // exact floor groups on the full 64-bit signature itself (no hash
    // proxy needed — the signature IS the compact key), star pairs to
    // the group minimum with hamming 0 by construction
    "d_simhash_pairs_capped" ->
      s"""WITH $SIMHASH,
         |$SIMHASH_CAPPED_CPAIRS
         |SELECT doc_a, doc_b, hamming FROM cpairs""".stripMargin,

    // the scale-path cluster composition: occupancy-capped candidates
    // (50x fewer sf1 edges than the uncapped band join) feeding the
    // same recursive-reach CC twin
    "d_dedup_clusters_capped" ->
      s"""WITH RECURSIVE $SIMHASH,
         |$SIMHASH_CAPPED_CPAIRS,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
         |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v)
         |SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |FROM reach GROUP BY a""".stripMargin,

    // the large-star/small-star algorithm computes the SAME components
    // over the same capped pair graph — identical twin by construction
    "d_star_clusters" ->
      s"""WITH RECURSIVE $SIMHASH,
         |$SIMHASH_CAPPED_CPAIRS,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
         |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v)
         |SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |FROM reach GROUP BY a""".stripMargin,

    "pipe_leakage_split_capped" ->
      s"""WITH RECURSIVE $SIMHASH,
         |$SIMHASH_CAPPED_CPAIRS,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
         |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
         |comp AS (SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |         FROM reach GROUP BY a),
         |bkt AS (
         |  SELECT doc_id, component_id,
         |         CAST(${ph("CAST(component_id AS VARCHAR)")} % 1000 AS BIGINT)
         |           AS bucket
         |  FROM comp)
         |SELECT doc_id, component_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM bkt""".stripMargin,

    "g_pagerank" ->
      s"""WITH $MERGED,
         |verts AS (SELECT src AS person_id FROM merged
         |          UNION SELECT dst FROM merged),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
         |        FROM merged GROUP BY src),
         |pr0 AS (SELECT person_id, CAST(1000000000 AS BIGINT) AS pr FROM verts),
         |it1 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN pr0 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id),
         |it2 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN it1 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id),
         |it3 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN it2 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id)
         |SELECT person_id, pr AS pr_e9 FROM it3""".stripMargin,

    // personalized variant: seeds get the start mass and the teleport
    // term; everything else identical to g_pagerank's unrolled form
    "g_ppr" ->
      s"""WITH $MERGED,
         |verts AS (SELECT src AS person_id FROM merged
         |          UNION SELECT dst FROM merged),
         |vs AS (SELECT person_id,
         |              (${ph("person_id")} % 20 = 0) AS is_seed
         |       FROM verts),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
         |        FROM merged GROUP BY src),
         |pr0 AS (SELECT person_id,
         |               CAST(CASE WHEN is_seed THEN 1000000000 ELSE 0 END AS BIGINT) AS pr
         |        FROM vs),
         |it1 AS (
         |  SELECT v.person_id, v.is_seed,
         |         CAST((CASE WHEN v.is_seed THEN 150000000 ELSE 0 END)
         |              + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM vs v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN pr0 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id),
         |it2 AS (
         |  SELECT v.person_id, v.is_seed,
         |         CAST((CASE WHEN v.is_seed THEN 150000000 ELSE 0 END)
         |              + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM it1 v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN it1 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id),
         |it3 AS (
         |  SELECT v.person_id, v.is_seed,
         |         CAST((CASE WHEN v.is_seed THEN 150000000 ELSE 0 END)
         |              + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM it2 v LEFT JOIN (
         |    SELECT m.dst AS person_id, SUM(p.pr // d.out_deg) AS s
         |    FROM merged m JOIN it2 p ON m.src = p.person_id
         |                  JOIN deg d ON m.src = d.src
         |    GROUP BY m.dst) i ON v.person_id = i.person_id)
         |SELECT person_id, pr AS pr_e9 FROM it3""".stripMargin,

    "g_pagerank_weighted" ->
      s"""WITH $MERGED,
         |verts AS (SELECT src AS person_id FROM merged
         |          UNION SELECT dst FROM merged),
         |tw AS (SELECT src,
         |              CAST(SUM(CAST(floor(score*100 + 0.5) AS BIGINT)) AS BIGINT) AS tot_w
         |       FROM merged GROUP BY src),
         |ed AS (SELECT m.src, m.dst,
         |              (CAST(floor(m.score*100 + 0.5) AS BIGINT) * 1000) // t.tot_w AS wn
         |       FROM merged m JOIN tw t ON m.src = t.src WHERE t.tot_w > 0),
         |pr0 AS (SELECT person_id, CAST(1000000000 AS BIGINT) AS pr FROM verts),
         |it1 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS person_id, SUM((p.pr * e.wn) // 1000) AS s
         |    FROM ed e JOIN pr0 p ON e.src = p.person_id
         |    GROUP BY e.dst) i ON v.person_id = i.person_id),
         |it2 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS person_id, SUM((p.pr * e.wn) // 1000) AS s
         |    FROM ed e JOIN it1 p ON e.src = p.person_id
         |    GROUP BY e.dst) i ON v.person_id = i.person_id),
         |it3 AS (
         |  SELECT v.person_id,
         |         CAST(150000000 + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS person_id, SUM((p.pr * e.wn) // 1000) AS s
         |    FROM ed e JOIN it2 p ON e.src = p.person_id
         |    GROUP BY e.dst) i ON v.person_id = i.person_id)
         |SELECT person_id, pr AS pr_e9 FROM it3""".stripMargin,

    "g_cooccurrence" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst))
         |SELECT a.src AS person_a, b.src AS person_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 2""".stripMargin,

    // co-occurrence CTE + plain id-order triangle join (cooc emits
    // person_a < person_b, so x<y<z falls out of the equi-joins; the
    // Spark side's degree orientation is cost-only, results identical)
    "g_triangles" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |tri AS (
         |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
         |  FROM cooc e1
         |  JOIN cooc e2 ON e2.pa = e1.pb
         |  JOIN cooc e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
         |verts AS (SELECT pa AS v FROM cooc UNION SELECT pb FROM cooc),
         |pv AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT x AS v FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY v)
         |SELECT verts.v AS person_id, COALESCE(n, 0) AS n_triangles
         |FROM verts LEFT JOIN pv ON pv.v = verts.v""".stripMargin,

    // stub frame = both orderings of every cooc edge; exact BIGINT
    // sufficient stats, one final double, zero-variance guard -> 0
    "g_assortativity" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |dg AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |    SELECT pa AS v FROM cooc UNION ALL SELECT pb FROM cooc)
         |  GROUP BY v),
         |pts AS (
         |  SELECT da.d AS x, db.d AS y
         |  FROM cooc JOIN dg da ON da.v = cooc.pa JOIN dg db ON db.v = cooc.pb
         |  UNION ALL
         |  SELECT db.d, da.d
         |  FROM cooc JOIN dg da ON da.v = cooc.pa JOIN dg db ON db.v = cooc.pb),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |         CAST(SUM(x*x) AS BIGINT) AS sxx,
         |         CAST(SUM(y*y) AS BIGINT) AS syy,
         |         CAST(SUM(x*y) AS BIGINT) AS sxy
         |  FROM pts),
         |d AS (
         |  SELECT n,
         |         CAST(n AS DECIMAL(38,0))*sxx - CAST(sx AS DECIMAL(38,0))*sx AS vx,
         |         CAST(n AS DECIMAL(38,0))*syy - CAST(sy AS DECIMAL(38,0))*sy AS vy,
         |         CAST(n AS DECIMAL(38,0))*sxy - CAST(sx AS DECIMAL(38,0))*sy AS cv
         |  FROM s)
         |SELECT n // 2 AS n_edges,
         |       CAST(CASE WHEN n > 0 AND vx > 0 AND vy > 0
         |            THEN floor(
         |              CAST(cv AS DOUBLE) * 1e6 /
         |                sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)))
         |            ELSE 0 END AS BIGINT) AS r_e6
         |FROM d""".stripMargin,

    // each shared item contributes 1000 // max(ilog2(fanout), 1) —
    // same whole-bit ilog2 convention as t_bigram_lm/t_dsir_weights
    "g_link_adamic" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |fan AS (
         |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS fanout
         |  FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (
         |  SELECT d.src, d.dst, f.fanout FROM dedges d JOIN fan f USING (dst))
         |SELECT a.src AS person_a, b.src AS person_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared,
         |       CAST(SUM(1000 // greatest(length(bin(a.fanout)) - 1, 1)) AS BIGINT)
         |         AS aa_e3
         |FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // cooc pairs + capped per-person item-set sizes; permille Jaccard
    // by BIGINT floor division
    "g_link_jaccard" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM capped GROUP BY src),
         |cooc AS (
         |  SELECT a.src AS person_a, b.src AS person_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT person_a, person_b, n_shared,
         |       da.deg AS deg_a, db.deg AS deg_b,
         |       (n_shared * 1000) // (da.deg + db.deg - n_shared) AS jaccard_e3
         |FROM cooc
         |JOIN dg da ON da.src = cooc.person_a
         |JOIN dg db ON db.src = cooc.person_b""".stripMargin,

    // triangle CTE + per-vertex degree over the same cooc edges;
    // permille coefficient by BIGINT floor division on both engines
    "g_clustering" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |tri AS (
         |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
         |  FROM cooc e1
         |  JOIN cooc e2 ON e2.pa = e1.pb
         |  JOIN cooc e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
         |dg AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT pa AS v FROM cooc UNION ALL SELECT pb FROM cooc)
         |  GROUP BY v),
         |pv AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT x AS v FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY v)
         |SELECT dg.v AS person_id, dg.deg,
         |       COALESCE(n, 0) AS n_triangles,
         |       CAST(CASE WHEN dg.deg >= 2
         |            THEN (COALESCE(n, 0) * 2000) // (dg.deg * (dg.deg - 1))
         |            ELSE 0 END AS BIGINT) AS lcc_e3
         |FROM dg LEFT JOIN pv ON pv.v = dg.v""".stripMargin,

    // synchronous LPA unrolled to 2 rounds: per round, each vertex
    // takes the mode of its neighbors' previous labels, row_number
    // (c DESC, label ASC) ≡ the Spark side's min(struct(-c, label))
    "g_label_prop" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS (SELECT pa AS v, pb AS u FROM cooc
         |        UNION SELECT pb, pa FROM cooc),
         |l0 AS (SELECT DISTINCT v, v AS label FROM sym),
         |c1 AS (SELECT s.v, l.label, COUNT(*) AS c
         |       FROM sym s JOIN l0 l ON l.v = s.u GROUP BY 1, 2),
         |l1 AS (SELECT v, label FROM (
         |         SELECT v, label, row_number() OVER (
         |           PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c1)
         |       WHERE rn = 1),
         |c2 AS (SELECT s.v, l.label, COUNT(*) AS c
         |       FROM sym s JOIN l1 l ON l.v = s.u GROUP BY 1, 2),
         |l2 AS (SELECT v, label FROM (
         |         SELECT v, label, row_number() OVER (
         |           PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c2)
         |       WHERE rn = 1)
         |SELECT v AS person_id, label AS community FROM l2""".stripMargin,

    // wedge self-join for the 2-ball, EXCEPT ≡ the Spark anti-join
    // (both sides distinct), exact permille coefficients
    "g_harmonic2" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS (SELECT pa AS v, pb AS u FROM cooc
         |        UNION SELECT pb, pa FROM cooc),
         |n1 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n1 FROM sym GROUP BY v),
         |two AS (
         |  SELECT a.v AS v, b.u AS u
         |  FROM sym a JOIN sym b ON b.v = a.u WHERE a.v <> b.u
         |  EXCEPT
         |  SELECT v, u FROM sym),
         |n2 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n2 FROM two GROUP BY v)
         |SELECT n1.v AS person_id, n1.n1,
         |       CAST(COALESCE(n2.n2, 0) AS BIGINT) AS n2,
         |       CAST(1000 * n1.n1 + 500 * COALESCE(n2.n2, 0) AS BIGINT) AS h2_e3
         |FROM n1 LEFT JOIN n2 ON n2.v = n1.v""".stripMargin,

    // exact bounded closure per radius + the always-TRUE sketch gate
    // (the estimate itself is engine-specific, so the oracle pins the
    // exact counts and the certification bit — x_hll_merge's device)
    "g_anf" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS MATERIALIZED (SELECT pa AS v, pb AS u FROM cooc
         |        UNION SELECT pb, pa FROM cooc),
         |r0 AS MATERIALIZED (
         |  SELECT v, v AS u FROM (SELECT DISTINCT v FROM sym)),
         |r1 AS MATERIALIZED (
         |  SELECT v, u FROM r0
         |  UNION SELECT s.v, r.u FROM sym s JOIN r0 r ON r.v = s.u),
         |r2 AS MATERIALIZED (
         |  SELECT v, u FROM r1
         |  UNION SELECT s.v, r.u FROM sym s JOIN r1 r ON r.v = s.u)
         |SELECT CAST(0 AS BIGINT) AS t,
         |       CAST((SELECT COUNT(*) FROM r0) AS BIGINT) AS exact_pairs,
         |       TRUE AS anf_ok
         |UNION ALL SELECT CAST(1 AS BIGINT),
         |       CAST((SELECT COUNT(*) FROM r1) AS BIGINT), TRUE
         |UNION ALL SELECT CAST(2 AS BIGINT),
         |       CAST((SELECT COUNT(*) FROM r2) AS BIGINT), TRUE""".stripMargin,

    // modularity of the 2-round LPA partition: exact BIGINT/DECIMAL
    // sufficient stats (4m·Σm_c − ΣD_c²) / 4m², one final double
    "g_modularity" ->
      s"""WITH $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |sym AS (SELECT pa AS v, pb AS u FROM cooc
         |        UNION SELECT pb, pa FROM cooc),
         |l0 AS (SELECT DISTINCT v, v AS label FROM sym),
         |c1 AS (SELECT s.v, l.label, COUNT(*) AS c
         |       FROM sym s JOIN l0 l ON l.v = s.u GROUP BY 1, 2),
         |l1 AS (SELECT v, label FROM (
         |         SELECT v, label, row_number() OVER (
         |           PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c1)
         |       WHERE rn = 1),
         |c2 AS (SELECT s.v, l.label, COUNT(*) AS c
         |       FROM sym s JOIN l1 l ON l.v = s.u GROUP BY 1, 2),
         |lab AS (SELECT v AS person_id, label AS community FROM (
         |         SELECT v, label, row_number() OVER (
         |           PARTITION BY v ORDER BY c DESC, label ASC) AS rn FROM c2)
         |       WHERE rn = 1),
         |und AS (SELECT pa AS a, pb AS b FROM cooc),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
         |wc AS (SELECT la.community AS ca, lb.community AS cb
         |       FROM und u
         |       JOIN lab la ON la.person_id = u.a
         |       JOIN lab lb ON lb.person_id = u.b),
         |mc AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS sum_mc FROM (
         |         SELECT ca, COUNT(*) AS cnt FROM wc WHERE ca = cb GROUP BY ca)),
         |dg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |         SELECT a AS v FROM und UNION ALL SELECT b FROM und)
         |       GROUP BY v),
         |dc AS (SELECT community, CAST(SUM(d) AS BIGINT) AS dcs
         |       FROM dg JOIN lab ON lab.person_id = dg.v GROUP BY community),
         |ds AS (SELECT
         |         CAST(COALESCE(SUM(CAST(dcs AS DECIMAL(38,0)) * dcs), 0)
         |           AS DECIMAL(38,0)) AS sum_dc2,
         |         CAST(COUNT(*) AS BIGINT) AS n_communities
         |       FROM dc)
         |SELECT m AS n_edges, n_communities,
         |       CAST(CASE WHEN m > 0 THEN floor(
         |         CAST(4 * CAST(m AS DECIMAL(38,0)) * sum_mc - sum_dc2 AS DOUBLE)
         |           * 1e6 /
         |         CAST(4 * CAST(m AS DECIMAL(38,0)) * m AS DOUBLE))
         |       ELSE 0 END AS BIGINT) AS q_e6
         |FROM m, mc, ds""".stripMargin,

    // Louvain unrolled: 2 integer-gain move rounds (singleton
    // min-label swap guard) on the unit-weight cooc graph, community
    // contraction (intra edges -> self-loops, weights sum, degree =
    // incident + 2x self), 2 weighted rounds, labels composed
    "g_louvain" -> louvainOracleSql(1000L),

    "g_louvain_res" -> louvainOracleSql(1200L),

    // the bounded recursive peel (the g_kcore_fixpoint device) at EDGE
    // granularity: each round keeps an edge iff its endpoints share
    // >= k-2 = 70 neighbors among the CURRENT survivors; the working
    // table is the previous round only, so the correlated support
    // subquery counts against the right level
    "g_ktruss" ->
      s"""WITH RECURSIVE $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |peel(iter, a, b) AS (
         |  SELECT 0, pa, pb FROM cooc
         |  UNION ALL
         |  SELECT iter + 1, p.a, p.b FROM peel p
         |  WHERE p.iter < 8 AND (
         |    SELECT COUNT(*)
         |    FROM (SELECT CASE WHEN x.a = p.a THEN x.b ELSE x.a END AS c
         |          FROM peel x WHERE x.a = p.a OR x.b = p.a) na
         |    JOIN (SELECT CASE WHEN y.a = p.b THEN y.b ELSE y.a END AS c
         |          FROM peel y WHERE y.a = p.b OR y.b = p.b) nb
         |    USING (c)) >= 70
         |)
         |SELECT a AS person_a, b AS person_b FROM peel WHERE iter = 8""".stripMargin,

    // SCC by DEFINITION: transitive closure (recursive CTE), mutual
    // reachability, label = least mutually reachable vertex (self
    // included via the dir_e vertex rows) — algorithm-independent, so
    // it certifies the operator's FW-BW-Trim loop at any round count
    "g_scc" -> sccOracleSql(
      "SELECT v AS person_id, scc_label FROM scc"),

    // condensation: the same closure-derived labels contracted onto
    // the edge list — distinct between-component pairs
    "g_scc_condensation" -> sccOracleSql(
      """SELECT DISTINCT ls.scc_label AS src_scc, ld.scc_label AS dst_scc
        |FROM dir_e e
        |JOIN scc ls ON ls.v = e.src
        |JOIN scc ld ON ld.v = e.dst
        |WHERE ls.scc_label <> ld.scc_label""".stripMargin),

    // GraphSAGE sample, 2 unrolled layers: per (seed, frontier
    // vertex) the hash-ranked top-fanout neighbors survive; layer-2
    // frontier = distinct sampled dsts
    "g_sage_sample" ->
      s"""WITH $MERGED,
         |verts AS (SELECT src AS person_id FROM merged
         |          UNION SELECT dst FROM merged),
         |seeds AS (SELECT person_id FROM verts
         |          WHERE ${ph("person_id")} % 25 = 0),
         |c1 AS (SELECT s.person_id AS seed, m.src, m.dst
         |       FROM seeds s JOIN merged m ON m.src = s.person_id),
         |r1 AS (
         |  SELECT seed, src, dst,
         |         row_number() OVER (PARTITION BY seed, src
         |           ORDER BY ${ph("seed || ':1:' || src || ':' || dst")} ASC,
         |                    dst ASC) AS rn
         |  FROM c1),
         |s1 AS (SELECT seed, src, dst FROM r1 WHERE rn <= 3),
         |f1 AS (SELECT DISTINCT seed, dst AS v FROM s1),
         |c2 AS (SELECT f.seed, m.src, m.dst
         |       FROM f1 f JOIN merged m ON m.src = f.v),
         |r2 AS (
         |  SELECT seed, src, dst,
         |         row_number() OVER (PARTITION BY seed, src
         |           ORDER BY ${ph("seed || ':2:' || src || ':' || dst")} ASC,
         |                    dst ASC) AS rn
         |  FROM c2),
         |s2 AS (SELECT seed, src, dst FROM r2 WHERE rn <= 2)
         |SELECT seed, CAST(1 AS BIGINT) AS layer, src, dst FROM s1
         |UNION ALL
         |SELECT seed, CAST(2 AS BIGINT), src, dst FROM s2""".stripMargin,

    // HITS, 2 unrolled rounds over the directed fixture: authority
    // half-round (sum hub over in-edges, max-rescale to e6) then hub
    // half-round (sum auth over out-edges, rescale), twice
    "g_hits" ->
      s"""WITH $dirECtes,
         |hverts AS MATERIALIZED (SELECT src AS person_id FROM dir_e
         |           UNION SELECT dst FROM dir_e),
         |h0 AS (SELECT person_id, CAST(1000000 AS BIGINT) AS score
         |       FROM hverts),
         |${hitsHalfSql("h0", "a1", inward = true)},
         |${hitsHalfSql("a1", "h1", inward = false)},
         |${hitsHalfSql("h1", "a2", inward = true)},
         |${hitsHalfSql("a2", "h2", inward = false)}
         |SELECT h2.person_id, h2.score AS hub_e6, a2.score AS auth_e6
         |FROM h2 JOIN a2 USING (person_id)""".stripMargin,

    // deterministic random walks, 3 unrolled steps: dst-sorted
    // adjacency ranks + per-src outdeg once, then each step joins the
    // frontier to the neighbor whose rank is hash(walk:t:cur) mod
    // outdeg (the ph twin) — walk corpus = union of per-step frames
    "g_random_walks" -> randomWalksSql(
      "SELECT walk_id, step, cur AS person_id FROM walks"),

    // skip-gram pairs over the same walk chain: ordered same-walk
    // position pairs at |Δstep| <= 2 — the multiset of (center,
    // context, offset) training examples
    "g_walk_contexts" -> randomWalksSql(
      """SELECT a.cur AS center, b.cur AS context,
        |       CAST(b.step - a.step AS BIGINT) AS "offset"
        |FROM walks a JOIN walks b
        |  ON a.walk_id = b.walk_id AND a.step <> b.step
        | AND abs(a.step - b.step) <= 2""".stripMargin),

    // SGNS trainer over the same walk-context corpus: pairs → bucketed
    // vocab ranks → 2 hash-coin negatives per pair → weighted distinct
    // examples → hash-init q10 embeddings → 2 unrolled full-batch
    // epochs (hard-sigmoid gradient, >>-shift learning rate) — every
    // arithmetic step is BIGINT + arithmetic shift, engine-exact
    "g_sgns_train" -> randomWalksSql(
      s"""$sgnsCtes
         |SELECT id AS person_id,
         |       string_agg(CAST(val AS VARCHAR), ',' ORDER BY d) AS emb_csv
         |FROM u2 GROUP BY id""".stripMargin),

    // DeepWalk end-to-end: the SGNS chain's trained u2 vectors feed
    // the brute-cosine twin — per hash-sliced query vertex the 5
    // nearest embedding-space neighbors (exact BIGINT dot/norms, the
    // one double is the shared dot/sqrt(nn) ranking expression)
    "g_embed_neighbors" -> randomWalksSql(
      s"""$sgnsCtes,
         |emb AS MATERIALIZED (
         |  SELECT id, list(val ORDER BY d) AS q,
         |         CAST(SUM(val * val) AS BIGINT) AS nq
         |  FROM u2 GROUP BY id),
         |nz AS (SELECT * FROM emb WHERE nq > 0),
         |escored AS (
         |  SELECT qq.id AS query_id, c.id AS neighbor_id,
         |         ${dotSql("qq.q", "c.q")} AS dot_q,
         |         CAST(qq.nq AS DOUBLE) * CAST(c.nq AS DOUBLE) AS nn
         |  FROM nz c JOIN nz qq
         |    ON ${ph("qq.id")} % 10 = 0 AND c.id <> qq.id),
         |eranked AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, neighbor_id ASC)
         |         AS BIGINT) AS "rank"
         |  FROM escored)
         |SELECT query_id, neighbor_id, dot_q, "rank"
         |FROM eranked WHERE "rank" <= 5""".stripMargin),

    // node2vec: uniform first hop, then per step a candidate frame
    // (frontier x adjacency) classified back/side/forward via a
    // distinct-edge marker join, cumulative-weight window per walk,
    // coin = ph(walk:t:prev>cur) mod total
    "g_node2vec_walks" ->
      s"""WITH $MERGED,
         |adj AS (
         |  SELECT src, dst,
         |         CAST(row_number() OVER (
         |           PARTITION BY src ORDER BY dst ASC) AS BIGINT) AS nbr_rank,
         |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS out_deg
         |  FROM merged),
         |em AS (SELECT src AS msrc, dst AS mdst, TRUE AS is_side FROM merged),
         |verts AS (SELECT src AS person_id FROM merged
         |          UNION SELECT dst FROM merged),
         |starts AS (SELECT person_id FROM verts
         |           WHERE ${ph("person_id")} % 25 = 0),
         |f0 AS (SELECT person_id || '#0' AS walk_id, person_id AS cur
         |       FROM starts),
         |s1 AS (
         |  SELECT f.walk_id, f.cur AS prev, a.dst AS cur
         |  FROM f0 f JOIN adj a ON a.src = f.cur
         |   AND a.nbr_rank = ${ph("f.walk_id || ':1:' || f.cur")} % a.out_deg + 1),
         |${n2vStepSql("s1", "s2", 2)},
         |${n2vStepSql("s2", "s3", 3)}
         |SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS person_id FROM f0
         |UNION ALL SELECT walk_id, CAST(1 AS BIGINT), cur FROM s1
         |UNION ALL SELECT walk_id, CAST(2 AS BIGINT), cur FROM s2
         |UNION ALL SELECT walk_id, CAST(3 AS BIGINT), cur FROM s3""".stripMargin,

    // g_louvain plus the connectivity refinement after each level's
    // move rounds: intra-community edges -> exact reachability
    // (recursive CTE, the d_dedup_clusters device) -> min-member
    // component labels; level 2 contracts over the REFINED labels
    "g_leiden" ->
      s"""WITH RECURSIVE $EDGES,
         |dedges AS (SELECT DISTINCT src, dst FROM edges),
         |kept AS (SELECT dst FROM dedges GROUP BY dst HAVING COUNT(*) <= 20),
         |capped AS (SELECT d.src, d.dst FROM dedges d JOIN kept USING (dst)),
         |cooc AS (
         |  SELECT a.src AS pa, b.src AS pb
         |  FROM capped a JOIN capped b ON a.dst = b.dst AND a.src < b.src
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e1 AS MATERIALIZED (
         |  SELECT pa AS a, pb AS b, CAST(1 AS BIGINT) AS w FROM cooc),
         |sym1 AS MATERIALIZED (
         |  SELECT a AS v, b AS u, w FROM e1
         |  UNION ALL SELECT b, a, w FROM e1),
         |deg1 AS MATERIALIZED (
         |  SELECT v, CAST(SUM(w) AS BIGINT) AS deg FROM sym1 GROUP BY v),
         |tw1 AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS tot_w FROM deg1),
         |l10 AS MATERIALIZED (
         |  SELECT v, v AS label FROM (SELECT DISTINCT v FROM sym1)),
         |${louvainRoundSql("l10", "l11", "sym1", "deg1", "tw1", "11")},
         |${louvainRoundSql("l11", "l12", "sym1", "deg1", "tw1", "12")},
         |in1 AS MATERIALIZED (
         |  SELECT e1.a, e1.b FROM e1
         |  JOIN l12 la ON la.v = e1.a
         |  JOIN l12 lb ON lb.v = e1.b
         |  WHERE la.label = lb.label AND e1.a <> e1.b),
         |sy1 AS (SELECT a AS u, b AS v FROM in1
         |        UNION ALL SELECT b, a FROM in1),
         |reach1(x, y) AS (
         |  SELECT v, v FROM l12
         |  UNION
         |  SELECT s.u, r.y FROM sy1 s JOIN reach1 r ON r.x = s.v),
         |r1 AS MATERIALIZED (
         |  SELECT x AS v, MIN(y) AS label FROM reach1 GROUP BY x),
         |e2 AS MATERIALIZED (
         |  SELECT least(la.label, lb.label) AS a,
         |         greatest(la.label, lb.label) AS b,
         |         CAST(SUM(e1.w) AS BIGINT) AS w
         |  FROM e1
         |  JOIN r1 la ON la.v = e1.a
         |  JOIN r1 lb ON lb.v = e1.b
         |  GROUP BY 1, 2),
         |sym2 AS MATERIALIZED (
         |  SELECT a AS v, b AS u, w FROM e2 WHERE a <> b
         |  UNION ALL SELECT b, a, w FROM e2 WHERE a <> b),
         |verts2 AS MATERIALIZED (
         |  SELECT DISTINCT v FROM
         |    (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)),
         |deg2 AS MATERIALIZED (
         |  SELECT vv.v,
         |         CAST(COALESCE(s.dw, 0) + 2*COALESCE(sl.sw, 0) AS BIGINT) AS deg
         |  FROM verts2 vv
         |  LEFT JOIN (SELECT v, SUM(w) AS dw FROM sym2 GROUP BY v) s
         |    ON s.v = vv.v
         |  LEFT JOIN (SELECT a AS v, SUM(w) AS sw FROM e2 WHERE a = b
         |             GROUP BY a) sl ON sl.v = vv.v),
         |tw2 AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS tot_w FROM deg2),
         |l20 AS MATERIALIZED (SELECT v, v AS label FROM verts2),
         |${louvainRoundSql("l20", "l21", "sym2", "deg2", "tw2", "21")},
         |${louvainRoundSql("l21", "l22", "sym2", "deg2", "tw2", "22")},
         |in2 AS MATERIALIZED (
         |  SELECT e2.a, e2.b FROM e2
         |  JOIN l22 la ON la.v = e2.a
         |  JOIN l22 lb ON lb.v = e2.b
         |  WHERE la.label = lb.label AND e2.a <> e2.b),
         |sy2 AS (SELECT a AS u, b AS v FROM in2
         |        UNION ALL SELECT b, a FROM in2),
         |reach2(x, y) AS (
         |  SELECT v, v FROM l22
         |  UNION
         |  SELECT s.u, r.y FROM sy2 s JOIN reach2 r ON r.x = s.v),
         |r2 AS MATERIALIZED (
         |  SELECT x AS v, MIN(y) AS label FROM reach2 GROUP BY x)
         |SELECT r1.v AS person_id, r2.label AS community
         |FROM r1 JOIN r2 ON r2.v = r1.label""".stripMargin,

    "t_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${ph("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |         CAST(len($TOKS) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tok,
         |         CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t WHERE n_tok > 0),
         |x AS (
         |  SELECT doc_id, shard, n_tok, cum,
         |         unnest(range((cum - n_tok) // 256, (cum - 1) // 256 + 1)) AS seq_id
         |  FROM c)
         |SELECT doc_id, shard, seq_id,
         |       least(cum, (seq_id + 1) * 256)
         |         - greatest(cum - n_tok, seq_id * 256) AS toks_in_seq
         |FROM x""".stripMargin,

    "t_stratified_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, ${ph("text")} % 1000 AS bucket FROM documents)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < CASE lang WHEN 'en' THEN 500
         |                         WHEN 'zh' THEN 250
         |                         ELSE 800 END""".stripMargin,

    "t_weighted_sample" ->
      s"""SELECT doc_id, source, priority, rn FROM (
         |  SELECT doc_id, source, priority,
         |         CAST(row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY priority ASC, doc_id ASC) AS BIGINT) AS rn
         |  FROM (SELECT doc_id, source,
         |               ${ph("text")} // greatest(CAST(length(text) AS BIGINT), 1)
         |                 AS priority
         |        FROM documents))
         |WHERE rn <= 10""".stripMargin,

    "t_null_audit" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_t,
        |         CAST(SUM(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS em_t,
        |         CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_l,
        |         CAST(SUM(CASE WHEN length(lang) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS em_l,
        |         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_s,
        |         CAST(SUM(CASE WHEN length(source) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS em_s
        |  FROM documents)
        |SELECT 'text' AS col_name, n AS n_rows, nu_t AS n_null, em_t AS n_empty FROM a
        |UNION ALL
        |SELECT 'lang', n, nu_l, em_l FROM a
        |UNION ALL
        |SELECT 'source', n, nu_s, em_s FROM a""".stripMargin,

    "t_corpus_sample" ->
      s"""SELECT doc_id, ${ph("text")} AS hkey
         |FROM documents
         |ORDER BY hkey ASC, doc_id ASC
         |LIMIT 100""".stripMargin,

    "l_compaction_bins" ->
      """WITH listing AS (
        |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS sz
        |  FROM documents),
        |plan AS (
        |  SELECT source, sz,
        |         CAST((SUM(sz) OVER (PARTITION BY source ORDER BY doc_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sz) // 4096
        |           AS BIGINT) AS bin
        |  FROM listing)
        |SELECT source, bin, COUNT(*) AS n_files,
        |       CAST(SUM(sz) AS BIGINT) AS bin_bytes
        |FROM plan GROUP BY source, bin""".stripMargin,

    "d_cluster_reps" ->
      s"""WITH RECURSIVE $SIMHASH,
         |banded AS (
         |  SELECT doc_id, band, (simhash >> (band*16)) & 65535 AS band_val
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cands
         |  JOIN sig sa ON sa.doc_id = doc_a
         |  JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
         |comp AS (
         |  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |  FROM reach GROUP BY a),
         |q AS (
         |  SELECT doc_id,
         |         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))*1000
         |              / length(text)) AS BIGINT) AS alpha_ratio_e3
         |  FROM documents)
         |SELECT component_id, doc_id AS rep_id, alpha_ratio_e3 FROM (
         |  SELECT c.component_id, c.doc_id, q.alpha_ratio_e3,
         |         row_number() OVER (PARTITION BY c.component_id
         |                            ORDER BY q.alpha_ratio_e3 DESC, c.doc_id) AS rn
         |  FROM comp c JOIN q USING (doc_id))
         |WHERE rn = 1""".stripMargin,

    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $SIMHASH,
         |banded AS (
         |  SELECT doc_id, band, (simhash >> (band*16)) & 65535 AS band_val
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cands
         |  JOIN sig sa ON sa.doc_id = doc_a
         |  JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v)
         |SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |FROM reach GROUP BY a""".stripMargin,

    "pipe_leakage_split" ->
      s"""WITH RECURSIVE $SIMHASH,
         |banded AS (
         |  SELECT doc_id, band, (simhash >> (band*16)) & 65535 AS band_val
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM cands
         |  JOIN sig sa ON sa.doc_id = doc_a
         |  JOIN sig sb ON sb.doc_id = doc_b
         |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
         |comp AS (SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |         FROM reach GROUP BY a),
         |bkt AS (
         |  SELECT doc_id, component_id,
         |         CAST(${ph("CAST(component_id AS VARCHAR)")} % 1000 AS BIGINT)
         |           AS bucket
         |  FROM comp)
         |SELECT doc_id, component_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM bkt""".stripMargin,

    "sim_cosine_topk" -> BRUTE_TOPK_SQL,

    // semantic hard negatives: the brute cosine pool at poolK=20 with
    // the label filter (same-label weak positives drop) and the
    // survivors re-ranked in pool order
    "q_semantic_negatives" ->
      s"""WITH $QNORM,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("qq.q", "c.q")} AS dot_q,
         |         CAST(qq.nq AS DOUBLE)*CAST(c.nq AS DOUBLE) AS nn
         |  FROM qn c JOIN qn qq ON qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
         |pool AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC,
         |                    neighbor_id ASC) AS rn
         |  FROM scored),
         |filt AS (
         |  SELECT p.query_id, p.neighbor_id, p.dot_q, p.rn
         |  FROM pool p
         |  JOIN lb a ON a.vec_id = p.query_id
         |  JOIN lb b ON b.vec_id = p.neighbor_id
         |  WHERE p.rn <= 20 AND a.label <> b.label),
         |r AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY rn ASC) AS BIGINT) AS "rank"
         |  FROM filt)
         |SELECT query_id, neighbor_id, dot_q, "rank" FROM r
         |WHERE "rank" <= 5""".stripMargin,

    // MMR: pool + pairwise sims materialized once, then the greedy
    // steps unrolled as CTEs (the bpeSql device) — scores and ties are
    // all-integer on the e6-floored cosines
    "q_mmr_rerank" -> mmrSql(8, 4, 700),

    // greedy k-center: each unrolled round recomputes every remaining
    // vector's exact integer min-distance to the selected set, then
    // takes the (md DESC, vec_id ASC) argmax
    "sim_kcenter_select" -> kCenterSql(5),

    // per-label centroid drift: exact (label, dim) integer sums,
    // HUGEINT cross-products ≡ Spark's DECIMAL(38,0), one final double
    // e6-floored (the agg_correlation device)
    "sim_label_drift" ->
      """WITH qv AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |ex AS (SELECT label, unnest(q) AS qv, generate_subscripts(q, 1) AS dim
        |       FROM qv),
        |sums AS (SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s
        |         FROM ex GROUP BY 1, 2),
        |norms AS (SELECT label, SUM(CAST(s AS HUGEINT) * s) AS nrm
        |          FROM sums GROUP BY 1),
        |counts AS (SELECT CAST(label AS BIGINT) AS label,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM embeddings GROUP BY 1),
        |dots AS (SELECT a.label AS label_a, b.label AS label_b,
        |                SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
        |         FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
        |         GROUP BY 1, 2)
        |SELECT d.label_a, d.label_b, ca.n AS n_a, cb.n AS n_b,
        |       CAST(CASE WHEN na.nrm > 0 AND nb.nrm > 0 THEN
        |              floor(CAST(d.dot AS DOUBLE) /
        |                    sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE))
        |                    * 1000000.0)
        |            ELSE 0 END AS BIGINT) AS cos_e6
        |FROM dots d
        |JOIN norms na ON na.label = d.label_a
        |JOIN norms nb ON nb.label = d.label_b
        |JOIN counts ca ON ca.label = d.label_a
        |JOIN counts cb ON cb.label = d.label_b""".stripMargin,

    // truncated-prefix twin of BRUTE_TOPK_SQL: quantization applied to
    // the first 16 components (embedding[1:16]), everything else
    // identical — mirrors Similarity.matryoshkaTopK's slice-then-
    // quantize order
    "sim_matryoshka_topk" ->
      s"""WITH qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding[1:16],
         |           x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |qn AS (SELECT vec_id, q,
         |              CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nq
         |       FROM qv),
         |scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("qq.q", "c.q")} AS dot_q,
         |         CAST(qq.nq AS DOUBLE)*CAST(c.nq AS DOUBLE) AS nn
         |  FROM qn c JOIN qn qq ON qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, neighbor_id ASC)
         |         AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, dot_q, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin,

    "sim_mips_topk" ->
      s"""WITH $QVEC,
         |scored AS (
         |  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("qq.q", "c.q")} AS dot_q
         |  FROM qv c JOIN qv qq ON qq.vec_id < 8 AND c.vec_id <> qq.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY dot_q DESC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, dot_q, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin,

    "sim_quantize_int8" ->
      """WITH a AS (
        |  SELECT vec_id,
        |         CAST(len(embedding) AS BIGINT) AS dim,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS amax,
        |         embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, dim, amax,
        |         list_transform(embedding, x ->
        |           CAST(CASE WHEN amax > 0
        |                THEN floor(CAST(x AS DOUBLE)*127/amax + 0.5)
        |                ELSE 0 END AS BIGINT)) AS qv
        |  FROM a)
        |SELECT vec_id, dim,
        |       CAST(floor(amax*1000000 + 0.5) AS BIGINT) AS amax_e6,
        |       CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1_q,
        |       CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM q""".stripMargin,

    // identical oracle on purpose: at FULL probe IVF's result is
    // centroid-independent, so the brute-force hash proves the k-means
    // centroid path computes exactly the brute top-k
    "sim_ivf_kmeans" -> BRUTE_TOPK_SQL,

    "sim_lsh_neighbors" ->
      s"""WITH $QVEC,
         |s AS (
         |  SELECT vec_id, q, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qv CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
         |bk AS (
         |  SELECT vec_id, q,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << j)
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, q)
         |SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         |       ${dotSql("qq.q", "c.q")} AS dot_q
         |FROM bk c JOIN bk qq
         |  ON c.bucket = qq.bucket AND qq.vec_id < 8 AND c.vec_id <> qq.vec_id""".stripMargin,

    // multi-probe LSH: the sim_lsh_neighbors bucket CTEs + per-query
    // flip ranking by (|sv| asc, j asc) -> own bucket ∪ top-3 single-
    // bit flips; a corpus vector lives in one bucket so probes never
    // duplicate candidates
    "sim_lsh_multiprobe" ->
      s"""WITH $QVEC,
         |s AS MATERIALIZED (
         |  SELECT vec_id, q, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qv CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
         |bk AS MATERIALIZED (
         |  SELECT vec_id, q,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << j)
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, q),
         |fl AS (
         |  SELECT s.vec_id, xor(bk.bucket, (CAST(1 AS BIGINT) << s.j)) AS pb,
         |         row_number() OVER (PARTITION BY s.vec_id
         |           ORDER BY abs(s.sv) ASC, s.j ASC) AS rn
         |  FROM s JOIN bk ON bk.vec_id = s.vec_id
         |  WHERE s.vec_id < 8),
         |probes AS (
         |  SELECT vec_id, bucket AS pb FROM bk WHERE vec_id < 8
         |  UNION ALL
         |  SELECT vec_id, pb FROM fl WHERE rn <= 3)
         |SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         |       ${dotSql("qq.q", "c.q")} AS dot_q
         |FROM probes p
         |JOIN bk qq ON qq.vec_id = p.vec_id
         |JOIN bk c ON c.bucket = p.pb AND c.vec_id <> p.vec_id""".stripMargin,

    // banded-LSH candidates (4 bands × 4 planes, OR-construction; the
    // portable planeWeight closed form reproduces Similarity.lshBandBuckets
    // exactly), then exact verification over candidate pairs
    "sim_near_dup_blocked" ->
      s"""WITH $QNORM,
         |s AS (
         |  SELECT vec_id, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qn CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
         |bk AS (
         |  SELECT vec_id, j // 4 AS band,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, band),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT c.id_a, c.id_b,
         |         ${dotSql("a.q", "b.q")} AS dot_q,
         |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
         |  FROM cands c
         |  JOIN qn a ON a.vec_id = c.id_a
         |  JOIN qn b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, dot_q FROM pairs
         |WHERE CAST(dot_q AS DOUBLE) >= (400000.0/1000000.0)*sqrt(nn)""".stripMargin,

    // the incremental twin: identical banding + verification, with the
    // candidate join restricted to pairs touching the new batch
    // (vec_id % 5 = 0) — band buckets depend only on the vector, so
    // the full-band closed form restricted to new-touching pairs IS
    // the incremental operator's output
    "sim_incr_near_dup" ->
      s"""WITH $QNORM,
         |s AS (
         |  SELECT vec_id, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qn CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
         |bk AS (
         |  SELECT vec_id, j // 4 AS band,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, band),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE a.vec_id % 5 = 0 OR b.vec_id % 5 = 0),
         |pairs AS (
         |  SELECT c.id_a, c.id_b,
         |         ${dotSql("a.q", "b.q")} AS dot_q,
         |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
         |  FROM cands c
         |  JOIN qn a ON a.vec_id = c.id_a
         |  JOIN qn b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, dot_q FROM pairs
         |WHERE CAST(dot_q AS DOUBLE) >= (400000.0/1000000.0)*sqrt(nn)""".stripMargin,

    // kNN graph: same banding closed form, DIRECTED candidates (every
    // vector keeps its own neighbor list), zero-norm vectors excluded
    // (cosine undefined — pinned, as in semanticDedup), row_number
    // top-5 per source on the ranking cosine
    "sim_knn_graph" ->
      s"""WITH $KNN_RANKED
         |SELECT id_a AS vec_id, id_b AS neighbor_id, dot_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // beam search over the built kNN graph: 8-plane LSH bucket seeds
    // (reusing the first 8 of the banding chain's 16 sign projections
    // — identical plane weights), exact top-8 beam, 2 unrolled
    // expand-union-rerank rounds through gk, final exact top-5; the
    // graph chain is the CAPPED (128) build, the shipped default
    "sim_graph_search" ->
      s"""WITH ${knnCappedCtes(128)},
         |gk AS (SELECT id_a, id_b FROM ranked WHERE "rank" <= 5),
         |qbk AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << j)
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s WHERE j < 8 GROUP BY vec_id),
         |sd AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand
         |  FROM qbk q JOIN qbk c
         |    ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 8),
         |${beamRankSql("sd", "b0", 8)},
         |${beamRoundSql(0, 1, 8)},
         |${beamRoundSql(1, 2, 8)},
         |${beamRankSql("b2", "fin", 5)}
         |SELECT query_id, cand AS neighbor_id, dot_q, rnk AS "rank"
         |FROM fin""".stripMargin,

    // the occupancy-capped kNN twin: same banding over the nq>0
    // corpus, hot (band, bucket) groups sub-split by the portable
    // vec_id hash before the DIRECTED candidate join (no star floor —
    // knnGraph ranks, it does not dedup), exact re-rank top-5
    "sim_knn_graph_capped" -> knnCappedSql(8),

    // the SHIPPED DEFAULT since r14: knnGraph's maxBucketSize defaults
    // to Similarity.DefaultBandCap (128) — same sub-split rule, cap
    // wide enough to be inactive until a bucket actually runs hot
    "sim_knn_graph_capped128" -> knnCappedSql(128),

    // one NN-Descent round over the banded kNN seed: candidates =
    // undirected current edges ∪ neighbors-of-neighbors (UNION dedups,
    // matching the engine's unionByName+distinct), exact re-rank,
    // top-5 — the Dong et al. expansion in closed SQL form
    "sim_nn_descent" ->
      s"""WITH $KNN_RANKED,
         |g AS (SELECT id_a, id_b FROM ranked WHERE "rank" <= 5),
         |und AS (SELECT id_a, id_b FROM g
         |        UNION SELECT id_b AS id_a, id_a AS id_b FROM g),
         |hop AS (SELECT u1.id_a, u2.id_b FROM und u1
         |        JOIN und u2 ON u1.id_b = u2.id_a WHERE u2.id_b <> u1.id_a),
         |cand2 AS (SELECT id_a, id_b FROM und
         |          UNION SELECT id_a, id_b FROM hop),
         |pairs2 AS (
         |  SELECT c.id_a, c.id_b,
         |         ${dotSql("a.q", "b.q")} AS dot_q,
         |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
         |  FROM cand2 c
         |  JOIN nz a ON a.vec_id = c.id_a
         |  JOIN nz b ON b.vec_id = c.id_b),
         |ranked2 AS (
         |  SELECT id_a, id_b, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY id_a
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, id_b ASC)
         |         AS BIGINT) AS "rank"
         |  FROM pairs2)
         |SELECT id_a AS vec_id, id_b AS neighbor_id, dot_q, "rank"
         |FROM ranked2 WHERE "rank" <= 5""".stripMargin,

    // the ρ-sampled round: identical chain except the hop join reads
    // the LCG-rank-capped (≤3 per endpoint) neighbor list; direct
    // neighbors still always feed the candidate union
    "sim_nn_descent_sampled" ->
      s"""WITH $KNN_RANKED,
         |g AS (SELECT id_a, id_b FROM ranked WHERE "rank" <= 5),
         |und AS (SELECT id_a, id_b FROM g
         |        UNION SELECT id_b AS id_a, id_a AS id_b FROM g),
         |sa AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, row_number() OVER (
         |      PARTITION BY id_a
         |      ORDER BY ((id_b % 1000000007) * 1103515245 + 12345) % 1000000007,
         |               id_b) AS rn
         |    FROM und) WHERE rn <= 3),
         |sb AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT id_a, id_b, row_number() OVER (
         |      PARTITION BY id_b
         |      ORDER BY ((id_a % 1000000007) * 1103515245 + 12345) % 1000000007,
         |               id_a) AS rn
         |    FROM sa) WHERE rn <= 3),
         |hop AS (SELECT u1.id_a, u2.id_b FROM sb u1
         |        JOIN sb u2 ON u1.id_b = u2.id_a WHERE u2.id_b <> u1.id_a),
         |cand2 AS (SELECT id_a, id_b FROM und
         |          UNION SELECT id_a, id_b FROM hop),
         |pairs2 AS (
         |  SELECT c.id_a, c.id_b,
         |         ${dotSql("a.q", "b.q")} AS dot_q,
         |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
         |  FROM cand2 c
         |  JOIN nz a ON a.vec_id = c.id_a
         |  JOIN nz b ON b.vec_id = c.id_b),
         |ranked2 AS (
         |  SELECT id_a, id_b, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY id_a
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, id_b ASC)
         |         AS BIGINT) AS "rank"
         |  FROM pairs2)
         |SELECT id_a AS vec_id, id_b AS neighbor_id, dot_q, "rank"
         |FROM ranked2 WHERE "rank" <= 5""".stripMargin,

    // PQ index: one row per (vector, subspace) with the integer-L2
    // nearest codebook entry
    "sim_pq_codes" ->
      s"""WITH $PQ_CODES
         |SELECT vec_id, CAST(j AS BIGINT) AS subspace, cid AS code
         |FROM codes""".stripMargin,

    // PQ/ADC top-k: corpus scored through codes only — per subspace
    // the query-slice-to-centroid squared distance, summed, plus the
    // query's own norm = exact ‖q − recon(x)‖², ranked ascending
    "sim_pq_topk" ->
      s"""WITH $PQ_CODES,
         |qd AS (SELECT vec_id AS query_id, q, nq FROM qn WHERE vec_id < 8),
         |qsub AS (
         |  SELECT query_id, j,
         |         list_slice(q, j*(len(q)//4) + 1, (j+1)*(len(q)//4)) AS sq
         |  FROM qd CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         |parts AS (
         |  SELECT qs.query_id, co.vec_id AS neighbor_id,
         |         CAST(sum(c.cnq - 2*${dotSql("qs.sq", "c.cq")}) AS BIGINT) AS part
         |  FROM codes co
         |  JOIN cb c ON c.j = co.j AND c.cid = co.cid
         |  JOIN qsub qs ON qs.j = co.j
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.query_id, p.neighbor_id,
         |         CAST(qd.nq + p.part AS BIGINT) AS adist_q
         |  FROM parts p JOIN qd ON qd.query_id = p.query_id
         |  WHERE p.neighbor_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY adist_q ASC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // IVF-PQ: the PQ_CODES codebook/code CTEs + sim_ivf_topk's cell
    // routing composed — candidates come from probed cells, distances
    // from codes (cent columns suffixed 2 to dodge cb's cid)
    "sim_ivfpq_topk" ->
      s"""WITH $PQ_CODES,
         |cent AS (SELECT vec_id AS cid2, q AS cq2, nq AS cnq2 FROM qn
         |         WHERE vec_id < 16 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, cid2 FROM (
         |    SELECT v.vec_id, c.cid2,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM qn v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, cid2 FROM (
         |    SELECT v.vec_id AS query_id, c.cid2,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM qn v CROSS JOIN cent c WHERE v.vec_id < 8)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN asg a ON a.cid2 = p.cid2
         |  WHERE a.vec_id <> p.query_id),
         |qd AS (SELECT vec_id AS query_id, q, nq FROM qn WHERE vec_id < 8),
         |qsub AS (
         |  SELECT query_id, j,
         |         list_slice(q, j*(len(q)//4) + 1, (j+1)*(len(q)//4)) AS sq
         |  FROM qd CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         |parts AS (
         |  SELECT qs.query_id, co.vec_id AS neighbor_id,
         |         CAST(sum(c.cnq - 2*${dotSql("qs.sq", "c.cq")}) AS BIGINT) AS part
         |  FROM codes co
         |  JOIN cb c ON c.j = co.j AND c.cid = co.cid
         |  JOIN qsub qs ON qs.j = co.j
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT cd.query_id, cd.neighbor_id,
         |         CAST(qd.nq + p.part AS BIGINT) AS adist_q
         |  FROM cand cd
         |  JOIN parts p ON p.query_id = cd.query_id
         |             AND p.neighbor_id = cd.neighbor_id
         |  JOIN qd ON qd.query_id = cd.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY adist_q ASC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // SQ8 codes: per-dimension [mn,mx] over the whole corpus (the
    // entire "training"), code = ((q_i-mn)*255) // (mx-mn) — floor
    // division on non-negative BIGINTs, matching the operator's exact
    // integer divQ
    "sim_sq8_codes" ->
      s"""WITH $QNORM,
         |mm AS (
         |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
         |    SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS v
         |    FROM qn) t GROUP BY pos),
         |ml AS (SELECT list(mn ORDER BY pos) AS mnl,
         |              list(mx ORDER BY pos) AS mxl FROM mm)
         |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |       CAST(CASE WHEN mxl[i] = mnl[i] THEN 0
         |            ELSE ((q[i] - mnl[i]) * 255) // (mxl[i] - mnl[i])
         |            END AS BIGINT) AS code
         |FROM qn CROSS JOIN ml,
         |     UNNEST(range(1, CAST(len(q) AS BIGINT) + 1)) AS t(i)""".stripMargin,

    // SQ8 top-k: score against the dequantized reconstruction
    // recon_i = mn_i + (code_i*(mx_i-mn_i)) // 255 (a constant
    // dimension reconstructs to mn_i exactly — the CASE 0 code times
    // zero span)
    "sim_sq8_topk" ->
      s"""WITH $QNORM,
         |mm AS (
         |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
         |    SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS v
         |    FROM qn) t GROUP BY pos),
         |ml AS (SELECT list(mn ORDER BY pos) AS mnl,
         |              list(mx ORDER BY pos) AS mxl FROM mm),
         |rec AS (
         |  SELECT vec_id,
         |         list_transform(range(1, len(q)+1), i ->
         |           mnl[i] + ((CASE WHEN mxl[i] = mnl[i] THEN 0
         |                      ELSE ((q[i] - mnl[i]) * 255) //
         |                           (mxl[i] - mnl[i]) END)
         |                     * (mxl[i] - mnl[i])) // 255) AS recon
         |  FROM qn CROSS JOIN ml),
         |rn AS (SELECT vec_id, recon,
         |              CAST(list_sum(list_transform(recon, x -> x*x))
         |                   AS BIGINT) AS rnq FROM rec),
         |qd AS (SELECT vec_id AS query_id, q AS qq, nq AS qn2
         |       FROM qn WHERE vec_id < 8),
         |scored AS (
         |  SELECT qd.query_id, r.vec_id AS neighbor_id,
         |         CAST(qd.qn2 + r.rnq
         |              - 2 * ${dotSql("qd.qq", "r.recon")} AS BIGINT) AS adist_q
         |  FROM rn r CROSS JOIN qd WHERE r.vec_id <> qd.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY adist_q ASC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // BQ codes: per-dimension corpus SUM + COUNT, bit = strict
    // integer mean test q_i*n > s_i (no division anywhere)
    "sim_bq_codes" ->
      s"""WITH $QNORM,
         |st AS (
         |  SELECT pos, CAST(sum(v) AS BIGINT) AS sv,
         |         CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS v
         |    FROM qn) t GROUP BY pos),
         |sl AS (SELECT list(sv ORDER BY pos) AS svl, min(cnt) AS bn FROM st)
         |SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
         |       CAST(CASE WHEN q[i] * bn > svl[i] THEN 1 ELSE 0 END
         |            AS BIGINT) AS bit
         |FROM qn CROSS JOIN sl,
         |     UNNEST(range(1, CAST(len(q) AS BIGINT) + 1)) AS t(i)""".stripMargin,

    // BQ top-k: Hamming candidates over the bit lists
    // (popc(a)+popc(b)-2*dot), top-20 shortlist per query, exact
    // integer L2 rerank of the shortlist
    "sim_bq_topk" ->
      s"""WITH $QNORM,
         |st AS (
         |  SELECT pos, CAST(sum(v) AS BIGINT) AS sv,
         |         CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS v
         |    FROM qn) t GROUP BY pos),
         |sl AS (SELECT list(sv ORDER BY pos) AS svl, min(cnt) AS bn FROM st),
         |bp AS (
         |  SELECT vec_id,
         |         list_transform(range(1, len(q)+1),
         |           i -> CASE WHEN q[i] * bn > svl[i] THEN CAST(1 AS BIGINT)
         |                     ELSE CAST(0 AS BIGINT) END) AS bits
         |  FROM qn CROSS JOIN sl),
         |bp2 AS (SELECT vec_id, bits,
         |               -- COALESCE: DuckDB list_sum([]) is NULL where the
         |               -- Spark side's aggregate(bits, 0L, _+_) yields 0 —
         |               -- a zero-dim embedding row must hash identically
         |               CAST(COALESCE(list_sum(bits), 0) AS BIGINT) AS popc FROM bp),
         |qb AS (SELECT vec_id AS query_id, bits AS qbits, popc AS qpopc
         |       FROM bp2 WHERE vec_id < 8),
         |ham AS (
         |  SELECT qb.query_id, b.vec_id AS neighbor_id,
         |         CAST(qb.qpopc + b.popc
         |              - 2 * ${dotSql("qb.qbits", "b.bits")} AS BIGINT) AS ham
         |  FROM bp2 b CROSS JOIN qb WHERE b.vec_id <> qb.query_id),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY ham ASC, neighbor_id ASC) AS rn FROM ham)
         |  WHERE rn <= 20),
         |qd AS (SELECT vec_id AS query_id, q AS qq, nq AS qn2
         |       FROM qn WHERE vec_id < 8),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         CAST(qd.qn2 + nb.nq
         |              - 2 * ${dotSql("qd.qq", "nb.q")} AS BIGINT) AS dist_q
         |  FROM cand c
         |  JOIN qn nb ON nb.vec_id = c.neighbor_id
         |  JOIN qd ON qd.query_id = c.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dist_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY dist_q ASC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, dist_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // IVF-SQ8: the sim_sq8_topk recon CTEs + the ivf stand-in cell
    // routing (nz-filtered assignment — zero-norm vectors join no
    // cell, the operator's cid -1 edge) + per-candidate asymmetric
    // distance within probed cells
    "sim_ivfsq8_topk" ->
      s"""WITH $QNORM,
         |mm AS (
         |  SELECT pos, min(v) AS mn, max(v) AS mx FROM (
         |    SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS v
         |    FROM qn) t GROUP BY pos),
         |ml AS (SELECT list(mn ORDER BY pos) AS mnl,
         |              list(mx ORDER BY pos) AS mxl FROM mm),
         |rec AS (
         |  SELECT vec_id,
         |         list_transform(range(1, len(q)+1), i ->
         |           mnl[i] + ((CASE WHEN mxl[i] = mnl[i] THEN 0
         |                      ELSE ((q[i] - mnl[i]) * 255) //
         |                           (mxl[i] - mnl[i]) END)
         |                     * (mxl[i] - mnl[i])) // 255) AS recon
         |  FROM qn CROSS JOIN ml),
         |rrn AS (SELECT vec_id, recon,
         |               CAST(list_sum(list_transform(recon, x -> x*x))
         |                    AS BIGINT) AS rnq FROM rec),
         |nz AS (SELECT vec_id, q, nq FROM qn WHERE nq > 0),
         |cent AS (SELECT vec_id AS cid2, q AS cq2, nq AS cnq2 FROM qn
         |         WHERE vec_id < 16 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, cid2 FROM (
         |    SELECT v.vec_id, c.cid2,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM nz v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, cid2 FROM (
         |    SELECT v.vec_id AS query_id, c.cid2,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM qn v CROSS JOIN cent c WHERE v.vec_id < 8)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN asg a ON a.cid2 = p.cid2
         |  WHERE a.vec_id <> p.query_id),
         |qd AS (SELECT vec_id AS query_id, q AS qq, nq AS qn2
         |       FROM qn WHERE vec_id < 8),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         CAST(qd.qn2 + r.rnq
         |              - 2 * ${dotSql("qd.qq", "r.recon")} AS BIGINT) AS adist_q
         |  FROM cand c
         |  JOIN rrn r ON r.vec_id = c.neighbor_id
         |  JOIN qd ON qd.query_id = c.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY adist_q ASC, neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // residual IVF-PQ + refine: assignment (stand-in 16 cells) →
    // residual to the own-cell centroid → residual codebooks from the
    // vec_id<16 rows' residuals (codes in vec_id order, the PQ_CODES
    // convention) → per-cell ADC with the query's probed-cell residual
    // → top-10 preselect → exact-cosine re-rank top-5
    "sim_ivfpq_residual" ->
      s"""WITH $QNORM,
         |nz AS MATERIALIZED (SELECT vec_id, q, nq FROM qn WHERE nq > 0),
         |cent AS MATERIALIZED (
         |  SELECT vec_id AS cid2, q AS cq2, nq AS cnq2 FROM qn
         |  WHERE vec_id < 16 AND nq > 0),
         |asg AS MATERIALIZED (
         |  SELECT vec_id, cid2, q FROM (
         |    SELECT v.vec_id, c.cid2, v.q,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM nz v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |res AS MATERIALIZED (
         |  SELECT a.vec_id, a.cid2,
         |         list_transform(range(1, len(a.q)+1),
         |           i -> a.q[i] - c.cq2[i]) AS r
         |  FROM asg a JOIN cent c ON c.cid2 = a.cid2),
         |rsub AS MATERIALIZED (
         |  SELECT vec_id, j,
         |         list_slice(r, j*(len(r)//4) + 1, (j+1)*(len(r)//4)) AS sq
         |  FROM res CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         |cb AS MATERIALIZED (
         |  SELECT j,
         |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
         |              AS BIGINT) AS cid,
         |         sq AS cq,
         |         CAST(list_sum(list_transform(sq, x -> x*x)) AS BIGINT) AS cnq
         |  FROM rsub WHERE vec_id < 16),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT s.vec_id, s.j, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id, s.j
         |             ORDER BY c.cnq - 2*${dotSql("s.sq", "c.cq")} ASC,
         |                      c.cid ASC) AS rn
         |    FROM rsub s JOIN cb c USING (j)) WHERE rn = 1),
         |probes AS MATERIALIZED (
         |  SELECT query_id, cid2, qres,
         |         CAST(list_sum(list_transform(qres, x -> x*x)) AS BIGINT) AS qrn
         |  FROM (
         |    SELECT v.vec_id AS query_id, c.cid2,
         |           list_transform(range(1, len(v.q)+1),
         |             i -> v.q[i] - c.cq2[i]) AS qres,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq2")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq2 AS DOUBLE)) DESC,
         |             c.cid2 ASC) AS rn
         |    FROM nz v CROSS JOIN cent c WHERE v.vec_id < 8)
         |  WHERE rn <= 4),
         |qsub AS MATERIALIZED (
         |  SELECT query_id, cid2, qrn, j,
         |         list_slice(qres, j*(len(qres)//4) + 1, (j+1)*(len(qres)//4)) AS sq
         |  FROM probes CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
         |parts AS MATERIALIZED (
         |  SELECT qs.query_id, co.vec_id AS neighbor_id,
         |         CAST(any_value(qs.qrn) AS BIGINT) +
         |           CAST(sum(c.cnq - 2*${dotSql("qs.sq", "c.cq")}) AS BIGINT)
         |           AS adist_q
         |  FROM codes co
         |  JOIN res rr ON rr.vec_id = co.vec_id
         |  JOIN qsub qs ON qs.j = co.j AND qs.cid2 = rr.cid2
         |  JOIN cb c ON c.j = co.j AND c.cid = co.cid
         |  WHERE co.vec_id <> qs.query_id
         |  GROUP BY 1, 2),
         |pre AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY adist_q ASC, neighbor_id ASC) AS rn
         |    FROM parts) WHERE rn <= 10),
         |qd AS (SELECT vec_id AS query_id, q, nq FROM nz WHERE vec_id < 8),
         |rer AS (
         |  SELECT p.query_id, p.neighbor_id,
         |         ${dotSql("qd.q", "nb.q")} AS dot_q,
         |         CAST(qd.nq AS DOUBLE)*CAST(nb.nq AS DOUBLE) AS nn
         |  FROM pre p
         |  JOIN qd ON qd.query_id = p.query_id
         |  JOIN nz nb ON nb.vec_id = p.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC,
         |                    neighbor_id ASC) AS BIGINT) AS "rank"
         |  FROM rer)
         |SELECT query_id, neighbor_id, dot_q, "rank"
         |FROM ranked WHERE "rank" <= 5""".stripMargin,

    // capped variant: per-(band,bucket) occupancy sizes drive the same
    // portable sub-split hash as sim_semantic_dedup_capped; the exact
    // floor groups on the full quantized vector (the engine groups on
    // two 64-bit hashes of it — identical result absent a 2^-128
    // double collision, and collisions only propose candidates that
    // the shared verification join still has to pass)
    "sim_near_dup_capped" ->
      s"""WITH $QNORM,
         |s AS (
         |  SELECT vec_id, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qn CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
         |bk AS (
         |  SELECT vec_id, j // 4 AS band,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, band),
         |sizes AS (SELECT band, bucket, COUNT(*) AS bkt_n FROM bk GROUP BY band, bucket),
         |sb AS (
         |  SELECT b.vec_id, b.band, b.bucket,
         |         ((b.vec_id % 1000000007) * 1103515245 + 12345) % 1000000007
         |           % CAST(ceil(CAST(z.bkt_n AS DOUBLE) / 8) AS BIGINT) AS sub
         |  FROM bk b JOIN sizes z ON z.band = b.band AND z.bucket = b.bucket),
         |banded AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sb a JOIN sb b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.sub = b.sub
         |   AND a.vec_id < b.vec_id),
         |ex AS (SELECT q, MIN(vec_id) AS rep_id FROM qn GROUP BY q),
         |stars AS (
         |  SELECT e.rep_id AS id_a, v.vec_id AS id_b
         |  FROM qn v JOIN ex e ON e.q = v.q
         |  WHERE v.vec_id > e.rep_id),
         |cands AS (
         |  SELECT DISTINCT id_a, id_b FROM
         |    (SELECT * FROM banded UNION ALL SELECT * FROM stars)),
         |pairs AS (
         |  SELECT c.id_a, c.id_b,
         |         ${dotSql("a.q", "b.q")} AS dot_q,
         |         CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE) AS nn
         |  FROM cands c
         |  JOIN qn a ON a.vec_id = c.id_a
         |  JOIN qn b ON b.vec_id = c.id_b)
         |SELECT id_a, id_b, dot_q FROM pairs
         |WHERE CAST(dot_q AS DOUBLE) >= (400000.0/1000000.0)*sqrt(nn)""".stripMargin,

    "sim_semantic_dedup" ->
      s"""WITH $QNORM,
         |cents AS (SELECT vec_id AS cid, q AS cq, nq AS cnq FROM qn
         |          WHERE vec_id < 8 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           CAST(row_number() OVER (
         |             PARTITION BY v.vec_id
         |             ORDER BY CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) /
         |                      sqrt(CAST(v.nq AS DOUBLE) * CAST(c.cnq AS DOUBLE)) DESC,
         |                      c.cid ASC) AS BIGINT) AS rn
         |    FROM qn v CROSS JOIN cents c WHERE v.nq > 0)
         |  WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN qn qa ON qa.vec_id = a.vec_id
         |  JOIN qn qb ON qb.vec_id = b.vec_id
         |  WHERE CAST(${dotSql("qa.q", "qb.q")} AS DOUBLE) >=
         |        (400000.0/1000000.0) * sqrt(CAST(qa.nq AS DOUBLE) * CAST(qb.nq AS DOUBLE)))
         |SELECT vec_id, cid FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |UNION ALL
         |SELECT vec_id, CAST(-1 AS BIGINT) AS cid FROM qn WHERE nq = 0""".stripMargin,

    // hybrid RRF: the BM25 CTE (rank <= 20) fused with single-query
    // brute cosine (rank <= 20) by 10^6 div (60 + rank)
    "q_hybrid_rrf" ->
      s"""WITH $QNORM,
         |pd AS (
         |  SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS dl,
         |         CAST(len(list_filter($TOKS, t -> t = 'vector')) AS BIGINT) AS tf_0,
         |         CAST(len(list_filter($TOKS, t -> t = 'stream')) AS BIGINT) AS tf_1,
         |         CAST(len(list_filter($TOKS, t -> t = 'spark')) AS BIGINT) AS tf_2
         |  FROM documents),
         |cst AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(dl) AS BIGINT) AS tot_tok,
         |         CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
         |         CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
         |         CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_2
         |  FROM pd),
         |sbm AS (
         |  SELECT doc_id,
         |    ((CASE WHEN tf_0 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_0 + 1)) // (2*df_0 + 1) * tf_0 * 2200)
         |          // (tf_0*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |      ELSE 0 END) +
         |     (CASE WHEN tf_1 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_1 + 1)) // (2*df_1 + 1) * tf_1 * 2200)
         |          // (tf_1*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |      ELSE 0 END) +
         |     (CASE WHEN tf_2 > 0 THEN
         |        ((1000*(2*n_docs - 2*df_2 + 1)) // (2*df_2 + 1) * tf_2 * 2200)
         |          // (tf_2*1000 + (1200*(250 + (750*dl*n_docs) // tot_tok)) // 1000)
         |      ELSE 0 END)) AS score_e3
         |  FROM pd CROSS JOIN cst),
         |lex AS (
         |  SELECT doc_id AS id, rank_a FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score_e3 DESC, doc_id ASC)
         |      AS rank_a FROM sbm)
         |  WHERE rank_a <= 20),
         |sem AS (
         |  SELECT id, rank_b FROM (
         |    SELECT c.vec_id AS id,
         |           row_number() OVER (ORDER BY
         |             CAST(${dotSql("c.q", "qq.q")} AS DOUBLE) /
         |               sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) DESC,
         |             c.vec_id ASC) AS rank_b
         |    FROM qn c CROSS JOIN (SELECT q, nq FROM qn WHERE vec_id = 5) qq
         |    WHERE c.vec_id <> 5)
         |  WHERE rank_b <= 20),
         |f AS (
         |  SELECT COALESCE(l.id, s.id) AS id,
         |         COALESCE(1000000 // (60 + l.rank_a), 0)
         |           + COALESCE(1000000 // (60 + s.rank_b), 0) AS rrf_e6
         |  FROM lex l FULL OUTER JOIN sem s ON l.id = s.id)
         |SELECT id, rrf_e6,
         |       CAST(row_number() OVER (ORDER BY rrf_e6 DESC, id ASC) AS BIGINT)
         |         AS "rank"
         |FROM f ORDER BY rrf_e6 DESC, id ASC LIMIT 10""".stripMargin,

    // query-set hybrid retrieval: the t_bm25_multiquery lexical CTE ∪
    // per-query brute cosine, fused per query_id with the same exact
    // integer RRF arithmetic
    "q_hybrid_rrf_multi" ->
      s"""WITH $QNORM,
         |$HYBRID_LEXSEM,
         |f AS (
         |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         |         COALESCE(l.id, s.id) AS id,
         |         COALESCE(1000000 // (60 + l.rank_a), 0)
         |           + COALESCE(1000000 // (60 + s.rank_b), 0) AS rrf_e6
         |  FROM lex l FULL OUTER JOIN sem s
         |    ON l.query_id = s.query_id AND l.id = s.id)
         |SELECT query_id, id, rrf_e6,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY rrf_e6 DESC, id ASC) AS BIGINT) AS "rank"
         |FROM f QUALIFY "rank" <= 10""".stripMargin,

    // Kendall agreement between the full-dim brute ranking (qn) and
    // the 16-dim truncated twin (tn): common items per query, every
    // unordered pair concordant/discordant, tau-a counts
    "q_rank_agreement" ->
      s"""WITH $QNORM,
         |tv AS (
         |  SELECT vec_id,
         |         list_transform(embedding[1:16],
         |           x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |tn AS (SELECT vec_id, q,
         |              CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nq
         |       FROM tv),
         |lex AS (
         |  SELECT query_id, id, rank_a FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS id,
         |           row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |             CAST(${dotSql("c.q", "qq.q")} AS DOUBLE) /
         |               sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) DESC,
         |             c.vec_id ASC) AS rank_a
         |    FROM qn c JOIN qn qq ON qq.vec_id < 3 AND c.vec_id <> qq.vec_id)
         |  WHERE rank_a <= 20),
         |sem AS (
         |  SELECT query_id, id, rank_b FROM (
         |    SELECT qq.vec_id AS query_id, c.vec_id AS id,
         |           row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |             CAST(${dotSql("c.q", "qq.q")} AS DOUBLE) /
         |               sqrt(CAST(c.nq AS DOUBLE) * CAST(qq.nq AS DOUBLE)) DESC,
         |             c.vec_id ASC) AS rank_b
         |    FROM tn c JOIN tn qq ON qq.vec_id < 3 AND c.vec_id <> qq.vec_id)
         |  WHERE rank_b <= 20),
         |common AS (
         |  SELECT l.query_id, l.id, l.rank_a AS ra, s.rank_b AS rb
         |  FROM lex l JOIN sem s ON l.query_id = s.query_id AND l.id = s.id),
         |pairs AS (
         |  SELECT a.query_id,
         |         CASE WHEN (a.ra < b.ra AND a.rb < b.rb)
         |                OR (a.ra > b.ra AND a.rb > b.rb)
         |              THEN 1 ELSE 0 END AS conc
         |  FROM common a JOIN common b
         |    ON a.query_id = b.query_id AND a.id < b.id),
         |cnt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common
         |        FROM common GROUP BY 1),
         |pa AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |              CAST(SUM(conc) AS BIGINT) AS concordant
         |       FROM pairs GROUP BY 1)
         |SELECT c.query_id, c.n_common,
         |       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(p.concordant, 0) AS BIGINT) AS concordant,
         |       CAST(COALESCE(p.n_pairs, 0) - COALESCE(p.concordant, 0)
         |         AS BIGINT) AS discordant,
         |       CAST(2*COALESCE(p.concordant, 0) - COALESCE(p.n_pairs, 0)
         |         AS BIGINT) AS tau_num
         |FROM cnt c LEFT JOIN pa p ON c.query_id = p.query_id""".stripMargin,

    // prototypicality: same stand-in assignment as sim_semantic_dedup,
    // then in-cell rank by cosine to the OWN centroid (sqrt is
    // IEEE-correctly-rounded, so the double ordering is engine-exact)
    "sim_prototypicality" ->
      s"""WITH $QNORM,
         |cents AS (SELECT vec_id AS cid, q AS cq, nq AS cnq FROM qn
         |          WHERE vec_id < 8 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, q, nq, cid, cq, cnq FROM (
         |    SELECT v.vec_id, v.q, v.nq, c.cid, c.cq, c.cnq,
         |           row_number() OVER (
         |             PARTITION BY v.vec_id
         |             ORDER BY CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) /
         |                      sqrt(CAST(v.nq AS DOUBLE) * CAST(c.cnq AS DOUBLE)) DESC,
         |                      c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c WHERE v.nq > 0)
         |  WHERE rn = 1),
         |sc AS (
         |  SELECT vec_id, cid, ${dotSql("q", "cq")} AS dot_q,
         |         CAST(${dotSql("q", "cq")} AS DOUBLE) /
         |           sqrt(CAST(nq AS DOUBLE) * CAST(cnq AS DOUBLE)) AS pcos
         |  FROM asg)
         |SELECT vec_id, cid, dot_q,
         |       CAST(row_number() OVER (
         |         PARTITION BY cid ORDER BY pcos DESC, vec_id ASC)
         |         AS BIGINT) AS rank_in_cell
         |FROM sc
         |UNION ALL
         |SELECT vec_id, CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM qn WHERE nq = 0""".stripMargin,

    // capped SemDeDup: same assignment, then cells sub-split into
    // ceil(cell_n/32) sub-cells by the portable vec_id hash; near-dup
    // pairs only within (cid, sub); exact duplicates (same q) dropped
    // cell-wide by a linear grouped pass
    "sim_semantic_dedup_capped" ->
      s"""WITH $QNORM,
         |cents AS (SELECT vec_id AS cid, q AS cq, nq AS cnq FROM qn
         |          WHERE vec_id < 8 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           CAST(row_number() OVER (
         |             PARTITION BY v.vec_id
         |             ORDER BY CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) /
         |                      sqrt(CAST(v.nq AS DOUBLE) * CAST(c.cnq AS DOUBLE)) DESC,
         |                      c.cid ASC) AS BIGINT) AS rn
         |    FROM qn v CROSS JOIN cents c WHERE v.nq > 0)
         |  WHERE rn = 1),
         |sizes AS (SELECT cid, COUNT(*) AS cell_n FROM asg GROUP BY cid),
         |sub AS (
         |  SELECT a.vec_id, a.cid,
         |         ((a.vec_id % 1000000007) * 1103515245 + 12345) % 1000000007
         |           % CAST(ceil(CAST(s.cell_n AS DOUBLE) / 32) AS BIGINT) AS sub
         |  FROM asg a JOIN sizes s ON s.cid = a.cid),
         |dropped_near AS (
         |  SELECT b.vec_id
         |  FROM sub a JOIN sub b
         |    ON a.cid = b.cid AND a.sub = b.sub AND a.vec_id < b.vec_id
         |  JOIN qn qa ON qa.vec_id = a.vec_id
         |  JOIN qn qb ON qb.vec_id = b.vec_id
         |  WHERE CAST(${dotSql("qa.q", "qb.q")} AS DOUBLE) >=
         |        (400000.0/1000000.0) * sqrt(CAST(qa.nq AS DOUBLE) * CAST(qb.nq AS DOUBLE))),
         |wq AS (SELECT a.vec_id, a.cid, v.q FROM asg a JOIN qn v ON v.vec_id = a.vec_id),
         |keepx AS (SELECT cid, q, MIN(vec_id) AS keep_id FROM wq GROUP BY cid, q),
         |dropped_exact AS (
         |  SELECT w.vec_id FROM wq w JOIN keepx k ON k.cid = w.cid AND k.q = w.q
         |  WHERE w.vec_id > k.keep_id),
         |dropped AS (SELECT vec_id FROM dropped_near
         |            UNION SELECT vec_id FROM dropped_exact)
         |SELECT vec_id, cid FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |UNION ALL
         |SELECT vec_id, CAST(-1 AS BIGINT) AS cid FROM qn WHERE nq = 0""".stripMargin,

    "sim_dedup_clusters" ->
      s"""WITH RECURSIVE $QNORM,
         |s AS (
         |  SELECT vec_id, j,
         |         list_sum(list_transform(range(1, len(q)+1),
         |           i -> q[i] * ((i*1103515245 + (j+1)*12345) % 2001 - 1000))) AS sv
         |  FROM qn CROSS JOIN (SELECT unnest(range(0, 16)) AS j)),
         |bk AS (
         |  SELECT vec_id, j // 4 AS band,
         |         CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (j % 4))
         |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
         |  FROM s GROUP BY vec_id, band),
         |cands AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cands c
         |  JOIN qn a ON a.vec_id = c.id_a
         |  JOIN qn b ON b.vec_id = c.id_b
         |  WHERE CAST(${dotSql("a.q", "b.q")} AS DOUBLE) >=
         |        (400000.0/1000000.0)*sqrt(CAST(a.nq AS DOUBLE)*CAST(b.nq AS DOUBLE))),
         |e AS (SELECT id_a AS u, id_b AS v FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v)
         |SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS component_id
         |FROM reach GROUP BY a""".stripMargin,

    "e_tumbling" ->
      """SELECT CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS window_start_ms,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(floor(value*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_e4
        |FROM events GROUP BY 1, 2""".stripMargin,

    "e_sliding" ->
      """WITH e AS (SELECT epoch_ms(ts) AS t, event_type, value FROM events),
        |x AS (
        |  SELECT CAST(floor(t/900000)*900000 AS BIGINT) - off*900000 AS window_start_ms,
        |         event_type, value
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS off))
        |SELECT window_start_ms, event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(floor(value*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_e4
        |FROM x GROUP BY 1, 2""".stripMargin,

    "e_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
        |l AS (SELECT user_id, t,
        |             lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev_t FROM e),
        |n AS (SELECT user_id, t,
        |             CASE WHEN prev_t IS NULL OR t - prev_t >= 1800000 THEN 1 ELSE 0 END AS new_s
        |      FROM l),
        |s AS (SELECT user_id, t,
        |             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |                              ROWS UNBOUNDED PRECEDING) AS session_no
        |      FROM n)
        |SELECT user_id, CAST(MIN(t) AS BIGINT) AS session_start_ms,
        |       CAST(MAX(t) AS BIGINT) AS last_event_ms, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_no""".stripMargin,

    "e_latest_per_key" ->
      """SELECT user_id, event_type, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "e_validity" ->
      """SELECT user_id, event_type, event_id,
        |       CAST(epoch_ms(ts) AS BIGINT) AS valid_from,
        |       CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_e4,
        |       CAST(epoch_ms(lead(ts, 1) OVER (
        |         PARTITION BY user_id, event_type
        |         ORDER BY ts, event_id)) AS BIGINT) AS valid_to
        |FROM events""".stripMargin,

    // the naive quadratic-per-key predicate-join form — the engine's
    // chunked equi-join is pinned ≡ to it (and the no-dedup
    // emit-once-at-overlap-start trick is thereby oracle-checked)
    "j_interval_overlap" ->
      """WITH iv AS (
        |  SELECT user_id, event_type, event_id,
        |         CAST(epoch_ms(ts) AS BIGINT) AS from_ms,
        |         CAST(epoch_ms(lead(ts, 1) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id)) AS BIGINT) AS to_ms
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT MAX(x) + 1 AS m FROM (
        |        SELECT from_ms AS x FROM iv
        |        UNION ALL SELECT to_ms FROM iv)),
        |a AS (SELECT user_id, event_id AS id_a, from_ms AS from_a,
        |             COALESCE(to_ms, (SELECT m FROM m)) AS to_a
        |      FROM iv WHERE event_type = 'click'),
        |b AS (SELECT user_id, event_id AS id_b, from_ms AS from_b,
        |             COALESCE(to_ms, (SELECT m FROM m)) AS to_b
        |      FROM iv WHERE event_type = 'purchase')
        |SELECT a.user_id, id_a, id_b,
        |       GREATEST(from_a, from_b) AS overlap_from,
        |       LEAST(to_a, to_b) AS overlap_to,
        |       LEAST(to_a, to_b) - GREATEST(from_a, from_b) AS overlap_ms
        |FROM a JOIN b ON a.user_id = b.user_id
        |WHERE from_a < to_b AND from_b < to_a
        |  AND from_a < to_a AND from_b < to_b""".stripMargin,

    "e_cdc_apply" ->
      """WITH ev AS (
        |  SELECT user_id AS key, event_type, event_id,
        |         CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_e4
        |  FROM events),
        |state AS (
        |  SELECT key, value_e4, ts_ms AS updated_ms FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts_ms < 1705276800000)
        |  WHERE rn = 1),
        |latest AS (
        |  SELECT key, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         value_e4 AS new_value_e4, ts_ms AS new_ms FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key
        |      ORDER BY ts_ms DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts_ms >= 1705276800000)
        |  WHERE rn = 1)
        |SELECT COALESCE(s.key, l.key) AS key,
        |       CASE WHEN l.op = 'U' THEN l.new_value_e4 ELSE s.value_e4 END
        |         AS value_e4,
        |       CASE WHEN l.op = 'U' THEN l.new_ms ELSE s.updated_ms END
        |         AS updated_ms
        |FROM state s FULL OUTER JOIN latest l ON s.key = l.key
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    "e_decayed" ->
      """WITH base AS (
        |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS t,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_e4
        |  FROM events),
        |r AS (SELECT MAX(t) AS t_ref FROM base),
        |w AS (
        |  SELECT user_id, t, value_e4,
        |         1000 // (CAST(1 AS BIGINT) <<
        |           least((r.t_ref - t) // 259200000, 20)) AS w_e3
        |  FROM base CROSS JOIN r)
        |SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM((value_e4 * w_e3) // 1000) AS BIGINT) AS decayed_value_e4,
        |       CAST(MAX(t) AS BIGINT) AS latest_ms
        |FROM w GROUP BY user_id""".stripMargin,

    "e_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.t) AS t
        |       FROM e JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t
        |       FROM e JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |       CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)""".stripMargin,

    // the funnel chain with the 1 h per-step deadline riding each join
    "e_funnel_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.t) AS t
        |       FROM e JOIN s1 ON e.user_id = s1.user_id
        |            AND e.t > s1.t AND e.t <= s1.t + 3600000
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t
        |       FROM e JOIN s2 ON e.user_id = s2.user_id
        |            AND e.t > s2.t AND e.t <= s2.t + 3600000
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |       CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)""".stripMargin,

    // trailing-window z² test in the same exact integer arithmetic:
    // (x·n − s)² > 9·(n·q − s²) over the 8 PRECEDING rows, ≥4 samples
    "e_rolling_anomaly" ->
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS t,
        |         CAST(floor(value*100 + 0.5) AS BIGINT) AS v_e2,
        |         ts FROM events),
        |w AS (
        |  SELECT event_id, user_id, t, v_e2,
        |         COUNT(v_e2) OVER pw AS n_prev,
        |         COALESCE(SUM(v_e2) OVER pw, 0) AS s_prev,
        |         COALESCE(SUM(v_e2*v_e2) OVER pw, 0) AS q_prev
        |  FROM v
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, t, v_e2, CAST(n_prev AS BIGINT) AS n_prev
        |FROM w
        |WHERE n_prev >= 4
        |  AND (v_e2*n_prev - s_prev)*(v_e2*n_prev - s_prev)
        |        > 9*(n_prev*q_prev - s_prev*s_prev)""".stripMargin,

    "e_transitions" ->
      """WITH o AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, COUNT(*) AS n
        |FROM o WHERE to_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "e_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS p FROM events),
        |first AS (SELECT user_id, MIN(p) AS cohort_p FROM act GROUP BY 1)
        |SELECT f.cohort_p, a.p - f.cohort_p AS period_offset, COUNT(*) AS n_users
        |FROM act a JOIN first f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,

    "j_range_window" ->
      """WITH c AS (
        |  SELECT event_id AS click_id, epoch_ms(ts) AS t
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS purchase_id,
        |         epoch_ms(ts) AS w_start, epoch_ms(ts) + 3600000 AS w_end
        |  FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0)
        |SELECT click_id, purchase_id, t, w_start
        |FROM c JOIN p ON t >= w_start AND t <= w_end""".stripMargin,

    "agg_median_price" ->
      """SELECT o_orderstatus,
        |       CAST(floor(quantile_cont(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT), 0.5)*10)
        |            AS BIGINT) AS median_cents_e1,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // default RANGE frame on both engines: equal values share one cumw,
    // so the smallest value reaching half-total is tie-deterministic
    "agg_weighted_median" ->
      """WITH s AS (
        |  SELECT l_returnflag AS g,
        |         CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v,
        |         CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (
        |  SELECT g, v, w,
        |         SUM(w) OVER (PARTITION BY g ORDER BY v) AS cumw,
        |         SUM(w) OVER (PARTITION BY g) AS tot
        |  FROM s)
        |SELECT g AS l_returnflag, CAST(MIN(v) AS BIGINT) AS wmedian_cents
        |FROM c WHERE cumw * 2 >= tot GROUP BY g""".stripMargin,

    "j_asof_purchase" -> ASOF_SQL,
    // identical oracle on purpose: the hash-compare proves the native
    // AsofJoinExec path computes exactly what the window form does
    "j_asof_native" -> ASOF_SQL,

    "sim_ivf_topk" ->
      s"""WITH $QNORM,
         |cent AS (SELECT vec_id AS cid, q AS cq, nq AS cnq FROM qn
         |         WHERE vec_id < 16 AND nq > 0),
         |asg AS (
         |  SELECT vec_id, q, nq, cid FROM (
         |    SELECT v.vec_id, v.q, v.nq, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq AS DOUBLE)) DESC,
         |             c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cent c)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, qq, qn2, cid FROM (
         |    SELECT v.vec_id AS query_id, v.q AS qq, v.nq AS qn2, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             CAST(${dotSql("v.q", "c.cq")} AS DOUBLE) /
         |               sqrt(CAST(v.nq AS DOUBLE)*CAST(c.cnq AS DOUBLE)) DESC,
         |             c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cent c WHERE v.vec_id < 8)
         |  WHERE rn <= 4),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |         ${dotSql("p.qq", "a.q")} AS dot_q,
         |         CAST(p.qn2 AS DOUBLE)*CAST(a.nq AS DOUBLE) AS nn
         |  FROM probes p JOIN asg a ON a.cid = p.cid
         |  WHERE a.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, dot_q,
         |         CAST(row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY CAST(dot_q AS DOUBLE)/sqrt(nn) DESC, neighbor_id ASC)
         |         AS BIGINT) AS "rank"
         |  FROM scored)
         |SELECT query_id, neighbor_id, dot_q, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())""".stripMargin,

    "agg_state_merge" ->
      """WITH old AS (
        |  SELECT l_suppkey, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |nw AS (
        |  SELECT l_suppkey, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
        |  FROM lineitem WHERE l_orderkey % 2 <> 0 GROUP BY 1)
        |SELECT COALESCE(old.l_suppkey, nw.l_suppkey) AS l_suppkey,
        |       COALESCE(old.n, 0) + COALESCE(nw.n, 0) AS n,
        |       COALESCE(old.s, 0) + COALESCE(nw.s, 0) AS s
        |FROM old FULL OUTER JOIN nw ON old.l_suppkey = nw.l_suppkey""".stripMargin,

    "e_props_json" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,

    "m_decode_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       lower(hex(encode(substring(text, 1, 4)))) AS magic_hex,
        |       32 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS width,
        |       32 + CAST(ascii(substring(text, 1, 1)) AS BIGINT) % 224 AS height
        |FROM documents""".stripMargin,

    "m_resize_meta" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         32 + CAST(octet_length(encode(text)) AS BIGINT) % 480 AS width,
        |         32 + CAST(ascii(substring(text, 1, 1)) AS BIGINT) % 224 AS height
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, width, height,
        |         least(1000, least(64000 // width, 64000 // height)) AS scale_e3
        |  FROM dims)
        |SELECT doc_id, width, height,
        |       width * scale_e3 // 1000 AS out_w,
        |       height * scale_e3 // 1000 AS out_h
        |FROM s""".stripMargin,

    "m_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id,
        |         8 + CAST(octet_length(encode(text)) AS BIGINT) % 120 AS n_frames
        |  FROM documents)
        |SELECT doc_id, unnest(range(0, n_frames, 7)) AS frame_idx, n_frames
        |FROM v""".stripMargin,

    "pipe_curation" ->
      s"""WITH RECURSIVE
         |${curationCoreSql("documents")}""".stripMargin,

    // scrub-then-curate (the RefinedWeb-style chain): exact-substring
    // positions removed keep-first FIRST, then the full default
    // curation DAG runs over the scrubbed text — one whole-chain
    // oracle across both compositions
    "pipe_curation_scrub" ->
      s"""WITH RECURSIVE $EXACT_SPAN_ISLANDS,
         |spos AS (SELECT doc_id, unnest(range(wstart, wend + 1)) AS pos FROM iv),
         |stk AS (SELECT doc_id, unnest($TOKS) AS tok,
         |               generate_subscripts($TOKS, 1) - 1 AS pos
         |        FROM documents),
         |skeep AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM stk t
         |  LEFT JOIN spos p ON p.doc_id = t.doc_id AND p.pos = t.pos
         |  WHERE p.doc_id IS NULL),
         |ska AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS retained_text
         |  FROM skeep GROUP BY 1),
         |scrub AS (
         |  SELECT t.doc_id, COALESCE(ska.retained_text, '') AS text
         |  FROM tot t LEFT JOIN ska USING (doc_id)),
         |${curationCoreSql("scrub")}""".stripMargin,

    "pipe_curation_quota" ->
      s"""WITH RECURSIVE
         |kq AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         |cd0 AS (
         |  SELECT doc_id, text FROM kq
         |  WHERE len(toks) >= 5 AND len(toks) <= 100000
         |    AND len(list_filter(toks, t -> list_contains(
         |      ['the','a','an','of','and','to','in','is','it','on'], t)))*1000
         |        >= len(toks)*10),
         |exd AS (SELECT min(doc_id) AS doc_id FROM cd0 GROUP BY text),
         |cd AS (SELECT c.doc_id, c.text FROM cd0 c JOIN exd USING (doc_id)),
         |${simhashSql("cd")},
         |$SIMHASH_CAPPED_CPAIRS,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
         |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM cd
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
         |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a),
         |surv AS (
         |  SELECT c.doc_id, c.text FROM cd c
         |  JOIN comp p ON c.doc_id = p.doc_id AND p.doc_id = p.component_id),
         |mix AS (
         |  SELECT doc_id, text FROM (
         |    SELECT s.doc_id, s.text,
         |           row_number() OVER (
         |             PARTITION BY d.source
         |             ORDER BY ${ph("s.text")} ASC, s.doc_id ASC) AS rn
         |    FROM surv s JOIN documents d ON d.doc_id = s.doc_id)
         |  WHERE rn <= 1),
         |bk AS (SELECT doc_id, ${ph("text")} % 1000 AS bucket FROM mix)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM bk""".stripMargin,

    "pipe_curation_full" ->
      s"""WITH RECURSIVE
         |kq AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         |cd0 AS (
         |  SELECT doc_id, text FROM kq
         |  WHERE len(toks) >= 5 AND len(toks) <= 100000
         |    AND len(list_filter(toks, t -> list_contains(
         |      ['the','a','an','of','and','to','in','is','it','on'], t)))*1000
         |        >= len(toks)*10),
         |rep AS (
         |  SELECT doc_id,
         |         CASE WHEN n_bi > 0 THEN floor(max_c*1000/n_bi) ELSE 0 END AS tb
         |  FROM (SELECT doc_id, max(c) AS max_c, sum(c) AS n_bi FROM (
         |          SELECT doc_id, sh2, count(*) AS c FROM (
         |            SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |              THEN list_transform(range(1, len(toks)),
         |                   i -> ${ph("array_to_string(toks[i:i+1], ' ')")})
         |              ELSE [] END) AS sh2
         |            FROM kq) GROUP BY doc_id, sh2) GROUP BY doc_id)),
         |$SHINGLES,
         |conthit AS (
         |  SELECT s.doc_id, p.probe_id FROM sh s
         |  JOIN (SELECT doc_id AS probe_id, sh FROM sh WHERE doc_id % 50 = 0) p
         |    ON s.sh = p.sh
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |cont AS (SELECT DISTINCT doc_id FROM conthit),
         |cd1 AS (
         |  SELECT c.doc_id, c.text FROM cd0 c
         |  JOIN rep r ON r.doc_id = c.doc_id AND r.tb <= 80
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM cont)),
         |exd AS (SELECT min(doc_id) AS doc_id FROM cd1 GROUP BY text),
         |cd AS (SELECT c.doc_id, c.text FROM cd1 c JOIN exd USING (doc_id)),
         |${simhashSql("cd")},
         |$SIMHASH_CAPPED_CPAIRS,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM cpairs
         |      UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM cd
         |  UNION
         |  SELECT e.u, r.b FROM e JOIN reach r ON r.a = e.v),
         |comp AS (SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a),
         |surv AS (
         |  SELECT c.doc_id, c.text FROM cd c
         |  JOIN comp p ON c.doc_id = p.doc_id AND p.doc_id = p.component_id),
         |bk AS (SELECT doc_id, ${ph("text")} % 1000 AS bucket FROM surv)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM bk""".stripMargin,

    "m_payload_dedup" ->
      """SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_copies,
        |       CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents GROUP BY text""".stripMargin,

    "dgen_source_stats" ->
      """WITH g AS (
        |  SELECT i AS doc_id,
        |         'src' || CAST(i % 20 AS VARCHAR) AS source,
        |         array_to_string(list_transform(range(0, 5 + i % 5),
        |           j -> 'w' || CAST((i*31 + j) % 97 AS VARCHAR)), ' ') AS text
        |  FROM (SELECT unnest(range(0, 2000)) AS i))
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM g WHERE doc_id >= 500 GROUP BY source""".stripMargin,

    "m_perceptual_pairs" ->
      """WITH cp AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, (i - 1) // 16 AS block_no,
        |         CAST(unicode(substring(text, i, 1)) AS BIGINT) AS cpv
        |  FROM cp),
        |b AS (
        |  SELECT doc_id, block_no,
        |         CAST(COUNT(*) AS BIGINT) AS n_cp,
        |         CAST(SUM(cpv) AS BIGINT) AS sum_cp
        |  FROM c GROUP BY doc_id, block_no),
        |t AS (
        |  SELECT doc_id, CAST(SUM(sum_cp) AS BIGINT) AS tot_sum,
        |         CAST(SUM(n_cp) AS BIGINT) AS tot_n
        |  FROM b GROUP BY doc_id),
        |sig AS (
        |  SELECT b.doc_id,
        |         CAST(SUM(CASE WHEN sum_cp * tot_n > tot_sum * n_cp
        |                       THEN CAST(1 AS BIGINT) << CAST(block_no AS INT)
        |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |  FROM b JOIN t USING (doc_id)
        |  WHERE block_no < 32 GROUP BY b.doc_id),
        |banded AS (
        |  SELECT doc_id, band, (simhash >> (band*8)) & 255 AS band_val
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        |  FROM banded l JOIN banded r
        |    ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |FROM cands
        |JOIN sig sa ON sa.doc_id = doc_a
        |JOIN sig sb ON sb.doc_id = doc_b
        |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin,

    // StubCodec samples = codepoints; full 4-codepoint windows, energy
    // = window sum, bit k-1 = energy(k) > energy(k-1) for k ≤ 60;
    // window-less docs report (0, 0) like the engine
    "m_audio_fp" ->
      """WITH cp AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, (i - 1) // 4 AS win_no,
        |         CAST(unicode(substring(text, i, 1)) AS BIGINT) AS cpv
        |  FROM cp),
        |e AS (
        |  SELECT doc_id, win_no, CAST(SUM(cpv) AS BIGINT) AS energy,
        |         COUNT(*) AS m
        |  FROM c GROUP BY doc_id, win_no),
        |f AS (SELECT doc_id, win_no, energy FROM e WHERE m = 4),
        |d AS (
        |  SELECT doc_id, win_no, energy,
        |         lag(energy) OVER (PARTITION BY doc_id ORDER BY win_no)
        |           AS prev_e
        |  FROM f),
        |s AS (
        |  SELECT doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_windows,
        |         CAST(SUM(CASE WHEN prev_e IS NOT NULL AND win_no <= 60
        |                         AND energy > prev_e
        |                       THEN CAST(1 AS BIGINT) << CAST(win_no - 1 AS INT)
        |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
        |  FROM d GROUP BY doc_id)
        |SELECT w.doc_id,
        |       CASE WHEN w.text IS NULL THEN NULL
        |            ELSE coalesce(s.n_windows, CAST(0 AS BIGINT)) END AS n_windows,
        |       CASE WHEN w.text IS NULL THEN NULL
        |            ELSE coalesce(s.fp, CAST(0 AS BIGINT)) END AS fp
        |FROM documents w LEFT JOIN s USING (doc_id)""".stripMargin,

    "m_block_stats" ->
      """WITH cp AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, (i - 1) // 64 AS block_no,
        |         CAST(unicode(substring(text, i, 1)) AS BIGINT) AS cpv
        |  FROM cp)
        |SELECT doc_id, block_no,
        |       COUNT(*) AS n_cp,
        |       CAST(SUM(cpv) AS BIGINT) AS sum_cp,
        |       CAST(MIN(cpv) AS BIGINT) AS min_cp,
        |       CAST(MAX(cpv) AS BIGINT) AS max_cp
        |FROM c GROUP BY doc_id, block_no""".stripMargin,

    // the block-stats chain + one lag window: adjacent-mean deltas,
    // integer e3 means, same threshold
    "m_scene_cuts" ->
      """WITH cp AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, (i - 1) // 64 AS block_no,
        |         CAST(unicode(substring(text, i, 1)) AS BIGINT) AS cpv
        |  FROM cp),
        |b AS (
        |  SELECT doc_id, block_no,
        |         (CAST(SUM(cpv) AS BIGINT) * 1000) // COUNT(*) AS mean_e3
        |  FROM c GROUP BY doc_id, block_no),
        |d AS (
        |  SELECT doc_id, block_no, mean_e3,
        |         lag(mean_e3) OVER (PARTITION BY doc_id ORDER BY block_no)
        |           AS prev_mean_e3
        |  FROM b)
        |SELECT doc_id, block_no, mean_e3, prev_mean_e3,
        |       abs(mean_e3 - prev_mean_e3) AS delta_e3,
        |       abs(mean_e3 - prev_mean_e3) > 200 AS is_cut
        |FROM d WHERE prev_mean_e3 IS NOT NULL""".stripMargin
  )

  // ---------------------------------------------------------------------------
  // Oracles — DuckDB ANSI SQL over the same parquet tables
  // ---------------------------------------------------------------------------

  private def coreOracles: Map[String, String] = Map(
    "s1_watermark_scan" ->
      s"""WITH $DOCS
         |SELECT CAST(floor(epoch(last_update)) AS BIGINT) AS last_update_s,
         |       from_person_id, to_person_id, raw_score_in, raw_score_out
         |FROM docs WHERE last_update >= TIMESTAMP '$WATERMARK'""".stripMargin,

    "p3_numeric_filter" ->
      """WITH raw AS (
        |  SELECT CASE WHEN c_custkey % 7 = 0 THEN c_name
        |              ELSE CAST(c_custkey AS VARCHAR) END AS person_id_raw
        |  FROM customer)
        |SELECT person_id_raw FROM raw
        |WHERE regexp_full_match(person_id_raw, '^[0-9]+$')""".stripMargin,

    "p4_explode_edges" ->
      s"""WITH $EDGES
         |SELECT src, dst, score FROM edges""".stripMargin,

    "a2_merge_max" ->
      s"""WITH $MERGED
         |SELECT src, dst, score FROM merged""".stripMargin,

    "a3_team_groups" ->
      s"""WITH $TEAMS
         |SELECT team_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_members,
         |       string_agg(person_id, ',' ORDER BY person_id) AS members_csv
         |FROM team_members GROUP BY team_id""".stripMargin,

    "a4_distinct_persons" ->
      s"""WITH $EDGES
         |SELECT DISTINCT person_id FROM (
         |  SELECT src AS person_id FROM edges
         |  UNION ALL SELECT dst FROM edges)""".stripMargin,

    "j2_trove_flags" ->
      s"""WITH $EDGES, $USERS,
         |persons AS (
         |  SELECT DISTINCT person_id FROM (
         |    SELECT src AS person_id FROM edges
         |    UNION ALL SELECT dst FROM edges))
         |SELECT p.person_id,
         |       (u.person_id_user IS NOT NULL) AS is_trove_user
         |FROM persons p
         |LEFT JOIN (SELECT DISTINCT person_id_user FROM users) u
         |  ON p.person_id = u.person_id_user""".stripMargin,

    "j3_incremental_merge" ->
      s"""WITH $DOCS,
         |old_edges AS (
         |  SELECT from_person_id AS src, to_person_id AS dst,
         |         CAST(raw_score_in AS DOUBLE) AS score FROM docs
         |  WHERE last_update < TIMESTAMP '$WATERMARK'
         |  UNION ALL
         |  SELECT to_person_id, from_person_id, CAST(raw_score_out AS DOUBLE)
         |  FROM docs WHERE last_update < TIMESTAMP '$WATERMARK'),
         |new_edges AS (
         |  SELECT from_person_id AS src, to_person_id AS dst,
         |         CAST(raw_score_in AS DOUBLE) AS score FROM docs
         |  WHERE last_update >= TIMESTAMP '$WATERMARK'
         |  UNION ALL
         |  SELECT to_person_id, from_person_id, CAST(raw_score_out AS DOUBLE)
         |  FROM docs WHERE last_update >= TIMESTAMP '$WATERMARK'),
         |old_m AS (SELECT src, dst, MAX(score) AS score FROM old_edges GROUP BY src, dst),
         |new_m AS (SELECT src, dst, MAX(score) AS score FROM new_edges GROUP BY src, dst)
         |SELECT COALESCE(o.src, n.src) AS src,
         |       COALESCE(o.dst, n.dst) AS dst,
         |       GREATEST(COALESCE(o.score, n.score), COALESCE(n.score, o.score)) AS score
         |FROM old_m o FULL OUTER JOIN new_m n
         |  ON o.src = n.src AND o.dst = n.dst""".stripMargin,

    "j4_two_hop" ->
      s"""WITH $MERGED, $TEAMS,
         |members AS (SELECT person_id FROM team_members WHERE team_id = 'N1'),
         |hop1 AS (
         |  SELECT DISTINCT e.dst AS person_id
         |  FROM merged e JOIN members m ON e.src = m.person_id
         |  EXCEPT SELECT person_id FROM members),
         |hop2 AS (
         |  SELECT DISTINCT e.dst AS person_id
         |  FROM merged e JOIN hop1 h ON e.src = h.person_id
         |  EXCEPT SELECT person_id FROM hop1
         |  EXCEPT SELECT person_id FROM members)
         |SELECT person_id FROM hop2""".stripMargin,

    "g_bfs_depth" ->
      s"""WITH RECURSIVE $MERGED, $TEAMS,
         |seeds AS (SELECT person_id FROM team_members WHERE team_id = 'N1'),
         |walk(person_id, depth) AS (
         |  SELECT person_id, 0 FROM seeds
         |  UNION
         |  SELECT m.dst, w.depth + 1
         |  FROM merged m JOIN walk w ON m.src = w.person_id
         |  WHERE w.depth < 3)
         |SELECT person_id, CAST(min(depth) AS BIGINT) AS depth
         |FROM walk GROUP BY person_id""".stripMargin,

    "u2_except_non_trove" ->
      s"""WITH $EDGES, $USERS
         |SELECT DISTINCT person_id FROM (
         |  SELECT src AS person_id FROM edges
         |  UNION ALL SELECT dst FROM edges)
         |EXCEPT SELECT person_id_user FROM users""".stripMargin,

    "u_intersect_trove" ->
      s"""WITH $EDGES, $USERS
         |SELECT DISTINCT person_id FROM (
         |  SELECT src AS person_id FROM edges
         |  UNION ALL SELECT dst FROM edges)
         |INTERSECT SELECT person_id_user FROM users""".stripMargin,

    "s6_rdf_edges" ->
      s"""WITH $MERGED
         |SELECT '_:' || src || ' <has_connection> _:' || dst ||
         |       ' (score=' || CAST(CAST(score AS BIGINT) AS VARCHAR) || ') .'
         |       AS triple
         |FROM merged""".stripMargin,

    "s6_rdf_persons" ->
      s"""WITH $EDGES, $USERS,
         |persons AS (
         |  SELECT p.person_id,
         |         (u.person_id_user IS NOT NULL) AS is_trove_user
         |  FROM (SELECT DISTINCT person_id FROM (
         |          SELECT src AS person_id FROM edges
         |          UNION ALL SELECT dst FROM edges)) p
         |  LEFT JOIN (SELECT DISTINCT person_id_user FROM users) u
         |    ON p.person_id = u.person_id_user)
         |SELECT triple FROM (
         |  SELECT '_:' || person_id || ' <person_id> "' || person_id || '" .' AS triple
         |  FROM persons
         |  UNION ALL
         |  SELECT '_:' || person_id || ' <is_trove_user> "' ||
         |         CASE WHEN is_trove_user THEN 'true' ELSE 'false' END ||
         |         '"^^<xs:boolean> .'
         |  FROM persons)""".stripMargin,

    "pipe_bulk_triples" ->
      s"""WITH $MERGED, $USERS, $TEAMS,
         |person_ids AS (
         |  SELECT DISTINCT person_id FROM (
         |    SELECT src AS person_id FROM edges
         |    UNION ALL SELECT dst FROM edges
         |    UNION ALL SELECT person_id FROM team_members)),
         |persons AS (
         |  SELECT p.person_id,
         |         (u.person_id_user IS NOT NULL) AS is_trove_user
         |  FROM person_ids p
         |  LEFT JOIN (SELECT DISTINCT person_id_user FROM users) u
         |    ON p.person_id = u.person_id_user),
         |teams AS (SELECT DISTINCT team_id FROM team_members)
         |SELECT triple FROM (
         |  SELECT '_:' || team_id || ' <team_id> "' || team_id || '" .' AS triple
         |  FROM teams
         |  UNION ALL
         |  SELECT '_:' || team_id || ' <has_member> _:' || person_id || ' .'
         |  FROM team_members
         |  UNION ALL
         |  SELECT '_:' || person_id || ' <person_id> "' || person_id || '" .'
         |  FROM persons
         |  UNION ALL
         |  SELECT '_:' || person_id || ' <is_trove_user> "' ||
         |         CASE WHEN is_trove_user THEN 'true' ELSE 'false' END ||
         |         '"^^<xs:boolean> .'
         |  FROM persons
         |  UNION ALL
         |  SELECT '_:' || src || ' <has_connection> _:' || dst ||
         |         ' (score=' || CAST(CAST(score AS BIGINT) AS VARCHAR) || ') .'
         |  FROM merged)""".stripMargin,

    "o_topk_edges" ->
      s"""WITH $MERGED
         |SELECT src, dst, score FROM merged
         |ORDER BY score DESC, src ASC, dst ASC LIMIT 20""".stripMargin,

    "g_degree_stats" ->
      s"""WITH $MERGED,
         |o AS (SELECT src AS person_id, COUNT(*) AS out_deg,
         |             CAST(SUM(CAST(floor(score*100 + 0.5) AS BIGINT)) AS BIGINT) AS out_score_e2
         |      FROM merged GROUP BY src),
         |i AS (SELECT dst AS person_id, COUNT(*) AS in_deg FROM merged GROUP BY dst)
         |SELECT coalesce(o.person_id, i.person_id) AS person_id,
         |       coalesce(out_deg, 0) AS out_deg,
         |       coalesce(in_deg, 0) AS in_deg,
         |       coalesce(out_score_e2, 0) AS out_score_e2
         |FROM o FULL OUTER JOIN i ON o.person_id = i.person_id""".stripMargin,

    "g_kcore" ->
      s"""WITH $MERGED,
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM merged WHERE src <> dst),
         |k1 AS (SELECT v FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
         |       GROUP BY v HAVING COUNT(*) >= 32),
         |e1 AS (SELECT a, b FROM e0
         |       WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
         |k2 AS (SELECT v FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
         |       GROUP BY v HAVING COUNT(*) >= 32),
         |e2 AS (SELECT a, b FROM e1
         |       WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
         |k3 AS (SELECT v FROM (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)
         |       GROUP BY v HAVING COUNT(*) >= 32),
         |e3 AS (SELECT a, b FROM e2
         |       WHERE a IN (SELECT v FROM k3) AND b IN (SELECT v FROM k3))
         |SELECT person_id, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM (SELECT a AS person_id FROM e3 UNION ALL SELECT b AS person_id FROM e3)
         |GROUP BY person_id""".stripMargin,

    // fixpoint k-core via a recursive CTE: each iteration re-derives the
    // survivor edge set from the PREVIOUS iteration's rows (the working
    // table); converged sets copy themselves forward, an emptied set
    // stays empty, so the rows at the iteration cap ARE the fixpoint
    // (the cap only needs to exceed the convergence round count — the
    // Spark side iterates to true fixpoint, so a cap breach would show
    // as a hash mismatch, not a silent pass)
    "g_kcore_fixpoint" ->
      s"""WITH RECURSIVE $MERGED,
         |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM merged WHERE src <> dst),
         |peel(iter, a, b) AS (
         |  SELECT 0, a, b FROM e0
         |  UNION ALL
         |  SELECT iter + 1, a, b FROM peel
         |  WHERE iter < 20
         |    AND a IN (SELECT v FROM (SELECT a AS v FROM peel
         |                             UNION ALL SELECT b FROM peel)
         |              GROUP BY v HAVING COUNT(*) >= 32)
         |    AND b IN (SELECT v FROM (SELECT a AS v FROM peel
         |                             UNION ALL SELECT b FROM peel)
         |              GROUP BY v HAVING COUNT(*) >= 32)
         |)
         |SELECT person_id, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM (SELECT a AS person_id FROM peel WHERE iter = 20
         |      UNION ALL SELECT b FROM peel WHERE iter = 20)
         |GROUP BY person_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_base_cents,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_disc_e4,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk_revenue" ->
      """SELECT l_orderkey,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS revenue_e4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue_e4 DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS revenue_e4,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "w_rank_per_nation" ->
      """SELECT c_nationkey, c_custkey, acctbal_cents, rn FROM (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
        |         CAST(row_number() OVER (
        |           PARTITION BY c_nationkey
        |           ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rn
        |  FROM customer)
        |WHERE rn <= 2""".stripMargin,

    "w_score_delta" ->
      """WITH v AS (
        |  SELECT event_id, user_id,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_e4, ts
        |  FROM events)
        |SELECT event_id, user_id, value_e4,
        |       CAST(value_e4 - coalesce(lag(value_e4, 1) OVER (
        |         PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
        |         value_e4) AS BIGINT) AS delta_e4
        |FROM v""".stripMargin,

    "t_quality_deciles" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))*1000
        |              / length(text)) AS BIGINT) AS alpha_ratio_e3
        |  FROM documents)
        |SELECT doc_id, lang, alpha_ratio_e3,
        |       CAST(ntile(10) OVER (
        |         PARTITION BY lang
        |         ORDER BY alpha_ratio_e3 DESC, doc_id ASC) AS BIGINT) AS decile
        |FROM q""".stripMargin,

    "t_quality_pctile" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))*1000
        |              / length(text)) AS BIGINT) AS alpha_ratio_e3
        |  FROM documents)
        |SELECT doc_id, lang, alpha_ratio_e3,
        |       CAST(floor(percent_rank() OVER (
        |         PARTITION BY lang
        |         ORDER BY alpha_ratio_e3 ASC, doc_id ASC) * 1e6 + 0.5) AS BIGINT)
        |         AS pctile_e6
        |FROM q""".stripMargin,

    "agg_count_distinct" ->
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the HLL estimate itself is engine-specific; the oracle pins the
    // exact counts and approx_ok=TRUE, so a hash match certifies the
    // Spark-side |approx - exact| <= 10% bound held for every group
    "x_approx_distinct" ->
      """SELECT l_returnflag,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |       TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the sketch median is engine-specific; the oracle pins the group
    // size + approx_ok=TRUE, certifying the Spark-side rank bound
    // WHERE mirrors the Spark side's filter-first: an all-null group
    // vanishes on both engines (COUNT(value) alone would keep it in
    // DuckDB with n=0 while Spark drops it)
    "x_approx_quantile" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS approx_ok
        |FROM events WHERE value IS NOT NULL GROUP BY event_type""".stripMargin,

    "agg_monthly_orders" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       o_orderstatus,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "agg_correlation" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |         CAST(l_quantity AS BIGINT) AS x,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x*x) AS BIGINT) AS sxx,
        |         CAST(SUM(y*y) AS BIGINT) AS syy,
        |         CAST(SUM(x*y) AS BIGINT) AS sxy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |       CAST(floor(
        |         CAST(n*sxy - sx*sy AS DOUBLE) * 1e6 /
        |           sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)))
        |       AS BIGINT) AS corr_e6
        |FROM s""".stripMargin,

    // Bloom pruning is performance-only: the oracle is the plain
    // semi/anti join the operator is exactly equivalent to.
    "b_bloom_semi" ->
      """SELECT l_orderkey, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,

    "b_bloom_anti" ->
      """SELECT l_suppkey, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o
        |   WHERE o.o_orderkey = lineitem.l_orderkey AND o.o_totalprice > 150000)
        |GROUP BY l_suppkey""".stripMargin
  )
}
