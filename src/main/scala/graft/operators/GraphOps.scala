package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** The reference's dataflow operators (SURVEY §2), re-expressed as pure
  * `DataFrame → DataFrame` functions. Every operator is set-oriented and
  * driver-state-free, so each one scales by partitioning alone.
  *
  * Operator ↔ reference map:
  *  - [[watermarkFilter]]  P1/T1  (reference elastic.go:50-53)
  *  - [[numericIdFilter]]  P3     (reference cmd/bulk/main.go:288-292)
  *  - [[edgesFromDocs]]    P4/U1  (reference dgraph.go:306-335)
  *  - [[mergeMaxEdges]]    A2     (reference cmd/bulk/main.go:178-212, dgraph.go:110-133)
  *  - [[distinctPersons]]  J1/A4  (reference dgraph.go:225-244, cmd/bulk/main.go:284-286)
  *  - [[markTroveUsers]]   J2/S2/S4 (reference mysql.go:22-57)
  *  - [[groupTeamMembers]] A3     (reference mysql.go:59-82)
  *  - [[mergeEdgeStates]]  J3     (reference dgraph.go:135-173 + 200-223)
  *  - [[kHop]]             J4/U2  (reference cmd/query/main.go:29-43)
  */
object GraphOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** P1/T1 — incremental watermark predicate. The filter is a plain
    * Catalyst comparison so it pushes down into the parquet scan
    * (`PushedFilters` on `last_update`); at 100 TB with date-partitioned
    * input this becomes partition pruning for free.
    */
  def watermarkFilter(docs: DataFrame, watermark: java.sql.Timestamp): DataFrame =
    docs.filter(col("last_update") >= lit(watermark))

  /** P3 — drop ids that are not pure base-10 numerals (the reference
    * silently skips ids that fail `big.Int.SetString`). Regex, not a
    * long-cast: ids may exceed int64 (uint64 shard range).
    */
  def numericIdFilter(df: DataFrame, idCol: String): DataFrame =
    df.filter(col(idCol).rlike("^[0-9]+$"))

  /** P4/U1 — one relationship doc becomes two directed edges:
    * from→to carrying `raw_score_in` and to→from carrying
    * `raw_score_out`, int widened to double (reference dgraph.go:306-335).
    *
    * Expressed as explode-of-struct-array: a narrow generator that stays
    * inside whole-stage codegen — no shuffle, no UDF.
    */
  def edgesFromDocs(docs: DataFrame): DataFrame =
    docs
      .select(
        explode(
          array(
            struct(
              col("from_person_id").as("src"),
              col("to_person_id").as("dst"),
              col("stats.raw_score_in").cast("double").as("score")),
            struct(
              col("to_person_id").as("src"),
              col("from_person_id").as("dst"),
              col("stats.raw_score_out").cast("double").as("score"))
          )).as("e"))
      .select("e.*")

  /** A2 — the reference's core aggregate: per directed pair keep the max
    * score ever seen. One hash aggregate with map-side partial
    * aggregation (`HashAggregateExec` partial → shuffle on (src,dst) →
    * final), which reproduces the reference's racy cache + last-wins
    * bulk-load end state deterministically and order-insensitively.
    *
    * `preShuffle`: when the caller knows the (src,dst) keys are
    * near-unique (duplication factor ≈ 1, e.g. one interaction doc per
    * pair per period), the map-side partial agg builds a huge hash map
    * only to emit almost every row unchanged — pure overhead, and on an
    * unsplittable input it runs single-threaded. Forcing the exchange
    * first (`repartition` on the grouping keys) makes the map side a
    * plain hash-shuffle write and runs the whole aggregate at shuffle
    * parallelism; the shuffle carries the same ~N rows either way.
    * Measured ~30% faster on near-unique keys; keep the default (false,
    * partial agg on) whenever keys actually repeat — partial agg is
    * what shrinks the shuffle at 100 TB.
    */
  def mergeMaxEdges(edges: DataFrame, preShuffle: Boolean = false): DataFrame = {
    val e = if (preShuffle) edges.repartition(col("src"), col("dst")) else edges
    e.groupBy(col("src"), col("dst")).agg(max(col("score")).as("score"))
  }

  /** J1/A4 — the distinct vertex set of an edge list (the set-oriented
    * replacement for the reference's per-row find-or-create). Partial
    * aggregation dedups within each partition before the shuffle.
    */
  def distinctPersons(edges: DataFrame): DataFrame =
    edges.select(col("src").as("person_id"))
      .union(edges.select(col("dst").as("person_id")))
      .distinct()

  /** J2 — `is_trove_user` existence flag. The reference probes MySQL
    * row-at-a-time through a shard router; set-oriented Spark form is a
    * single left-semi-shaped membership join. Implemented as a left
    * outer join against the deduped key set + null-check, which yields
    * the boolean column in one pass (semi + anti in one join). Catalyst
    * broadcasts the key set when it is small; at 100 TB it degrades
    * gracefully to a shuffled hash join on the key.
    */
  def markTroveUsers(persons: DataFrame, users: DataFrame, userIdCol: String = "person_id_user"): DataFrame = {
    val keys = users.select(col(userIdCol).as("person_id")).distinct()
      .withColumn("__hit", lit(true))
    persons
      .join(keys, Seq("person_id"), "left_outer")
      .withColumn("is_trove_user", coalesce(col("__hit"), lit(false)))
      .drop("__hit")
  }

  /** A5 — pipeline observability (the reference's progress counters,
    * elastic.go:87-98, done the Spark way): named metrics attached to
    * the flow, collected per action via `observedMetrics` (batch) or
    * `StreamingQueryProgress` (streams) — zero extra passes, no
    * driver-side counting loop.
    */
  def observed(df: DataFrame, name: String): DataFrame =
    df.observe(name,
      count(lit(1)).as("rows"),
      sum(when(col(df.columns.head).isNull, 1L).otherwise(0L)).as("null_first_col"))

  /** A3 — group team members into per-team sorted member lists
    * (reference builds `map[team_id][]person_id`). Sorted for
    * determinism; callers that only re-flatten should skip this op and
    * keep the flat DataFrame (the plan the reference *should* have had).
    */
  def groupTeamMembers(teamMembers: DataFrame): DataFrame =
    teamMembers
      .groupBy(col("team_id"))
      .agg(sort_array(collect_list(col("person_id"))).as("members"))

  /** J3 — incremental MERGE of a new edge batch into prior edge state:
    * full-outer join on the edge key, keep the greatest score
    * (upsert-if-greater, reference dgraph.go:110-133). Handles first-run
    * empty state because full_outer + greatest(null, x) = x.
    */
  def mergeEdgeStates(oldEdges: DataFrame, newEdges: DataFrame): DataFrame = {
    val o = oldEdges.withColumnRenamed("score", "old_score")
    val n = newEdges.withColumnRenamed("score", "new_score")
    o.join(n, Seq("src", "dst"), "full_outer")
      .select(
        col("src"), col("dst"),
        greatest(col("old_score"), col("new_score")).as("score"))
  }

  /** J4/U2 — k-hop expansion with per-hop exclusion, the reference's one
    * analytical query (2-hop friends-of-friends-of-team) generalized to
    * k. `frontier`/`visited` are single-column `person_id` DataFrames.
    *
    * Each hop is one equi-join on `src` plus one anti-join exclusion —
    * the exact relational form of the DQL `@filter(NOT uid(...))`.
    *
    * Iterative joins grow lineage (and re-execute the whole prefix on
    * every reference): every `checkpointEvery` hops the frontier and
    * visited sets are checkpointed, truncating the plan — the standard
    * iterative-graph pattern on Spark. `checkpointDir` picks the
    * durability mode (see [[Checkpoints.cut]]): unset = fast
    * executor-memory localCheckpoint, set = reliable filesystem
    * checkpoint that survives executor loss — the cluster-scale mode.
    */
  def kHop(edges: DataFrame, seeds: DataFrame, k: Int, checkpointEvery: Int = 4,
      materializeEdges: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Reachability only needs the (src,dst) pairs — project BEFORE any
    // materialization so scores/attributes never enter the hop loop.
    // Callers also shouldn't pre-aggregate (e.g. mergeMaxEdges) just
    // for kHop: the per-hop distinct subsumes it.
    val pairs = edges.select(col("src"), col("dst"))
    // k>1 references the edge list once per hop; materializing it keeps
    // the upstream pipeline (scan→join→explode at 100 TB) from
    // re-executing k times — executedPlan showed zero exchange reuse
    // across hops without this. Skippable when the upstream is a cheap
    // scan and recompute beats the materialization write.
    val e = if (k > 1 && materializeEdges) Checkpoints.cut(pairs, checkpointDir) else pairs
    var visited = seeds.select(col("person_id")).distinct()
    var frontier = visited
    var result: DataFrame = null
    for (hop <- 1 to k) {
      val next = e
        .join(frontier, e("src") === frontier("person_id"))
        .select(e("dst").as("person_id"))
        .distinct()
        .join(visited, Seq("person_id"), "left_anti")
      frontier = next
      visited = visited.union(next).distinct()
      if (checkpointEvery > 0 && hop % checkpointEvery == 0 && hop < k) {
        frontier = Checkpoints.cut(frontier, checkpointDir)
        visited = Checkpoints.cut(visited, checkpointDir)
      }
      result = next
    }
    result
  }

  /** BFS depth labeling — [[kHop]] generalized to return every reached
    * vertex with its hop distance from the seed set (`depth` 0 =
    * seeds). The frontier loop explores in depth order and anti-joins
    * the visited set, so each vertex is labeled on first reach = its
    * minimum distance (the recursive-CTE `min(depth)` in the oracle).
    * Same scale shape as kHop: per-hop distinct + anti-join, edge list
    * materialized once, frontier checkpoints cut lineage growth.
    */
  def bfsDepths(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
      checkpointEvery: Int = 4, materializeEdges: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val pairs = edges.select(col("src"), col("dst"))
    val e = if (maxDepth > 1 && materializeEdges) Checkpoints.cut(pairs, checkpointDir) else pairs
    var visited = seeds.select(col("person_id")).distinct()
      .withColumn("depth", lit(0L))
    var frontier = visited.select(col("person_id"))
    for (hop <- 1 to maxDepth) {
      val next = e
        .join(frontier, e("src") === frontier("person_id"))
        .select(e("dst").as("person_id"))
        .distinct()
        .join(visited.select(col("person_id")), Seq("person_id"), "left_anti")
      visited = visited.union(
        next.select(col("person_id"), lit(hop.toLong).as("depth")))
      frontier = next
      if (checkpointEvery > 0 && hop % checkpointEvery == 0 && hop < maxDepth) {
        frontier = Checkpoints.cut(frontier, checkpointDir)
        visited = Checkpoints.cut(visited, checkpointDir)
      }
    }
    visited
  }

  /** Fixed-iteration PageRank over a directed edge list, in exact
    * integer arithmetic so every engine agrees bit-for-bit.
    *
    * Ranks are e9-scaled longs: `pr_0 = 10^9` for every vertex, then
    * `pr_{t+1}(v) = 0.15·10^9 + (85 · Σ_{u→v} (pr_t(u) div outdeg(u)))
    * div 100` — all `div`s are integral, so the DuckDB `//` twin is
    * identical (all values are positive; mass lost to flooring and to
    * dangling vertices is part of the pinned semantics, as in the
    * standard power-iteration formulation without a dangling-mass
    * redistribution term).
    *
    * Scale shape (same family as [[Dedup.connectedComponents]]):
    *  - the per-iteration work is one vertex-sized join (rank ⋈ outdeg
    *    → per-vertex share) and one edge-sized shuffle (edges ⋈ shares
    *    on `src`, then groupBy `dst`) — O(E) per round, no row blowup;
    *  - edges / vertices / degrees are computed once and
    *    localCheckpoint'ed so the upstream pipeline never re-executes
    *    across rounds;
    *  - `iters` is small and fixed (power iteration converges
    *    geometrically), so rank lineage stays shallow with a
    *    checkpoint every `checkpointEvery` rounds.
    *
    * The per-round rank and share frames are derived by joins, so
    * Spark's estimate of them is useless; they take
    * [[Checkpoints.broadcastRule]] off the cut vertex frame — broadcast
    * iff its measured bytes fit `spark.sql.autoBroadcastJoinThreshold`.
    * At the sf10 smoke's size (1.6M string-keyed vertices, 3 rounds)
    * the vertex frame is far above Spark's 10 MiB default, so the loop
    * shuffles unless the session raises the threshold past the vertex
    * frame's bytes. The former rule (≤ 10⁷ counted vertices) broadcast
    * it there: 87 s against 122 s shuffled (not re-measured since).
    *
    * Callers should pass a distinct edge list (e.g. [[mergeMaxEdges]]
    * output) — duplicate (src,dst) rows would double-count contributions.
    */
  def pageRank(edges: DataFrame, iters: Int, checkpointEvery: Int = 4,
      checkpointDir: Option[String] = None): DataFrame =
    // the all-seeds special case of the personalized loop: every
    // vertex seeded ⇒ the recurrence IS the uniform teleport (the
    // equivalence GraphOpsSpec pins), so there is exactly one loop to
    // maintain
    personalizedPageRankImpl(edges, Right(lit(true)), iters,
      checkpointEvery, checkpointDir)

  /** Personalized PageRank (Haveliwala 2002): the [[pageRank]] power
    * iteration with the teleport mass restricted to a SEED set —
    * "importance relative to these vertices", the primitive behind
    * related-entity retrieval, seed-expansion community detection,
    * and trust propagation. Same integer-exact scheme: seeds start at
    * `10^9`, non-seeds at 0, and each round gives `0.15·10^9` back to
    * seeds only: `pr_{t+1}(v) = [v ∈ S]·0.15·10^9 +
    * (85 · Σ_{u→v} pr_t(u) div outdeg(u)) div 100`. Mass floored or
    * lost to dangling vertices is pinned semantics, as in [[pageRank]].
    *
    * `seeds` is a one-column (`person_id`) frame — the caller's seed
    * list. Seeds not present in the graph contribute nothing (the
    * vertex set comes from the edge list); the seed marker joins once
    * onto the checkpointed vertex frame, so the per-round loop shape
    * is IDENTICAL to [[pageRank]] — with broadcast rank frames, one
    * edge-sized shuffle per round and nothing else.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      checkpointEvery: Int = 4,
      checkpointDir: Option[String] = None): DataFrame =
    personalizedPageRankImpl(edges, Left(seeds), iters, checkpointEvery,
      checkpointDir)

  /** [[personalizedPageRank]] with the seed set given as a PREDICATE
    * over `person_id` instead of a frame — for seed sets that are a
    * function of the id (hash slices, prefixes): the predicate
    * evaluates on the operator's own (already lineage-cut) vertex
    * frame, so the caller's edge pipeline is never re-executed just to
    * derive seeds (measured: the frame-based form re-ran the whole
    * upstream merge a second time for the seed join).
    */
  def personalizedPageRankByPred(edges: DataFrame, seedPred: Column,
      iters: Int,
      checkpointEvery: Int = 4,
      checkpointDir: Option[String] = None): DataFrame =
    personalizedPageRankImpl(edges, Right(seedPred), iters, checkpointEvery,
      checkpointDir)

  private def personalizedPageRankImpl(
      edges: DataFrame,
      seeds: Either[DataFrame, Column],
      iters: Int,
      checkpointEvery: Int,
      checkpointDir: Option[String]): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val pairs = edges.select(col("src"), col("dst"))
    val e = if (iters > 1) Checkpoints.cut(pairs, checkpointDir) else pairs
    val vertIds = e.select(col("src").as("person_id"))
      .union(e.select(col("dst").as("person_id")))
      .distinct()
    val marked = seeds match {
      case Left(sf) => vertIds
        .join(sf.select(col("person_id")).distinct()
          .withColumn("__seed", lit(true)), Seq("person_id"), "left_outer")
        .select(col("person_id"),
          coalesce(col("__seed"), lit(false)).as("is_seed"))
      case Right(pred) => vertIds
        .select(col("person_id"), coalesce(pred, lit(false)).as("is_seed"))
    }
    val verts = Checkpoints.cut(marked, checkpointDir)
    val bc = Checkpoints.broadcastRule(verts)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      .select(col("src").as("dsrc"), col("out_deg"))
    val ed = Checkpoints.cut(
      e.join(bc(deg), col("src") === col("dsrc"))
        .select(col("src").as("esrc"), col("dst"), col("out_deg")), checkpointDir)
    val teleport = when(col("is_seed"), lit(150000000L)).otherwise(lit(0L))
    var pr = verts.select(col("person_id"),
      when(col("is_seed"), lit(1000000000L)).otherwise(lit(0L)).as("pr_e9"))
    for (it <- 1 to iters) {
      val prIn = bc(pr)
      val inbound = ed.join(prIn, col("esrc") === prIn("person_id"))
        .groupBy(col("dst").as("person_id"))
        .agg(sum(expr("pr_e9 div out_deg")).as("in_share"))
      pr = verts.join(bc(inbound), Seq("person_id"), "left_outer")
        .select(col("person_id"),
          (teleport +
            expr("(85 * coalesce(in_share, 0L)) div 100")).as("pr_e9"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iters)
        pr = Checkpoints.cut(pr, checkpointDir)
    }
    pr
  }

  /** Bipartite co-occurrence projection: pairs of `src` vertices that
    * share at least `minShared` distinct `dst` neighbors, with the
    * shared count ("customers who buy from the same suppliers", doc
    * pairs citing the same entities, …). The person graph here is
    * bipartite, so this — not triangle counting, which is degenerate
    * on odd-cycle-free graphs — is the neighborhood-similarity
    * analytic that applies.
    *
    * The self-join is quadratic in per-`dst` fan-out, so hub vertices
    * above `maxFanout` are dropped BEFORE pairing — the graph twin of
    * [[Dedup.dfCap]]'s stop-shingle guard, and the same trade: hubs
    * contribute pair-instances ~uniformly over everything (no signal),
    * while the quadratic cost is exactly theirs. The cap is part of the
    * operator's pinned semantics (the oracle applies it too), not a
    * silent approximation.
    *
    * Scale shape: fan-out agg (8-byte keys) → capped self-join
    * shuffled on `dst` → pair aggregate; every stage map-side-combines
    * and the intermediate is ≤ maxFanout²/2 rows per dst.
    */
  def coOccurrencePairs(edges: DataFrame, maxFanout: Int, minShared: Int,
      checkpointDir: Option[String] = None): DataFrame =
    coOccurrencePairsFromCapped(cappedBipartite(edges, maxFanout, checkpointDir), minShared)

  /** The co-occurrence family's shared input: the distinct edge list
    * restricted to dsts with fan-out ≤ `maxFanout`, carrying the
    * fan-out as a column — `(dst, fanout, src)`. Every member of the
    * family ([[coOccurrencePairsFromCapped]],
    * [[coOccurrenceJaccardFromCapped]],
    * [[coOccurrenceAdamicAdarFromCapped]], and through pairs the
    * triangle/clustering/assortativity analytics) derives from this
    * one frame, so a pipeline running several of them materializes it
    * ONCE (it is already lineage-cut here) instead of re-scanning and
    * re-capping the edge list per analytic.
    *
    * Materialized once regardless: the pair self-join's l/r branches
    * would otherwise re-execute the distinct + fan-out cap twice.
    */
  def cappedBipartite(edges: DataFrame, maxFanout: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxFanout >= 1, "maxFanout must be >= 1")
    val distinctEdges = edges.select(col("src"), col("dst")).distinct()
    val keptDst = distinctEdges.groupBy(col("dst"))
      .agg(count(lit(1)).as("fanout"))
      .filter(col("fanout") <= maxFanout)
    Checkpoints.cut(distinctEdges.join(keptDst, Seq("dst")), checkpointDir)
  }

  /** [[coOccurrencePairs]] from a pre-built [[cappedBipartite]] frame. */
  def coOccurrencePairsFromCapped(capped: DataFrame, minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val l = capped.select(col("dst"), col("src").as("person_a"))
    val r = capped.select(col("dst"), col("src").as("person_b"))
    l.join(r, Seq("dst"))
      .filter(col("person_a") < col("person_b"))
      .groupBy(col("person_a"), col("person_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-vertex triangle counts over an undirected pair graph — the
    * standard local-clustering / community-cohesion signal (composed
    * downstream of [[coOccurrencePairs]], whose projection is where
    * the bipartite person graph first grows triangles).
    *
    * Algorithm: degree-ordered edge orientation (Schank–Wagner; the
    * MapReduce form is Cohen 2009, Suri–Vassilvitskii WWW'11). Every
    * undirected edge is oriented toward its (degree, id)-larger
    * endpoint, making the graph a DAG in which each triangle
    * {a ≺ b ≺ c} materializes exactly once as the wedge a→b, a→c
    * closed by b→c. The wedge join's cost is Σᵥ outdeg(v)² with
    * outdeg bounded by √(2E) under this orientation — O(E^1.5) total
    * instead of the unoriented Σ deg² blowup on hub vertices (the
    * orientation is only a cost device: per-vertex triangle
    * membership is orientation-independent, which is what lets the
    * DuckDB oracle count with plain id-order joins).
    *
    * 100 TB shape: the degree table is vertex-sized (broadcast by
    * AQE below threshold); the wedge join and the closing-edge
    * LEFT SEMI join shuffle only id pairs — no payload, no driver
    * state, no iteration. `checkpointDir` cuts the deduped edge list
    * reused by all three passes.
    *
    * Output: `(person_id, n_triangles)` for every vertex of the
    * input edge set (isolated-from-triangles vertices included, 0).
    */
  def triangleCounts(pairs: DataFrame,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val und = Checkpoints.cut(
      pairs.select(
          least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct(),
      checkpointDir)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient toward the (deg, id)-larger endpoint; keep the dest's
    // degree so the wedge join can order the two out-neighbors
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val tris = wedges.join(
      oriented.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"), "left_semi")
    val perV = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("person_id"))
      .groupBy(col("person_id")).agg(count(lit(1)).as("n_triangles"))
    und.select(col("a").as("person_id")).union(und.select(col("b"))).distinct()
      .join(perV, Seq("person_id"), "left_outer")
      .select(col("person_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Degree assortativity (Newman 2002) of an undirected pair graph —
    * the Pearson correlation of endpoint degrees over all directed
    * edge stubs (each undirected edge contributes both (dₐ,d_b) and
    * (d_b,dₐ)): positive ⇒ hubs link to hubs, negative ⇒ hub-leaf
    * (stars are exactly −1). Same exactness device as
    * `agg_correlation`: integer sufficient statistics (n, Σx, Σy,
    * Σx², Σy², Σxy are exact BIGINTs), ONE final double for the
    * sqrt/divide, e6-floored — both engines compute the identical
    * double from identical integers. Zero-variance graphs (regular:
    * every degree equal) emit 0 by convention.
    *
    * Scale shape: degree table is vertex-sized; the stub frame is
    * 2E rows of two longs; ONE single-row aggregate. No iteration.
    *
    * Output: one row `(n_edges, r_e6)`.
    */
  def degreeAssortativity(pairs: DataFrame,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val und = Checkpoints.cut(
      pairs.select(
          least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct(),
      checkpointDir)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val joined = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val pts = joined.select(col("da").as("x"), col("db").as("y"))
      .unionAll(joined.select(col("db").as("x"), col("da").as("y")))
    // the cross products n·sxx, sx², n·sxy … are computed in
    // DECIMAL(38,0): with n = 2E stubs they exceed int64 well below
    // the 100 TB target (E ≈ 1e9, degrees ≈ 1e3 ⇒ n·sxx ≈ 2e24) and a
    // silent Long wrap could flip the zero-variance guard's sign. Both
    // engines carry the products exactly (decimal here, HUGEINT-exact
    // decimal in the DuckDB twin), so the ONE final double still
    // matches bit-for-bit.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val varx = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    val vary = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
    val cov = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    pts
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        expr("n div 2").as("n_edges"),
        when(
          col("n") > 0 && varx > 0 && vary > 0,
          floor(
            cov.cast("double") * 1e6 /
              sqrt(varx.cast("double") * vary.cast("double"))))
          .otherwise(0L).cast("long").as("r_e6"))
  }

  /** Co-occurrence link-prediction scores: [[coOccurrencePairs]] plus
    * the Jaccard containment of the two persons' (fan-out-capped)
    * neighbor sets — `jaccard_e3 = 1000·|A∩B| div (|A| + |B| −
    * |A∩B|)`, the classic common-neighbors link predictor in exact
    * permille integers.
    *
    * Scale shape: the cooc pair aggregation unchanged, plus a
    * vertex-sized capped-degree table joined onto the (already
    * pair-sized) output on single-column keys.
    *
    * Output: `(person_a, person_b, n_shared, deg_a, deg_b,
    * jaccard_e3)`.
    */
  def coOccurrenceJaccard(edges: DataFrame, maxFanout: Int, minShared: Int,
      checkpointDir: Option[String] = None): DataFrame =
    coOccurrenceJaccardFromCapped(cappedBipartite(edges, maxFanout, checkpointDir), minShared)

  /** [[coOccurrenceJaccard]] from a pre-built [[cappedBipartite]] frame. */
  def coOccurrenceJaccardFromCapped(capped: DataFrame, minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val deg = capped.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val l = capped.select(col("dst"), col("src").as("person_a"))
    val r = capped.select(col("dst"), col("src").as("person_b"))
    l.join(r, Seq("dst"))
      .filter(col("person_a") < col("person_b"))
      .groupBy(col("person_a"), col("person_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(deg.select(col("src").as("person_a"), col("deg").as("deg_a")), Seq("person_a"))
      .join(deg.select(col("src").as("person_b"), col("deg").as("deg_b")), Seq("person_b"))
      .select(
        col("person_a"), col("person_b"), col("n_shared"),
        col("deg_a"), col("deg_b"),
        expr("(n_shared * 1000L) div (deg_a + deg_b - n_shared)").as("jaccard_e3"))
  }

  /** Adamic–Adar link prediction over the bipartite graph, in the
    * engine's integer-bits convention: each shared (fan-out-capped)
    * neighbor `w` contributes `1000 div max(ilog2(fanout(w)), 1)`
    * with `ilog2(n) = length(bin(n)) − 1` whole bits — Adamic–Adar's
    * `1/log(deg)` down-weighting of promiscuous neighbors without
    * the transcendental, so the oracle is exact. A neighbor shared
    * with 2–3 others scores 1000, 4–7 others 500, 8–15 others 333 —
    * the rare-item evidence dominance the predictor is for.
    *
    * Scale shape: identical to [[coOccurrencePairs]] — the fanout is
    * already computed by the cap; it rides the capped frame into the
    * pair aggregation as one extra 8-byte column. No extra joins.
    *
    * Output: `(person_a, person_b, n_shared, aa_e3)`.
    */
  def coOccurrenceAdamicAdar(edges: DataFrame, maxFanout: Int, minShared: Int,
      checkpointDir: Option[String] = None): DataFrame =
    coOccurrenceAdamicAdarFromCapped(cappedBipartite(edges, maxFanout, checkpointDir), minShared)

  /** [[coOccurrenceAdamicAdar]] from a pre-built [[cappedBipartite]]
    * frame (whose `fanout` column is exactly the weight input).
    */
  def coOccurrenceAdamicAdarFromCapped(capped: DataFrame, minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val w = expr("1000L div greatest(cast(length(bin(fanout)) - 1 as bigint), 1L)")
    val l = capped.select(col("dst"), col("fanout"), col("src").as("person_a"))
    val r = capped.select(col("dst"), col("src").as("person_b"))
    l.join(r, Seq("dst"))
      .filter(col("person_a") < col("person_b"))
      .groupBy(col("person_a"), col("person_b"))
      .agg(count(lit(1)).as("n_shared"), sum(w).as("aa_e3"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-vertex local clustering coefficient (Watts–Strogatz) over an
    * undirected pair graph, in permille: `lcc_e3 = floor(2000·T(v) /
    * (deg(v)·(deg(v)−1)))`, 0 for degree < 2 — how close each
    * vertex's neighborhood is to a clique, the standard community-
    * cohesion readout on top of [[triangleCounts]]. All-integer
    * (BIGINT products, floor division), so the oracle is exact.
    *
    * Scale shape: [[triangleCounts]]' plan plus one vertex-sized
    * degree aggregation joined back on the 1-column vertex key.
    */
  def clusteringCoefficients(pairs: DataFrame,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("person_id"))
      .groupBy(col("person_id")).agg(count(lit(1)).as("deg"))
    triangleCounts(pairs, aCol, bCol, checkpointDir)
      .join(deg, Seq("person_id"))
      .select(
        col("person_id"), col("deg"), col("n_triangles"),
        // integer `div`, not `/`: long / long is DOUBLE division in
        // Spark, and floor-of-double drifts once products pass 2^53
        when(col("deg") >= 2,
          expr("(n_triangles * 2000L) div (deg * (deg - 1L))"))
          .otherwise(0L).cast("long").as("lcc_e3"))
  }

  /** Weight-proportional PageRank — [[pageRank]] distributing each
    * vertex's mass by EDGE WEIGHT instead of uniformly (the analytics
    * the reference's stored-but-never-queried edge scores exist for:
    * influence follows interaction strength). All-integer pinned
    * semantics: weights quantize to e2 (`floor(score·100+0.5)`), each
    * out-edge's fraction to permille (`wn = w·1000 div W(src)`), and a
    * round's share is `(pr · wn) div 1000` — the permille step keeps
    * `pr·wn` far from Long overflow (pr mass ≤ |V|·10⁹, wn ≤ 10³)
    * where raw `pr·w` would not be. Vertices whose total out-weight is
    * 0 dangle (their edges transfer nothing), like the unweighted
    * form's mass flooring.
    *
    * Same loop shape as [[pageRank]]: weights attach to the edge list
    * once; with broadcast rank frames (the [[pageRank]] rule) a round's
    * only exchange is the dst aggregation.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int, checkpointEvery: Int = 4,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val pairs = edges.select(col("src"), col("dst"),
      floor(col("score") * 100 + 0.5).cast("long").as("w_e2"))
    val e = if (iters > 1) Checkpoints.cut(pairs, checkpointDir) else pairs
    val verts = Checkpoints.cut(
      e.select(col("src").as("person_id"))
        .union(e.select(col("dst").as("person_id")))
        .distinct(), checkpointDir)
    val bc = Checkpoints.broadcastRule(verts)
    val tw = e.groupBy(col("src")).agg(sum(col("w_e2")).as("tot_w"))
      .select(col("src").as("dsrc"), col("tot_w"))
    val ed = Checkpoints.cut(
      e.join(bc(tw), col("src") === col("dsrc"))
        .filter(col("tot_w") > 0)
        .select(col("src").as("esrc"), col("dst"),
          expr("(w_e2 * 1000) div tot_w").as("wn")), checkpointDir)
    var pr = verts.select(col("person_id"), lit(1000000000L).as("pr_e9"))
    for (it <- 1 to iters) {
      val prIn = bc(pr)
      val inbound = ed.join(prIn, col("esrc") === prIn("person_id"))
        .groupBy(col("dst").as("person_id"))
        .agg(sum(expr("(pr_e9 * wn) div 1000")).as("in_share"))
      pr = verts.join(bc(inbound), Seq("person_id"), "left_outer")
        .select(col("person_id"),
          (lit(150000000L) +
            expr("(85 * coalesce(in_share, 0L)) div 100")).as("pr_e9"))
      if (checkpointEvery > 0 && it % checkpointEvery == 0 && it < iters)
        pr = Checkpoints.cut(pr, checkpointDir)
    }
    pr
  }

  /** K-core peel — the density filter that strips low-engagement
    * periphery before community analytics: each round removes vertices
    * whose degree in the UNDIRECTED deduped view is below `k`,
    * together with their incident edges.
    *
    * `rounds >= 1`: semantics pinned to exactly `rounds` peels (the
    * SQL oracle unrolls the same rounds); once a round removes nothing
    * the result IS the exact k-core. `rounds = -1`: iterate to the
    * FIXPOINT — the exact k-core regardless of graph diameter (chases
    * chains the fixed-round form truncates). Convergence reads the
    * surviving edge count off the round's cut ([[Checkpoints.rows]],
    * counted by the cut's own materialization job): the count only
    * decreases, so an unchanged count ⇔ no vertex fell below `k` ⇔
    * fixpoint — no extra count job per round. Output: each surviving
    * vertex with its degree in the remaining subgraph.
    *
    * Scale shape (the [[Dedup.connectedComponents]] family): per round
    * one degree aggregate (8-byte-ish keys) and two semi-joins of the
    * edge list against the ≥k vertex set — O(E) per round, no blowup;
    * the shrinking edge list is checkpointed per round so no lineage
    * re-execution compounds. Real peels remove the vast majority of
    * sub-core vertices in the first 2-3 rounds; fixpoint mode's safety
    * valve ([[KCoreMaxRounds]], far beyond any real peel sequence)
    * bounds the adversarial chain-of-length-n case where each round
    * removes O(1) vertices.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && (rounds >= 1 || rounds == -1),
      s"k must be >= 1 and rounds >= 1 (or -1 = fixpoint), got k=$k rounds=$rounds")
    val fixpoint = rounds == -1
    var e = Checkpoints.cut(
      edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct(), checkpointDir)
    // the per-round `keep` filter is vertex-sized; its two semi joins
    // against the edge list are the round's whole plan. It takes the
    // [[Checkpoints.broadcastRule]] measured once on the vertex set;
    // peeling only shrinks it
    val bc = Checkpoints.broadcastRuleFor(
      e.select(col("a").as("v")).union(e.select(col("b").as("v"))).distinct())
    var prevEdges: Option[Long] = None
    var changed = true
    var round = 0
    val maxRounds = if (fixpoint) KCoreMaxRounds else rounds
    while (changed && round < maxRounds) {
      val keep = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("v"))
      val peeled = e
        .join(bc(keep.select(col("v").as("a"))), Seq("a"), "left_semi")
        .join(bc(keep.select(col("v").as("b"))), Seq("b"), "left_semi")
      e = Checkpoints.cut(peeled, checkpointDir)
      if (fixpoint) {
        // the edge count is the cut's measured row count — no count pass
        val nEdges = Checkpoints.rows(e)
        changed = prevEdges.fold(nEdges > 0)(nEdges < _) // first peel: empty ⇒ done
        prevEdges = Some(nEdges)
      }
      round += 1
    }
    if (fixpoint && changed && round >= maxRounds)
      log.warn(s"kCorePeel fixpoint: hit the $maxRounds-round safety valve " +
        s"still unconverged — result is a TRUNCATED peel, not the exact k-core")
    e.select(col("a").as("person_id")).union(e.select(col("b").as("person_id")))
      .groupBy(col("person_id")).agg(count(lit(1)).as("degree"))
  }

  /** Fixpoint-mode safety valve for [[kCorePeel]]: peeling strictly
    * shrinks the edge set every non-converged round, so this bounds
    * only the adversarial O(1)-per-round chain; real graphs converge
    * in single digits.
    */
  val KCoreMaxRounds: Int = 1000

  /** k-truss peel (Cohen 2008, "Trusses: cohesive subgraphs for social
    * network analysis") — [[kCorePeel]]'s EDGE-level sibling: the
    * maximal subgraph where every surviving edge closes ≥ k−2
    * triangles WITHIN the survivors. Stricter than a k-core (every
    * k-truss edge's endpoints sit in a (k−1)-core) and the standard
    * community-core primitive that degree alone cannot express (a hub
    * with many degree-1 followers has high core number but zero
    * support). Synchronous rounds: per round every edge's support is
    * counted against the CURRENT edge set and all below-threshold
    * edges drop together — deterministic and oracle-replicable, and
    * after a fixpoint further rounds are no-ops (the bounded
    * recursive-peel oracle device of `g_kcore_fixpoint`: the SQL twin
    * always runs `maxRounds` rounds, idempotent past convergence, so
    * the operator's early-stop ≡ the oracle's fixed unroll).
    *
    * Returns the surviving canonical edge list
    * `(person_a < person_b)`. Degenerate cases pinned: `k ≤ 2` keeps
    * every edge (support ≥ 0 always holds); triangle-free graphs
    * empty at the first round for `k ≥ 3`.
    *
    * Scale shape: per round ONE wedge join (edge list vs the
    * symmetric neighbor view on the shared endpoint — Σ deg² rows on
    * the hub-capped projections this targets, the [[triangleCounts]]
    * shape), a map-side-combined (a, b) support aggregate, and a
    * semi-join filter; ids only, no payload. Each round's shrinking
    * edge list is checkpoint-cut, and the edge-count convergence
    * metric is the cut's measured row count (no extra count pass —
    * the [[kCorePeel]] device).
    */
  def kTruss(pairs: DataFrame, k: Int, maxRounds: Int = 20,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var e = Checkpoints.cut(
      pairs.select(
          least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct(), checkpointDir)
    var prevEdges: Option[Long] = None
    var changed = k > 2 // k <= 2: support >= 0 is vacuous, skip the loop
    var round = 0
    while (changed && round < maxRounds) {
      val sym = e.select(col("a").as("v"), col("b").as("u"))
        .union(e.select(col("b").as("v"), col("a").as("u")))
      // support(a, b) = |N(a) ∩ N(b)| over the current survivors: the
      // wedge join attaches a's neighbors as c, then keeps rows where
      // (b, c) is also an edge
      val supp = e
        .join(sym.select(col("v").as("a"), col("u").as("c")), Seq("a"))
        .join(sym.select(col("v").as("b"), col("u").as("c")), Seq("b", "c"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("supp"))
      val kept = e.join(
        supp.filter(col("supp") >= k - 2).select(col("a"), col("b")),
        Seq("a", "b"), "left_semi")
      e = Checkpoints.cut(kept, checkpointDir)
      val nEdges = Checkpoints.rows(e)
      changed = prevEdges.fold(nEdges > 0)(nEdges < _)
      prevEdges = Some(nEdges)
      round += 1
    }
    if (changed && round >= maxRounds)
      log.warn(s"kTruss: hit the $maxRounds-round bound still unconverged - " +
        "result is the round-" + maxRounds + " snapshot (the oracle contract), " +
        "not necessarily the fixpoint")
    e.select(col("a").as("person_a"), col("b").as("person_b"))
  }

  /** Synchronous label propagation (Raghavan–Albert–Kumara 2007) over
    * an undirected pair graph — community detection where a connected
    * component ([[graft.operators.Dedup.connectedComponents]]) is too
    * coarse (one dense component ≠ one community). Fully
    * deterministic, fixed `rounds`: labels init to the vertex id;
    * each round every vertex adopts the MODE of its neighbors'
    * previous-round labels, ties broken by the smallest label (the
    * classic async/random variant is not oracle-replicable; the
    * synchronous min-tie-break form is, and its two-round output is
    * pinned in SQL by unrolled CTEs). The argmax is
    * `min(struct(-count, label))` — one struct-min aggregate, no
    * per-vertex window shuffle.
    *
    * Scale shape: per round ONE edge-sized join (labels attach to the
    * symmetric edge list on the 1-column neighbor key; the
    * vertex-sized label table takes [[Checkpoints.broadcastRule]] off
    * the cut vertex set) and two map-side-combining aggregates on
    * (vertex, label) / vertex keys. Label payload is one id-sized
    * value — no text, no neighbor lists. Rounds are a fixed small
    * constant (LPA quality saturates in ~5), each cut via
    * [[Checkpoints]].
    *
    * Output: `(person_id, community)` for every non-isolated vertex.
    */
  def labelPropagation(pairs: DataFrame, rounds: Int,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = Checkpoints.cut(
      pairs.select(col(aCol).as("v"), col(bCol).as("u"))
        .unionAll(pairs.select(col(bCol).as("v"), col(aCol).as("u")))
        .filter(col("v") =!= col("u"))
        .distinct(),
      checkpointDir)
    val verts = Checkpoints.cut(sym.select(col("v")).distinct(), checkpointDir)
    val bc = Checkpoints.broadcastRule(verts)
    var lab = verts.select(col("v"), col("v").as("label"))
    for (r <- 1 to rounds) {
      val counts = sym
        .join(bc(lab.select(col("v").as("u"), col("label"))), Seq("u"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
      lab = counts
        .groupBy(col("v"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("v"), col("m.label").as("label"))
      if (r < rounds) lab = Checkpoints.cut(lab, checkpointDir)
    }
    lab.select(col("v").as("person_id"), col("label").as("community"))
  }

  /** Louvain-style modularity optimization (Blondel et al. 2008, "Fast
    * unfolding of communities in large networks") — the
    * modularity-*optimizing* sibling of [[labelPropagation]] (which
    * optimizes nothing and is known to produce degenerate labelings):
    * `levels` rounds of (synchronous local moves → graph contraction).
    * Each move round every vertex simultaneously adopts the community
    * maximizing the standard Louvain gain, compared via the exact
    * integer score `2m_w·k_{v,c} − deg_w(v)·Σtot'_c` (Σtot'_c excludes
    * v's own degree when c is its current community — the paper's
    * remove-then-reinsert accounting; the 2m_w/2m² denominators are
    * common to every candidate and drop out of the argmax). Staying is
    * always a candidate (k_{v,stay} counts v's edges into its own
    * community); ties break to the smallest community label — the
    * deterministic synchronous variant, same taxonomy as the
    * [[labelPropagation]] mode rule (the classic sequential sweep is
    * order-dependent and not oracle-replicable). After the move
    * rounds, communities contract to super-vertices (intra-community
    * edges become self-loops, weights sum) and the next level runs the
    * same weighted rounds; vertex labels compose back through the
    * hierarchy. Self-loops contribute 2w to their vertex's weighted
    * degree and never appear as move candidates — the Newman
    * convention [[modularity]] scores.
    *
    * Synchronous-update guard: simultaneous moves oscillate on
    * symmetric graphs (two singleton vertices each move into the
    * OTHER's old community — the classic parallel-Louvain swap, which
    * fragments the partition). The fix is the minimum-label heuristic
    * of parallel Louvain (Lu, Halappanavar & Kalyanaraman 2015,
    * Grappolo): a vertex in a SINGLETON community may move into
    * another singleton community only when the destination label is
    * SMALLER — forbidden candidates drop before the argmax, so swaps
    * resolve into deterministic min-label sinks while every
    * non-singleton move stays unrestricted.
    *
    * `resolutionE3` is the Reichardt–Bornholdt resolution γ in
    * permille: the argmax compares `1000·2m_w·k − γE3·deg·Σtot'_c`,
    * so γ > 1 penalizes the null model harder and yields FINER
    * communities (the standard answer to the resolution limit). The
    * default `1000` uses the UNSCALED expression — plans, oracles,
    * and the headroom bound below are exactly the pre-knob form.
    *
    * Integer headroom: at the default γ scores are `2m_w·k ≤
    * 2m_w·deg_max` — in int64 for any graph with `total edge weight ×
    * max weighted degree < 4.6×10¹⁸` (a 10¹¹-edge graph with
    * 10⁶-degree hubs clears it); the hub-capped co-occurrence
    * projections this runs on are orders of magnitude inside the
    * bound. A NON-default γ multiplies both score terms by ~10³ and
    * SHRINKS that bound to ~4.6×10¹⁵ — still far above any capped
    * projection, but a scaled run on a graph near the default bound
    * would wrap silently (Spark Long arithmetic), so check the
    * product against the scaled bound before opting in.
    *
    * Scale shape: per move round ONE edge-sized join attaches neighbor
    * labels (the vertex-sized label table takes
    * [[Checkpoints.broadcastRule]] off the vertex set), then map-side-
    * combining aggregates on (vertex, community) / community keys; the
    * 1-row total-weight frame rides a broadcast cross join (the
    * [[modularity]] device). Candidate rows are bounded by the edge
    * count (one per distinct neighbor community per vertex). Each
    * round and each contracted edge list is cut via [[Checkpoints]];
    * contraction strictly shrinks the graph, so later levels are
    * cheaper than the first.
    *
    * Output: `(person_id, community)` for every vertex of the ORIGINAL
    * graph (labels composed through all levels).
    */
  def louvain(pairs: DataFrame, moveRounds: Int = 2, levels: Int = 2,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None,
      resolutionE3: Long = 1000L): DataFrame =
    communityLevels(pairs, moveRounds, levels, aCol, bCol,
      checkpointDir, refine = (_, _, lab) => lab,
      resolutionE3 = resolutionE3)

  /** Shared level driver of [[louvain]] and [[leiden]]: canonical
    * weighted edge list → per level `moveRounds` synchronous moves →
    * `refine(edges, labels)` (identity for louvain, connectivity
    * split for leiden) → contraction over the (possibly refined)
    * partition, labels composed through the hierarchy.
    */
  private def communityLevels(pairs: DataFrame, moveRounds: Int, levels: Int,
      aCol: String, bCol: String,
      checkpointDir: Option[String],
      refine: (DataFrame, DataFrame => DataFrame, DataFrame) => DataFrame,
      resolutionE3: Long = 1000L): DataFrame = {
    require(resolutionE3 >= 1, s"resolutionE3 must be >= 1, got $resolutionE3")
    require(moveRounds >= 1, s"moveRounds must be >= 1, got $moveRounds")
    require(levels >= 1, s"levels must be >= 1, got $levels")
    var edges = Checkpoints.cut(
      pairs.select(
          least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .withColumn("w", lit(1L)),
      checkpointDir)
    // the per-round label frames are vertex-sized and derived by joins:
    // they take [[Checkpoints.broadcastRule]] measured once on the
    // level-1 vertex set; contraction only shrinks the graph, so it
    // holds for every level
    val bc = Checkpoints.broadcastRuleFor(
      edges.select(col("a").as("v")).union(edges.select(col("b").as("v"))).distinct())
    var mapping: DataFrame = null
    for (level <- 1 to levels) {
      val lab = refine(edges, bc,
        louvainMoves(edges, moveRounds, bc, checkpointDir,
          resolutionE3))
      mapping =
        if (level == 1)
          lab.select(col("v").as("person_id"), col("label").as("community"))
        else
          mapping.join(
            bc(lab.select(col("v").as("community"), col("label").as("next_c"))),
            Seq("community"))
            .select(col("person_id"), col("next_c").as("community"))
      if (level < levels) {
        edges = Checkpoints.cut(
          edges
            .join(bc(lab.select(col("v").as("a"), col("label").as("la"))), Seq("a"))
            .join(bc(lab.select(col("v").as("b"), col("label").as("lb"))), Seq("b"))
            .select(
              least(col("la"), col("lb")).as("a"),
              greatest(col("la"), col("lb")).as("b"), col("w"))
            .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w")),
          checkpointDir)
        mapping = Checkpoints.cut(mapping, checkpointDir)
      }
    }
    mapping
  }

  /** Leiden-style connectivity refinement of [[louvain]]. Louvain's
    * known defect is badly connected — even internally DISCONNECTED —
    * communities: a label can win the gain argmax for vertex sets
    * whose only bridges later move away (Traag, Waltman & van Eck
    * 2019, "From Louvain to Leiden", the guarantee their refinement
    * phase exists to restore; reference has no graph analytics —
    * this extends SURVEY §7's curation-graph tier). This is the
    * deterministic connectivity-refinement variant: after each
    * level's synchronous move rounds, every community is split into
    * the CONNECTED COMPONENTS of its induced subgraph, and the
    * contraction runs over the REFINED partition (Leiden's
    * aggregate-over-refinement half). Refined labels are min-member
    * ids — globally unique across communities, no relabel pass.
    *
    * Splitting a disconnected community never lowers modularity: no
    * intra-community edge crosses split parts (they are disconnected
    * within the community), so Σ_c m_c is unchanged, while
    * Σ_c D_c² can only shrink ((x+y)² ≥ x²+y² for x,y ≥ 0) — hence
    * per-level Q(refined) ≥ Q(unrefined), the GraphOpsSpec law, and
    * every output community is connected in the ORIGINAL graph
    * (super-vertices are connected vertex sets and super-edges are
    * witnessed by real edges, so connectivity composes through the
    * contraction hierarchy).
    *
    * Pinned simplifications vs full Leiden (both required for oracle
    * replicability): refinement is exact connectivity — the
    * γ-well-connectedness sweep degenerates to its connectivity
    * floor, deterministically instead of via randomized merges — and
    * each aggregated level restarts from singleton communities.
    *
    * Scale shape: [[louvain]]'s per-round shape plus, per level, one
    * min-label propagation loop over the intra-community edge subset
    * (≤ |E| id-only rows; pointer jumping halves the effective
    * diameter per round, and community diameters are small by
    * construction). The loop is the [[graft.operators.Dedup.connectedComponents]]
    * device re-keyed for STRING vertex ids: labels shrink
    * monotonically in string order, so the fixpoint test rides an
    * `observe`d 64-bit-hash sum — the (doc, label) multiset changed
    * iff the sum changed (whp) — instead of the numeric label sum a
    * string id cannot provide.
    *
    * Output: `(person_id, community)` for every vertex, labels
    * composed through all levels. `resolutionE3` threads into the
    * move rounds exactly as in [[louvain]] (same default-unscaled
    * expression, same scaled-headroom caveat); the connectivity
    * refinement is resolution-blind.
    */
  def leiden(pairs: DataFrame, moveRounds: Int = 2, levels: Int = 2,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None,
      resolutionE3: Long = 1000L): DataFrame =
    communityLevels(pairs, moveRounds, levels, aCol, bCol,
      checkpointDir,
      refine = (e, bc, lab) => refineConnected(e, lab, bc, checkpointDir),
      resolutionE3 = resolutionE3)

  /** [[leiden]]'s refinement kernel: split every community of
    * `lab(v, label)` into the connected components of its induced
    * subgraph over `edges(a, b, w)`, returning `(v, label)` with
    * min-member component ids. Exact min-label propagation with
    * pointer jumping; convergence via hash-sum equality (see the
    * [[leiden]] scaladoc for why the numeric-label-sum device does
    * not port to string vertex ids).
    */
  private def refineConnected(edges: DataFrame, lab: DataFrame,
      bc: DataFrame => DataFrame, checkpointDir: Option[String],
      maxRounds: Int = 20): DataFrame = {
    val la = bc(lab.select(col("v").as("a"), col("label").as("la")))
    val lb = bc(lab.select(col("v").as("b"), col("label").as("lb")))
    val intra = edges.filter(col("a") =!= col("b"))
      .join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") === col("lb"))
      .select(col("a"), col("b"))
    val sym = Checkpoints.cut(
      intra.select(col("a").as("u"), col("b").as("v"))
        .unionAll(intra.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("v")),
      checkpointDir)
    var labels = lab.select(col("v").as("cv"), col("v").as("clab"))
    var prevSum: Option[BigDecimal] = None
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val lside = bc(labels)
      val stepped = sym
        .join(lside, sym("v") === lside("cv"))
        .select(col("u").as("cv"), col("clab"))
        .unionByName(labels)
        .groupBy(col("cv"))
        .agg(min(col("clab")).as("clab"))
      val lmap = bc(stepped.select(col("cv").as("ld"), col("clab").as("ll")))
      val obs = new org.apache.spark.sql.Observation(s"refine_round_$round")
      val jumped = Checkpoints.cut(
        stepped
          .join(lmap, stepped("clab") === col("ld"), "left_outer")
          .select(
            stepped("cv"),
            least(stepped("clab"), coalesce(col("ll"), stepped("clab"))).as("clab"))
          .observe(obs,
            sum(xxhash64(col("cv"), col("clab")).cast("decimal(38,0)"))
              .as("lab_hash_sum")),
        checkpointDir)
      val hashSum = Option(obs.get("lab_hash_sum"))
        .collect { case d: java.math.BigDecimal => BigDecimal(d) }
      changed = (hashSum, prevSum) match {
        case (Some(cur), Some(prev)) => cur != prev
        case (Some(_), None)         => true
        case (None, _)               =>
          // an absent metric stops the loop with labels that may NOT
          // be connected components — the exact defect refinement
          // exists to remove — so the stop must be loud (the kTruss /
          // kCorePeel "convergence metric absent" precedent)
          log.warn(s"refineConnected: convergence metric absent at " +
            s"round $round; stopping - refined communities may still " +
            "be disconnected")
          false
      }
      prevSum = hashSum
      labels = jumped
      round += 1
    }
    // an unconverged stop can emit labels that are NOT connected
    // components — the exact defect leiden exists to remove — so it
    // must be loud (the connectedComponents precedent logs + falls
    // back; here 20 pointer-jumped rounds cover diameter ~2^20 and
    // community diameters are small by construction, so a warning is
    // the proportionate response)
    if (changed)
      log.warn(s"refineConnected: NO fixpoint after $round rounds " +
        s"(maxRounds=$maxRounds) - refined communities may still be " +
        "disconnected; raise maxRounds")
    labels.select(col("cv").as("v"), col("clab").as("label"))
  }

  /** One level of synchronous Louvain local moves over a weighted
    * undirected edge list `(a ≤ b, w)` with self-loops. Returns
    * `(v, label)` for every endpoint.
    */
  private def louvainMoves(edges: DataFrame, rounds: Int,
      bc: DataFrame => DataFrame, checkpointDir: Option[String],
      resolutionE3: Long = 1000L): DataFrame = {
    val nonSelf = edges.filter(col("a") =!= col("b"))
    val sym = nonSelf.select(col("a").as("v"), col("b").as("u"), col("w"))
      .unionAll(nonSelf.select(col("b").as("v"), col("a").as("u"), col("w")))
    val verts = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v"))).distinct()
    // weighted degree: non-self incident weight + 2x self-loop weight
    // (the Newman convention modularity() scores)
    val deg = Checkpoints.cut(
      verts
        .join(sym.groupBy(col("v")).agg(sum(col("w")).as("dw")), Seq("v"), "left_outer")
        .join(edges.filter(col("a") === col("b"))
          .groupBy(col("a").as("v")).agg(sum(col("w")).as("sw")), Seq("v"), "left_outer")
        .select(col("v"),
          (coalesce(col("dw"), lit(0L)) + lit(2L) * coalesce(col("sw"), lit(0L)))
            .as("deg")),
      checkpointDir)
    // 2m_w as a 1-row broadcast (agg over empty still yields one row)
    val totRow = deg.agg(coalesce(sum(col("deg")), lit(0L)).as("tot_w"))
    // hints attach at each JOIN usage (a hinted frame flowing into a
    // union draws HintErrorLogger noise and binds nothing)
    var lab = verts.select(col("v"), col("v").as("label"))
    for (r <- 1 to rounds) {
      val kvc = sym
        .join(bc(lab.select(col("v").as("u"), col("label").as("c"))), Seq("u"))
        .groupBy(col("v"), col("c")).agg(sum(col("w")).as("kvc"))
      // staying is always a candidate, even with zero edges into the
      // own community (isolated vertices keep their label)
      val cands = kvc
        .unionByName(lab.select(col("v"), col("label").as("c"), lit(0L).as("kvc")))
        .groupBy(col("v"), col("c")).agg(sum(col("kvc")).as("kvc"))
      val sized = lab.join(bc(deg), Seq("v"))
        .groupBy(col("label"))
        .agg(sum(col("deg")).as("tot"), count(lit(1)).as("csize"))
      val totC = sized.select(col("label").as("c"), col("tot"), col("csize"))
      val ownC = sized.select(col("label").as("own_c"),
        col("csize").as("own_size"))
      lab = cands
        .join(bc(lab.select(col("v"), col("label").as("own_c"))), Seq("v"))
        .join(bc(deg), Seq("v"))
        .join(bc(totC), Seq("c"))
        .join(bc(ownC), Seq("own_c"))
        // minimum-label swap guard: singleton -> larger-label singleton
        // moves are forbidden (dropped pre-argmax; stay is never a
        // cross-community move, so every vertex keeps >= 1 candidate)
        .filter(
          col("c") === col("own_c") ||
            col("own_size") > 1 || col("csize") > 1 || col("c") < col("own_c"))
        .crossJoin(broadcast(totRow))
        // resolution gamma (Reichardt-Bornholdt 2006) scales the
        // null-model term: score = 1000*2m_w*k - gammaE3*deg*Sigma_tot'.
        // The default gamma = 1000 keeps the UNSCALED expression so the
        // shipped g_louvain/g_leiden plans, oracles, and the headroom
        // bound are byte-identical to the pre-resolution form; scaled
        // runs trade 3 decimal digits of headroom (documented in the
        // louvain scaladoc's headroom paragraph) for the knob.
        .withColumn("score",
          if (resolutionE3 == 1000L)
            col("tot_w") * col("kvc") -
              col("deg") * (col("tot") -
                when(col("c") === col("own_c"), col("deg")).otherwise(lit(0L)))
          else
            lit(1000L) * col("tot_w") * col("kvc") -
              lit(resolutionE3) * col("deg") * (col("tot") -
                when(col("c") === col("own_c"), col("deg")).otherwise(lit(0L))))
        .groupBy(col("v"))
        .agg(min(struct((-col("score")).as("ns"), col("c").as("c"))).as("m"))
        .select(col("v"), col("m.c").as("label"))
      if (r < rounds) lab = Checkpoints.cut(lab, checkpointDir)
    }
    lab
  }

  /** Truncated harmonic centrality (radius 2): `h2_e3 = 1000·n1 +
    * 500·n2` per vertex, where n1/n2 are the exact distance-1 /
    * distance-2 neighborhood sizes — the Σ 1/d centrality cut at the
    * radius where it is still exactly computable as a distributed
    * set expression (full harmonic centrality needs all-pairs BFS;
    * the 2-ball form is the standard "local influence" readout and
    * is exact rational, so the oracle hash-matches). Coefficients
    * are permille (1/1 → 1000, 1/2 → 500).
    *
    * Scale shape: the distance-2 set is ONE self-join of the
    * symmetric edge list on the shared endpoint — the [[kHop]] wedge
    * shape — deduped and anti-joined against the 1-ball. Cost is
    * Σᵥ deg(v)², bounded on hub-capped projections (this op is meant
    * for [[coOccurrencePairs]]' output, where the fan-out cap already
    * bounds degree); ids only, no payload.
    *
    * Output: `(person_id, n1, n2, h2_e3)` for every non-isolated
    * vertex.
    */
  def harmonicCentrality2(pairs: DataFrame,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val sym = Checkpoints.cut(
      pairs.select(col(aCol).as("v"), col(bCol).as("u"))
        .unionAll(pairs.select(col(bCol).as("v"), col(aCol).as("u")))
        .filter(col("v") =!= col("u"))
        .distinct(),
      checkpointDir)
    val n1 = sym.groupBy(col("v")).agg(count(lit(1)).as("n1"))
    val two = sym.select(col("v"), col("u").as("m"))
      .join(sym.select(col("v").as("m"), col("u").as("w")), Seq("m"))
      .filter(col("v") =!= col("w"))
      .select(col("v"), col("w").as("u"))
      .distinct()
      .join(sym, Seq("v", "u"), "left_anti")
    val n2 = two.groupBy(col("v")).agg(count(lit(1)).as("n2"))
    n1.join(n2, Seq("v"), "left_outer")
      .select(
        col("v").as("person_id"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        (lit(1000L) * col("n1") + lit(500L) * coalesce(col("n2"), lit(0L)))
          .as("h2_e3"))
  }

  /** Newman–Girvan modularity of a vertex partition over an undirected
    * pair graph — the standard "is this community structure real"
    * score for [[labelPropagation]]'s output:
    * `Q = Σ_c [ m_c/m − (D_c/2m)² ]`, rearranged to the single exact
    * rational `(4m·Σ_c m_c − Σ_c D_c²) / (4m²)` so the sufficient
    * statistics (m, intra-community edge counts m_c, community degree
    * sums D_c) are exact integers, the cross products are
    * DECIMAL(38,0) (the [[degreeAssortativity]] overflow rule: m ≈
    * 1e9 edges puts 4m² at ~4e18, past safe signed headroom once
    * multiplied again), and ONE final double division yields
    * `q_e6 = floor(Q·10⁶)`. Vertices absent from `labels` contribute
    * degree to no community — callers pass a labeling that covers the
    * graph (LPA's output covers every non-isolated vertex by
    * construction).
    *
    * Scale shape: two edge-sized joins to attach endpoint labels, a
    * community-sized aggregate each for m_c and D_c, then three
    * 1-row aggregates combined by 1-row cross joins (the documented
    * 1-row-broadcast device, cf. `TextOps.scala` nDocs). No
    * iteration, no driver state.
    *
    * Output: one row `(n_edges, n_communities, q_e6)`.
    */
  def modularity(pairs: DataFrame, labels: DataFrame,
      aCol: String = "person_a", bCol: String = "person_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val und = Checkpoints.cut(
      pairs.select(
          least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct(),
      checkpointDir)
    val lab = labels.select(col("person_id"), col("community"))
    val withC = und
      .join(lab.select(col("person_id").as("a"), col("community").as("ca")), Seq("a"))
      .join(lab.select(col("person_id").as("b"), col("community").as("cb")), Seq("b"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val mRow = und.agg(count(lit(1)).as("m"))
    val intra = withC.filter(col("ca") === col("cb"))
      .groupBy(col("ca")).agg(count(lit(1)).as("mc"))
      .agg(coalesce(sum(col("mc")), lit(0L)).as("sum_mc"))
    val degSq = und.select(explode(array(col("a"), col("b"))).as("person_id"))
      .groupBy(col("person_id")).agg(count(lit(1)).as("d"))
      .join(lab, Seq("person_id"))
      .groupBy(col("community")).agg(sum(col("d")).as("dc"))
      .agg(
        coalesce(sum(dec(col("dc")) * dec(col("dc"))), dec(lit(0))).as("sum_dc2"),
        count(lit(1)).as("n_communities"))
    mRow.crossJoin(intra).crossJoin(degSq)
      .select(
        col("m").as("n_edges"),
        col("n_communities"),
        when(col("m") > 0,
          floor(
            (dec(lit(4)) * dec(col("m")) * dec(col("sum_mc")) - col("sum_dc2"))
              .cast("double") * 1e6 /
              (dec(lit(4)) * dec(col("m")) * dec(col("m"))).cast("double")))
          .otherwise(0L).cast("long").as("q_e6"))
  }

  /** Shared round loop of the ANF / neighborhood-function pair (Boldi &
    * Vigna 2011, "HyperANF: Approximating the Neighbourhood Function of
    * Very Large Graphs on a Budget" — itself the HLL re-statement of
    * Palmer et al. 2002's ANF): per vertex an HLL sketch of the ball
    * `B(v, t)`, advanced one hop per round by unioning each vertex's
    * sketch with its neighbors' previous-round sketches — a grouped
    * `hll_union_agg`, which partial-aggregates map-side like any other
    * Spark aggregate. Sketch state is O(vertices · sketch bytes)
    * regardless of how large the balls grow; that bound is the entire
    * point of ANF — the exact ball-pair state it replaces is the
    * transitive closure, quadratic in the worst case.
    *
    * Returns, per round `t ∈ [0, maxT]`, the 1-row estimate frame
    * `Σ_v |B(v, t)|` and (audit mode) the exact reachable-pair frame.
    * The exact path IS the quadratic closure — validation-scale only,
    * which is why the production entry point ([[anfEstimates]]) never
    * computes it.
    */
  private def anfRounds(
      pairs: DataFrame,
      maxT: Int,
      audit: Boolean,
      checkpointDir: Option[String]): Seq[(Int, DataFrame, Option[DataFrame])] = {
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    val sym = Checkpoints.cut(
      pairs.select(col("person_a").as("v"), col("person_b").as("u"))
        .union(pairs.select(col("person_b").as("v"), col("person_a").as("u")))
        .distinct(), checkpointDir)
    val verts = sym.select(col("v")).distinct()
    // lgConfigK = 10: ~3.3% per-sketch error (HyperANF's errors are
    // correlated across vertices — same hash of the same ids — so the
    // SUM inherits the per-sketch bound; 10 keeps it inside the 5%
    // gate) at a quarter of the default sketch bytes — the blob size
    // is the round shuffle's byte multiplier, one sketch per edge
    val initState = verts.groupBy(col("v"))
      .agg(hll_sketch_agg(col("v"), lit(10)).as("sk"))
    // round-0 frames are cheap re-aggregations of the CUT edge list —
    // they get no cut of their own (each is read at most twice)
    var state = initState
    var reach: DataFrame =
      if (audit) verts.select(col("v"), col("v").as("u"))
      else null
    val rounds = Seq.newBuilder[(Int, DataFrame, Option[DataFrame])]
    rounds += ((0, state, Option(reach)))
    for (t <- 1 to maxT) {
      // the last round's frames feed only their own 1-row aggregate —
      // an eager cut there is a pure extra materialization, skip it
      val cutRound: DataFrame => DataFrame =
        if (t < maxT) Checkpoints.cut(_, checkpointDir) else identity
      val msgs = sym
        .join(state.withColumnRenamed("v", "w"), col("u") === col("w"))
        .select(col("v"), col("sk"))
      state = cutRound(
        state.select(col("v"), col("sk")).union(msgs)
          .groupBy(col("v")).agg(hll_union_agg(col("sk")).as("sk")))
      if (audit) {
        reach = cutRound(
          reach.union(
            sym.as("s").join(reach.as("r"), col("s.u") === col("r.v"))
              .select(col("s.v").as("v"), col("r.u").as("u")))
            .distinct())
      }
      rounds += ((t, state, Option(reach)))
    }
    rounds.result()
  }

  /** Neighborhood function estimates — the production ANF entry point:
    * one row per hop radius `t`,
    * `(t, est_pairs = Σ_v estimate|B(v, t)|)`. `N(t)`'s growth curve
    * is the effective-diameter / connectivity profile of the graph
    * (the t where it saturates is the effective diameter); the cost is
    * `maxT` rounds of one edge-keyed join + one grouped sketch union,
    * never the closure. Estimates are HLL doubles — engine-specific,
    * so this form is spec-gated; the oracle row runs
    * [[neighborhoodFunctionAudited]].
    */
  def anfEstimates(
      pairs: DataFrame,
      maxT: Int,
      checkpointDir: Option[String] = None): DataFrame =
    anfRounds(pairs, maxT, audit = false, checkpointDir)
      .map { case (t, state, _) =>
        state.agg(coalesce(sum(hll_sketch_estimate(col("sk"))), lit(0d))
          .as("est_pairs"))
          .select(lit(t.toLong).as("t"), col("est_pairs"))
      }.reduce(_.unionAll(_))

  /** [[anfEstimates]] with the exact audit riding along (the
    * `x_hll_merge` device): per radius `t`,
    * `(t, exact_pairs, anf_ok)` where `exact_pairs` counts the true
    * reachable pairs within `t` hops (self included) and `anf_ok`
    * certifies the sketch sum landed within `tolerancePermille` of it.
    * The exact path materializes the bounded transitive closure —
    * quadratic state, validation-scale only (the scale story lives in
    * [[anfEstimates]], which shares the sketch loop bit-for-bit).
    */
  def neighborhoodFunctionAudited(
      pairs: DataFrame,
      maxT: Int,
      tolerancePermille: Long = 50,
      checkpointDir: Option[String] = None): DataFrame =
    anfRounds(pairs, maxT, audit = true, checkpointDir)
      .map { case (t, state, reach) =>
        val est = state.agg(
          coalesce(sum(hll_sketch_estimate(col("sk"))), lit(0d)).as("est"))
        reach.get.agg(count(lit(1)).as("exact_pairs"))
          .crossJoin(est)
          .select(
            lit(t.toLong).as("t"),
            col("exact_pairs"),
            (abs(col("est") - col("exact_pairs").cast("double")) <=
              col("exact_pairs").cast("double") * tolerancePermille / 1000d)
              .as("anf_ok"))
      }.reduce(_.unionAll(_))

  /** Strongly connected components of a DIRECTED edge list — the
    * directed-graph sibling of [[graft.operators.Dedup.connectedComponents]]
    * (which treats every edge as symmetric and merges whole weakly
    * connected blobs): `scc_label(v)` = the lexicographically smallest
    * vertex mutually reachable with `v`. The reference's graph store is
    * directed (every relationship doc carries a from→to direction) but
    * its 2-hop query ignores orientation; SCC is the canonical directed
    * analytic that CANNOT be composed from the undirected operators.
    *
    * Algorithm: FW-BW-Trim coloring (Orzan 2004; Slota, Rajamanickam &
    * Madduri 2014, "BFS and Coloring-Based Parallel Algorithms for
    * Strongly Connected Components"), the standard label-propagation
    * realization of SCC for bulk-synchronous engines — Tarjan's stack
    * is inherently sequential. Per outer round over the REMAINING
    * subgraph:
    *
    *  1. TRIM: a vertex with no in-edge or no out-edge lies on no
    *     cycle — it is its own SCC (one pass; pendant DAG fringe,
    *     typically most of a sparse graph, peels here for free);
    *  2. COLOR: propagate `color(v) = min(id of vertices that reach
    *     v)` forward to fixpoint (min-aggregate over in-neighbors per
    *     step — each step one edge join + map-side-combining min agg;
    *     converges in longest-shortest-path steps);
    *  3. BACKWARD: a color class's ROOT is the vertex that IS its
    *     color (the root is always in its own class). Mark the root,
    *     then propagate marks along REVERSED edges restricted to the
    *     same color to fixpoint: marked vertices reach the root, and
    *     the root reaches every same-color vertex by construction —
    *     so the marked set is EXACTLY `SCC(root)`, labeled `root` =
    *     its own minimum member (matching the mutual-reachability
    *     oracle's `min` convention);
    *  4. PEEL: remove the identified SCCs and repeat — every round
    *     retires at least every current root's SCC, so progress is
    *     guaranteed; rounds track the DEPTH of the condensation DAG,
    *     not vertex count.
    *
    * Convergence of both inner loops rides the round's checkpoint-cut
    * job — no extra count pass: color compares an `observe`d label
    * hash sum (the [[refineConnected]] device), backward compares the
    * mark cut's measured row count (monotone, so equality is a
    * fixpoint). All three loop bounds warn loudly on non-convergence
    * (kTruss precedent): an unconverged stop can emit labels that are
    * NOT SCCs, so it must never be silent.
    *
    * Scale shape: state is two id-sized vertex frames (colors, marks)
    * and the surviving edge list; per step one edge-sized join + one
    * map-side-combining aggregate — no neighbor lists, no closure
    * materialization (the O(V·reach) frame the oracle pays is exactly
    * what this loop exists to avoid). Worst case (a condensation CHAIN
    * of depth V) degrades to V rounds — inherent to every
    * label-propagation SCC; real graphs' condensations are shallow.
    *
    * Output: `(person_id, scc_label)`, one row per vertex of the
    * de-duplicated self-loop-free edge list.
    */
  def sccLabels(edges: DataFrame, maxRounds: Int = 30, maxSteps: Int = 40,
      srcCol: String = "src", dstCol: String = "dst",
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    // every cut this call makes is held until it is spent: a finished
    // round releases all but the live edge list and label frame (its
    // color, mark and eSame cuts and the superseded e/done), so the
    // loop's executor storage stays one round deep
    val held = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def cut(df: DataFrame): DataFrame = {
      val c = Checkpoints.cut(df, checkpointDir)
      held += c
      c
    }
    def releaseAllBut(live: DataFrame*): Unit = {
      val (keep, spent) = held.partition(c => live.exists(_ eq c))
      Checkpoints.release(spent)
      held.clear()
      held ++= keep
    }
    var e = cut(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .filter(col("s") =!= col("d"))
        .distinct())
    // per-step color/mark frames are vertex-sized; the loop joins them
    // against the edge list dozens of times (maxRounds × maxSteps), so
    // the broadcast-vs-shuffle call is THE per-step plan decision. It
    // is [[Checkpoints.broadcastRule]] measured once on the vertex set;
    // peeling only shrinks the graph, so the answer holds for every
    // round
    val bc = Checkpoints.broadcastRuleFor(
      e.select(col("s").as("v")).union(e.select(col("d").as("v"))).distinct())
    // self-loop-ONLY vertices are their own SCCs and never enter `e`;
    // a vertex with a self-loop AND other edges is labeled by the main
    // loop (the self-loop does not change mutual reachability), so it
    // must not get a second row here
    val eVerts = e.select(col("s").as("v"))
      .unionAll(e.select(col("d").as("v")))
    var done = edges.filter(col(srcCol) === col(dstCol))
      .select(col(srcCol).as("v"), col(srcCol).as("scc_label")).distinct()
      .join(eVerts, Seq("v"), "left_anti")
    var round = 0
    var remaining = true
    while (remaining && round < maxRounds) {
      // 1) TRIM — no in-edge or no out-edge ⇒ singleton SCC
      val verts = e.select(col("s").as("v"))
        .unionAll(e.select(col("d").as("v"))).distinct()
      val core = verts
        .join(e.select(col("d").as("v")), Seq("v"), "left_semi")
        .join(e.select(col("s").as("v")), Seq("v"), "left_semi")
      done = done.unionAll(
        verts.join(bc(core), Seq("v"), "left_anti")
          .select(col("v"), col("v").as("scc_label")))
      e = cut(
        e.join(bc(core.select(col("v").as("s"))), Seq("s"), "left_semi")
          .join(bc(core.select(col("v").as("d"))), Seq("d"), "left_semi")
          .select(col("s"), col("d")))
      // ORPHANS: a core vertex can lose EVERY edge to the trim filter
      // (all its in-neighbors and all its out-neighbors were trimmed).
      // Same-SCC vertices always leave together (a cycle's members all
      // have in+out degree and cycle edges survive the core filter),
      // so an edge-orphaned vertex is necessarily a singleton SCC —
      // label it now or it vanishes from the graph unlabeled
      val postTrimVerts = e.select(col("s").as("v"))
        .unionAll(e.select(col("d").as("v")))
      done = done.unionAll(
        core.join(postTrimVerts, Seq("v"), "left_anti")
          .select(col("v"), col("v").as("scc_label")))
      // `done` grows union branches per round; cut it so the lineage
      // (and the final plan) stays round-independent
      done = cut(done)
      // edge counts are the cuts' measured row counts — no count pass
      val nTrimmed = Checkpoints.rows(e)
      log.info(s"sccLabels: round $round post-trim edges=$nTrimmed")
      if (nTrimmed == 0L) { remaining = false }
      else {
        // 2) COLOR — min reaching id, forward fixpoint
        var color = cut(
          e.select(col("s").as("v")).unionAll(e.select(col("d").as("v")))
            .distinct().select(col("v"), col("v").as("color")))
        var prevSum: Option[BigDecimal] = None
        var coloring = true
        var step = 0
        while (coloring && step < maxSteps) {
          val msgs = e.join(bc(color.select(col("v").as("s"), col("color"))), Seq("s"))
            .groupBy(col("d").as("v")).agg(min(col("color")).as("mc"))
          val obs = new org.apache.spark.sql.Observation(
            s"scc_color_${round}_$step")
          color = cut(
            color.join(bc(msgs), Seq("v"), "left_outer")
              .select(col("v"),
                least(col("color"), coalesce(col("mc"), col("color")))
                  .as("color"))
              .observe(obs,
                sum(xxhash64(col("v"), col("color")).cast("decimal(38,0)"))
                  .as("color_hash_sum")))
          val hashSum = Option(obs.get("color_hash_sum"))
            .collect { case x: java.math.BigDecimal => BigDecimal(x) }
          coloring = (hashSum, prevSum) match {
            case (Some(cur), Some(prev)) => cur != prev
            case (Some(_), None)         => true
            case (None, _) =>
              log.warn(s"sccLabels: color convergence metric absent at " +
                s"round $round step $step; stopping - labels may not be SCCs")
              false
          }
          prevSum = hashSum
          step += 1
        }
        if (coloring)
          log.warn(s"sccLabels: color propagation hit the $maxSteps-step " +
            s"bound unconverged at round $round - labels may not be SCCs; " +
            "raise maxSteps")
        log.info(s"sccLabels: round $round colorSteps=$step")
        // 3) BACKWARD — mark the root's same-color ancestors. The
        // same-color edge list (with the shared color attached) is
        // built ONCE per round: backward marks only travel within a
        // color class, so each BFS step needs one semi-join against
        // the marked set — the previous shape re-joined the full edge
        // list against BOTH the mark and color frames every step.
        val eSame = cut(
          e.join(bc(color.select(col("v").as("s"), col("color"))), Seq("s"))
            .join(bc(color.select(col("v").as("d"), col("color").as("dc"))),
              Seq("d"))
            .filter(col("color") === col("dc"))
            .select(col("s"), col("d"), col("color")))
        var mark = cut(color.filter(col("v") === col("color")))
        // the marked set only grows, so an unchanged count is a fixpoint
        var prevN = -1L
        var marking = true
        step = 0
        while (marking && step < maxSteps) {
          val next = eSame
            .join(bc(mark.select(col("v").as("d"))), Seq("d"), "left_semi")
            .select(col("s").as("v"), col("color"))
          mark = cut(mark.unionAll(next).distinct())
          val n = Checkpoints.rows(mark)
          marking = n > prevN
          prevN = n
          step += 1
        }
        if (marking)
          log.warn(s"sccLabels: backward marking hit the $maxSteps-step " +
            s"bound unconverged at round $round - labels may not be SCCs; " +
            "raise maxSteps")
        log.info(s"sccLabels: round $round markSteps=$step marked=$prevN")
        // 4) PEEL the identified SCCs
        val markV = mark.select(col("v"))
        e = cut(
          e.join(bc(markV.select(col("v").as("s"))), Seq("s"), "left_anti")
            .join(bc(markV.select(col("v").as("d"))), Seq("d"), "left_anti")
            .select(col("s"), col("d")))
        // peel orphans (trim-orphan rationale): unmarked vertices whose
        // every edge had a marked endpoint are singleton SCCs
        val postPeelVerts = e.select(col("s").as("v"))
          .unionAll(e.select(col("d").as("v")))
        val orphans = color.select(col("v"))
          .join(bc(markV), Seq("v"), "left_anti")
          .join(postPeelVerts, Seq("v"), "left_anti")
          .select(col("v"), col("v").as("scc_label"))
        done = cut(
          done
            .unionAll(mark.select(col("v"), col("color").as("scc_label")))
            .unionAll(orphans))
        remaining = Checkpoints.rows(e) != 0L
      }
      releaseAllBut(e, done)
      round += 1
    }
    if (remaining) {
      log.warn(s"sccLabels: hit the $maxRounds-round bound with edges " +
        "remaining - unpeeled vertices get their OWN ID as a label, " +
        "which SPLITS (never merges) their true SCCs; raise maxRounds")
      // label leftovers by vertex id so the defect is visible (two
      // mutually-reachable leftovers get DIFFERENT labels) rather than
      // silently merged — the warning above states exactly this
      val leftover = e.select(col("s").as("v"))
        .unionAll(e.select(col("d").as("v"))).distinct()
      done = done.unionAll(leftover.select(col("v"), col("v").as("scc_label")))
    } else releaseAllBut(done)
    done.select(col("v").as("person_id"), col("scc_label"))
  }

  /** Condensation DAG of a directed graph: contract every SCC (from
    * [[sccLabels]] output) to one vertex and keep the distinct
    * BETWEEN-component edges — the acyclic component-dependency graph
    * (by the definition of SCC the condensation has no cycles: a cycle
    * of components would itself be one component). This is the
    * structure downstream processing actually wants from a directed
    * graph — topological stage order over data/citation/dependency
    * flows — and the same contraction device as louvain's level step,
    * one level, label-keyed.
    *
    * Scale shape: two label-attach joins on the vertex key (the label
    * frame is vertex-sized and id-only; [[sccLabels]] output is a
    * measured cut, so Spark's own threshold broadcasts it when it
    * fits) + one distinct on the contracted pair — no new exchange
    * class beyond the edge list's.
    *
    * Output: `(src_scc, dst_scc)`, distinct, self-pairs dropped.
    */
  def condensationEdges(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val lab = labels.select(
      col("person_id").as("v"), col("scc_label"))
    edges.select(col(srcCol).as("sv"), col(dstCol).as("dv"))
      .join(lab.select(col("v").as("sv"), col("scc_label").as("src_scc")),
        Seq("sv"))
      .join(lab.select(col("v").as("dv"), col("scc_label").as("dst_scc")),
        Seq("dv"))
      .filter(col("src_scc") =!= col("dst_scc"))
      .select(col("src_scc"), col("dst_scc"))
      .distinct()
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") over a DIRECTED edge list — the
    * mutual-reinforcement twin of [[pageRank]]: a good hub points at
    * good authorities, a good authority is pointed at by good hubs.
    * On link graphs the two scores separate catalog/index pages from
    * content pages — the curation signal PageRank's single score
    * conflates. Direction matters: on a symmetric graph hub and
    * authority converge to the SAME vector (hub runs a half-step
    * ahead at finite iters), so callers pass a genuinely directed
    * frame (the [[sccLabels]] fixture class).
    *
    * Exact integer arithmetic so every engine agrees bit-for-bit:
    * scores are e6-scaled longs, `h_0 = 10^6` for every vertex, and
    * each round computes `a(v) = Σ_{u→v} h(u)` rescaled to
    * `a'(v) = (a(v)·10^6) div max_v a(v)` (all zero when the round has
    * no mass), then `h(v) = Σ_{v→w} a'(w)` rescaled the same way. The
    * per-round MAX-rescale replaces the usual L2 normalization — the
    * same power iteration on AᵀA/AAᵀ up to scale, but with no
    * transcendental in the loop, and values stay ≤ 10^6·max_deg so
    * int64 never overflows at ANY iteration count (unnormalized HITS
    * grows as λ_max^t and overflows by round ~6 on a dense graph; L2
    * needs a sqrt the oracle can't replicate exactly).
    *
    * Scale shape (the [[pageRank]] family): per round two edge-sized
    * equi-joins + map-side-combining aggregates (O(E) each, score
    * payload is one long) and two 1-row max aggregates broadcast back
    * (the louvain 2m_w device); edges and the vertex frame are cut
    * once, per-round frames are cut every round ([[Checkpoints]] —
    * `checkpointDir` selects the executor-loss-durable mode). `iters`
    * is small and fixed (power iteration converges geometrically).
    * The per-round score frames take [[Checkpoints.broadcastRule]] off
    * the cut vertex frame (the [[pageRank]] rule); each half-round's
    * summed frame is CUT before its 1-row max reads it — the max rides
    * a broadcast subquery that would otherwise re-execute the edge
    * join a second time (this fix + broadcast score frames measured
    * 7.2× → 3.9× per-decade smoke ratio, sf1 wall 30.9 → 12.1 s).
    *
    * Callers should pass a distinct edge list — duplicate (src,dst)
    * rows double-count endorsements.
    *
    * Output: `(person_id, hub_e6, auth_e6)` for every vertex.
    */
  def hits(edges: DataFrame, iters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Checkpoints.cut(edges.select(col("src"), col("dst")), checkpointDir)
    val verts = Checkpoints.cut(
      e.select(col("src").as("person_id"))
        .union(e.select(col("dst").as("person_id")))
        .distinct(), checkpointDir)
    val bc = Checkpoints.broadcastRule(verts)
    // sum frame -> max-rescaled e6 scores over ALL vertices (missing
    // aggregate rows are zero-score vertices). The completed frame is
    // CUT before the 1-row max reads it: the max rides a broadcast
    // subquery, and without the cut that subquery re-executes the
    // edge-sized join+agg a second time per half-round (the
    // pplBuckets double-execution class, caught by the smoke ratio)
    def rescaled(sums: DataFrame, out: String): DataFrame = {
      val full = Checkpoints.cut(
        verts.join(bc(sums), Seq("person_id"), "left_outer")
          .select(col("person_id"), coalesce(col("s"), lit(0L)).as("s")),
        checkpointDir)
      val mx = full.agg(max(col("s")).as("mx"))
      full.crossJoin(broadcast(mx))
        .select(col("person_id"),
          when(col("mx") > 0, expr("(s * 1000000L) div mx"))
            .otherwise(lit(0L)).as(out))
    }
    var hub = verts.select(col("person_id"), lit(1000000L).as("hub_e6"))
    var auth: DataFrame = verts.select(col("person_id"), lit(0L).as("auth_e6"))
    for (t <- 1 to iters) {
      auth = Checkpoints.cut(rescaled(
        e.join(bc(hub.withColumnRenamed("person_id", "src")), Seq("src"))
          .groupBy(col("dst").as("person_id"))
          .agg(sum(col("hub_e6")).as("s")), "auth_e6"), checkpointDir)
      hub = Checkpoints.cut(rescaled(
        e.join(bc(auth.withColumnRenamed("person_id", "dst")), Seq("dst"))
          .groupBy(col("src").as("person_id"))
          .agg(sum(col("auth_e6")).as("s")), "hub_e6"), checkpointDir)
    }
    hub.join(auth, Seq("person_id"))
      .select(col("person_id"), col("hub_e6"), col("auth_e6"))
  }

  /** Deterministic random-walk corpus generation — the walk phase of
    * DeepWalk (Perozzi et al. 2014) / node2vec at p=q=1 (Grover &
    * Leskovec 2016): `walksPerVertex` fixed-length walks from every
    * start vertex, the training corpus skip-gram graph embeddings are
    * fit on. Generation is the data-pipeline half of that stack (the
    * model fit is a GPU job) and the half that has to scale to the
    * full graph.
    *
    * Determinism: step `t` of a walk moves to the out-neighbor whose
    * dst-sorted rank is `hash(walk_id ':' t ':' current) mod outdeg`
    * ([[graft.functions.Hashing.portableHash]]) — the corpus is stable
    * across runs, partitionings, and engines (the oracle unrolls the
    * steps with the same hash), and restarts regenerate identical
    * shards. Walks reaching a sink vertex (no out-edges) truncate —
    * pinned semantics, matching the reference implementations'
    * behavior on directed graphs.
    *
    * Scale shape: the adjacency is ranked ONCE (`row_number` +
    * `count` over the per-src window — the one per-hub sort, same
    * cost class as the merge that built the edge list); each step is
    * one frontier ⋈ adjacency equi-join on the current vertex whose
    * fanout the rank filter collapses immediately in the same stage —
    * O(E) worst case per step, frontier-sized candidates in practice;
    * walk state is two strings, never neighbor lists. Frontiers cut
    * per step ([[Checkpoints]]).
    *
    * The step join BROADCASTS the frontier when it fits: the frontier
    * is a measured cut every step, so Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` decides (walks never
    * split, so the frontier only ever shrinks). The ranked adjacency
    * then streams map-side through every step with NO per-step
    * edge-sized shuffle — the cost that made the walk chain's
    * wall-clock track shuffle-spill throughput instead of data size
    * at the second decade (r18 smoke: 2.2–2.8× session swings on
    * identical plans). Above the threshold the join degrades to the
    * shuffled form, never OOM.
    *
    * Callers should pass a distinct edge list — duplicate (src,dst)
    * rows would shift every rank after them.
    *
    * Output: `(walk_id, step, person_id)`; step 0 is the start vertex,
    * `walk_id = start '#' replica`.
    */
  def randomWalks(edges: DataFrame, startPred: Column, walkLen: Int,
      walksPerVertex: Int = 1,
      checkpointDir: Option[String] = None): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerVertex >= 1,
      s"walksPerVertex must be >= 1, got $walksPerVertex")
    val e = Checkpoints.cut(edges.select(col("src"), col("dst")), checkpointDir)
    val perSrc = Window.partitionBy(col("src"))
    val adj = Checkpoints.cut(
      e.select(col("src"), col("dst"),
        row_number().over(perSrc.orderBy(col("dst").asc)).cast("long")
          .as("nbr_rank"),
        count(lit(1)).over(perSrc).as("out_deg")), checkpointDir)
    val starts = e.select(col("src").as("person_id"))
      .union(e.select(col("dst").as("person_id")))
      .distinct()
      .filter(startPred)
    var frontier = Checkpoints.cut(starts
      .select(col("person_id"),
        explode(sequence(lit(0), lit(walksPerVertex - 1))).as("r"))
      .select(
        concat(col("person_id"), lit("#"), col("r").cast("string"))
          .as("walk_id"),
        col("person_id").as("cur")), checkpointDir)
    var out = frontier.select(
      col("walk_id"), lit(0L).as("step"), col("cur").as("person_id"))
    for (t <- 1 to walkLen) {
      val pick = pmod(Hashing.portableHash(
        concat(col("walk_id"), lit(s":$t:"), col("cur"))), col("out_deg")) + 1L
      frontier = Checkpoints.cut(
        frontier.join(adj, frontier("cur") === adj("src"))
          .filter(col("nbr_rank") === pick)
          .select(col("walk_id"), col("dst").as("cur")), checkpointDir)
      out = out.unionAll(frontier.select(
        col("walk_id"), lit(t.toLong).as("step"), col("cur").as("person_id")))
    }
    out
  }

  /** node2vec biased walk corpus (Grover & Leskovec 2016) — the
    * [[randomWalks]] generator with the paper's SECOND-ORDER
    * transition bias: the unnormalized weight of stepping cur → next,
    * given the walk arrived from prev, is `wBack` when next = prev
    * (the 1/p return term), `wSide` when next is ALSO a neighbor of
    * prev (the distance-1 "stay local" term the paper weights 1), and
    * `wFwd` otherwise (the 1/q exploration term). Integer weights in
    * place of 1/p, 1, 1/q keep the draw exact in every engine: the
    * coin is `hash(walk:t:prev '>' cur) mod Σw` and the step takes
    * the first dst-sorted neighbor whose cumulative weight exceeds
    * the coin. Step 1 has no prev and draws uniformly with the
    * [[randomWalks]] coin, so the two generators share their first
    * hop's semantics. A candidate set whose total weight is zero
    * (all-zero weights reachable, e.g. `wBack = 0` at a vertex whose
    * only neighbor is prev) truncates the walk — pinned, like the
    * sink rule.
    *
    * Scale shape: [[randomWalks]]' per-step frontier⋈adjacency join
    * (the frontier is a measured cut and broadcasts under Spark's
    * threshold — the adjacency streams map-side, no per-step edge
    * shuffle) plus, per step, one marker LEFT join of the candidates
    * against the distinct edge list on the (prev, next) pair
    * (edge-sized, id-only — the distance-1 test; it shuffles unless
    * the cut edge list fits Spark's threshold, candidates are
    * frontier × deg rows) and one cumulative-sum window PARTITIONED
    * BY walk (walk-local, ≤ deg(cur) rows per partition — never a
    * global sort). Candidates are frontier × deg rows, the same
    * stream the uniform generator's rank filter scans.
    *
    * Callers should pass a DISTINCT edge list (the [[randomWalks]]
    * contract, twice over here: duplicate (src, dst) rows shift every
    * adjacency rank after them AND duplicate the distance-1 marker
    * join's candidate rows, so a step could emit two next-hops).
    *
    * Output: `(walk_id, step, person_id)`, step 0 = the start vertex.
    */
  def node2vecWalks(edges: DataFrame, startPred: Column, walkLen: Int,
      wBack: Long = 250L, wSide: Long = 1000L, wFwd: Long = 500L,
      walksPerVertex: Int = 1,
      checkpointDir: Option[String] = None): DataFrame = {
    require(walkLen >= 1, s"walkLen must be >= 1, got $walkLen")
    require(walksPerVertex >= 1,
      s"walksPerVertex must be >= 1, got $walksPerVertex")
    require(wBack >= 0 && wSide >= 0 && wFwd >= 0 &&
      (wBack + wSide + wFwd) > 0,
      s"weights must be non-negative, not all zero: $wBack/$wSide/$wFwd")
    val e = Checkpoints.cut(edges.select(col("src"), col("dst")), checkpointDir)
    val perSrc = Window.partitionBy(col("src"))
    val adj = Checkpoints.cut(
      e.select(col("src"), col("dst"),
        row_number().over(perSrc.orderBy(col("dst").asc)).cast("long")
          .as("nbr_rank"),
        count(lit(1)).over(perSrc).as("out_deg")), checkpointDir)
    val sideMark = e.select(col("src").as("msrc"), col("dst").as("mdst"),
      lit(true).as("is_side"))
    val starts = e.select(col("src").as("person_id"))
      .union(e.select(col("dst").as("person_id")))
      .distinct()
      .filter(startPred)
    val f0 = Checkpoints.cut(starts
      .select(col("person_id"),
        explode(sequence(lit(0), lit(walksPerVertex - 1))).as("r"))
      .select(
        concat(col("person_id"), lit("#"), col("r").cast("string"))
          .as("walk_id"),
        col("person_id").as("cur")), checkpointDir)
    var out = f0.select(
      col("walk_id"), lit(0L).as("step"), col("cur").as("person_id"))
    // step 1: uniform, the randomWalks coin (no prev exists yet)
    val pick1 = pmod(Hashing.portableHash(
      concat(col("walk_id"), lit(":1:"), col("cur"))), col("out_deg")) + 1L
    // frontier carries (walk_id, prev, cur) from here on
    var frontier = Checkpoints.cut(
      f0.join(adj, f0("cur") === adj("src"))
        .filter(col("nbr_rank") === pick1)
        .select(col("walk_id"), f0("cur").as("prev"), col("dst").as("cur")),
      checkpointDir)
    out = out.unionAll(frontier.select(
      col("walk_id"), lit(1L).as("step"), col("cur").as("person_id")))
    for (t <- 2 to walkLen) {
      val cand = frontier.join(adj, frontier("cur") === adj("src"))
        .join(sideMark,
          frontier("prev") === col("msrc") && adj("dst") === col("mdst"),
          "left_outer")
        .select(col("walk_id"), col("prev"), frontier("cur").as("cur"),
          col("dst").as("nxt"), col("nbr_rank"),
          when(col("dst") === col("prev"), lit(wBack))
            .when(coalesce(col("is_side"), lit(false)), lit(wSide))
            .otherwise(lit(wFwd)).as("w"))
      val perWalk = Window.partitionBy(col("walk_id"))
      val cum = sum(col("w")).over(perWalk.orderBy(col("nbr_rank").asc))
      val tot = sum(col("w")).over(perWalk)
      val coin = pmod(Hashing.portableHash(
        concat(col("walk_id"), lit(s":$t:"), col("prev"), lit(">"),
          col("cur"))), col("tot"))
      frontier = Checkpoints.cut(
        cand.withColumn("cum", cum).withColumn("tot", tot)
          .filter(col("tot") > 0)
          .filter(coin >= col("cum") - col("w") && coin < col("cum"))
          .select(col("walk_id"), col("cur").as("prev"),
            col("nxt").as("cur")),
        checkpointDir)
      out = out.unionAll(frontier.select(
        col("walk_id"), lit(t.toLong).as("step"), col("cur").as("person_id")))
    }
    out
  }

  /** GraphSAGE-style layered neighbor sampling (Hamilton, Ying &
    * Leskovec 2017, "Inductive representation learning on large
    * graphs" §3.1): for each seed vertex, keep at most `fanouts(l)`
    * neighbors of every frontier vertex at layer l — the minibatch
    * computation graph a GNN trains on, materialized as data. This is
    * the sampler DGL/PyG run inside the training loop; generating it
    * engine-side ships ready-made minibatch graphs to the GPU job.
    *
    * Deterministic: a frontier vertex's neighbors rank by
    * `hash(seed ':' layer ':' src ':' dst)` (ties impossible — the
    * hash input embeds dst) and the top-`fanouts(l)` survive, so the
    * sample is stable across runs/partitionings/engines and the
    * oracle unrolls the layers. Sampling is per (seed, src): the same
    * vertex reached from two seeds draws two independent samples, as
    * in the paper's per-minibatch redraw.
    *
    * Scale shape: per layer one frontier⋈adjacency equi-join on the
    * vertex key and one rank window PARTITIONED BY (seed, src) —
    * ≤ deg rows per partition, never a global sort, and the partial
    * WindowGroupLimit keeps fanout rows per partition map-side; the
    * next frontier is the sampled dst set, distinct on (seed, dst),
    * so layer l's join is bounded by seeds·Π fanouts — the
    * minibatch-sized growth the fanout cap exists to guarantee.
    * Callers pass a distinct edge list (the [[randomWalks]] contract).
    *
    * Output: `(seed, layer, src, dst)` — the sampled edges, layer
    * 1-based; seeds with no out-edges emit nothing at layer 1.
    */
  def sageSample(edges: DataFrame, seedPred: Column, fanouts: Seq[Int],
      checkpointDir: Option[String] = None): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1),
      s"fanouts must be non-empty positive, got $fanouts")
    val e = Checkpoints.cut(edges.select(col("src"), col("dst")), checkpointDir)
    val seeds = e.select(col("src").as("person_id"))
      .union(e.select(col("dst").as("person_id")))
      .distinct()
      .filter(seedPred)
    var frontier = seeds.select(col("person_id").as("seed"),
      col("person_id").as("v"))
    var out: DataFrame = null
    for ((f, i) <- fanouts.zipWithIndex) {
      val l = i + 1
      val cand = frontier.join(e, frontier("v") === e("src"))
        .select(col("seed"), col("src"), col("dst"))
      val w = Window.partitionBy(col("seed"), col("src"))
        .orderBy(Hashing.portableHash(concat(
          col("seed"), lit(s":$l:"), col("src"), lit(":"), col("dst"))).asc,
          col("dst").asc)
      val sampled = Checkpoints.cut(
        cand.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= f)
          .select(col("seed"), lit(l.toLong).as("layer"),
            col("src"), col("dst")), checkpointDir)
      out = if (out == null) sampled else out.unionAll(sampled)
      if (l < fanouts.length)
        frontier = sampled.select(col("seed"), col("dst").as("v")).distinct()
    }
    out
  }

  /** Skip-gram context pairs from a walk corpus — the second half of
    * the DeepWalk data pipeline ([[randomWalks]] is the first): for
    * every walk and every ORDERED pair of positions at distance ≤
    * `window`, emit `(center, context, offset)` — exactly the
    * (word, context) training pairs word2vec-style skip-gram fits on,
    * with the signed offset kept so downstream can weight by distance
    * or train positional variants.
    *
    * Scale shape: the walk frame is cut once (so pairing never
    * re-executes the walk generation) and the pairing is ONE
    * self-equi-join on `walk_id` whose per-walk fanout is bounded by
    * `walkLen·2·window` — output-proportional, no corpus-sized
    * exchange beyond the walk frame itself. Pairs are a multiset by
    * design (the same (center, context) pair from different walks is
    * a real extra training example).
    */
  def walkContexts(walks: DataFrame, window: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Checkpoints.cut(
      walks.select(col("walk_id"), col("step"), col("person_id")),
      checkpointDir)
    val a = w.select(col("walk_id"), col("step").as("cstep"),
      col("person_id").as("center"))
    val b = w.select(col("walk_id"), col("step").as("xstep"),
      col("person_id").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("xstep") =!= col("cstep") &&
        abs(col("xstep") - col("cstep")) <= window)
      .select(col("center"), col("context"),
        (col("xstep") - col("cstep")).as("offset"))
  }

  /** Skip-gram-with-negative-sampling embedding trainer (Mikolov et
    * al. 2013 §2.2) over a [[walkContexts]] pair corpus — the model
    * fit that completes the DeepWalk stack (Perozzi et al. 2014 §4.2
    * trains exactly this skip-gram on the walk corpus). Deterministic
    * full-batch gradient descent in power-of-two fixed point, so the
    * fit is bit-identical across runs, partitionings, and engines
    * (the oracle unrolls the epochs as CTEs):
    *
    *  - embeddings are BIGINT q10 (value·2^10); dots are q20; every
    *    "division" is an arithmetic right shift (floor), which Java
    *    `>>` and DuckDB `>>` compute identically on negatives;
    *  - the logistic σ is the HARD sigmoid `clamp(1/2 + z/4, 0, 1)`
    *    (q20: `clamp(2^19 + (dot >> 2), 0, 2^20)`) — rational, hence
    *    integer-exact, saturating at |dot| ≥ 2;
    *  - init: `u[d] = pmod(hash(id ':u:' d), 256) - 128` q10 (±1/8),
    *    `v[d]` likewise with salt `:v:` — hash-deterministic, so a
    *    restart regenerates the identical fit;
    *  - per positive pair, `negatives` corrupted pairs (label 0) draw
    *    the context replacement with two hash coins: bucket =
    *    `hash(center:context:n j:b) mod negBuckets`, then rank =
    *    `hash(...:r) mod |bucket|` — a near-uniform vocab draw that
    *    needs NO global vocab ranking (the per-bucket `row_number`
    *    window partitions by bucket, never a single-partition sort).
    *    Negatives are pair-keyed (a repeated pair redraws the same
    *    negatives — pinned) and accidental true-context hits are not
    *    excluded (word2vec's own behavior);
    *  - epoch = ONE scan of the weighted distinct example frame
    *    (duplicates pre-aggregated to a weight — gradient-equivalent
    *    and strictly less exchange) + ONE (side, id)-keyed map-side-
    *    combining dim-packed gradient aggregate covering both model
    *    sides + one (side, id)-keyed update join on the single
    *    side-tagged model frame. Gradient for example (c, x, y, w):
    *    `g = y·2^20 − hardsig(u_c·v_x)`;
    *    `Δu_c[d] = Σ w·g·v_x[d] >> (20 + lrShift)` (dv symmetric);
    *    updated values clamp to ±8·2^10, so the state is bounded for
    *    any epoch count. Per-epoch frames are lineage-cut
    *    ([[Checkpoints]]) — the model and gradient frames each have
    *    two consumers (the pplBuckets double-execution class).
    *
    * Scale shape: nothing in the loop exceeds examples×dim rows of
    * (id, dim, long) triples, and the model state is 2·|V|·dim longs —
    * the exchange is ids and longs, never walks or text. String ids
    * are hashed to 8-byte keys ONCE before the epoch loop (the
    * [[Dedup.exactDedup]] "hash before shuffle" discipline): every
    * per-epoch exchange — the example scan, both (id, dim) gradient
    * aggregates, and the model update joins — keys on LongType, and
    * the text label rejoins only in the final vocab-sized projection.
    * (The 64-bit key space makes an id collision ~|V|²/2^65 — the
    * same accepted odds as every other hash-keyed exchange here.)
    * The q30 gradient partials bound |w·g·v| ≤ w·2^33, so a center
    * needs ~2^29 incident examples to overflow a BIGINT sum — beyond
    * any real walk corpus fanout (walksPerVertex·walkLen·2·window).
    *
    * Output: `(person_id, emb)` — the final CENTER (input) vectors,
    * `array<bigint>` q10, the convention word2vec ships.
    */
  def sgnsTrain(contexts: DataFrame, dim: Int = 4, epochs: Int = 2,
      negatives: Int = 2, lrShift: Int = 2, negBuckets: Int = 16,
      checkpointDir: Option[String] = None): DataFrame = {
    require(dim >= 1 && epochs >= 1 && negatives >= 0,
      s"dim/epochs >= 1, negatives >= 0; got $dim/$epochs/$negatives")
    require(negBuckets >= 1, s"negBuckets must be >= 1, got $negBuckets")
    require(lrShift >= 0 && lrShift <= 40, s"lrShift out of range: $lrShift")
    val pairs = Checkpoints.cut(
      contexts.select(col("center"), col("context")), checkpointDir)
    // vocab with bucketed (bucket, rank) coordinates for negative draws
    val perBucket = Window.partitionBy(col("bucket"))
    val vocab = Checkpoints.cut(
      pairs.select(col("center").as("id"))
        .union(pairs.select(col("context").as("id"))).distinct()
        .select(col("id"),
          pmod(Hashing.portableHash(col("id")), lit(negBuckets.toLong))
            .as("bucket"))
        .select(col("id"), col("bucket"),
          (row_number().over(perBucket.orderBy(col("id").asc)) - 1)
            .cast("long").as("vrank"),
          count(lit(1)).over(perBucket).as("bsize")), checkpointDir)
    val bucketSizes = vocab.select(col("bucket"), col("bsize")).distinct()
    // the model frames (u, v, per-epoch deltas) are vocab-sized while
    // the example frame is corpus-sized — the parameter-server shape.
    // The model side of every epoch join is a measured cut (vocab, uv)
    // that Spark's own threshold broadcasts when it fits; only the
    // aggregated delta frame is derived, and it takes
    // [[Checkpoints.broadcastRule]] off the model cut it updates
    val pos = pairs.select(col("center"), col("context").as("ctx"),
      lit(1L).as("y"))
    val neg = if (negatives == 0) pos.limit(0) else {
      val seed = pairs.select(col("center"), col("context"),
        explode(sequence(lit(0), lit(negatives - 1))).as("j"))
      def coin(salt: String) = Hashing.portableHash(concat(
        col("center"), lit(":"), col("context"), lit(":n"),
        col("j").cast("string"), lit(s":$salt")))
      seed
        .select(col("center"), col("context"), col("j"),
          pmod(coin("b"), lit(negBuckets.toLong)).as("bucket"))
        .join(broadcast(bucketSizes), Seq("bucket"))
        .select(col("center"), col("bucket"),
          pmod(coin("r"), col("bsize")).as("vrank"))
        .join(vocab.select(col("bucket"), col("vrank"), col("id")),
          Seq("bucket", "vrank"))
        .select(col("center"), col("id").as("ctx"), lit(0L).as("y"))
    }
    // duplicate examples collapse to a weight: gradient-equivalent,
    // and the epoch scans |distinct examples| rows instead of the
    // raw multiset. Hash-before-shuffle: string ids become 8-byte
    // keys HERE, so this groupBy and every epoch exchange after it
    // moves LongType keys only — the text label rejoins once, after
    // the last epoch.
    val examples = Checkpoints.cut(
      pos.unionByName(neg)
        .select(Hashing.portableHash(col("center")).as("center"),
          Hashing.portableHash(col("ctx")).as("ctx"), col("y"))
        .groupBy(col("center"), col("ctx"), col("y"))
        .agg(count(lit(1)).as("w")), checkpointDir)
    val dims = sequence(lit(0), lit(dim - 1))
    def hashInit(salt: String): Column = transform(dims, d =>
      pmod(Hashing.portableHash(
        concat(col("id"), lit(s":$salt:"), d.cast("string"))),
        lit(256L)) - 128L)
    // init values hash the STRING id (the oracle-visible recipe);
    // the model frames key on its long hash. TWO selects, not one: a
    // same-select `ph(id).as("id")` lateral-alias-shadows the child
    // `id` inside hashInit (Spark LCA resolution), silently hashing
    // the stringified long instead of the original id.
    val ids = vocab.select(col("id"))
    def initModel(salt: String, side: Int): DataFrame =
      ids.select(col("id"), hashInit(salt).as("emb"))
        .select(lit(side).as("side"),
          Hashing.portableHash(col("id")).as("id"), col("emb"))
    // ONE side-tagged model frame holds both the center (side 0) and
    // context (side 1) embeddings: per epoch that is one state cut
    // and one (side, id)-keyed update join instead of two of each,
    // and the du/dv gradients ride ONE union + map-side-combining
    // aggregate instead of two separate exchanges. Values per
    // (side, id) are exactly the former u/v frames' — the side tag
    // only partitions the key space.
    var uv = Checkpoints.cut(
      initModel("u", 0).unionByName(initModel("v", 1)), checkpointDir)
    // the delta frame spans BOTH sides (2·|V| rows), as does uv
    val bc = Checkpoints.broadcastRule(uv)
    val clampQ10 = 8L * 1024L
    for (_ <- 1 to epochs) {
      val scored = examples
        .join(uv.filter(col("side") === 0)
          .select(col("id").as("center"), col("emb").as("uarr")),
          Seq("center"))
        .join(uv.filter(col("side") === 1)
          .select(col("id").as("ctx"), col("emb").as("varr")),
          Seq("ctx"))
        .select(col("center"), col("ctx"), col("w"),
          col("uarr"), col("varr"),
          (col("y") * lit(1048576L) -
            least(greatest(
              lit(524288L) + shiftright(
                aggregate(zip_with(col("uarr"), col("varr"),
                  (a, b) => a * b), lit(0L), (acc, x) => acc + x), 2),
              lit(0L)), lit(1048576L))).as("g"))
      // two consumers (the du and dv legs of the gradient union) —
      // cut, or the example scan + model joins execute twice
      val grad = Checkpoints.cut(scored, checkpointDir)
      // dim-packed gradient aggregate: one per-dim BIGINT sum per
      // (side, id) — a single map-side-combining exchange of
      // vocab-sized partials for BOTH sides. The r18 shape
      // posexploded to examples×dim rows and re-packed the array
      // through a second exchange, per side; the per-dim sums are
      // the same integer totals (BIGINT addition commutes), so the
      // delta arrays are bit-identical.
      val sums = (0 until dim).map(d =>
        shiftright(sum(col("wg") * element_at(col("x"), d + 1)),
          20 + lrShift).as(s"_d$d"))
      def gradSide(side: Int, idCol: String, arrCol: String): DataFrame =
        grad.select(lit(side).as("side"), col(idCol).as("id"),
          (col("w") * col("g")).as("wg"), col(arrCol).as("x"))
      val dAll = gradSide(0, "center", "varr")
        .unionByName(gradSide(1, "ctx", "uarr"))
        .groupBy(col("side"), col("id"))
        .agg(sums.head, sums.tail: _*)
        .select(col("side"), col("id"),
          array((0 until dim).map(d => col(s"_d$d")): _*).as("darr"))
      uv = Checkpoints.cut(
        uv.join(bc(dAll), Seq("side", "id"), "left_outer")
          .select(col("side"), col("id"),
            zip_with(col("emb"),
              coalesce(col("darr"), transform(dims, _ => lit(0L))),
              (a, b) => least(greatest(a + b, lit(-clampQ10)),
                lit(clampQ10))).as("emb")), checkpointDir)
    }
    // one vocab-sized label join: long key -> original string id
    // (rename first, hash second — same LCA-shadowing hazard as init)
    val labels = vocab.select(col("id").as("person_id"))
      .select(Hashing.portableHash(col("person_id")).as("id"),
        col("person_id"))
    uv.filter(col("side") === 0).join(labels, Seq("id"))
      .select(col("person_id"), col("emb"))
  }
}
