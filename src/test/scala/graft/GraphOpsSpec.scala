package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Edge, RelationshipDoc, Stats}
import graft.operators.GraphOps

/** SURVEY §5.1 — unit specs for the reference-parity operators,
  * including the §5.2 order-insensitivity property for A2 (the property
  * the reference only gets via sorted scan + monotone emission).
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val docs = Seq(
    RelationshipDoc(ts("2024-01-01 00:00:00"), "A", "B", Stats(3, 7)),
    RelationshipDoc(ts("2024-02-01 00:00:00"), "A", "B", Stats(5, 2)),
    RelationshipDoc(ts("2024-03-01 00:00:00"), "B", "C", Stats(1, 9)))

  private def docsDf: DataFrame = docs.toDF()

  test("P4: each doc explodes into exactly two directed edges with swapped endpoints") {
    val edges = GraphOps.edgesFromDocs(docsDf)
    assert(edges.count() === 2 * docs.length)
    assert(rowSet(edges) === Set(
      Seq("A", "B", 3.0), Seq("B", "A", 7.0),
      Seq("A", "B", 5.0), Seq("B", "A", 2.0),
      Seq("B", "C", 1.0), Seq("C", "B", 9.0)))
  }

  test("A2: groupBy-max equals the hand-computed per-pair maximum") {
    val merged = GraphOps.mergeMaxEdges(GraphOps.edgesFromDocs(docsDf))
    assert(rowSet(merged) === Set(
      Seq("A", "B", 5.0), Seq("B", "A", 7.0),
      Seq("B", "C", 1.0), Seq("C", "B", 9.0)))
  }

  test("A2 property: result is insensitive to input row order and duplication") {
    val base = Seq(Edge("A", "B", 1), Edge("A", "B", 9), Edge("C", "D", 4))
    val expected = Set[Seq[Any]](Seq("A", "B", 9.0), Seq("C", "D", 4.0))
    for (perm <- base.permutations.take(6).toSeq :+ (base ++ base)) {
      assert(rowSet(GraphOps.mergeMaxEdges(perm.toDF())) === expected)
    }
  }

  test("P1: watermark filter keeps rows at or after the watermark") {
    val kept = GraphOps.watermarkFilter(docsDf, ts("2024-02-01 00:00:00"))
    assert(kept.count() === 2)
  }

  test("P3: numeric-id filter drops non-base-10 ids, keeps uint64-range ids") {
    val df = Seq("123", "18446744073709551615", "12a", "", "C7").toDF("id")
    assert(strings(GraphOps.numericIdFilter(df, "id"), "id")
      === Set("123", "18446744073709551615"))
  }

  test("A4/J1: distinctPersons is the distinct union of endpoints") {
    val persons = GraphOps.distinctPersons(GraphOps.edgesFromDocs(docsDf))
    assert(strings(persons, "person_id") === Set("A", "B", "C"))
  }

  test("J2: markTroveUsers flags via membership join, matches isin oracle") {
    val persons = Seq("A", "B", "C").toDF("person_id")
    val users = Seq("B", "B", "X").toDF("person_id_user")
    val flagged = GraphOps.markTroveUsers(persons, users)
    assert(rowSet(flagged) === Set(
      Seq("A", false), Seq("B", true), Seq("C", false)))
  }

  test("A3: groupTeamMembers yields sorted member lists") {
    val tm = Seq(("T1", "P2"), ("T1", "P1"), ("T2", "P3")).toDF("team_id", "person_id")
    val grouped = GraphOps.groupTeamMembers(tm)
    assert(rowSet(grouped) === Set(
      Seq("T1", Seq("P1", "P2")), Seq("T2", Seq("P3"))))
  }

  test("J3: mergeEdgeStates keeps the greatest score, handles one-sided keys") {
    val old = Seq(Edge("A", "B", 5), Edge("X", "Y", 2)).toDF()
    val nw = Seq(Edge("A", "B", 3), Edge("B", "C", 7)).toDF()
    assert(rowSet(GraphOps.mergeEdgeStates(old, nw)) === Set(
      Seq("A", "B", 5.0), Seq("X", "Y", 2.0), Seq("B", "C", 7.0)))
  }

  test("J3: merge against empty prior state is the new state") {
    val empty = Seq.empty[Edge].toDF()
    val nw = Seq(Edge("A", "B", 3)).toDF()
    assert(rowSet(GraphOps.mergeEdgeStates(empty, nw)) === Set(Seq("A", "B", 3.0)))
  }

  test("A5: observed metrics report row counts without an extra pass") {
    val df = GraphOps.observed(docsDf, "docs_progress")
    df.collect()
    val metrics = df.queryExecution.observedMetrics
    assert(metrics.contains("docs_progress"))
    assert(metrics("docs_progress").getAs[Long]("rows") === 3L)
    assert(metrics("docs_progress").getAs[Long]("null_first_col") === 0L)
  }

  test("J4: 2-hop expansion on a toy graph excludes prior hops") {
    // A->B, B->C, C->D, B->A: from {A}, hop1={B}, hop2={C} (A excluded)
    val edges = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "D", 1), Edge("B", "A", 1)).toDF()
    val seeds = Seq("A").toDF("person_id")
    assert(strings(GraphOps.kHop(edges, seeds, 1), "person_id") === Set("B"))
    assert(strings(GraphOps.kHop(edges, seeds, 2), "person_id") === Set("C"))
    assert(strings(GraphOps.kHop(edges, seeds, 3), "person_id") === Set("D"))
    assert(strings(GraphOps.kHop(edges, seeds, 4), "person_id") === Set.empty[String])
  }

  test("bfsDepths labels first-reach distance; shortcut wins; unreached absent") {
    // A -> B -> C -> D plus the A -> C shortcut; E isolated
    val edges = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "D", 1), Edge("A", "C", 1),
      Edge("E", "E", 1)).toDF()
    val seeds = Seq("A").toDF("person_id")
    val out = GraphOps.bfsDepths(edges, seeds, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("A" -> 0L, "B" -> 1L, "C" -> 1L, "D" -> 2L))
    // maxDepth truncation
    val shallow = GraphOps.bfsDepths(edges, seeds, 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(shallow === Map("A" -> 0L, "B" -> 1L, "C" -> 1L))
  }

  test("kCorePeel: converged peel equals the exact k-core; chains need their rounds") {
    // triangle A-B-C plus tail C-D: 2-core = the triangle (one round)
    val tri = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1), Edge("C", "D", 1)).toDF()
    val core = GraphOps.kCorePeel(tri, 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(core === Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
    // path A-B-C-D-E peels inward: round1 drops A,E; round2 B,D;
    // round3 C -> empty. Fewer rounds leave the partial (pinned) result
    val path = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "D", 1), Edge("D", "E", 1)).toDF()
    assert(GraphOps.kCorePeel(path, 2, 3).count() === 0L)
    val partial = GraphOps.kCorePeel(path, 2, 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(partial === Map("B" -> 1L, "C" -> 2L, "D" -> 1L))
    // direction and duplicate edges don't matter (undirected dedup)
    val dup = Seq(
      Edge("B", "A", 1), Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1),
      Edge("C", "D", 1)).toDF()
    assert(GraphOps.kCorePeel(dup, 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap === core)
  }

  test("kCorePeel fixpoint mode: exact k-core on any diameter, ⊆ every round's survivors") {
    def vertices(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getString(0)).toSet
    // triangle + tail: fixpoint ≡ converged fixed-round peel
    val tri = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1), Edge("C", "D", 1)).toDF()
    assert(GraphOps.kCorePeel(tri, 2, -1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap ===
      Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
    // long path: fixed 3 rounds truncates at empty already; a LONGER
    // path (7 vertices needs 3 peels) shows -1 chases the chain past
    // what rounds=2 leaves behind
    val path7 = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "D", 1),
      Edge("D", "E", 1), Edge("E", "F", 1), Edge("F", "G", 1)).toDF()
    assert(GraphOps.kCorePeel(path7, 2, -1).count() === 0L)
    assert(GraphOps.kCorePeel(path7, 2, 2).count() > 0L)
    // monotonicity: the fixpoint is contained in EVERY fixed-round
    // survivor set (peeling only removes)
    val mixed = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1),
      Edge("C", "D", 1), Edge("D", "E", 1), Edge("E", "F", 1)).toDF()
    val fix = vertices(GraphOps.kCorePeel(mixed, 2, -1))
    for (r <- 1 to 4)
      assert(fix.subsetOf(vertices(GraphOps.kCorePeel(mixed, 2, r))),
        s"fixpoint must be ⊆ the rounds=$r survivor set")
    // already-a-core input: fixpoint returns it unchanged after the
    // one confirming round
    val clique = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1)).toDF()
    assert(vertices(GraphOps.kCorePeel(clique, 2, -1)) === Set("A", "B", "C"))
    // durable-checkpoint mode result-identical in fixpoint mode too
    assert(rowSet(GraphOps.kCorePeel(tri, 2, -1, checkpointDir = Some(TestSpark.ckptDir)))
      === rowSet(GraphOps.kCorePeel(tri, 2, -1)))
  }

  test("pageRank matches an in-test integer reference; broadcast form identical") {
    // includes a dangling vertex (B has no out-edges? B->C exists; D is
    // a pure source, C->A closes a cycle) and an in-degree-0 vertex (D)
    val es = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "C"))
    val edges = es.toDF("src", "dst")

    // reference: same e9-scaled integral arithmetic, driver-side
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var ref = verts.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      es.foreach { case (u, v) => in(v) += ref(u) / deg(u) }
      ref = verts.map(v => v -> (150000000L + 85L * in(v) / 100L)).toMap
    }

    val got = GraphOps.pageRank(edges, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === ref)
    // sink-heavy C outranks everyone; pure-source D bottoms out at the base
    assert(got("C") > got("A") && got("A") > got("D"))
    assert(got("D") === 150000000L)

    // the default run broadcasts the 4-vertex rank frames; the shuffled
    // leg agrees (broadcast only moves plan shape, never ranks)
    assert(shuffled(GraphOps.pageRank(edges, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap) === ref)
  }

  test("personalizedPageRank: hand triangle; unreachable stays 0; off-graph seeds inert") {
    // triangle a->b->c->a with seed {a}, plus a component d->e with no
    // seed: its mass must stay exactly zero every round
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))
      .toDF("src", "dst")
    val seeds = Seq("a").toDF("person_id")
    val got = GraphOps.personalizedPageRank(edges, seeds, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // it1: a=.15e9, b=.85e9, c=0; it2: a=.15e9, b=.1275e9, c=.7225e9
    assert(got === Map(
      "a" -> 150000000L, "b" -> 127500000L, "c" -> 722500000L,
      "d" -> 0L, "e" -> 0L))
    // shuffled form identical
    assert(shuffled(GraphOps.personalizedPageRank(edges, seeds, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap) === got)
    // seeds not in the graph contribute nothing and add no vertices
    val gotOff = GraphOps.personalizedPageRank(
      edges, Seq("a", "zz").toDF("person_id"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotOff === got)
    // predicate form ≡ frame form (and never re-derives the edge input)
    assert(GraphOps.personalizedPageRankByPred(edges, col("person_id") === "a", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap === got)
    // seeding EVERY vertex ≡ plain pageRank (same recurrence)
    val all = Seq("a", "b", "c", "d", "e").toDF("person_id")
    assert(GraphOps.personalizedPageRank(edges, all, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      GraphOps.pageRank(edges, 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("pageRankWeighted matches an integer reference; weight skew shows in ranks") {
    // A splits mass 9:1 between B and C; unweighted would split 1:1
    val es = Seq(
      ("A", "B", 9.0), ("A", "C", 1.0), ("B", "A", 1.0), ("C", "A", 1.0))
    val edges = es.toDF("src", "dst", "score")

    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
    val w = es.map { case (u, v, s) => (u, v) -> math.floor(s * 100 + 0.5).toLong }.toMap
    val totW = es.groupBy(_._1).view.mapValues(_.map(e => w((e._1, e._2))).sum).toMap
    val wn = w.map { case ((u, v), we) => (u, v) -> (we * 1000L) / totW(u) }
    var ref = verts.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      es.foreach { case (u, v, _) => in(v) += ref(u) * wn((u, v)) / 1000L }
      ref = verts.map(v => v -> (150000000L + 85L * in(v) / 100L)).toMap
    }

    val got = GraphOps.pageRankWeighted(edges, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === ref)
    // the heavy edge dominates: B far outranks C
    assert(got("B") > got("C"))
    val shuffledGot = shuffled(GraphOps.pageRankWeighted(edges, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(shuffledGot === ref)
  }

  test("reliable-checkpoint mode is result-identical across the iterative ops") {
    // checkpointDir=Some(dir) swaps executor-memory localCheckpoint for
    // durable filesystem checkpoints (executor loss survives on a real
    // cluster); the lineage cut must not change any result
    val dir = TestSpark.ckptDir
    val ckpt = Some(dir)
    val edges = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "D", 1), Edge("B", "A", 1)).toDF()
    val seeds = Seq("A").toDF("person_id")
    assert(strings(GraphOps.kHop(edges, seeds, 2, checkpointDir = ckpt), "person_id")
      === strings(GraphOps.kHop(edges, seeds, 2), "person_id"))
    assert(rowSet(GraphOps.bfsDepths(edges, seeds, 3, checkpointDir = ckpt))
      === rowSet(GraphOps.bfsDepths(edges, seeds, 3)))
    val es = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "C"))
      .toDF("src", "dst")
    assert(rowSet(GraphOps.pageRank(es, 5, checkpointEvery = 2, checkpointDir = ckpt))
      === rowSet(GraphOps.pageRank(es, 5, checkpointEvery = 2)))
    val wes = Seq(("A", "B", 9.0), ("A", "C", 1.0), ("B", "A", 1.0), ("C", "A", 1.0))
      .toDF("src", "dst", "score")
    assert(rowSet(GraphOps.pageRankWeighted(wes, 5, checkpointEvery = 2, checkpointDir = ckpt))
      === rowSet(GraphOps.pageRankWeighted(wes, 5, checkpointEvery = 2)))
    val tri = Seq(
      Edge("A", "B", 1), Edge("B", "C", 1), Edge("C", "A", 1), Edge("C", "D", 1)).toDF()
    assert(rowSet(GraphOps.kCorePeel(tri, 2, 3, checkpointDir = ckpt))
      === rowSet(GraphOps.kCorePeel(tri, 2, 3)))
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val verts = (1L to 7L).toDF("doc_id")
    assert(rowSet(graft.operators.Dedup.connectedComponents(pairs, verts, checkpointDir = ckpt))
      === rowSet(graft.operators.Dedup.connectedComponents(pairs, verts)))
    // and the propagation loop's durable cuts (the one-task path above)
    assert(shuffled(rowSet(graft.operators.Dedup.connectedComponents(
      pairs, verts, checkpointDir = ckpt)))
      === rowSet(graft.operators.Dedup.connectedComponents(pairs, verts)))
    // durable checkpoint files actually landed under the knob's dir
    assert(spark.sparkContext.getCheckpointDir.exists(_.contains(
      new java.io.File(dir).getName)))
  }

  test("triangleCounts: hand graph, dup/reversed input, square has none") {
    // K4 minus edge C-D on {A,B,C,D}: triangles ABC and ABD.
    // memberships: A 2, B 2, C 1, D 1; E rides a pendant edge -> 0.
    val pairs = Seq(
      ("A", "B"), ("A", "C"), ("B", "C"),
      ("A", "D"), ("B", "D"),
      ("D", "E"),
      ("B", "A"), // reversed duplicate must not double-count
      ("A", "B") // exact duplicate must not double-count
    ).toDF("person_a", "person_b")
    assert(rowSet(GraphOps.triangleCounts(pairs)) === Set(
      Seq("A", 2L), Seq("B", 2L), Seq("C", 1L), Seq("D", 1L), Seq("E", 0L)))
    // a 4-cycle has wedges but no closing edge
    val square = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("A", "D"))
      .toDF("person_a", "person_b")
    assert(rowSet(GraphOps.triangleCounts(square)) ===
      Set(Seq("A", 0L), Seq("B", 0L), Seq("C", 0L), Seq("D", 0L)))
    // self-loops are dropped, not counted as degenerate triangles
    val loops = Seq(("A", "A"), ("A", "B"), ("B", "C"), ("A", "C"))
      .toDF("person_a", "person_b")
    assert(rowSet(GraphOps.triangleCounts(loops)) ===
      Set(Seq("A", 1L), Seq("B", 1L), Seq("C", 1L)))
    // clustering coefficient on the same hand graph:
    // deg A3 B3 C2 D3 E1; tri A2 B2 C1 D1 E0
    // lcc_e3 = (2000*T) div (d*(d-1)): A 666, B 666, C 1000, D 333, E 0
    assert(rowSet(GraphOps.clusteringCoefficients(pairs)) === Set(
      Seq("A", 3L, 2L, 666L), Seq("B", 3L, 2L, 666L),
      Seq("C", 2L, 1L, 1000L), Seq("D", 3L, 1L, 333L),
      Seq("E", 1L, 0L, 0L)))
  }

  test("degreeAssortativity: star is -1, regular graph guards to 0") {
    // star K1,3: stubs (3,1)x3 + (1,3)x3 -> n=6 sx=sy=12 sxx=syy=30
    // sxy=18; r = (6*18-144)*1e6 / (6*30-144) = -1e6 exactly
    val star = Seq(("A", "B"), ("A", "C"), ("A", "D"))
      .toDF("person_a", "person_b")
    assert(rowSet(GraphOps.degreeAssortativity(star)) ===
      Set(Seq(3L, -1000000L)))
    // triangle: every degree 2 -> zero variance -> guarded 0
    val tri = Seq(("A", "B"), ("B", "C"), ("A", "C"))
      .toDF("person_a", "person_b")
    assert(rowSet(GraphOps.degreeAssortativity(tri)) === Set(Seq(3L, 0L)))
  }

  test("degreeAssortativity: cross products past int64 stay exact (decimal stats)") {
    // star K1,E at E=1e5: sx = E²+E ≈ 1e10 so sx·sx ≈ 1e20 and
    // n·sxx ≈ 2e20 — both past Long.MaxValue (9.2e18); raw Long math
    // wraps and can flip the variance guard's sign. A star is exactly
    // r = −1 at every size (varx = vary = −cov, so the one final
    // double is exactly −1e6), making the pin closed-form.
    val n = 100000
    val star = spark.range(1, n + 1)
      .select(lit(0L).as("person_a"), col("id").as("person_b"))
    assert(rowSet(GraphOps.degreeAssortativity(star)) ===
      Set(Seq(n.toLong, -1000000L)))
  }

  test("coOccurrenceJaccard: permille containment over capped neighbor sets") {
    // same bipartite fixture as the cooc test; cap 3 drops hub.
    // capped sets: A{x,y} B{x,y,z} C{y,z}
    // A-B: 2 shared -> 2000 div (2+3-2) = 666
    // B-C: 2 shared -> 2000 div (3+2-2) = 666
    // A-C: 1 shared -> 1000 div (2+2-1) = 333 (minShared=1 admits it)
    val edges = Seq(
      ("A", "x"), ("B", "x"),
      ("A", "y"), ("B", "y"), ("C", "y"),
      ("B", "z"), ("C", "z"),
      ("A", "hub"), ("B", "hub"), ("C", "hub"), ("D", "hub")
    ).toDF("src", "dst")
    assert(rowSet(GraphOps.coOccurrenceJaccard(edges, maxFanout = 3, minShared = 1)) === Set(
      Seq("A", "B", 2L, 2L, 3L, 666L),
      Seq("B", "C", 2L, 3L, 2L, 666L),
      Seq("A", "C", 1L, 2L, 2L, 333L)))
    // minShared filters before the degree joins
    assert(GraphOps.coOccurrenceJaccard(edges, maxFanout = 3, minShared = 3)
      .count() === 0)
  }

  test("coOccurrenceAdamicAdar: rare shared neighbors outweigh hubs") {
    // fanouts: x 2 (w 1000), y 3 (w 1000), z 2 (w 1000), hub 4 (w 500)
    val edges = Seq(
      ("A", "x"), ("B", "x"),
      ("A", "y"), ("B", "y"), ("C", "y"),
      ("B", "z"), ("C", "z"),
      ("A", "hub"), ("B", "hub"), ("C", "hub"), ("D", "hub")
    ).toDF("src", "dst")
    assert(rowSet(GraphOps.coOccurrenceAdamicAdar(edges, maxFanout = 10, minShared = 1)) === Set(
      Seq("A", "B", 3L, 2500L), // x + y + hub
      Seq("A", "C", 2L, 1500L), // y + hub
      Seq("B", "C", 3L, 2500L), // y + z + hub
      Seq("A", "D", 1L, 500L), Seq("B", "D", 1L, 500L), Seq("C", "D", 1L, 500L)))
    // hub-only pairs vanish under minShared = 2
    assert(GraphOps.coOccurrenceAdamicAdar(edges, maxFanout = 10, minShared = 2)
      .filter(col("person_b") === "D").count() === 0)
  }

  test("coOccurrencePairs: shared-neighbor counts, hub cap, threshold") {
    // bipartite: persons {A,B,C,D} -> items {x,y,z,hub}
    // x: {A,B}, y: {A,B,C}, z: {B,C}, hub: {A,B,C,D} (fanout 4)
    val edges = Seq(
      ("A", "x"), ("B", "x"),
      ("A", "y"), ("B", "y"), ("C", "y"),
      ("B", "z"), ("C", "z"),
      ("A", "hub"), ("B", "hub"), ("C", "hub"), ("D", "hub"),
      ("A", "x") // duplicate edge must not double-count
    ).toDF("src", "dst")

    // cap 3 drops hub: A-B share {x,y}=2, B-C share {y,z}=2, A-C share {y}=1
    val got = GraphOps.coOccurrencePairs(edges, maxFanout = 3, minShared = 2)
    assert(rowSet(got) === Set(Seq("A", "B", 2L), Seq("B", "C", 2L)))

    // raising the cap admits hub: every pair gains one shared neighbor,
    // and D (hub-only) now pairs with everyone at exactly 1
    val all = GraphOps.coOccurrencePairs(edges, maxFanout = 10, minShared = 1)
    assert(rowSet(all) === Set(
      Seq("A", "B", 3L), Seq("B", "C", 3L), Seq("A", "C", 2L),
      Seq("A", "D", 1L), Seq("B", "D", 1L), Seq("C", "D", 1L)))

    // minShared filters after counting
    assert(GraphOps.coOccurrencePairs(edges, maxFanout = 10, minShared = 4)
      .count() === 0L)
  }

  test("kCorePeel and labelPropagation broadcast vertex-sized frames while the edge list is over the threshold") {
    // the loops cut only edge lists per round; their hinted frames are
    // vertex-sized, so the broadcast rule must be measured on the
    // vertex set. Round frames run behind cuts, so every executed plan
    // is captured (the PlanQualitySpec sgnsTrain device), AQE off so no
    // shuffle join is rewritten at run time.
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.operators.Checkpoints

    val ids = (0 until 40).map(i => f"v$i%02d")
    val edges = (for (a <- ids; b <- ids if a < b) yield (a, b)).toDF("src", "dst")
    val vCut = Checkpoints.cut(ids.toDF("v"), None)
    val eCut = Checkpoints.cut(edges.select(col("src").as("a"), col("dst").as("b")), None)
    val (vBytes, eBytes) = (Checkpoints.bytes(vCut), Checkpoints.bytes(eCut))
    Checkpoints.release(Seq(vCut, eCut))
    assert(4 * vBytes < eBytes, s"vertex cut $vBytes B, edge cut $eBytes B")

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(spark.conf.get)
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), (2 * vBytes).toString)
    spark.listenerManager.register(listener)
    val sentinel = 987654501L
    try {
      assert(GraphOps.kCorePeel(edges, 3, 2).count() === ids.size)
      assert(GraphOps.labelPropagation(
        edges.toDF("person_a", "person_b"), 2).count() === ids.size)
      spark.range(sentinel, sentinel + 1).collect()
      val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
      while (!plans.asScala.exists(_.toString.contains(sentinel.toString)) &&
          System.nanoTime < deadline) Thread.sleep(25)
    } finally {
      spark.listenerManager.unregister(listener)
      keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val ps = plans.asScala.toList
    val smj = ps.flatMap(_.collect { case j: SortMergeJoinExec => j })
    assert(smj.isEmpty, s"shuffled joins in the round plans:\n${smj.mkString("\n")}")
    assert(ps.exists(_.collect { case b: BroadcastHashJoinExec => b }.nonEmpty),
      "no broadcast join captured - capture broken?")
  }

  test("labelPropagation: two disjoint triangles converge to their min labels") {
    val tris = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F")
    ).toDF("person_a", "person_b")
    // round 1 rotates labels (each vertex takes the min of the other
    // two ids); round 2 the min id's label dominates each triangle
    assert(rowSet(GraphOps.labelPropagation(tris, rounds = 2)) === Set(
      Seq("A", "A"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "D"), Seq("E", "D"), Seq("F", "D")))
    // broadcasting the label table is a cost choice, not semantics
    assert(shuffled(rowSet(GraphOps.labelPropagation(tris, rounds = 2))) ===
      rowSet(GraphOps.labelPropagation(tris, rounds = 2)))
  }

  test("labelPropagation: synchronous rounds + min tie-break pinned on a bridged graph") {
    // triangles {A,B,C} and {D,E,F} bridged by C-D: every round-1
    // update is a tie broken to the smallest neighbor label, and
    // round 2 mixes counts and ties — pins BOTH rules against any
    // async/own-label variant drift
    val g = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F"),
      ("C", "D")
    ).toDF("person_a", "person_b")
    assert(rowSet(GraphOps.labelPropagation(g, rounds = 1)) === Set(
      Seq("A", "B"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "C"), Seq("E", "D"), Seq("F", "D")))
    assert(rowSet(GraphOps.labelPropagation(g, rounds = 2)) === Set(
      Seq("A", "A"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "D"), Seq("E", "C"), Seq("F", "C")))
  }

  test("louvain: two disjoint triangles collapse to min-label communities") {
    val tris = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F")
    ).toDF("person_a", "person_b")
    // round 1 under the singleton min-label guard: A/D keep their
    // labels (every target is a larger-label singleton), everyone else
    // moves to the min-id neighbor — the ideal partition in one round
    val expected = Set(
      Seq("A", "A"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "D"), Seq("E", "D"), Seq("F", "D"))
    assert(rowSet(GraphOps.louvain(tris, moveRounds = 2, levels = 1)) === expected)
    // contraction is a no-op on the converged partition (merging the
    // triangles would lower Q, so level 2 keeps both supers)
    assert(rowSet(GraphOps.louvain(tris, moveRounds = 2, levels = 2)) === expected)
    assert(shuffled(rowSet(GraphOps.louvain(tris, 2, 2))) === expected)
  }

  test("louvain: synchronous rounds + swap guard pinned on the bridged graph; contraction merges chased singletons") {
    val g = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F"),
      ("C", "D")
    ).toDF("person_a", "person_b")
    // level 1 (hand-traced): round 1 — A stays (B, C forbidden
    // singleton targets), B→A, C→A; D→C (C < D allowed, score 5 > 0),
    // E→D, F→E (E < F, score 10 beats D's 8). round 2 — the chased
    // singletons settle: D stays C (both singleton targets now carry
    // larger labels), E→C, F→D
    assert(rowSet(GraphOps.louvain(g, moveRounds = 2, levels = 1)) === Set(
      Seq("A", "A"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "C"), Seq("E", "C"), Seq("F", "D")))
    // level 2 contracts {D,E}=C and {F}=D into one super and merges
    // them (score 18 > 0) — the optimal two-triangle partition
    assert(rowSet(GraphOps.louvain(g, moveRounds = 2, levels = 2)) === Set(
      Seq("A", "A"), Seq("B", "A"), Seq("C", "A"),
      Seq("D", "C"), Seq("E", "C"), Seq("F", "C")))
  }

  test("louvain optimizes modularity: Q(louvain) >= Q(LPA) on the bridged fixture and the cooc graph") {
    def q(pairs: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(pairs, labels).head().getLong(2)
    val g = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F"),
      ("C", "D")
    ).toDF("person_a", "person_b")
    val qLouvain = q(g, GraphOps.louvain(g, 2, 2))
    val qLpa = q(g, GraphOps.labelPropagation(g, 2))
    assert(qLouvain >= qLpa, s"louvain $qLouvain < lpa $qLpa")
    assert(qLouvain === 357142L, "bridged optimum is the two-triangle split (5/14)")
    // and on the real projected graph the shipped query runs on
    val pairs = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(
        graft.sources.Tables.relationshipDocs(spark, "/root/testdata/sf0.001")),
      maxFanout = 20, minShared = 2)
    val qL = q(pairs, GraphOps.louvain(pairs, 2, 2))
    val qP = q(pairs, GraphOps.labelPropagation(pairs, 2))
    assert(qL >= qP, s"louvain $qL < lpa $qP on the cooc graph")
  }

  test("kTruss: support peel, cascade to empty, vacuous k, pendant drop") {
    // two triangles ABC / BCD sharing edge B-C, plus pendant D-E
    val g = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("B", "D"), ("C", "D"), ("D", "E")
    ).toDF("person_a", "person_b")
    // k=3 (support >= 1): every triangle edge survives, the pendant
    // D-E (support 0) drops; the survivor set is already a fixpoint
    assert(rowSet(GraphOps.kTruss(g, k = 3)) === Set(
      Seq("A", "B"), Seq("A", "C"), Seq("B", "C"),
      Seq("B", "D"), Seq("C", "D")))
    // k=4 (support >= 2): round 1 keeps only B-C (the shared edge,
    // support 2); round 2 its support is 0 among survivors -> empty.
    // The synchronous cascade, not just one filtering pass.
    assert(GraphOps.kTruss(g, k = 4).count() === 0L)
    // k=2 is vacuous: every edge kept, including the pendant
    assert(GraphOps.kTruss(g, k = 2).count() === 6L)
    // round-bound contract: maxRounds=1 returns the round-1 snapshot
    // (B-C alone), NOT the fixpoint
    assert(rowSet(GraphOps.kTruss(g, k = 4, maxRounds = 1)) ===
      Set(Seq("B", "C")))
    // k-truss edges sit inside the (k-1)-core (Cohen 2008): every
    // k=3 survivor endpoint has degree >= 2 in the survivor graph
    val surv = GraphOps.kTruss(g, k = 3)
    val degs = surv.select(col("person_a").as("v"))
      .unionAll(surv.select(col("person_b").as("v")))
      .groupBy("v").count().collect().map(_.getLong(1))
    assert(degs.forall(_ >= 2L))
  }

  test("louvain resolution: gamma=1000 is the exact default, community count monotone in gamma") {
    val bridged = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F"),
      ("C", "D")
    ).toDF("person_a", "person_b")
    // the default-gamma branch is the SAME expression, not a scaled
    // equivalent: bit-equal output
    assert(rowSet(GraphOps.louvain(bridged, 2, 2, resolutionE3 = 1000L)) ===
      rowSet(GraphOps.louvain(bridged, 2, 2)))
    def nComm(labels: org.apache.spark.sql.DataFrame): Long =
      labels.select("community").distinct().count()
    // level-2 merges the two triangles at gamma=1; a high enough
    // gamma forbids the merge (the null-model penalty dominates)
    val n1 = nComm(GraphOps.louvain(bridged, 2, 2))
    val n4 = nComm(GraphOps.louvain(bridged, 2, 2, resolutionE3 = 4000L))
    assert(n1 <= n4, s"gamma=4 produced FEWER communities: $n1 > $n4")
    assert(n4 >= 2L, "gamma=4 must keep the triangles apart")
    // and on the real cooc graph (sf0.001): monotone across the
    // shipped gamma ladder
    val pairs = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(
        graft.sources.Tables.relationshipDocs(spark, "/root/testdata/sf0.001")),
      maxFanout = 20, minShared = 2)
    val c1 = nComm(GraphOps.louvain(pairs, 2, 2))
    val c12 = nComm(GraphOps.louvain(pairs, 2, 2, resolutionE3 = 1200L))
    val c3 = nComm(GraphOps.louvain(pairs, 2, 2, resolutionE3 = 3000L))
    assert(c1 <= c12 && c12 <= c3,
      s"community count not monotone in gamma: $c1, $c12, $c3")
    // leiden threads the same knob (refinement composes with gamma)
    assert(nComm(GraphOps.leiden(pairs, 2, 2, resolutionE3 = 1200L)) >=
      nComm(GraphOps.leiden(pairs, 2, 2)))
  }

  test("leiden: refinement is a no-op when louvain communities are connected") {
    val tris = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F")
    ).toDF("person_a", "person_b")
    // both louvain communities are (connected) triangles -> identical
    assert(rowSet(GraphOps.leiden(tris, 2, 2)) ===
      rowSet(GraphOps.louvain(tris, 2, 2)))
    val bridged = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F"),
      ("C", "D")
    ).toDF("person_a", "person_b")
    assert(shuffled(rowSet(GraphOps.leiden(bridged, 2, 2))) ===
      rowSet(GraphOps.leiden(bridged, 2, 2)))
  }

  test("leiden splits the disconnected community synchronous louvain builds on the satellite fixture") {
    // triangle A-B-C, bridge M-A, satellites M-P / M-Q. Synchronous
    // round 2: P and Q move INTO M's then-community (label A) while M
    // simultaneously moves out (to min-label satellite P) — community
    // A ends {A, C, P, Q} with P/Q connected only through the departed
    // M: internally disconnected, the exact Louvain defect Traag et
    // al. 2019 name (fig. 2 there is this shape).
    val g = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("M", "A"), ("M", "P"), ("M", "Q")
    ).toDF("person_a", "person_b")
    val louv = GraphOps.louvain(g, moveRounds = 2, levels = 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val commA = louv.collect { case (v, c) if c == louv("P") => v }.toSet
    assert(louv("P") === louv("Q") && louv("P") === louv("A"),
      s"fixture drifted: expected P,Q to land in A's community, got $louv")
    assert(!commA.contains("M"), s"fixture drifted: M stayed, got $louv")
    // leiden: the same moves, then the community splits into its
    // connected parts {A,C} / {P} / {Q} (min-member labels)
    val leid = GraphOps.leiden(g, moveRounds = 2, levels = 1)
    assert(rowSet(leid).map(_.take(2)).contains(Seq("P", "P")))
    assert(rowSet(leid).map(_.take(2)).contains(Seq("Q", "Q")))
    // every leiden community is connected (driver-side union-find on
    // the 6-vertex fixture)
    assertCommunitiesConnected(
      Seq(("A", "B"), ("B", "C"), ("A", "C"), ("M", "A"), ("M", "P"), ("M", "Q")),
      GraphOps.leiden(g, 2, 1).collect().map(r => r.getString(0) -> r.getString(1)))
    // and refinement never lowers modularity vs the unrefined level
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(g, labels).head().getLong(2)
    assert(q(GraphOps.leiden(g, 2, 1)) >= q(GraphOps.louvain(g, 2, 1)))
  }

  test("leiden laws on the cooc graph: per-level Q(leiden) >= Q(louvain), every community connected") {
    val pairs = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(
        graft.sources.Tables.relationshipDocs(spark, "/root/testdata/sf0.001")),
      maxFanout = 20, minShared = 2)
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularity(pairs, labels).head().getLong(2)
    // the THEOREM is per-level (same moves, then a split that keeps
    // Sigma m_c and can only shrink Sigma D_c^2) — at levels >= 2 the
    // two hierarchies contract DIFFERENT graphs and the final-Q
    // inequality is empirical, not guaranteed, so the law pins level 1
    val qLeiden1 = q(GraphOps.leiden(pairs, 2, 1))
    val qLouvain1 = q(GraphOps.louvain(pairs, 2, 1))
    assert(qLeiden1 >= qLouvain1,
      s"per-level law violated: leiden $qLeiden1 < louvain $qLouvain1")
    // connectivity IS a theorem at every depth — check the full run
    assertCommunitiesConnected(
      pairs.collect().map(r => r.getString(0) -> r.getString(1)),
      GraphOps.leiden(pairs, 2, 2).collect()
        .map(r => r.getString(0) -> r.getString(1)))
  }

  /** Driver-side union-find connectivity check: within each community,
    * the members must form one component of the community-induced
    * subgraph (test-only; inputs are collected fixture-scale frames).
    */
  private def assertCommunitiesConnected(
      edges: Seq[(String, String)], labels: Seq[(String, String)]): Unit = {
    val lab = labels.toMap
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    labels.foreach { case (v, _) => parent(v) = v }
    edges.foreach { case (a, b) =>
      if (lab.get(a).exists(la => lab.get(b).contains(la))) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
    }
    val bad = labels.groupBy(_._2).filter { case (_, vs) =>
      vs.map(v => find(v._1)).distinct.size > 1
    }
    assert(bad.isEmpty,
      s"disconnected communities: ${bad.keys.take(5).mkString(", ")}")
  }

  test("harmonicCentrality2: path/star/triangle hand pins") {
    // path A-B-C-D: ends see 1 at d1 + 1 at d2, middles 2 + 1
    val path = Seq(("A", "B"), ("B", "C"), ("C", "D")).toDF("person_a", "person_b")
    assert(rowSet(GraphOps.harmonicCentrality2(path)) === Set(
      Seq("A", 1L, 1L, 1500L), Seq("B", 2L, 1L, 2500L),
      Seq("C", 2L, 1L, 2500L), Seq("D", 1L, 1L, 1500L)))
    // star: leaves see each other at distance 2 through the hub
    val star = Seq(("A", "B"), ("A", "C"), ("A", "D")).toDF("person_a", "person_b")
    assert(rowSet(GraphOps.harmonicCentrality2(star)) === Set(
      Seq("A", 3L, 0L, 3000L),
      Seq("B", 1L, 2L, 2000L), Seq("C", 1L, 2L, 2000L), Seq("D", 1L, 2L, 2000L)))
    // triangle: the 2-ball adds nothing (everything is distance 1)
    val tri = Seq(("A", "B"), ("B", "C"), ("A", "C")).toDF("person_a", "person_b")
    assert(rowSet(GraphOps.harmonicCentrality2(tri)) === Set(
      Seq("A", 2L, 0L, 2000L), Seq("B", 2L, 0L, 2000L), Seq("C", 2L, 0L, 2000L)))
  }

  test("modularity: hand-computed partitions (two triangles 1/2, trivial 0, singletons)") {
    val tris = Seq(
      ("A", "B"), ("B", "C"), ("A", "C"),
      ("D", "E"), ("E", "F"), ("D", "F")
    ).toDF("person_a", "person_b")
    // LPA partition = the two triangles: m=6, sum m_c=6, D_c=6 each ->
    // Q = (4*6*6 - 72) / (4*36) = 1/2 exactly
    assert(rowSet(GraphOps.modularity(tris, GraphOps.labelPropagation(tris, 2))) ===
      Set(Seq(6L, 2L, 500000L)))
    // everything in one community: Q = m/m - (2m/2m)^2 = 0
    val one = Seq(("A", "B"), ("B", "C"), ("A", "C")).toDF("person_a", "person_b")
    val oneLab = Seq(("A", "x"), ("B", "x"), ("C", "x")).toDF("person_id", "community")
    assert(rowSet(GraphOps.modularity(one, oneLab)) === Set(Seq(3L, 1L, 0L)))
    // singleton communities on a triangle: Q = (0 - 12)/36 = -1/3,
    // e6-FLOORED (not truncated): -333334
    val selfLab = Seq(("A", "A"), ("B", "B"), ("C", "C")).toDF("person_id", "community")
    assert(rowSet(GraphOps.modularity(one, selfLab)) === Set(Seq(3L, 3L, -333334L)))
  }

  test("neighborhood function: exact ball growth, gate holds, saturation") {
    // path a—b—c plus the separate pair d—e:
    //   N(0) = 5 (selves); N(1) = 2+3+2+2+2 = 11; N(2) = 3+3+3+2+2 = 13;
    //   N(3) = 13 (saturated — components never bleed into each other)
    val pairs = Seq(("a", "b"), ("b", "c"), ("d", "e"))
      .toDF("person_a", "person_b")
    val out = GraphOps.neighborhoodFunctionAudited(pairs, maxT = 3)
    assert(rowSet(out) === Set(
      Seq(0L, 5L, true),
      Seq(1L, 11L, true),
      Seq(2L, 13L, true),
      Seq(3L, 13L, true)))
    // the production (sketch-only) form tracks the same curve within
    // the gate tolerance and is monotone non-decreasing in t
    val est = GraphOps.anfEstimates(pairs, maxT = 3)
      .orderBy(col("t")).select(col("est_pairs")).as[Double].collect().toSeq
    val exact = Seq(5d, 11d, 13d, 13d)
    est.zip(exact).foreach { case (e, x) =>
      assert(math.abs(e - x) <= x * 0.05, s"estimate $e vs exact $x")
    }
    est.zip(est.drop(1)).foreach { case (a, b) =>
      assert(b >= a, s"N(t) must be non-decreasing: $est")
    }
  }

  test("hits: hand-pinned chain; symmetric graph degenerates hub = auth") {
    // a->b, d->b, b->c: b is THE authority (two hubs point at it),
    // a/d are the hubs; every half-round max-rescales to e6
    val e = Seq(("a", "b"), ("b", "c"), ("d", "b")).toDF("src", "dst")
    val out = GraphOps.hits(e, 2)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // round 1: a_raw(b)=2e6, a_raw(c)=1e6 -> a1(b)=1e6, a1(c)=5e5;
    //          h_raw(a)=h_raw(d)=1e6, h_raw(b)=5e5 -> h1 same (max 1e6)
    // round 2: a_raw(b)=2e6, a_raw(c)=5e5 -> a2(b)=1e6, a2(c)=25e4;
    //          h_raw(a)=h_raw(d)=1e6, h_raw(b)=25e4 -> h2 same
    assert(out("a") === ((1000000L, 0L)))
    assert(out("d") === ((1000000L, 0L)))
    assert(out("b") === ((250000L, 1000000L)))
    assert(out("c") === ((0L, 250000L)))
    // on a REGULAR symmetric graph the uniform vector is the shared
    // fixpoint of both half-rounds: hub = auth = 1e6 everywhere (the
    // alternating iteration leaves hub a half-step ahead of auth on
    // non-regular symmetric graphs, so equality only holds pointwise
    // at the fixpoint — the triangle is already there)
    val sym = Seq(("x", "y"), ("y", "x"), ("y", "z"), ("z", "y"),
      ("z", "x"), ("x", "z")).toDF("src", "dst")
    GraphOps.hits(sym, 3).collect().foreach { r =>
      assert(r.getLong(1) === 1000000L, s"hub ${r.getString(0)}")
      assert(r.getLong(2) === 1000000L, s"auth ${r.getString(0)}")
    }
  }

  test("hits: max-rescale law (both score maxima are exactly 1e6); iters invariance of the argmax") {
    val rnd = new scala.util.Random(5)
    val verts = ('a' to 'j').map(_.toString)
    val e = (for (_ <- 1 to 30) yield
      (verts(rnd.nextInt(10)), verts(rnd.nextInt(10))))
      .distinct.filter(p => p._1 != p._2).toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val out = GraphOps.hits(e, iters).as[(String, Long, Long)].collect()
      assert(out.map(_._2).max === 1000000L, s"iters=$iters hub max")
      assert(out.map(_._3).max === 1000000L, s"iters=$iters auth max")
      assert(out.forall(r => r._2 >= 0L && r._3 >= 0L))
    }
  }

  test("randomWalks: edges followed, determinism, replicas, step-0 starts") {
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b"))
      .toDF("src", "dst")
    val walks = GraphOps.randomWalks(e, lit(true), walkLen = 4,
      walksPerVertex = 2)
    val rows = walks.as[(String, Long, String)].collect()
    // 3 vertices x 2 replicas, no sinks -> every walk has steps 0..4
    val byWalk = rows.groupBy(_._1)
    assert(byWalk.size === 6)
    byWalk.foreach { case (wid, steps) =>
      assert(steps.map(_._2).sorted.toSeq === (0L to 4L), s"walk $wid")
      // step 0 is the start vertex encoded in the walk id
      assert(steps.find(_._2 == 0L).get._3 === wid.takeWhile(_ != '#'))
    }
    // every consecutive (step, step+1) pair is a real edge
    val edgeSet = Set(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b"))
    for ((_, steps) <- byWalk) {
      val path = steps.sortBy(_._2).map(_._3)
      path.zip(path.tail).foreach(p => assert(edgeSet.contains(p), s"$path"))
    }
    // deterministic: a second construction is row-identical
    assert(rowSet(walks) === rowSet(
      GraphOps.randomWalks(e, lit(true), walkLen = 4, walksPerVertex = 2)))
  }

  test("sageSample: fanout bound, layer frontier law, full coverage at wide fanout") {
    val rnd = new scala.util.Random(17)
    val verts = ('a' to 'j').map(_.toString)
    val e = (for (_ <- 1 to 40) yield
      (verts(rnd.nextInt(10)), verts(rnd.nextInt(10))))
      .distinct.filter(p => p._1 != p._2).toDF("src", "dst")
    val edgeSet = e.as[(String, String)].collect().toSet
    val out = GraphOps.sageSample(e, lit(true), Seq(3, 2))
      .as[(String, Long, String, String)].collect()
    // every sampled row is a real edge
    out.foreach(r => assert(edgeSet.contains((r._3, r._4)), s"$r"))
    // fanout bound per (seed, layer, src)
    for (((_, l, _), rows) <- out.groupBy(r => (r._1, r._2, r._3)))
      assert(rows.length <= (if (l == 1L) 3 else 2))
    // layer-1 sources are the seed; layer-2 sources are sampled dsts
    out.filter(_._2 == 1L).foreach(r => assert(r._3 === r._1))
    val l1dst = out.filter(_._2 == 1L).map(r => (r._1, r._4)).toSet
    out.filter(_._2 == 2L).foreach(r =>
      assert(l1dst.contains((r._1, r._3)), s"layer-2 source not sampled: $r"))
    // deterministic
    assert(rowSet(GraphOps.sageSample(e, lit(true), Seq(3, 2))) ===
      rowSet(GraphOps.sageSample(e, lit(true), Seq(3, 2))))
    // fanout >= max degree: layer 1 IS the seed's full out-adjacency
    val wide = GraphOps.sageSample(e, lit(true), Seq(100))
      .as[(String, Long, String, String)].collect()
    assert(wide.map(r => (r._3, r._4)).toSet === edgeSet)
  }

  test("node2vecWalks: walkLen=1 equals the uniform generator; edges followed; deterministic") {
    val rnd = new scala.util.Random(9)
    val verts = ('a' to 'h').map(_.toString)
    val e = (for (_ <- 1 to 24) yield
      (verts(rnd.nextInt(8)), verts(rnd.nextInt(8))))
      .distinct.filter(p => p._1 != p._2).toDF("src", "dst")
    // the first hop shares the randomWalks coin and walk ids exactly
    assert(rowSet(GraphOps.node2vecWalks(e, lit(true), walkLen = 1)) ===
      rowSet(GraphOps.randomWalks(e, lit(true), walkLen = 1)))
    val walks = GraphOps.node2vecWalks(e, lit(true), walkLen = 3)
    val rows = walks.as[(String, Long, String)].collect()
    val edgeSet = e.as[(String, String)].collect().toSet
    for ((_, steps) <- rows.groupBy(_._1)) {
      val path = steps.sortBy(_._2).map(_._3)
      path.zip(path.tail).foreach(p => assert(edgeSet.contains(p), s"$path"))
      assert(steps.map(_._2).sorted.toSeq ===
        (0L until steps.length.toLong), "steps must be contiguous from 0")
    }
    assert(rowSet(walks) ===
      rowSet(GraphOps.node2vecWalks(e, lit(true), walkLen = 3)))
  }

  test("node2vecWalks: back-only weights oscillate; zero-total candidates truncate") {
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    // wSide=wFwd=0: from a the walk MUST return at every biased step
    val osc = GraphOps.node2vecWalks(e, col("person_id") === "a",
      walkLen = 3, wBack = 1L, wSide = 0L, wFwd = 0L)
      .as[(String, Long, String)].collect().sortBy(_._2).map(_._3).toSeq
    assert(osc === Seq("a", "b", "a", "b"))
    // wBack=0 and prev is the only neighbor: total weight 0 -> truncate
    // (step1 a->b uniform; step2 b: {a back 0, c fwd 1} -> c; step3 c:
    // {b back 0} -> tot 0, walk ends at step 2)
    val tr = GraphOps.node2vecWalks(e, col("person_id") === "a",
      walkLen = 3, wBack = 0L, wSide = 0L, wFwd = 1L)
      .as[(String, Long, String)].collect().sortBy(_._2).map(_._3).toSeq
    assert(tr === Seq("a", "b", "c"))
  }

  test("walkContexts: window pairs, multiset multiplicity, signed offsets") {
    val walks = Seq(
      ("w1", 0L, "a"), ("w1", 1L, "b"), ("w1", 2L, "c"), ("w1", 3L, "a"),
      ("w2", 0L, "x")).toDF("walk_id", "step", "person_id")
    val out = GraphOps.walkContexts(walks, window = 2)
      .as[(String, String, Long)].collect()
    // a singleton walk emits nothing
    assert(!out.exists(p => p._1 == "x" || p._2 == "x"))
    // 4-step walk, window 2: per-center context counts 2+3+3+2
    assert(out.length === 10)
    assert(out.count(_ == (("a", "b", 1L))) === 1)
    assert(out.count(_ == (("b", "a", -1L))) === 1)
    // the multiset keeps BOTH (a,c) examples: step0→2 and step3→2
    assert(out.count(p => p._1 == "a" && p._2 == "c") === 2)
    val w1 = GraphOps.walkContexts(walks, window = 1)
      .as[(String, String, Long)].collect()
    assert(w1.length === 6)
    assert(w1.forall(p => math.abs(p._3) === 1L))
  }

  test("randomWalks: sink vertices truncate; predicate restricts starts") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    val walks = GraphOps.randomWalks(e, lit(true), walkLen = 3)
      .as[(String, Long, String)].collect()
    // a#0: a -> b then b is a sink; b#0: just the start row
    assert(walks.toSet === Set(
      ("a#0", 0L, "a"), ("a#0", 1L, "b"), ("b#0", 0L, "b")))
    val only = GraphOps.randomWalks(e, col("person_id") === "b", walkLen = 3)
      .as[(String, Long, String)].collect()
    assert(only.toSet === Set(("b#0", 0L, "b")))
  }

  /** Two-topic context fixture: every ordered within-cluster pair,
    * twice (the multiset weight path), zero cross-cluster pairs.
    */
  private def sgnsFixture = {
    val a = Seq("a1", "a2", "a3", "a4")
    val b = Seq("b1", "b2", "b3", "b4")
    val pairs = for {
      cl <- Seq(a, b); x <- cl; y <- cl if x != y; _ <- 1 to 2
    } yield (x, y, 1L)
    pairs.toDF("center", "context", "offset")
  }

  test("sgnsTrain: within-topic similarity beats cross-topic after training") {
    val emb = GraphOps.sgnsTrain(sgnsFixture, dim = 4, epochs = 3,
      negatives = 2, lrShift = 2, negBuckets = 4)
      .as[(String, Seq[Long])].collect().toMap
    assert(emb.keySet === Set("a1", "a2", "a3", "a4", "b1", "b2", "b3", "b4"))
    assert(emb.values.forall(_.length === 4))
    def dot(x: Seq[Long], y: Seq[Long]): Long =
      x.zip(y).map { case (p, q) => p * q }.sum
    def meanDot(ps: Seq[(String, String)]): Double =
      ps.map { case (x, y) => dot(emb(x), emb(y)).toDouble }.sum / ps.size
    val within = for {
      cl <- Seq(Seq("a1", "a2", "a3", "a4"), Seq("b1", "b2", "b3", "b4"))
      x <- cl; y <- cl if x < y
    } yield (x, y)
    val across = for {
      x <- Seq("a1", "a2", "a3", "a4"); y <- Seq("b1", "b2", "b3", "b4")
    } yield (x, y)
    // the Perozzi/Mikolov law the trainer exists for: co-occurring
    // vertices' center vectors align; unrelated ones don't
    assert(meanDot(within) > meanDot(across),
      s"within=${meanDot(within)} across=${meanDot(across)}")
    // and training MOVED the model: some vector escaped the ±128 init box
    assert(emb.values.exists(_.exists(x => math.abs(x) > 128L)))
  }

  test("sgnsTrain: deterministic across runs and checkpoint modes; clamp bound") {
    val p = sgnsFixture
    val r1 = GraphOps.sgnsTrain(p, dim = 3, epochs = 2).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val r2 = GraphOps.sgnsTrain(p, dim = 3, epochs = 2).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(r1 === r2)
    val r3 = GraphOps.sgnsTrain(p, dim = 3, epochs = 2,
      checkpointDir = Some(TestSpark.ckptDir)).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(r1 === r3)
    assert(r1.values.forall(_.forall(x => math.abs(x) <= 8L * 1024L)))
  }

  test("sgnsTrain -> cosineTopKQ: same-topic vectors rank above cross-topic") {
    // the DeepWalk end-to-end law (g_embed_neighbors): trained center
    // vectors of co-occurring vertices are nearer in cosine than
    // unrelated ones — the mean rank of within-topic neighbors beats
    // cross-topic over the full ranking
    val corpus = GraphOps.sgnsTrain(sgnsFixture, dim = 4, epochs = 3,
      negatives = 2, lrShift = 2, negBuckets = 4)
      .select(col("person_id").as("vec_id"), col("emb").as("q"))
      .withColumn("nq", graft.operators.Similarity.normQ(col("q")))
      .filter(col("nq") > 0)
    val ranked = graft.operators.Similarity
      .cosineTopKQ(corpus, lit(true), k = 7)
      .select("query_id", "neighbor_id", "rank")
      .as[(String, String, Long)].collect()
    assert(ranked.nonEmpty)
    def topic(id: String): Char = id.head
    val (within, across) = ranked.partition {
      case (q, n, _) => topic(q) == topic(n)
    }
    assert(within.nonEmpty && across.nonEmpty)
    def meanRank(xs: Array[(String, String, Long)]): Double =
      xs.map(_._3.toDouble).sum / xs.length
    assert(meanRank(within) < meanRank(across),
      s"within=${meanRank(within)} across=${meanRank(across)}")
  }

  test("sgnsTrain: negatives=0 trains on positives only; singleton vocab") {
    val out = GraphOps.sgnsTrain(sgnsFixture, dim = 2, epochs = 1,
      negatives = 0).collect()
    assert(out.length === 8)
    // degenerate corpus: one pair, vocab 2, one bucket — still trains
    val tiny = Seq(("x", "y", 1L)).toDF("center", "context", "offset")
    val t = GraphOps.sgnsTrain(tiny, dim = 2, epochs = 2, negBuckets = 1)
      .as[(String, Seq[Long])].collect().toMap
    assert(t.keySet === Set("x", "y"))
  }

  test("sccLabels releases its finished rounds' cuts: only the output's cut stays persisted") {
    // three 2-cycles chained one way: three peel rounds, each with
    // color and mark steps
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"),
      ("d", "e"), ("e", "f"), ("f", "e")).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = GraphOps.sccLabels(edges)
    val held = sc.getPersistentRDDs.keySet.toSet -- before
    val backing = out.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(backing.nonEmpty)
    assert(held === backing, s"cuts left persisted beyond the output's: ${held -- backing}")
    assert(rowSet(out) === Set(
      Seq("a", "a"), Seq("b", "a"), Seq("c", "c"), Seq("d", "c"),
      Seq("e", "e"), Seq("f", "e")))
  }
}
