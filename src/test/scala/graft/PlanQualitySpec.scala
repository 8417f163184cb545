package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, Similarity}
import graft.sources.Tables

/** Physical-plan quality gates — the 100 TB checklist as executable
  * assertions. These pin the *shape* of the plan (pushdown, pruning,
  * broadcast, partial aggregation), not timings, so a regression that
  * silently de-optimizes a plan fails CI even though sf0.001 hides the
  * cost.
  */
class PlanQualitySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  private def scanString(df: DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().mkString("\n")

  test("watermark filter pushes down to the parquet scan") {
    val docs = Tables.relationshipDocs(spark, sfDir)
    val filtered = GraphOps.watermarkFilter(docs, Timestamp.valueOf("1995-06-01 00:00:00"))
    val scans = scanString(filtered)
    assert(scans.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"watermark predicate did not reach the scan:\n$scans")
  }

  test("narrow projections prune the parquet read schema") {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"))
    val scans = scanString(li)
    assert(scans.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected 2-column read schema, got:\n$scans")
  }

  test("doc->edges explode stays inside one codegen stage (no shuffle)") {
    val edges = GraphOps.edgesFromDocs(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .join(spark.read.parquet(s"$sfDir/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_shipdate").as("last_update"),
          col("o_custkey").cast("string").as("from_person_id"),
          col("l_suppkey").cast("string").as("to_person_id"),
          struct(col("l_quantity").cast("int").as("raw_score_in"),
            lit(1).as("raw_score_out")).as("stats")))
    // the generate itself must not introduce an exchange beyond the join's
    val plan = formatted(edges)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"explode added shuffles:\n$plan") // join sides only
  }

  test("merge-max is a partial+final hash aggregate (map-side combine)") {
    val merged = GraphOps.mergeMaxEdges(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)))
    val plan = formatted(merged)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final HashAggregate:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("merge_max") ||
      "HashAggregate.*max".r.findFirstIn(plan).isDefined,
      s"expected max aggregate:\n$plan")
  }

  test("small dimension joins broadcast (trove-user membership)") {
    val persons = GraphOps.distinctPersons(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)))
    val flagged = GraphOps.markTroveUsers(persons, Tables.troveUsers(spark, sfDir))
    val plan = formatted(flagged)
    assert(plan.contains("BroadcastHashJoin"),
      s"membership join should broadcast the key set at this size:\n$plan")
  }

  test("trove membership join still broadcasts at the bench scale (sf0.1)") {
    // round-1 bench showed j2_trove_flags at 8.3s once (≈6× its
    // subplans); re-measurement on identical code gave 1.2s — a one-off
    // scheduler/GC spike, not a plan regression. This pins the plan at
    // the BENCH scale (broadcast thresholds can flip between SFs;
    // planning only reads footers, so this stays cheap)
    val sf01 = "/root/testdata/sf0.1"
    val persons = GraphOps.distinctPersons(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sf01)))
    val flagged = GraphOps.markTroveUsers(persons, Tables.troveUsers(spark, sf01))
    val plan = formatted(flagged)
    assert(plan.contains("BroadcastHashJoin"),
      s"membership join must broadcast the key set at sf0.1 too:\n$plan")
  }

  test("cosine top-k broadcasts the query side, not the corpus") {
    val topk = Similarity.cosineTopK(
      Tables.embeddings(spark, sfDir), col("vec_id") < 4, 3)
    val plan = formatted(topk)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query set should broadcast:\n$plan")
  }

  test("cosine top-k gets the partial (map-side) window group limit") {
    // the "only k rows per (query, partition) survive" claim rests on
    // InferWindowGroupLimit planning a Partial WindowGroupLimit below
    // the exchange for row_number()+filter(rank<=k) — pin it
    val topk = Similarity.cosineTopK(
      Tables.embeddings(spark, sfDir), col("vec_id") < 4, 3)
    val plan = formatted(topk)
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("exact dedup aggregates with partial (map-side) combine") {
    val out = Dedup.exactDedup(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
  }

  test("exact dedup shuffles on LongType hash keys, never the text") {
    // the 100 TB contract: the dedup groupBy's exchange partitions on
    // the (xxhash64, xxhash64', length) LongType keys; document bodies
    // never enter a shuffle
    val out = Dedup.exactDedup(Tables.documents(spark, sfDir))
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(formatted(out)).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected a hash exchange:\n${formatted(out)}")
    assert(parts.forall(p => p.contains("h#") && !p.contains("text#")),
      s"dedup shuffle keyed on text, not the hash: $parts")
  }

  test("contamination broadcasts the probe shingles") {
    val docs = Tables.documents(spark, sfDir)
    val hits = Dedup.contamination(docs, docs.filter(col("doc_id") % 50 === 0), 3, 2)
    val plan = formatted(hits)
    assert(plan.contains("BroadcastHashJoin"),
      s"probe side should broadcast; the corpus shingle stream must not shuffle:\n$plan")
  }

  test("repetition stats never shuffle token text") {
    val out = graft.operators.TextOps.repetitionStats(Tables.documents(spark, sfDir))
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(formatted(out)).map(_.group(1)).toList
    assert(parts.nonEmpty)
    assert(parts.forall(p => !p.contains("text#") && !p.contains("tok")),
      s"repetition agg must key on doc_id/hash only: $parts")
  }

  test("kHop never plans a max aggregate (dead-agg elimination)") {
    // reachability is invariant under mergeMaxEdges; kHop projects to
    // (src,dst) internally, so even when fed the merged edge list the
    // score column must not survive into the hop loop's plan
    val seeds = Tables.teamMembers(spark, sfDir)
      .filter(col("team_id") === "N1").select(col("person_id"))
    val edges = GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir))
    val plan = formatted(GraphOps.kHop(edges, seeds, 2, materializeEdges = false))
    assert(!plan.contains("max("), s"hop plan still aggregates scores:\n$plan")
  }

  test("pre-shuffled merge-max puts the exchange below the aggregate") {
    // preShuffle: for near-unique keys the map side must be a plain
    // hash-shuffle write — no HashAggregate anywhere below the Exchange
    val merged = GraphOps.mergeMaxEdges(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)),
      preShuffle = true)
    // tree-string order: whatever prints after the exchange line is
    // below it (AQE's plan wrapper hides children from collect())
    val plan = formatted(merged)
    val ex = plan.indexOf("Exchange hashpartitioning")
    assert(ex >= 0, s"expected a repartition exchange:\n$plan")
    assert(!plan.substring(ex).contains("HashAggregate"),
      s"partial agg survived below the pre-shuffle exchange:\n$plan")
  }

  test("domain quota gets the partial (map-side) window group limit") {
    val q = graft.operators.TextOps.domainQuota(Tables.documents(spark, sfDir), "source", 10)
    val plan = formatted(q)
    // Partial + Final WindowGroupLimit: a skewed mega-source forwards at
    // most k rows per group from each map task
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("char chunking is a pure narrow generator (no exchange)") {
    val c = graft.operators.TextOps.charChunks(Tables.documents(spark, sfDir))
    val plan = formatted(c)
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(plan.contains("Generate"), s"expected a generator node:\n$plan")
  }

  test("urlParts is a narrow projection (no exchange, no UDF)") {
    val u = graft.operators.TextOps.urlParts(
      Tables.documents(spark, sfDir).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://example.com/d/"),
          org.apache.spark.sql.functions.col("doc_id")).as("url")))
    val plan = formatted(u)
    assert(!plan.contains("Exchange"), s"urlParts must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"urlParts must stay codegen built-ins:\n$plan")
  }

  test("int8 quantization is a narrow projection (no exchange, pruned scan)") {
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir))
    val plan = formatted(q)
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
  }

  test("q5 star join: dimensions broadcast, one shuffle (the final agg)") {
    val q5 = SparkEntry.queries("q5_region_revenue")(spark, sfDir)
    val plan = formatted(q5)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"star join must shuffle once at most:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      s"expected every dimension join to broadcast:\n$plan")
  }

  test("dup-span stats shuffle only 8-byte span hashes, never text") {
    val d = Dedup.dupSpanStats(Tables.documents(spark, sfDir), 8)
    val plan = formatted(d)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("exact-span coverage: first-occurrence table aggregates, never rank-windows on the hash") {
    val d = Dedup.exactSpanCoverage(Tables.documents(spark, sfDir), 16)
    val plan = formatted(d)
    // the global keep-first table must be a map-side-combining
    // min-struct aggregate (partial_min before the exchange collapses
    // hot boilerplate windows per mapper) — a row_number window
    // partitioned by wh would ship every occurrence of a hot key to
    // one reducer and rank-sort it there
    assert(!plan.contains("windowspecdefinition(wh"),
      s"first-occurrence derivation planned as a window over wh:\n$plan")
    assert(plan.contains("partial_min(struct(doc_id"),
      s"expected a partial (map-side) min-struct aggregate:\n$plan")
    // and document text never rides a shuffle (windows are 8-byte hashes)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("exact-span coverage salted: first-occurrence join keys on (wh, salt)") {
    val d = Dedup.exactSpanCoverage(Tables.documents(spark, sfDir), 16, saltFactor = 8)
    val plan = formatted(d)
    // the salt is only real if the join back keys on (wh, __salt) — a
    // hot boilerplate window then spreads over saltFactor reducers
    // instead of serializing one task
    assert("\\[wh#\\d+L?, __salt#\\d+\\]".r.findFirstIn(plan).isDefined,
      s"salted keep-first join does not key on (wh, __salt):\n$plan")
    // the min-struct aggregate discipline and text-free exchanges are
    // mode-independent
    assert(plan.contains("partial_min(struct(doc_id"),
      s"expected a partial (map-side) min-struct aggregate:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("PII redaction is a pure narrow projection (no exchange)") {
    val r = graft.operators.TextOps.redactPii(Tables.documents(spark, sfDir))
    val plan = formatted(r)
    assert(!plan.contains("Exchange"), s"redaction planned a shuffle:\n$plan")
  }

  test("z-value is a narrow projection; zOrder plans exactly one range exchange") {
    import graft.operators.Layout
    val ev = Tables.events(spark, sfDir)
    val zv = ev.select(col("event_id"), Layout.zValue(col("user_id"), col("user_id")))
    assert(!formatted(zv).contains("Exchange"),
      s"z-value projection planned a shuffle:\n${formatted(zv)}")
    val zo = Layout.zOrder(ev, "user_id", "event_id", 8)
    val plan = formatted(zo)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size === 1 && exchanges.head.contains("rangepartitioning"),
      s"expected exactly one range exchange:\n${exchanges.mkString("\n")}")
    // the clustering sort is in-partition (global=false in the Sort node)
    val sortLine = plan.linesIterator.find(_.contains("Sort [zval")).getOrElse("")
    assert(sortLine.contains("], false, 0"),
      s"expected an in-partition (non-global) sort:\n$sortLine")
  }

  test("span removal ranks winners without shuffling block text") {
    val d = Dedup.spanRemoval(Tables.documents(spark, sfDir), 8)
    val plan = formatted(d)
    // the keep-first window's exchange partitions on the block hash
    // (bh) and must not carry the block string
    val winExchange = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(bh")).toSeq
    assert(winExchange.nonEmpty, s"no bh-keyed exchange found:\n$plan")
    assert(!winExchange.exists(_.contains("block")),
      s"block text crossed the ranking shuffle:\n${winExchange.mkString("\n")}")
  }

  test("funnel step joins stay on (user_id, t) pairs — no event payload shuffles") {
    val f = graft.operators.EventOps.funnel(
      Tables.events(spark, sfDir), Seq("view", "click", "purchase"))
    val plan = formatted(f)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(e => e.contains("props") || e.contains("value")),
      s"event payload crossed a funnel shuffle:\n${exchanges.mkString("\n")}")
  }

  test("weighted sample gets the partial (map-side) window group limit") {
    val q = graft.operators.TextOps.weightedSample(
      Tables.documents(spark, sfDir), length(col("text")).cast("long"), "source", 10)
    val plan = formatted(q)
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("compaction plan is one metadata shuffle (hash by dir, in-partition sort)") {
    val listing = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), length(col("text")).as("sz"))
    val plan = formatted(graft.operators.Layout.compactionPlan(
      listing, "source", "doc_id", "sz", 4096L))
    assert("Exchange".r.findAllIn(plan).size === 1, s"expected one exchange:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"packing must not global-sort:\n$plan")
  }

  test("sourceOverlap: shingling runs once (checkpointed), branches re-read it") {
    val docs = Tables.documents(spark, sfDir)
    val out = graft.operators.Dedup.sourceOverlap(docs, 3, maxSources = 10)
    val plan = formatted(out)
    // the (source, shingle) stream is cut before the self-join: the
    // final plan must read the materialized RDD, not re-run the
    // shingle generator per branch
    assert(!plan.contains("Generate"),
      s"shingle explode leaked past the checkpoint:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpointed scan:\n$plan")
  }

  test("decayedValue: 1-row reference time broadcasts; grouped sum is partial") {
    val ev = Tables.events(spark, sfDir)
    val out = graft.operators.EventOps.decayedValue(ev, 259200000L)
    val plan = formatted(out)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"t_ref must attach by broadcast:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n$plan")
    // the corpus is scanned twice (max + weights) but never shuffled
    // except the final per-user aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"decay added shuffles:\n$plan")
  }

  test("bm25: per-term tf is a narrow projection (no explode), top-k partial") {
    val docs = Tables.documents(spark, sfDir)
    val out = graft.operators.TextOps.bm25TopK(docs, Seq("vector", "stream"), 10)
    val plan = formatted(out)
    // tf via size(filter(tokens)) — an exploded (doc, term) form would
    // plan a Generate + a (doc_id, term) shuffle; neither may appear
    assert(!plan.contains("Generate"), s"bm25 must not explode tokens:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be the distributed partial form:\n$plan")
  }

  test("simhashPairs: first-collision dedup — no aggregate below the pair output") {
    import spark.implicits._
    // literal signatures isolate the pair operator's plan from the
    // signature aggregation upstream
    val sigs = Seq((1L, 0x1111L), (2L, 0x1111L), (3L, 0x0FF0L))
      .toDF("doc_id", "simhash")
    val plan = formatted(graft.operators.Dedup.simhashPairs(sigs, 3))
    // a distinct would plan partial+final HashAggregates over the full
    // candidate set; first-collision filtering must leave none
    assert(!plan.contains("HashAggregate"),
      s"simhashPairs must dedup via the first-collision filter, not an aggregate:\n$plan")
  }

  test("bm25MultiQuery: broadcast term probe, per-query top-k partial") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val q = Seq(1L -> "vector", 1L -> "stream", 2L -> "spark")
      .toDF("query_id", "term")
    val out = graft.operators.TextOps.bm25MultiQuery(docs, q, 10)
    val plan = formatted(out)
    // the token explode must die into a BROADCAST hash probe (the
    // term map) — a shuffled join would move every token in the corpus
    assert(plan.contains("BroadcastHashJoin"),
      s"term vocabulary must probe via broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-wide shuffled join may appear:\n$plan")
    // per-query top-k gets the partial WindowGroupLimit before the
    // query_id exchange
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("bm25MultiQuery fallback: term joins shuffle, nothing query-sized broadcasts") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val q = Seq(1L -> "vector", 1L -> "stream", 2L -> "spark")
      .toDF("query_id", "term")
    // the toy query frame fits any real budget, so the beyond-budget
    // query set is simulated by disabling the threshold the measured
    // rule reads
    shuffled {
      val plan = formatted(graft.operators.TextOps.bm25MultiQuery(docs, q, 10))
      // every equi-join in this operator keys on `term` (vocab probe,
      // df attach, per-query fan-out) — past the budget none may plan
      // as a broadcast hash join; the only broadcast left is the 1-row
      // constants frame (a keyless BroadcastNestedLoopJoin whose size
      // is query-set-independent)
      assert(!plan.contains("BroadcastHashJoin"),
        s"beyond budget, query-sized frames must not broadcast:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"term joins should be shuffled joins beyond budget:\n$plan")
      // the per-query top-k partial is path-independent
      assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
        s"expected partial+final WindowGroupLimit:\n$plan")
    }
  }

  test("contamination fallback: probe joins shuffle, text never rides an exchange") {
    val docs = Tables.documents(spark, sfDir)
    val probes = docs.filter(col("doc_id") % 50 === 0)
    // the beyond-broadcast-budget probe set, simulated by disabling the
    // threshold the measured decision reads
    shuffled {
      for (plan <- Seq(
        formatted(graft.operators.Dedup.contamination(docs, probes)),
        formatted(graft.operators.Dedup.exactSpanContamination(docs, probes)))) {
        assert(!plan.contains("BroadcastHashJoin") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"beyond budget, probe-sized frames must not broadcast:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"probe join should be a shuffled join beyond budget:\n$plan")
        // both sides shuffle 8-byte hashes; text must die at the scan
        val exchanges =
          plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
        assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text")),
          s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
      }
    }
  }

  test("shuffle twins: the probe join of each registered twin is not a broadcast") {
    // each twin builds its inputs in a child session with the threshold
    // off, so the plan shape holds whatever the caller's session allows
    for (name <- Seq("d_contam_shuffle", "d_span_contam_shuffle")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("BroadcastHashJoin"), s"$name broadcast a join:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"$name: the probe join should be a shuffled join:\n$plan")
    }
  }

  test("measured broadcast: probe, piece and term joins follow the threshold") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sfDir)
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val pieces = Seq("a", "b", "##a", "##b").toDF("piece")
    val costs = Seq(("a", 1L), ("b", 2L), ("ab", 2L)).toDF("piece", "cost_bits")
    val q = Seq(1L -> "vector", 1L -> "stream", 2L -> "spark")
      .toDF("query_id", "term")
    // (operator, key of its probe / piece / term join, plan keys of
    // every broadcast hash join) — calls made under the current
    // threshold, since each operator measures its cut at call time
    def broadcastKeys(): Seq[(String, String, Set[String])] = Seq(
      ("contamination", "sh", Dedup.contamination(docs, probes)),
      ("exactSpanContamination", "wh", Dedup.exactSpanContamination(docs, probes, k = 16)),
      ("wordpieceSegment", "piece", TextOps.wordpieceSegment(docs, pieces)),
      ("unigramSegment", "piece", TextOps.unigramSegment(docs, costs)),
      ("bm25MultiQuery", "term", TextOps.bm25MultiQuery(docs, q, 10))
    ).map { case (op, key, df) =>
      (op, key, "BroadcastHashJoin \\[([^#\\]]+)#".r
        .findAllMatchIn(formatted(df)).map(_.group(1)).toSet)
    }
    def broadcasting(): Seq[String] =
      broadcastKeys().collect { case (op, key, keys) if keys.contains(key) => op }
    val all = Seq("contamination", "exactSpanContamination", "wordpieceSegment",
      "unigramSegment", "bm25MultiQuery")
    assert(broadcasting() === all, "at the default threshold every measured side broadcasts")
    // one byte is below every measured probe, vocabulary and query size
    val knob = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(knob)
    spark.conf.set(knob, "1")
    try assert(broadcasting().isEmpty, "sides above the threshold must not broadcast")
    finally spark.conf.set(knob, prev)
  }

  test("capped blocked near-dup: candidate join keys include the sub-split") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.cosineNearDupPairs(emb, 400000L, blocked = true,
      maxBucketSize = Some(8))
    val plan = formatted(out)
    // the cap is only real if candidate generation keys on
    // (band, bucket, sub) — a join on (band, bucket) alone is the
    // uncapped quadratic
    assert(
      "\\[band#\\d+L?, bucket#\\d+L?, sub#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"candidate join does not key on the sub-split:\n$plan")
    // the bucket-size attach must broadcast (key-bounded frame), not
    // sort-merge the exploded (vec_id, band, bucket) rows
    assert("BroadcastHashJoin \\[band#\\d+L?, bucket#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"bucket-size attach should be a broadcast hash join:\n$plan")
  }

  test("capped SemDeDup: sizes broadcast; pair join keys include the sub-split") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 0,
      maxCellSize = Some(32))
    val plan = formatted(out)
    // the ≤nCells cell-size frame must attach by broadcast, not a shuffle
    // of the assigned corpus
    assert(plan.contains("BroadcastExchange"),
      s"cell-size attach should broadcast:\n$plan")
    // the cap is only real if the pair join keys on (cid, sub) — a join
    // keyed on cid alone is the uncapped quadratic
    assert("Join [^\\n]*\\[cid#\\d+L?, sub#\\d+L?\\]".r.findFirstIn(plan).isDefined ||
      "\\[cid#\\d+L?, sub#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"pair join does not key on the sub-split:\n$plan")
  }

  test("bloom anti join: the definite-miss branch plans no join shuffle") {
    // mightContain attaches via a single-row broadcast nested-loop join;
    // the definite-miss rows must flow scan -> filter -> union with no
    // hash exchange on their branch (that's the entire point: at 100 TB
    // the anti join's shuffle carries only the ~matching slice)
    val big = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity"))
    val small = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("l_orderkey"))
    val out = graft.operators.BloomJoin.bloomAntiJoin(big, small, "l_orderkey")
    val plan = formatted(out)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"bitset must broadcast:\n$plan")
    // exactly the verification join's exchanges (or fewer when it
    // broadcasts); the miss branch adds none
    val unionIdx = plan.indexOf("Union")
    assert(unionIdx >= 0, s"expected union of miss + verified branches:\n$plan")
  }

  test("knnGraph: partial top-k per source; no exchange partitions on vectors") {
    val out = Similarity.knnGraph(Tables.embeddings(spark, sfDir), k = 5)
    val plan = formatted(out)
    // row_number <= k must compile to the partial + final WindowGroupLimit
    // (each shuffle partition keeps only its local top-k per source)
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
    // every hash exchange keys on ids / band keys — never the quantized
    // vector or the raw embedding (the 100 TB contract: vectors attach
    // to the distinct candidate edges, they don't ride the shuffles)
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"an exchange partitions on the vector payload: $parts")
  }

  test("nnDescentRefine: descent-round exchanges carry ids only, never vectors") {
    val out = Similarity.nnDescentRefine(Tables.embeddings(spark, sfDir), k = 5)
    val plan = formatted(out)
    // the same 100 TB contract as knnGraph, now across the descent
    // round's union/distinct/hop-join: every hash exchange keys on
    // ids / band keys; vectors only attach in the final re-rank joins
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"an exchange partitions on the vector payload: $parts")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit in the re-rank:\n$plan")
  }

  test("pqTopK: vectors stay in the scan; scoring stream is codes-sized") {
    val out = Similarity.pqTopK(Tables.embeddings(spark, sfDir), col("vec_id") < 8)
    val plan = formatted(out)
    // queries broadcast — the corpus must not shuffle into a sort-merge
    // join against an 8-row frame
    assert(!plan.contains("SortMergeJoin"), s"unexpected SortMergeJoin:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join of the query frame:\n$plan")
    // the only hash exchange is the per-query top-k window on the
    // (query_id, neighbor_id, adist) stream — never the vector payload
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected the window exchange:\n$plan")
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"an exchange partitions on the vector payload: $parts")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit:\n$plan")
  }

  test("bigramLmScore: every shuffle keys on doc_id/hashes, never text") {
    val out = graft.operators.TextOps.bigramLmScore(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("text#") && !p.contains("h1#")),
      s"a shuffle carries token text or the token-hash array: $parts")
    // count-table joins partial-aggregate map-side before their exchange
    assert("partial_count".r.findAllIn(plan).nonEmpty ||
      plan.contains("Partial"), s"expected map-side partial aggregation:\n$plan")
  }

  test("trigramLmScore: every shuffle keys on doc_id/hashes, never text") {
    val out = graft.operators.TextOps.trigramLmScore(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("text#") &&
      !p.contains("h1#") && !p.contains("h2#")),
      s"a shuffle carries token text or a shingle-hash array: $parts")
    assert("partial_count".r.findAllIn(plan).nonEmpty ||
      plan.contains("Partial"), s"expected map-side partial aggregation:\n$plan")
  }

  test("shardShuffle: id-only scan, one exchange keyed on the shard id") {
    val out = graft.operators.TextOps.shardShuffle(
      Tables.documents(spark, sfDir), 32)
    val scans = scanString(out)
    // the position hash reads ONLY doc_id — text must not be scanned
    assert(scans.contains("ReadSchema: struct<doc_id:bigint>"),
      s"shardShuffle scan reads more than doc_id:\n$scans")
    val plan = formatted(out)
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.size === 1 && parts.head.contains("shard#"),
      s"expected exactly the shard-keyed exchange (the writer's partitioning): $parts")
  }

  test("triangleCounts: no cartesian product, closing edge is a semi-join") {
    val cooc = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)),
      maxFanout = 20, minShared = 2)
    val plan = formatted(GraphOps.triangleCounts(cooc))
    assert(!plan.contains("CartesianProduct"),
      s"triangle wedge join degenerated to a cartesian product:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"closing-edge check should be a LEFT SEMI join:\n$plan")
  }

  test("triangleCounts: wedge join keys on the oriented source u; deg attach broadcasts") {
    val cooc = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)),
      maxFanout = 20, minShared = 2)
    val out = GraphOps.triangleCounts(cooc)
    // drive AQE to its FINAL plan — broadcast decisions on the
    // checkpointed edge list (no stats statically) land at runtime.
    // collect() (not count()) so THIS df's QueryExecution is the one
    // that finalizes.
    out.collect()
    // AQE's toString carries BOTH the final and the (pre-broadcast)
    // initial plan — gate only on what actually executed
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("isFinalPlan=true"),
      s"expected a finalized adaptive plan:\n$plan")
    // the O(E^1.5) bound exists only if the self-join keys on the
    // ORIENTED source vertex u (raw frame columns are a/b — a join
    // keyed on them would be the unoriented Σ deg² blowup); the
    // (dv, id) ordering must ride as a post-join condition, not
    // degrade the equi key
    assert("Join \\[u#\\d+L?\\], \\[u#\\d+L?\\]".r.findFirstIn(plan).isDefined ||
      "BroadcastHashJoin \\[u#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"wedge join must be an equi-join on the oriented u:\n$plan")
    // at spec scale AQE must broadcast the vertex-sized degree table
    // (and every other small side) — a SortMergeJoin here means the
    // orientation stage re-sorts the full edge list per attach
    assert(!plan.contains("SortMergeJoin"),
      s"expected all-broadcast joins under AQE at this scale:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"degree attach should broadcast under AQE:\n$plan")
  }

  test("capped simhashPairs: band join keys include the sub-split; sizes broadcast") {
    import spark.implicits._
    val sigs = Seq((1L, 0x1111L), (2L, 0x1111L), (3L, 0x0FF0L))
      .toDF("doc_id", "simhash")
    val plan = formatted(Dedup.simhashPairs(sigs, 3, maxBucketSize = Some(2)))
    // the cap is only real if candidate generation keys on
    // (band, band_val, sub) — (band, band_val) alone is the uncapped
    // quadratic (same gate as the capped cosine near-dup)
    assert(
      "\\[band#\\d+L?, band_val#\\d+L?, sub#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"candidate join does not key on the sub-split:\n$plan")
    // the key-bounded bucket-size attach must broadcast, not shuffle
    // the banded rows
    assert("BroadcastHashJoin \\[band#\\d+L?, band_val#\\d+L?\\]".r
      .findFirstIn(plan).isDefined,
      s"bucket-size attach should be a broadcast hash join:\n$plan")
  }

  test("dsirWeights: broadcast model, shuffles key on doc_id, never text") {
    val out = graft.operators.TextOps.dsirWeights(
      Tables.documents(spark, sfDir), col("source") === "src0")
    val plan = formatted(out)
    // the ≤B-row bucket model joins as a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bucket model broadcast:\n$plan")
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("text#") && !p.contains("sh#")),
      s"a shuffle carries token text or the hash array: $parts")
  }

  test("labelPropagation(broadcastLabels): rounds join labels as broadcasts, no sort-merge") {
    val pairs = GraphOps.coOccurrencePairs(
      GraphOps.edgesFromDocs(Tables.relationshipDocs(spark, sfDir)),
      maxFanout = 20, minShared = 2)
    val out = GraphOps.labelPropagation(pairs, rounds = 2)
    val plan = formatted(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"broadcastLabels must plan the round join as a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"vertex-sized label tables must never sort-merge against the edge list:\n$plan")
  }

  test("mmrRerank: pool-sized greedy loop — no sort-merge, no cartesian, vectors never shuffle") {
    val out = Similarity.mmrRerank(
      Tables.embeddings(spark, sfDir), col("vec_id") < 4,
      poolK = 4, selectK = 3)
    val plan = formatted(out)
    // every loop join is over cached ≤|Q|·poolK-row frames: broadcast
    // territory, never a corpus-sized sort-merge or a cartesian
    assert(!plan.contains("SortMergeJoin"),
      s"pool-sized loop frames must broadcast, not sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
    // quantized vectors ride only the pool build (scan side + cache);
    // no exchange repartitions on or carries the vector payload
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"a shuffle carries embedding payload: $parts")
  }

  test("kCenterSelect: rounds broadcast the selected frame; vectors never shuffle") {
    val out = Similarity.kCenterSelect(Tables.embeddings(spark, sfDir), 3)
    val plan = formatted(out)
    assert(!plan.contains("SortMergeJoin"),
      s"k-row selected frames must broadcast, not sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the corpus × selected pass must be a broadcast nested loop:\n$plan")
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"a shuffle carries embedding payload: $parts")
  }

  test("unigramSegment: one text reduction, then word/piece-keyed work only") {
    import spark.implicits._
    val vocab = Seq(("a", 1L), ("b", 2L), ("ab", 2L)).toDF("piece", "cost_bits")
    val out = graft.operators.TextOps.unigramSegment(
      Tables.documents(spark, sfDir), vocab)
    val plan = formatted(out)
    // the broadcast vocab join prices candidates map-side — the DP's
    // inputs shuffle on the word key, never on raw document text
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab should broadcast:\n$plan")
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("text#")),
      s"a shuffle carries raw document text: $parts")
  }

  test("zipfSlope: tokens hash before the frequency exchange; regression is one partial agg") {
    val out = graft.operators.TextOps.zipfSlope(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected the frequency exchange:\n$plan")
    assert(parts.forall(p => !p.contains("text#") && !p.contains("tok#")),
      s"a shuffle carries raw text/tokens: $parts")
    // sufficient statistics partial-aggregate map-side before the
    // single-row reduction
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg:\n$plan")
    // NO unpartitioned window anywhere (the r13 verdict's scale
    // defect): a Window node prints [exprs], [partitionSpec],
    // [orderSpec] — an unpartitioned one drops the middle group and
    // would rank the whole 10^8-row vocabulary on one task at 100 TB
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toList
    assert(winLines.nonEmpty, s"expected the within-bucket prefix window:\n$plan")
    assert(winLines.forall(l => "\\], \\[".r.findAllIn(l).size >= 2),
      s"unpartitioned window in the zipfSlope plan: $winLines")
  }

  test("ivfPqTopK: full vectors never re-enter past the scan; candidate join keys on the cell id") {
    val out = Similarity.ivfPqTopK(
      Tables.embeddings(spark, sfDir), col("vec_id") < 4, nProbe = 2)
    val plan = formatted(out)
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // the probed-candidate stream carries (cid, codes) — the only
    // corpus exchange partitions on the cell id, never on q
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.forall(p => !p.contains("q#") && !p.contains("embedding#")),
      s"a shuffle carries vector payload: $parts")
  }

  test("sourceTvd: pair list broadcasts (nested-loop, never cartesian); token text stays out of later shuffles") {
    val out = graft.operators.TextOps.sourceTvd(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    // the OR-condition pair join must be the broadcast nested loop
    // (tiny pair list), not a cartesian product over the counts
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pair attach should be a broadcast nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
    // the only full-text shuffle is the initial (source, tok) count;
    // everything after carries counts + source names
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty, s"expected hash exchanges:\n$plan")
    assert(parts.forall(p => !p.contains("text#")),
      s"a shuffle carries raw document text: $parts")
  }

  test("pmiTopK: top-k is partial (TakeOrderedAndProject), bigram generator stays narrow") {
    val out = graft.operators.TextOps.pmiTopK(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must plan as TakeOrderedAndProject, not a full sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"vocabulary-sized count attaches should hash/broadcast join at this scale:\n$plan")
  }

  test("rollingAnomaly: exactly one exchange (the user window), no payload columns") {
    val out = graft.operators.EventOps.rollingAnomaly(Tables.events(spark, sfDir))
    val plan = formatted(out)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"rolling window should shuffle once on user_id:\n$plan")
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.forall(p => !p.contains("props#")),
      s"the window shuffle carries the event props payload: $parts")
  }

  test("cmsJoinSize: grids join on (seed, bucket); the 1-row estimate broadcasts back") {
    val ev = Tables.events(spark, sfDir)
    val out = graft.operators.TextOps.cmsJoinSize(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"), "user_id")
    val plan = formatted(out)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the single-row estimate must broadcast into the output join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
  }

  test("vocabGrowth: bucket partials keep every window partition bounded") {
    val out = graft.operators.TextOps.vocabGrowth(
      Tables.documents(spark, sfDir), bucketSize = 64)
    val plan = formatted(out)
    // the in-bucket residual window must partition by (source, bkt) —
    // a source-only window is the single-task skew cliff the two-phase
    // shape exists to avoid
    assert("Window .*windowspecdefinition\\(source#\\d+, bkt#".r
      .findFirstIn(plan).isDefined ||
      plan.contains("windowspecdefinition(source"),
      s"expected the residual window keyed by (source, bkt):\n$plan")
    val winSpecs = "windowspecdefinition\\(([^,]+, [^,]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(winSpecs.exists(_.contains("bkt#")),
      s"no window keyed on the bucket column — single-task skew risk: $winSpecs\n$plan")
  }

  test("kmvOverlap: pair algebra broadcasts sketch rows; no cartesian; text never shuffles") {
    val out = graft.operators.TextOps.kmvOverlap(Tables.documents(spark, sfDir))
    val plan = formatted(out)
    // the src_a < src_b sketch pairing is s rows × s rows — it must be
    // the broadcast nested loop over the tiny sketch frame
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"sketch pair grid should be a broadcast nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty && parts.forall(p => !p.contains("text#") && !p.contains("tok#")),
      s"a shuffle carries raw text/tokens (hash at the scan instead): $parts")
  }

  test("nbSourceClassify: candidate grid is a broadcast nested loop; shuffles carry hashes, not text") {
    val out = graft.operators.TextOps.nbSourceClassify(
      Tables.documents(spark, sfDir), trainPermille = 500)
    val plan = formatted(out)
    // test-doc × candidate-source expansion: s sources broadcast, never
    // a shuffle or cartesian over the instance stream
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"candidate expansion should be a broadcast nested-loop join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
    // the count-table probe and per-doc aggregation key on 8-byte
    // hashes and doc ids — document text must never ride an exchange
    val parts = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(parts.nonEmpty && parts.forall(p => !p.contains("text#") && !p.contains("tok#")),
      s"a shuffle carries raw text/tokens (hash at the scan instead): $parts")
  }

  test("gopherRules is a narrow projection (no exchange, no UDF)") {
    val g = graft.operators.TextOps.gopherRules(Tables.documents(spark, sfDir))
    val plan = formatted(g)
    assert(!plan.contains("Exchange"), s"gopherRules must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"gopherRules must stay codegen built-ins:\n$plan")
  }

  test("sq8 encode is a narrow projection over literal bounds (no join, no shuffle)") {
    // the bounds aggregate runs as its own bounded job at CONSTRUCTION;
    // the returned encode plan must be join- and exchange-free — codes
    // derive from two dim-length literal arrays in the scan projection
    val codes = Similarity.sq8Encode(Tables.embeddings(spark, sfDir))
    val plan = formatted(codes)
    assert(!plan.contains("Exchange"), s"sq8 encode must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"sq8 encode must not join:\n$plan")
  }

  test("sq8 top-k broadcasts the query side and gets the partial window group limit") {
    val topk = Similarity.sq8TopK(
      Tables.embeddings(spark, sfDir), col("vec_id") < 8)
    val plan = formatted(topk)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"sq8 top-k must broadcast the query set:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"sq8 top-k should get the partial window group limit:\n$plan")
  }

  test("pplBuckets: the only single-partition exchange feeds the histogram, never the corpus") {
    val b = graft.operators.TextOps.pplBuckets(Tables.documents(spark, sfDir))
    val plan = formatted(b)
    // SinglePartition exchanges are legal ONLY on the score-histogram
    // branch (bounded by distinct score values); the corpus-sized
    // branches must shuffle on hash keys. The histogram aggregate
    // keys on the score value, so a single-partition exchange whose
    // input carries doc_id would mean the corpus is being globally
    // sorted — the exact plan pplBuckets exists to avoid.
    val single = "Exchange SinglePartition[^\\n]*\\n([^\\n]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(single.forall(l => !l.contains("doc_id#")),
      s"a single-partition exchange carries per-document rows:\n$single")
  }

  test("c4Rules is a pure narrow projection (no exchange, no UDF)") {
    val c = graft.operators.TextOps.c4Rules(Tables.documents(spark, sfDir))
    val plan = formatted(c)
    assert(!plan.contains("Exchange"), s"c4Rules must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"c4Rules must stay codegen built-ins:\n$plan")
  }

  test("bqTopK: Hamming exchanges never carry the raw quantized vectors") {
    val b = Similarity.bqTopK(
      Tables.embeddings(spark, sfDir), col("vec_id") < 4, k = 3, rerankK = 6)
    val plan = formatted(b)
    assert(plan.contains("WindowGroupLimit"),
      s"bq candidate stage should get the partial window group limit:\n$plan")
    // the candidate-side hash exchanges (partitioned by query_id for
    // the shortlist window) must ship (query_id, neighbor_id, ham) —
    // a raw q/bits array payload there means the bit index isn't
    // doing its job
    val hamExchanges = "Exchange hashpartitioning\\(query_id[^\\n]*\\n([^\\n]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(hamExchanges.nonEmpty, s"expected query_id exchanges:\n$plan")
    assert(hamExchanges.forall(l => !l.contains("q#") && !l.contains("bits#")),
      s"a per-query exchange carries vector payload:\n$hamExchanges")
  }

  test("walkContexts: pairing join exchanges hash on walk_id, no range sort") {
    // the in-loop windows of randomWalks/node2vec/sageSample sit
    // behind checkpoint cuts (their plans execute at construction and
    // are invisible in the final frame), but walkContexts' pairing
    // join runs AFTER its cut and its plan is inspectable: the
    // self-join must ride hashpartitioning(walk_id) — a range
    // exchange would mean the pair generator globally sorts the walk
    // corpus
    import spark.implicits._
    val walks = Seq(("w1", 0L, "a"), ("w1", 1L, "b"), ("w2", 0L, "c"))
      .toDF("walk_id", "step", "person_id")
    val plan = formatted(GraphOps.walkContexts(walks, window = 2))
    assert(!plan.contains("rangepartitioning"),
      s"walkContexts planned a global range sort:\n$plan")
    // tiny corpora broadcast the pair side (strictly better); larger
    // ones hash-exchange on walk_id — both are equi-join shapes
    assert(plan.contains("hashpartitioning(walk_id") ||
      plan.contains("BroadcastHashJoin [walk_id"),
      s"expected a walk_id equi-join:\n$plan")
  }

  test("sgnsTrain: epoch exchanges key on LongType — string shuffles don't grow with epochs") {
    // sgnsTrain's per-epoch frames execute eagerly behind checkpoint
    // cuts, so the final frame's plan can't be inspected for them —
    // capture EVERY executed plan with a QueryExecutionListener
    // instead. Invariant under test: the string-keyed exchanges are
    // the constant pre-loop vocab build (ids are hashed to 8-byte
    // keys before the example groupBy), so their count must NOT grow
    // with the epoch count, while long-keyed exchanges do.
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._

    def measure(epochs: Int, sentinel: Long): (Int, Int) = {
      val plans = new ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // plain trees
      spark.listenerManager.register(listener)
      try {
        val pairs = Seq(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 1L),
          ("c", "b", 1L)).toDF("center", "context", "offset")
        GraphOps.sgnsTrain(pairs, dim = 2, epochs = epochs, negBuckets = 2)
        // the execution-listener bus is async: run a marker action and
        // wait until its plan (FIFO-last) lands in the capture queue
        spark.range(sentinel, sentinel + 1).collect()
        val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
        while (!plans.asScala.exists(_.toString.contains(sentinel.toString)) &&
            System.nanoTime < deadline) Thread.sleep(25)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      val hps = plans.asScala.toList.flatMap(p =>
        p.collect { case e: ShuffleExchangeExec => e.outputPartitioning })
        .collect { case h: HashPartitioning => h }
      (hps.count(_.expressions.exists(_.dataType == StringType)),
        hps.count(_.expressions.forall(_.dataType != StringType)))
    }

    val (s1, l1) = measure(1, 987654301L)
    val (s3, l3) = measure(3, 987654303L)
    assert(s3 === s1,
      s"string-keyed exchanges grew with epochs ($s1 -> $s3): the epoch loop is shuffling text ids")
    assert(l3 > l1,
      s"expected long-keyed exchanges to grow with epochs (got $l1 -> $l3) — capture broken?")
  }

  test("randomWalks: frontier broadcasts — shuffle count constant in walk length") {
    // each step's frontier ⋈ adjacency join must broadcast the (small)
    // frontier so the ranked adjacency streams map-side: shuffles are
    // the constant pre-loop build (edge cut, adjacency window, starts
    // distinct, the auto-resolve count), NOT one edge-sized exchange
    // per step — the cost that made the sf10 walk chain track
    // shuffle-spill throughput instead of data size (PERF_r18 §3c).
    // Step frames execute eagerly behind checkpoint cuts, so capture
    // every executed plan via a QueryExecutionListener (the sgnsTrain
    // gate's machinery).
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._

    def measure(walkLen: Int, sentinel: Long): (Int, Int) = {
      val plans = new ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.listenerManager.register(listener)
      try {
        val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
          .toDF("src", "dst")
        GraphOps.randomWalks(e, lit(true), walkLen, walksPerVertex = 2)
        spark.range(sentinel, sentinel + 1).collect()
        val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
        while (!plans.asScala.exists(_.toString.contains(sentinel.toString)) &&
            System.nanoTime < deadline) Thread.sleep(25)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      val ps = plans.asScala.toList
      (ps.map(p => p.collect { case e: ShuffleExchangeExec => e }.size).sum,
        ps.map(p => p.collect { case b: BroadcastHashJoinExec => b }.size).sum)
    }

    val (sh1, bc1) = measure(1, 987654401L)
    val (sh3, bc3) = measure(3, 987654403L)
    assert(sh3 === sh1,
      s"shuffle count grew with walk length ($sh1 -> $sh3): a step join is shuffling the adjacency")
    assert(bc3 > bc1,
      s"expected broadcast step joins to grow with walk length (got $bc1 -> $bc3) — capture broken?")
  }

  test("gopherRepetition: gram exchanges ship hashes, never token text") {
    val g = graft.operators.TextOps.gopherRepetition(
      Tables.documents(spark, sfDir))
    val plan = formatted(g)
    // every hash exchange keys on (doc_id, n, h) or (doc_id, p/pos) —
    // long columns only; the token arrays stay in the scan stage
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(e => !e.contains("toks#") && !e.contains("text#")),
      s"a gram exchange carries token text:\n$exchanges")
  }
}
