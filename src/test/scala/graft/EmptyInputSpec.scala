package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.model.{Edge, RelationshipDoc}
import graft.operators._

/** Degenerate-input robustness: every operator must return an EMPTY
  * result (not throw, not NaN, not null rows) on empty inputs — at
  * 100 TB some partition, some day, will be empty.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyEdges: DataFrame = Seq.empty[Edge].toDF()

  test("graph operators on empty inputs") {
    val docs = Seq.empty[RelationshipDoc].toDF()
    assert(GraphOps.edgesFromDocs(docs).count() === 0)
    assert(GraphOps.mergeMaxEdges(emptyEdges).count() === 0)
    assert(GraphOps.distinctPersons(emptyEdges).count() === 0)
    assert(GraphOps.kHop(emptyEdges, Seq("A").toDF("person_id"), 2).count() === 0)
    assert(GraphOps.personalizedPageRank(
      Seq.empty[(String, String)].toDF("src", "dst"),
      Seq("A").toDF("person_id"), 2).count() === 0)
    // empty SEED set: every vertex exists but carries zero mass
    assert(rowSet(GraphOps.personalizedPageRank(
      Seq(("a", "b")).toDF("src", "dst"),
      Seq.empty[String].toDF("person_id"), 2)) ===
      Set(Seq("a", 0L), Seq("b", 0L)))
    assert(GraphOps.markTroveUsers(
      Seq.empty[(String)].toDF("person_id"),
      Seq.empty[String].toDF("person_id_user")).count() === 0)
    assert(GraphOps.triangleCounts(
      Seq.empty[(String, String)].toDF("person_a", "person_b")).count() === 0)
    // ANF on an empty graph: one row per radius, exact 0, gate TRUE
    // (0-vs-0 certifies trivially — never NULL, never NaN)
    assert(rowSet(GraphOps.neighborhoodFunctionAudited(
      Seq.empty[(String, String)].toDF("person_a", "person_b"), maxT = 2)) ===
      Set(Seq(0L, 0L, true), Seq(1L, 0L, true), Seq(2L, 0L, true)))
    assert(GraphOps.clusteringCoefficients(
      Seq.empty[(String, String)].toDF("person_a", "person_b")).count() === 0)
    // assortativity on nothing: single (0, 0) row by the guard
    assert(rowSet(GraphOps.degreeAssortativity(
      Seq.empty[(String, String)].toDF("person_a", "person_b"))) ===
      Set(Seq(0L, 0L)))
    assert(GraphOps.coOccurrenceJaccard(
      Seq.empty[(String, String)].toDF("src", "dst"), 5, 1).count() === 0)
    assert(GraphOps.coOccurrenceAdamicAdar(
      Seq.empty[(String, String)].toDF("src", "dst"), 5, 1).count() === 0)
    assert(GraphOps.labelPropagation(
      Seq.empty[(String, String)].toDF("person_a", "person_b"), 2).count() === 0)
    // louvain on nothing: empty at every level (the contraction and
    // the 1-row tot_w aggregate both tolerate the empty graph)
    assert(GraphOps.louvain(
      Seq.empty[(String, String)].toDF("person_a", "person_b"), 2, 2).count() === 0)
    // leiden: the refinement CC loop converges immediately on nothing
    assert(GraphOps.leiden(
      Seq.empty[(String, String)].toDF("person_a", "person_b"), 2, 2).count() === 0)
    // kTruss: empty graph peels to nothing at any k
    assert(GraphOps.kTruss(
      Seq.empty[(String, String)].toDF("person_a", "person_b"), 4).count() === 0)
    assert(GraphOps.harmonicCentrality2(
      Seq.empty[(String, String)].toDF("person_a", "person_b")).count() === 0)
    // modularity on nothing: single (0, 0, 0) row by the m > 0 guard
    assert(rowSet(GraphOps.modularity(
      Seq.empty[(String, String)].toDF("person_a", "person_b"),
      Seq.empty[(String, String)].toDF("person_id", "community"))) ===
      Set(Seq(0L, 0L, 0L)))
  }

  test("dedup operators on empty inputs") {
    assert(Dedup.exactDedup(emptyDocs).count() === 0)
    assert(Dedup.shingles(emptyDocs, 3).count() === 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs).count() === 0)
    assert(Dedup.containmentPairs(emptyDocs).count() === 0)
    assert(Dedup.minhashSignatures(Dedup.shingles(emptyDocs, 3)).count() === 0)
    assert(Dedup.simhashSignatures(emptyDocs).count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
      Seq.empty[Long].toDF("doc_id")).count() === 0)
    assert(Dedup.largeSmallStarComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"),
      Seq.empty[Long].toDF("doc_id")).count() === 0)
    assert(Dedup.exactSpanCoverage(emptyDocs).count() === 0)
    assert(Dedup.exactSpanScrub(emptyDocs).count() === 0)
  }

  test("whitespace-only and tiny documents produce no shingles, no crash") {
    val docs = Seq((1L, ""), (2L, "   \t\n  "), (3L, "one"), (4L, "one two")).toDF("doc_id", "text")
    assert(Dedup.shingles(docs, 3).count() === 0)
    assert(Dedup.simhashSignatures(docs).count() === 2) // docs 3 and 4 have tokens
    // fingerprint defined for ALL docs, including empty text
    assert(TextOps.fingerprint(docs, hash = Hashing.Portable).count() === 4)
  }

  test("similarity and text operators on empty inputs") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosineTopK(emptyEmb, col("vec_id") < 8, 5).count() === 0)
    assert(Similarity.cosineNearDupPairs(emptyEmb, 400000L).count() === 0)
    assert(Similarity.ivfTopK(emptyEmb, col("vec_id") < 8, 4, 2, 5).count() === 0)
    assert(Similarity.mmrRerank(emptyEmb, col("vec_id") < 8).count() === 0)
    assert(Similarity.kCenterSelect(emptyEmb, 3).count() === 0)
    assert(Similarity.ivfPqTopK(emptyEmb, col("vec_id") < 8).count() === 0)
    assert(TextOps.tokenCounts(emptyDocs).count() === 0)
    assert(TextOps.langId(emptyDocs).count() === 0)
    assert(TextOps.hashSplit(emptyDocs, 800, 100).count() === 0)
  }

  test("round-13 paths on empty and degenerate inputs") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val oneEmb = Seq(1L -> Array(1.0f, 2.0f)).toDF("vec_id", "embedding")
    // incremental embedding near-dup: empty batch, empty corpus, and
    // both-empty all pass through the band join + verification
    assert(Similarity.incrementalNearDupPairs(
      emptyEmb, oneEmb, Similarity.bandTable(oneEmb), 400000L).count() === 0)
    assert(Similarity.incrementalNearDupPairs(
      oneEmb, emptyEmb, Similarity.bandTable(emptyEmb), 400000L).count() === 0)
    assert(Similarity.incrementalNearDupPairs(
      emptyEmb, emptyEmb, Similarity.bandTable(emptyEmb), 400000L).count() === 0)
    // wordpiece: empty corpus and empty vocabulary (every word [UNK])
    val vocab = Seq("a", "##b").toDF("piece")
    assert(TextOps.wordpieceSegment(emptyDocs, vocab).count() === 0)
    assert(rowSet(TextOps.wordpieceSegment(
      Seq(1L -> "ab").toDF("doc_id", "text"),
      Seq.empty[String].toDF("piece"))) === Set(Seq("ab", 1L, 1L, "[UNK]")))
    // unigram: empty corpus and empty vocabulary (every word unreachable)
    assert(TextOps.unigramSegment(emptyDocs,
      Seq(("a", 1L)).toDF("piece", "cost_bits")).count() === 0)
    assert(rowSet(TextOps.unigramSegment(
      Seq(1L -> "ab").toDF("doc_id", "text"),
      Seq.empty[(String, Long)].toDF("piece", "cost_bits"))) ===
      Set(Seq("ab", 1L, false, null, null)))
    // contamination's shuffle path on empty probes stays empty
    shuffled {
      assert(Dedup.contamination(
        Seq(1L -> "a b c d").toDF("doc_id", "text"), emptyDocs).count() === 0)
      assert(Dedup.exactSpanContamination(
        Seq(1L -> "a b c d").toDF("doc_id", "text"), emptyDocs, k = 3).count() === 0)
    }
    // salted exact-span on an empty corpus
    assert(Dedup.exactSpanCoverage(emptyDocs, k = 3, saltFactor = 8).count() === 0)
  }

  test("round-8 paths on empty and degenerate inputs") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // occupancy-capped blocked near-dup: the sizes aggregate, sub-split,
    // and exact-dup star floor must all pass through empty frames
    assert(Similarity.cosineNearDupPairs(emptyEmb, 400000L,
      blocked = true, maxBucketSize = Some(2)).count() === 0)
    // a single vector: no pair can exist under any cap
    val one = Seq(1L -> Array(1.0f, 2.0f)).toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDupPairs(one, 400000L,
      blocked = true, maxBucketSize = Some(1)).count() === 0)
    // bm25MultiQuery's shuffle path on empty docs and on empty queries
    val q = Seq(1L -> "term").toDF("query_id", "term")
    shuffled {
      assert(TextOps.bm25MultiQuery(emptyDocs, q, 5).count() === 0)
      assert(TextOps.bm25MultiQuery(
        Seq((1L, "some text")).toDF("doc_id", "text"),
        Seq.empty[(Long, String)].toDF("query_id", "term"), 5).count() === 0)
    }
    // simhashPairs' width observation on an empty signature frame (max
    // over zero rows is null -> no warning, no crash)
    assert(Dedup.simhashPairs(
      Seq.empty[(Long, Long)].toDF("doc_id", "simhash")).count() === 0)
    // capped path: empty sizes frame + empty star floor, still empty
    assert(Dedup.simhashPairs(
      Seq.empty[(Long, Long)].toDF("doc_id", "simhash"),
      maxBucketSize = Some(2)).count() === 0)
    // knnGraph: empty corpus, single vector (no candidate pairs), and
    // an all-zero-norm corpus (every vector excluded) all yield empty
    assert(Similarity.knnGraph(emptyEmb, k = 3).count() === 0)
    assert(Similarity.knnGraph(one, k = 3).count() === 0)
    assert(Similarity.knnGraph(
      Seq(1L -> Array(0.0f, 0.0f), 2L -> Array(0.0f, 0.0f))
        .toDF("vec_id", "embedding"), k = 3).count() === 0)
    // nnDescentRefine: an empty seed graph stays empty through the
    // descent round (und/hop/cand2 all empty)
    assert(Similarity.nnDescentRefine(emptyEmb, k = 3).count() === 0)
    assert(Similarity.nnDescentRefine(one, k = 3, rounds = 2).count() === 0)
    // residual IVF-PQ: empty corpus (no centroids), a single vector
    // (no non-self candidates), and an all-zero-norm corpus (no cell
    // assignment) all yield empty
    assert(Similarity.ivfPqResidualTopK(emptyEmb, lit(true)).count() === 0)
    assert(Similarity.ivfPqResidualTopK(one, lit(true)).count() === 0)
    assert(Similarity.ivfPqResidualTopK(
      Seq(1L -> Array(0.0f, 0.0f), 2L -> Array(0.0f, 0.0f))
        .toDF("vec_id", "embedding"), lit(true)).count() === 0)
    // PQ: empty corpus -> empty codebooks -> empty outputs (guarded
    // before the element_at lookup, which would throw on code -1);
    // a single-vector corpus encodes but has no non-self neighbors
    assert(Similarity.pqEncode(emptyEmb).count() === 0)
    assert(Similarity.pqTopK(emptyEmb, col("vec_id") >= 0).count() === 0)
    assert(Similarity.pqEncode(one).count() === 4)
    assert(Similarity.pqTopK(one, col("vec_id") >= 0).count() === 0)
    // bigramLmScore: empty corpus -> empty; sub-bigram docs score 0s
    // with keep = false (left join + coalesce path)
    assert(TextOps.bigramLmScore(emptyDocs).count() === 0)
    assert(rowSet(TextOps.bigramLmScore(
      Seq(1L -> "solo", 2L -> "", 3L -> "   ").toDF("doc_id", "text"))) === Set(
      Seq(1L, 0L, 0L, 0L, false),
      Seq(2L, 0L, 0L, 0L, false),
      Seq(3L, 0L, 0L, 0L, false)))
    // dsirWeights: empty corpus -> empty (model collect sees 0 rows);
    // sub-bigram docs carry no evidence -> weight 0, n_feats 0
    assert(TextOps.dsirWeights(emptyDocs, lit(true)).count() === 0)
    assert(TextOps.dsirSample(emptyDocs, lit(true), 5).count() === 0)
    assert(rowSet(TextOps.dsirWeights(
      Seq(1L -> "solo", 2L -> "").toDF("doc_id", "text"), lit(true))) === Set(
      Seq(1L, true, 0L, 0L),
      Seq(2L, true, 0L, 0L)))
    // shardShuffle: empty -> empty; one doc -> shard = pos mod n, #1
    assert(TextOps.shardShuffle(emptyDocs, 8).count() === 0)
    val oneShard = TextOps.shardShuffle(
      Seq(7L -> "x").toDF("doc_id", "text"), 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(oneShard.length === 1)
    assert(oneShard.head._3 === oneShard.head._2 % 8 && oneShard.head._4 === 1L)
    // matryoshkaTopK: empty corpus -> empty
    val emptyEmb2 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity.matryoshkaTopK(
      emptyEmb2, col("vec_id") < 8, 5, 16).count() === 0)
  }

  test("round-3 operators on empty and degenerate inputs") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(TextOps.domainQuota(emptySrc, "source", 5).count() === 0)
    assert(TextOps.vocabTopK(emptyDocs).count() === 0)
    assert(TextOps.charChunks(emptyDocs).count() === 0)
    assert(TextOps.tfidfTopK(emptyDocs).count() === 0)
    assert(Dedup.dupSpanStats(emptyDocs).count() === 0)
    assert(Dedup.incrementalNew(emptyDocs, emptyDocs).count() === 0)
    assert(Similarity.quantizeInt8(emptyEmb).count() === 0)
    // empty text chunks to nothing (offset generator guard), not a crash
    val blank = Seq((1L, "")).toDF("doc_id", "text")
    assert(TextOps.charChunks(blank).count() === 0)
    // batch with empty corpus keeps everything (dedup within batch only)
    val batch = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "text")
    assert(Dedup.incrementalNew(batch, emptyDocs).count() === 1)
  }

  test("round-4 operators on empty and degenerate inputs") {
    val emptyKeyed = Seq.empty[(Long, String)].toDF("k", "p")
    // bloom joins: empty build side -> empty semi, full anti
    val big = Seq((1L, "x"), (2L, "y")).toDF("k", "p")
    assert(BloomJoin.bloomSemiJoin(big, emptyKeyed, "k").count() === 0)
    assert(BloomJoin.bloomAntiJoin(big, emptyKeyed, "k").count() === 2)
    assert(BloomJoin.bloomSemiJoin(emptyKeyed, big, "k").count() === 0)
    // weighted sample / compaction / perceptual hash on empty frames
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(TextOps.weightedSample(emptySrc, length(col("text")).cast("long")).count() === 0)
    assert(Layout.compactionPlan(
      Seq.empty[(String, String, Long)].toDF("d", "f", "sz"), "d", "f", "sz", 100L)
      .count() === 0)
    assert(Multimodal.perceptualHash(emptyDocs).count() === 0)
    assert(Multimodal.audioFingerprint(
      Multimodal.withPayload(emptyDocs)).count() === 0)
    // k-core on empty edges / all-self-loops — both round modes
    assert(GraphOps.kCorePeel(emptyEdges, 2, 2).count() === 0)
    assert(GraphOps.kCorePeel(emptyEdges, 2, -1).count() === 0)
    assert(GraphOps.kCorePeel(
      Seq(graft.model.Edge("A", "A", 1)).toDF(), 1, 2).count() === 0)
    assert(GraphOps.kCorePeel(
      Seq(graft.model.Edge("A", "A", 1)).toDF(), 1, -1).count() === 0)
    // query-set BM25: empty corpus and no-match query set both yield
    // empty (never zero-score padding); per-query RRF over empty sides
    val someQ = Seq(1L -> "word").toDF("query_id", "term")
    assert(TextOps.bm25MultiQuery(emptySrc, someQ, 5).count() === 0)
    assert(TextOps.bm25MultiQuery(
      Seq((1L, "s0", "other tokens only")).toDF("doc_id", "source", "text"),
      Seq(1L -> "absent").toDF("query_id", "term"), 5).count() === 0)
    val emptyRank = Seq.empty[(Long, Long, Long)].toDF("query_id", "id", "rank")
    val someRank = Seq((1L, 10L, 1L)).toDF("query_id", "id", "rank")
    assert(Similarity.rrfFuseByQuery(emptyRank, emptyRank, 3).count() === 0)
    // one empty side degrades to the other list's ranking
    assert(Similarity.rrfFuseByQuery(someRank, emptyRank, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      === Seq((1L, 10L, 16393L, 1L)))
    // semantic dedup on empty corpus
    assert(Similarity.semanticDedup(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), 4, 900000L,
      kmeansIters = 0).count() === 0)
    // incremental near-dup: empty batch, empty corpus
    val emptyBands = Dedup.bandTableOf(Dedup.shingles(emptyDocs, 3), 4, 2)
    assert(Dedup.incrementalNearDupPairs(emptyDocs, emptyDocs, emptyBands).count() === 0)
    val docs = Seq((1L, "some body of text here for shingles")).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDupPairs(docs, emptyDocs, emptyBands).count() === 0)
  }

  test("round-5 operators on empty and degenerate inputs") {
    // bm25: empty corpus -> empty top-k; all-empty texts -> zero scores
    // (the length-norm division by tot_tok=0 is guarded by the tf>0 case)
    assert(TextOps.bm25TopK(emptyDocs, Seq("x"), 5).count() === 0)
    val blank = Seq((1L, ""), (2L, "")).toDF("doc_id", "text")
    val b = TextOps.bm25TopK(blank, Seq("x"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(b.toSet === Set((1L, 0L), (2L, 0L)))
    // prototypicality: empty corpus; all-zero vectors land in cell -1
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.prototypicality(emptyEmb, 4, kmeansIters = 0).count() === 0)
    val zeros = Seq((0L, Array(0.0f)), (1L, Array(0.0f))).toDF("vec_id", "embedding")
    assert(rowSet(Similarity.prototypicality(zeros, 2, kmeansIters = 0))
      === Set(Seq(0L, -1L, 0L, 0L), Seq(1L, -1L, 0L, 0L)))
    // capped semantic dedup on empty corpus
    assert(Similarity.semanticDedup(emptyEmb, 4, 900000L, kmeansIters = 0,
      maxCellSize = Some(2)).count() === 0)
    // RRF: one empty side degrades to the other list's ranking
    val ra = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val rEmpty = Seq.empty[(Long, Long)].toDF("id", "rank")
    assert(Similarity.rrfFuse(ra, rEmpty, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet === Set((1L, 1L), (2L, 2L)))
    assert(Similarity.rrfFuse(rEmpty, rEmpty, 5).count() === 0)
    // mix plan: a targeted source absent from the corpus just drops out
    // (inner join); all-absent -> empty plan
    val srcDocs = Seq((1L, "sA", "w w")).toDF("doc_id", "source", "text")
    assert(TextOps.mixPlan(srcDocs, Seq("sZ" -> 1000)).count() === 0)
    // decayed value and source overlap on empty frames
    val emptyEv = Seq.empty[(Long, String, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    assert(EventOps.decayedValue(emptyEv, 1000L).count() === 0)
    assert(Dedup.sourceOverlap(
      Seq.empty[(String, String)].toDF("source", "text"), 3).count() === 0)
    assert(TextOps.sourceTvd(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"))
      .count() === 0)
    assert(TextOps.temperatureMix(
      Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text"), 100L)
      .count() === 0)
    assert(TextOps.cmsTokenEstimates(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() === 0)
  }

  test("round-11 operators on empty and degenerate inputs") {
    val emptyEv = Seq.empty[(Long, String, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    // windowed funnel: step rows exist (counts 0), matching funnel
    assert(rowSet(EventOps.funnelWindowed(emptyEv, Seq("a", "b"), 1000L)) ===
      Set(Seq(1L, "a", 0L), Seq(2L, "b", 0L)))
    assert(EventOps.rollingAnomaly(emptyEv).count() === 0)
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(TextOps.pmiTopK(emptySrc).count() === 0)
    // single-token docs have no bigrams; unigram side alone yields none
    assert(TextOps.pmiTopK(
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"), minCount = 1).count() === 0)
    assert(TextOps.vocabGrowth(emptySrc).count() === 0)
    // r14 text screens: empty corpus -> no rows; the per-doc
    // degenerate shapes (empty text, no windows) are pinned in
    // TextOpsSpec
    assert(TextOps.htmlStrip(emptySrc).count() === 0)
    assert(TextOps.compressionRatio(emptySrc).count() === 0)
    // r15 bloom: empty corpus builds the all-zero DENSE word table
    // (mergeable identity), and probing it can only say "absent"
    val eb = Dedup.bloomBuild(emptySrc)
    assert(eb.count() === 1024L)
    assert(eb.agg(sum(col("bits"))).head().getLong(0) === 0L)
    assert(Dedup.bloomMightContain(emptySrc, eb).count() === 0)
    // r15 line dedup: empty corpus -> no rows
    assert(Dedup.lineDedup(emptySrc).count() === 0)
    // r15 URL front door: empty corpus -> no rows; empty STRING url
    // parses to the all-empty "not a URL" row (never a crash)
    assert(TextOps.urlParts(
      Seq.empty[(Long, String)].toDF("doc_id", "url")).count() === 0)
    assert(rowSet(TextOps.urlParts(Seq((1L, "")).toDF("doc_id", "url"))) ===
      Set(Seq(1L, "", "", null, "", "", 0L, 0L, "")))
    // empty-text doc still emits its curve row (0 tokens, 0 vocab)
    assert(rowSet(TextOps.vocabGrowth(
      Seq((5L, "sA", "")).toDF("doc_id", "source", "text"))) ===
      Set(Seq("sA", 5L, 0L, 0L, 0L, 0L)))
    // zipf regression over an empty corpus: the 1-row summary carries
    // 0 vocab and NULL sums/slope (never a crash, never NaN)
    assert(rowSet(TextOps.zipfSlope(emptyDocs)) ===
      Set(Seq(0L, null, null, null)))
    // join-size sketch on two empty sides: exact 0, estimate 0, gate holds
    val emptyKeys = Seq.empty[Long].toDF("user_id")
    assert(rowSet(TextOps.cmsJoinSize(emptyKeys, emptyKeys, "user_id")) ===
      Set(Seq(0L, 0L, true)))
    assert(TextOps.kmvDistinct(emptySrc).count() === 0)
    // all-whitespace docs contribute no tokens -> no sketch rows
    assert(TextOps.kmvDistinct(
      Seq((1L, "sA", "   ")).toDF("doc_id", "source", "text")).count() === 0)
    assert(TextOps.bpeMerges(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), steps = 2).count() === 0)
    // single-char words have no pairs: training stops at step 0
    assert(TextOps.bpeMerges(
      Seq((1L, "a b a")).toDF("doc_id", "text"), steps = 2).count() === 0)
    assert(TextOps.hashSampleQuantiles(
      Seq.empty[(String, Long, Long)].toDF("k", "id", "v"),
      "k", "id", "v").count() === 0)
    // all-null values contribute nothing: no group rows at all
    assert(TextOps.hashSampleQuantiles(
      Seq(("a", 1L, null.asInstanceOf[java.lang.Long]))
        .toDF("k", "id", "v"), "k", "id", "v").count() === 0)
    assert(TextOps.kmvOverlap(emptySrc).count() === 0)
    // a single source has no pairs to compare
    assert(TextOps.kmvOverlap(
      Seq((1L, "sA", "x y")).toDF("doc_id", "source", "text")).count() === 0)
    assert(TextOps.nbSourceClassify(emptySrc).count() === 0)
    // corpus so small every doc lands in one split: no test rows
    // (trainPermille=999 -> both docs train), and the degenerate
    // all-test corpus yields rows only if a model exists -> none
    assert(TextOps.nbSourceClassify(
      Seq((1L, "sA", "x y"), (2L, "sB", "z w")).toDF("doc_id", "source", "text"),
      trainPermille = 999).count() === 0)
    assert(TextOps.nbSourceClassify(
      Seq((1L, "sA", "x y"), (2L, "sB", "z w")).toDF("doc_id", "source", "text"),
      trainPermille = 1).count() === 0)
    // the linear twin shares the split/model-existence contract
    assert(TextOps.linearSourceClassify(emptySrc).count() === 0)
    assert(TextOps.linearSourceClassify(
      Seq((1L, "sA", "x y"), (2L, "sB", "z w")).toDF("doc_id", "source", "text"),
      trainPermille = 999).count() === 0)
    assert(TextOps.linearSourceClassify(
      Seq((1L, "sA", "x y"), (2L, "sB", "z w")).toDF("doc_id", "source", "text"),
      trainPermille = 1).count() === 0)
    assert(Similarity.labelCentroidDrift(
      Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label"))
      .count() === 0)
    // a single label has no pairs
    assert(Similarity.labelCentroidDrift(
      Seq((1L, Array(1f, 0f), 7)).toDF("vec_id", "embedding", "label"))
      .count() === 0)
    val emptyRank = Seq.empty[(Long, Long, Long)].toDF("query_id", "id", "rank")
    assert(Similarity.rankAgreement(emptyRank, emptyRank).count() === 0)
    // one-sided emptiness: no common items anywhere -> no rows
    assert(Similarity.rankAgreement(
      Seq((1L, 2L, 1L)).toDF("query_id", "id", "rank"), emptyRank).count() === 0)
  }

  test("as-of join with empty right side keeps all left rows, null payload") {
    val left = Seq((1L, "k", new java.sql.Timestamp(1000))).toDF("id", "k", "lt")
    val right = Seq.empty[(String, java.sql.Timestamp, Long)].toDF("k", "rt", "rid")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "lt", "rt", Seq("rid"), "rid")
    assert(rowSet(out) === Set(Seq(1L, "k", new java.sql.Timestamp(1000), null)))
  }

  test("round-16 operators on empty and degenerate inputs") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // SQ8: empty corpus -> empty codes, empty top-k (no NPE from the
    // bounds collect)
    assert(Similarity.sq8Encode(emptyVecs).count() === 0)
    assert(Similarity.sq8TopK(emptyVecs, col("vec_id") < 8).count() === 0)
    // gopher rules: empty frame and empty-text row
    assert(TextOps.gopherRules(emptyDocs).count() === 0)
    // perplexity terciles: empty corpus -> no rows; no-signal-only
    // corpus -> everything tail
    assert(TextOps.pplBuckets(emptyDocs).count() === 0)
    assert(rowSet(TextOps.pplBuckets(Seq((1L, "one two")).toDF("doc_id", "text"))
      .select(col("doc_id"), col("bucket"))) === Set(Seq(1L, "tail")))
    // unigram trainer: empty corpus -> empty vocab, no throw
    assert(TextOps.unigramTrain(emptyDocs, vocabSize = 4, epochs = 1).count() === 0)
    // SCC: empty edges covered in SccSpec; empty-string vertices valid
    assert(rowSet(GraphOps.sccLabels(
      Seq(("", "x"), ("x", "")).toDF("src", "dst"))) ===
      Set(Seq("", ""), Seq("x", "")))
  }

  test("round-16 third-wave operators on empty and degenerate inputs") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // BQ: empty corpus -> empty codes / empty top-k (no NPE from the
    // threshold collect)
    assert(Similarity.bqEncode(emptyVecs).count() === 0)
    assert(Similarity.bqTopK(emptyVecs, col("vec_id") < 8).count() === 0)
    // HITS: empty edge list -> empty output, no max-of-nothing throw
    assert(GraphOps.hits(emptyEdges.select(col("src"), col("dst")), 2)
      .count() === 0)
    // random walks: empty graph -> no walks; empty start slice -> none
    assert(GraphOps.randomWalks(
      emptyEdges.select(col("src"), col("dst")), lit(true), 3).count() === 0)
    assert(GraphOps.randomWalks(
      Seq(("a", "b")).toDF("src", "dst"), lit(false), 3).count() === 0)
    // c4 rules: empty frame and empty-text row
    assert(TextOps.c4Rules(emptyDocs).count() === 0)
    assert(rowSet(TextOps.c4Rules(Seq((1L, "")).toDF("doc_id", "text"))) ===
      Set(Seq(1L, "", 0L, 0L, 0L, false)))
    // walk contexts: empty walk corpus -> no pairs
    assert(GraphOps.walkContexts(
      Seq.empty[(String, Long, String)].toDF("walk_id", "step", "person_id"),
      window = 2).count() === 0)
    // hard negatives: empty corpus and all-docs-as-queries degenerate
    val labeledEmpty =
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(TextOps.hardNegatives(labeledEmpty, lit(true)).count() === 0)
    // gopher repetition: empty frame; sub-n docs emit zero signals
    assert(TextOps.gopherRepetition(emptyDocs).count() === 0)
    // node2vec: empty graph and empty start slice
    assert(GraphOps.node2vecWalks(
      emptyEdges.select(col("src"), col("dst")), lit(true), 3).count() === 0)
    assert(GraphOps.node2vecWalks(
      Seq(("a", "b")).toDF("src", "dst"), lit(false), 3).count() === 0)
    // sage sampling: empty graph / empty seed slice
    assert(GraphOps.sageSample(
      emptyEdges.select(col("src"), col("dst")), lit(true), Seq(2, 2))
      .count() === 0)
    assert(GraphOps.sageSample(
      Seq(("a", "b")).toDF("src", "dst"), lit(false), Seq(2)).count() === 0)
    // semantic negatives: empty corpus
    assert(Similarity.semanticNegatives(
      Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label"),
      col("vec_id") < 8).count() === 0)
  }
}
