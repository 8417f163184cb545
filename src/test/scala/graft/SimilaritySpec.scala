package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("quantize + exact integer dot/norm") {
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(q(0L) === Seq(1000000L, 0L))
    assert(q(1L) === Seq(900000L, 100000L))
    val dot = emb.filter(col("vec_id") === 0).crossJoin(
      emb.filter(col("vec_id") === 1).select(col("embedding").as("e2")))
      .select(Similarity.dotQ(
        Similarity.quantize(col("embedding")),
        Similarity.quantize(col("e2")))).head().getLong(0)
    assert(dot === 1000000L * 900000L)
  }

  test("matryoshkaTopK: prefix truncation reorders; full dims equals cosineTopK") {
    // 3-dim corpus, query = vec 0 = (1,0,0):
    //   full-dim cosines: a=(0.6,0,0.8) -> 0.6; b=(0.7,0.7,0.141) -> ~0.7
    //     => full order (b, a)
    //   2-dim prefix: a'=(0.6,0) -> cos 1.0; b'=(0.7,0.7) -> cos ~0.707
    //     => truncated order (a, b) — the reversal MRL trades for bytes
    val e3 = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.6f, 0.0f, 0.8f)),
      (2L, Array(0.7f, 0.7f, 0.141f))).toDF("vec_id", "embedding")
    def order(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy(col("rank")).select(col("neighbor_id")).as[Long].collect().toSeq
    val full = Similarity.cosineTopK(e3, col("vec_id") === 0, k = 2)
    assert(order(full) === Seq(2L, 1L))
    val trunc = Similarity.matryoshkaTopK(e3, col("vec_id") === 0, k = 2, dims = 2)
    assert(order(trunc) === Seq(1L, 2L))
    // dims >= d: slice is the identity, results are row-identical
    val same = Similarity.matryoshkaTopK(e3, col("vec_id") === 0, k = 2, dims = 3)
    assert(rowSet(same) === rowSet(full))
    val wide = Similarity.matryoshkaTopK(e3, col("vec_id") === 0, k = 2, dims = 99)
    assert(rowSet(wide) === rowSet(full))
  }

  test("brute-force cosine top-k ranks by cosine with id tiebreak") {
    val out = Similarity.cosineTopK(emb, col("vec_id") === 0, k = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    // cos(0,1)=0.9939 > cos(0,2)=0
    assert(out.map(r => (r._1, r._2, r._4)).toSeq === Seq((0L, 1L, 1L), (0L, 2L, 2L)))
  }

  test("MIPS ranks by magnitude-weighted dot where cosine ranks by angle") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),  // query
      (1L, Array(3.0f, 3.0f)),  // large magnitude, 45 degrees off
      (2L, Array(0.9f, 0.0f))   // small magnitude, perfectly aligned
    ).toDF("vec_id", "embedding")
    val mips = Similarity.mipsTopK(emb, col("vec_id") === 0, 2)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    val cos = Similarity.cosineTopK(emb, col("vec_id") === 0, 2)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(mips === Seq(1L, 2L), "inner product favors the large vector")
    assert(cos === Seq(2L, 1L), "cosine favors the aligned vector")
  }

  test("cosine near-dup pairs finds exactly the one pair above 0.99") {
    val out = Similarity.cosineNearDupPairs(emb, cosE6 = 990000L)
    assert(rowSet(out) === Set(Seq(0L, 1L, 900000000000L)))
  }

  test("blocked near-dup is a subset of brute force with identical scores") {
    // the brute crossJoin form is the correctness baseline (spec-only —
    // O(n²), never benched/gated); the LSH-blocked scale path must
    // return a subset of it, agreeing exactly on every emitted pair,
    // and must have perfect recall on identical-vector duplicates
    // (equal vectors always share a bucket)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = rowSet(Similarity.cosineNearDupPairs(emb, 400000L))
    val blocked = rowSet(Similarity.cosineNearDupPairs(emb, 400000L, blocked = true))
    assert(blocked.subsetOf(brute), s"blocked emitted a non-brute pair")
    assert(blocked.nonEmpty)
    // perfect recall on EXACT duplicates: equal vectors share a bucket
    val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val eqPairs = q.as("a").join(q.as("b"),
        col("a.q") === col("b.q") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blockedIds = blocked.map(r => (r(0), r(1)))
    assert(eqPairs.forall(p => blockedIds.contains(p)),
      "identical vectors must never be missed by bucketing")
  }

  test("incremental near-dup equals the full banded run restricted to new-touching pairs") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val isNew = col("vec_id") % 5 === 0
    val corpus = emb.filter(!isNew)
    val incr = rowSet(Similarity.incrementalNearDupPairs(
      emb.filter(isNew), corpus, Similarity.bandTable(corpus), 400000L))
    // band buckets depend only on the vector, so the incremental run
    // must equal the whole-corpus blocked run filtered to pairs
    // touching the new batch — nothing more (no settled corpus pairs
    // recomputed), nothing less (no new-touching pair missed)
    val full = rowSet(Similarity.cosineNearDupPairs(emb, 400000L, blocked = true))
      .filter(r => r(0).asInstanceOf[Long] % 5 == 0 || r(1).asInstanceOf[Long] % 5 == 0)
    assert(incr === full)
    assert(incr.nonEmpty, "fixture should contain new-touching near-dups")
    // an empty new batch proposes nothing
    assert(Similarity.incrementalNearDupPairs(
      emb.filter(lit(false)), corpus, Similarity.bandTable(corpus), 400000L).count() === 0L)
  }

  test("capped blocked near-dup: subset law, exact-dup star floor, no-op at large cap") {
    // the sf0.001 corpus has no exact-duplicate vectors — plant five
    // (copies of vec 0..4 under fresh ids) so the star floor has
    // something to prove
    val emb0 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val emb = emb0.unionByName(emb0.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 10000L))
    val uncapped = rowSet(Similarity.cosineNearDupPairs(emb, 400000L, blocked = true))
    // a cap larger than the corpus leaves every sub-bucket whole — the
    // only extra candidates are the star-floor pairs, whose cos=1
    // members the uncapped bands already emit, so output is identical
    val wide = rowSet(Similarity.cosineNearDupPairs(emb, 400000L,
      blocked = true, maxBucketSize = Some(1000000)))
    assert(wide === uncapped)
    // a binding cap may only LOSE near-pairs (bounded recall trade),
    // never invent one the banding didn't propose
    val tight = rowSet(Similarity.cosineNearDupPairs(emb, 400000L,
      blocked = true, maxBucketSize = Some(2)))
    assert(tight.subsetOf(uncapped))
    assert(tight.nonEmpty)
    // the floor the cap must never break: every identical-vector pair
    // connects to its group representative even when the id-hash
    // sub-split scatters the group across sub-buckets
    val tightIds = tight.map(r => (r(0), r(1)))
    (0L until 5L).foreach { i =>
      assert(tightIds.contains((i, i + 10000L)),
        s"exact dup ${i + 10000L} lost its representative $i under cap=2")
    }
  }

  test("dense fixture: occupancy cap bounds the candidate join output") {
    import spark.implicits._
    // 40 copies of one vector: every band puts all 40 in one bucket, so
    // uncapped candidate generation is quadratic in the bucket (40×40
    // join rows per band). cap=2 splits the bucket into 20 hash-assigned
    // sub-buckets, bounding each block to ~cap² — measured here on the
    // executed plan's join metrics, not inferred from output size.
    val dense = ((0L until 40L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f))) ++
      Seq(100L -> Array(-1.0f, 2.0f, -3.0f, 4.0f),
          101L -> Array(1.0f, -2.0f, 3.0f, -4.0f)))
      .toDF("vec_id", "embedding")
    def equiJoinRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      var total = 0L
      df.queryExecution.executedPlan.foreach {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.nonEmpty =>
          total += j.metrics("numOutputRows").value
        case _ => ()
      }
      total
    }
    // AQE re-wraps the plan and hides leaf metrics behind the adaptive
    // node — disable it so the executed join operators are inspectable
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val uncapped = equiJoinRows(
        Similarity.cosineNearDupPairs(dense, 400000L, blocked = true))
      val capped = Similarity.cosineNearDupPairs(dense, 400000L,
        blocked = true, maxBucketSize = Some(2))
      val cappedRows = equiJoinRows(capped)
      // 4 bands × 40×40 ≈ 6400 uncapped; capped ≈ 4 bands × 40·E[sub
      // occupancy 2] + sizes/star bookkeeping ≈ a few hundred. 4× is a
      // loose, hash-deterministic margin.
      assert(cappedRows * 4 <= uncapped,
        s"cap did not bound candidate generation: capped=$cappedRows uncapped=$uncapped")
      // and the dense group still fully connects to its representative
      val ids = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((1L until 40L).forall(i => ids.contains((0L, i))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("IVF with k-means centroids: exact at full probe, recall@5 floor at probe 4/16") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = rowSet(Similarity.cosineTopK(emb, col("vec_id") < 8, 5))
    // full probe covers every cell -> centroid-independent, must equal brute
    val full = rowSet(Similarity.ivfTopK(emb, col("vec_id") < 8, 16, 16, 5))
    assert(full === brute)
    // restricted probe: deterministic (hash-seeded init, fixed data), so
    // recall is a stable number — gate a floor on real k-means geometry
    val probed = rowSet(Similarity.ivfTopK(emb, col("vec_id") < 8, 16, 4, 5))
    val hit = probed.map(r => (r(0), r(1))).intersect(brute.map(r => (r(0), r(1)))).size
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 with 4/16 probes collapsed to $recall")
  }

  test("semanticDedup: drops exactly the ids with a smaller near neighbor in-cell") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = out.map(_._1).toSet
    assert(kept.subsetOf(all) && kept.nonEmpty)
    // survivors carry a valid cell id; rerun is identical (deterministic
    // hash-seeded k-means, no RNG)
    assert(out.forall(_._2 >= 0L))
    val again = Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.toSet === again)
    // reliable-checkpoint mode (durable assigned-frame cut) is
    // result-identical
    val ckpt = Some(TestSpark.ckptDir)
    val durable = Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 4,
        checkpointDir = ckpt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(durable === out.toSet)
    // independently recompute the pinned drop rule on the output's own
    // cell assignment: b dropped iff exists a<b same cell, cos >= 0.4
    val assignedCells = out.toMap
    val qv = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    // every dropped id must have SOME smaller near neighbor somewhere
    // (cells unknown for dropped ids, so check the weaker direction:
    // no survivor pair within a cell is near-dup with a < b both kept)
    val byCell = out.groupBy(_._2)
    byCell.values.foreach { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val c = cos(qv(ids(i)), qv(ids(j)))
        assert(c < 0.4 + 1e-9,
          s"survivors ${ids(i)},${ids(j)} are near-dups (cos=$c) in one cell")
      }
    }
  }

  test("semanticDedup: zero-norm vectors survive unconditionally with cell -1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid 0
      (1L, Array(0.0f, 1.0f)),   // centroid 1
      (2L, Array(1.0f, 0.001f)), // near-dup of 0, same cell -> dropped
      (3L, Array(0.0f, 0.0f)),   // zero vector
      (4L, Array(0.0f, 0.0f))    // another zero vector: BOTH survive
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, 2, 950000L, kmeansIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(0L) && out.contains(1L) && !out.contains(2L))
    assert(out(3L) === -1L && out(4L) === -1L)
  }

  test("capped semanticDedup: degenerate one-cell corpus stays bounded, keeps one rep") {
    // the fixture the cap exists for: every vector identical -> one
    // k-means cell, where the uncapped all-pairs join is n². The cap
    // sub-splits by the portable vec_id hash (bounding each pair block)
    // and the linear exact-dup pass still collapses the whole group.
    val n = 200
    val rows = (0L until n.toLong).map(i => (i, Array(0.6f, 0.8f))) :+
      ((n.toLong, Array(-1.0f, 0.0f)))
    val emb = rows.toDF("vec_id", "embedding")
    val cap = 8
    val out = Similarity.semanticDedup(emb, 2, 950000L, kmeansIters = 0,
      maxCellSize = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // all 200 identical vectors collapse to the min id despite the
    // id-hash split separating them across sub-cells
    assert(out.keySet === Set(0L, n.toLong), s"survivors: ${out.keySet}")
    // boundedness: recompute the sub-split closed form — no sub-cell's
    // pair block may exceed a small multiple of the cap
    val P = graft.functions.Hashing.P
    val nsub = math.ceil((n + 1).toDouble / cap).toLong
    val sizes = (0L to n.toLong).groupBy(i => ((i % P) * 1103515245L + 12345L) % P % nsub)
      .values.map(_.size)
    assert(sizes.max <= 4 * cap, s"sub-cell blew past the cap: ${sizes.max}")
  }

  test("capped semanticDedup equals uncapped when the cap is not binding") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val unc = rowSet(Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 0))
    // cap far above any cell size -> nsub=1 everywhere; the exact-dup
    // pass only re-drops pairs the cos>=τ join already drops (cos=1)
    val cap = rowSet(Similarity.semanticDedup(emb, 8, 400000L, kmeansIters = 0,
      maxCellSize = Some(1000000)))
    assert(unc === cap)
  }

  test("rrfFuse: both-list ids outrank single-list; exact 1/(60+r) integers") {
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(a, b, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    // 20 appears in both lists: 1000000/62 + 1000000/61 = 16129+16393
    assert(out.head === ((20L, 16129L + 16393L, 1L)))
    // 10: rank-1 single list = 1000000/61 = 16393; 40: 1000000/62 = 16129;
    // 30: 1000000/63 = 15873
    assert(out.map(r => (r._1, r._2)).toSeq ===
      Seq((20L, 32522L), (10L, 16393L), (40L, 16129L), (30L, 15873L)))
    // k truncates
    assert(Similarity.rrfFuse(a, b, 2).count() === 2L)
  }

  test("rrfFuseByQuery: per-query fusion isolated across query ids") {
    val a = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L),
      (2L, 10L, 1L)).toDF("query_id", "id", "rank")
    val b = Seq(
      (1L, 20L, 1L),
      (2L, 30L, 1L)).toDF("query_id", "id", "rank")
    val out = Similarity.rrfFuseByQuery(a, b, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // query 1 ≡ single-query rrfFuse on its slice (20 in both lists wins)
    val q1 = out.filter(_._1 == 1L).sortBy(_._4)
    assert(q1.map(r => (r._2, r._3)).toSeq ===
      Seq((20L, 16129L + 16393L), (10L, 16393L)))
    // query 2: id 10's query-1 ranks must NOT leak in — both its lists
    // rank-1 entries fuse independently, tie broken by id
    val q2 = out.filter(_._1 == 2L).sortBy(_._4)
    assert(q2.map(r => (r._2, r._3)).toSeq ===
      Seq((10L, 16393L), (30L, 16393L)))
    // per-query k truncation
    assert(Similarity.rrfFuseByQuery(a, b, 1).count() === 2L)
  }

  test("prototypicality: in-cell rank by own-centroid cosine, zero-norm pinned") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),    // centroid 0
      (1L, Array(0.0f, 1.0f)),    // centroid 1
      (2L, Array(1.0f, 0.001f)),  // cell 0, very close to centroid
      (3L, Array(0.7f, 0.7f)),    // ties cos to both cents -> cell 0 (lowest cid)
      (4L, Array(0.0f, 0.0f))     // zero vector
    ).toDF("vec_id", "embedding")
    val out = Similarity.prototypicality(emb, 2, kmeansIters = 0)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // centroid 0 is its own best prototype (cos 1, rank 1 by id tiebreak
    // over vec 2's cos≈1); vec 3 is the least typical member of cell 0
    assert(out(0L)._1 === 0L && out(2L)._1 === 0L && out(3L)._1 === 0L)
    assert(out(0L)._3 === 1L && out(2L)._3 === 2L && out(3L)._3 === 3L)
    assert(out(1L) === ((1L, out(1L)._2, 1L)) && out(1L)._2 > 0L)
    assert(out(4L) === ((-1L, 0L, 0L)))
    // k-means path: deterministic rerun, every non-zero vector ranked
    val emb2 = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = rowSet(Similarity.prototypicality(emb2, 4))
    assert(a === rowSet(Similarity.prototypicality(emb2, 4)) && a.nonEmpty)
  }

  test("LSH buckets: identical vectors always share a bucket; probe finds them") {
    val dup = Seq(
      (0L, Array(0.5f, 0.5f)),
      (1L, Array(0.5f, 0.5f)),
      (2L, Array(-0.5f, -0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.lshBucketedNeighbors(dup, col("vec_id") === 0, planes = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(out.map(_._2).contains(1L))
    assert(!out.map(_._2).contains(2L)) // opposite sign vector lands in the complement bucket
  }

  test("int8 quantization: hand-computed stats, saturation, zero-vector guard") {
    val emb = Seq(
      // q = [127, -63, 32]: floor(±x+0.5) rounds halves toward +inf,
      // so -63.5 -> -63 while 31.75 -> 32
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.0f, 0.0f))          // zero vector -> all-zero q, amax_e6 = 0
    ).toDF("vec_id", "embedding")
    assert(rowSet(Similarity.quantizeInt8(emb)) === Set(
      Seq(0L, 3L, 1000000L, 127L - 63L + 32L, 127L + 63L + 32L, 1L),
      Seq(1L, 2L, 0L, 0L, 0L, 0L)))
  }

  test("int8 quantized vector preserves cosine ranking on separated vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = emb.select(col("vec_id"), Similarity.quantizeInt8Vec(col("embedding")).as("qv"))
      .as[(Long, Array[Long])].collect().toMap
    def dot(a: Array[Long], b: Array[Long]) = a.zip(b).map { case (x, y) => x * y }.sum
    // neighbor ranking for query 0: vec 1 (near) above vec 2 (orthogonal)
    assert(dot(q(0L), q(1L)) > dot(q(0L), q(2L)))
  }

  test("ivfPqResidualTopK: full probe + full refine is exactly the cosine top-k") {
    // with every cell probed the candidate set is the whole (non-zero-
    // norm) corpus, and refineK past the corpus size means the exact
    // re-rank sees every candidate — the output must be cosineTopK
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") < 8
    val exact = rowSet(Similarity.cosineTopK(emb, pred, 5))
    val full = rowSet(Similarity.ivfPqResidualTopK(
      emb, pred, nCentroids = 16, nProbe = 16, k = 5, refineK = 100000))
    assert(full === exact)
    // trained tiers preserve the law (training moves the codebooks,
    // not the exactness of the refine)
    val fullTrained = rowSet(Similarity.ivfPqResidualTopK(
      emb, pred, nCentroids = 16, nProbe = 16, k = 5, refineK = 100000,
      kmeansIters = 2, pqIters = 2))
    assert(fullTrained === exact)
  }

  test("ivfPqResidualTopK: recall is monotone in nProbe under the exact refine") {
    // candidate sets nest as nProbe grows and the refine re-ranks
    // exactly, so recall@k against the exact ground truth can only
    // grow — the law the flat ADC variant provably lacks (RECALL.md
    // documents its non-monotone frontier)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 20 === 0
    val truth = Similarity.cosineTopK(emb, pred, 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 2, 4, 8, 16).map { nProbe =>
      val got = Similarity.ivfPqResidualTopK(
        emb, pred, nCentroids = 16, nProbe = nProbe, k = 5, refineK = 100000)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(truth).toDouble / truth.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nProbe: $recalls")
    assert(recalls.last === 1.0, "full probe must reach full recall")
  }

  test("ivfPqResidualTopK dominates flat ivfPqTopK at equal probe budget") {
    // the residual encoding spends the same m·log2(ksub) bits on the
    // much smaller cell-relative residuals, and the refine re-ranks
    // exactly — at the same nProbe the recall must not be worse than
    // the flat variant's (the r13 verdict's quality defect)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") % 20 === 0
    val truth = Similarity.cosineTopK(emb, pred, 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(truth).toDouble / truth.size
    }
    for (nProbe <- Seq(2, 4, 8)) {
      val flat = recall(Similarity.ivfPqTopK(emb, pred, nProbe = nProbe, k = 5))
      val res = recall(Similarity.ivfPqResidualTopK(
        emb, pred, nProbe = nProbe, k = 5, refineK = 25))
      assert(res >= flat, s"residual+refine ($res) < flat ($flat) at nProbe=$nProbe")
    }
  }

  test("public occupancyReport accessor + releaseBandCache one-slot lifecycle") {
    import graft.operators.Dedup
    val hot = (1L to 150L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    Dedup.lastOccupancyReport.set(None)
    Similarity.knnGraph(hot, k = 2).count()
    // the public accessor IS the documented consumer-facing signal
    assert(Dedup.occupancyReport.isDefined &&
      Dedup.occupancyReport.exists(r => r.capped && r.op == "knnGraph"))
    val afterOne = spark.sparkContext.getPersistentRDDs.size
    // one-slot law: a second banded call frees the first band table
    // before caching its own — the RDD census must not grow
    Similarity.knnGraph(hot, k = 2).count()
    assert(spark.sparkContext.getPersistentRDDs.size <= afterOne,
      "repeated banded calls must not accumulate band-table cache entries")
    // release frees the last slot; a second release is a no-op
    val before = spark.sparkContext.getPersistentRDDs.size
    Similarity.releaseBandCache()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after === before - 1, s"expected one freed entry, $before -> $after")
    Similarity.releaseBandCache()
    assert(spark.sparkContext.getPersistentRDDs.size === after)
    // clean probe state for neighbors
    Dedup.lastOccupancyReport.set(None)
  }

  test("embedding banding occupancy guardrail: probe fires hot, reports the active cap, clears cool") {
    import graft.operators.Dedup
    // degenerate hot fixture: 150 identical vectors — every (band,
    // bucket) holds 150 rows, past DefaultBandCap = 128
    val hot = (1L to 150L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    // uncapped opt-out: probe warns it is about to go quadratic
    Dedup.lastOccupancyReport.set(None)
    Similarity.knnGraph(hot, k = 2, maxBucketSize = None).count()
    val r = Dedup.lastOccupancyReport.get()
    assert(r.isDefined, "uncapped probe must fire on the hot fixture")
    assert(!r.get.capped && r.get.op === "knnGraph")
    assert(r.get.maxBucket === 150L && r.get.nHot === 4L &&
      r.get.cap === Similarity.DefaultBandCap)
    // the DEFAULT is now capped: same fixture reports the cap ACTIVE
    Similarity.knnGraph(hot, k = 2).count()
    val c = Dedup.lastOccupancyReport.get()
    assert(c.isDefined && c.get.capped && c.get.maxBucket === 150L &&
      c.get.cap === Similarity.DefaultBandCap)
    // near-dup rides the same generator under its own op name
    Similarity.cosineNearDupPairs(hot, 400000L, blocked = true,
      maxBucketSize = None).count()
    val n = Dedup.lastOccupancyReport.get()
    assert(n.isDefined && !n.get.capped && n.get.op === "cosineNearDupPairs")
    // cool fixture: distinct small corpus, every bucket under the cap
    val cool = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Similarity.knnGraph(cool, k = 2).count()
    assert(Dedup.lastOccupancyReport.get().isEmpty,
      "probe must clear on a hot-bucket-free corpus")
    // default-capped output on the hot fixture is still a correct
    // dedup: all-identical vectors rank each other at cos=1 within
    // their sub-buckets (no pair invented, candidates only)
    val capped = Similarity.knnGraph(hot, k = 2)
    assert(capped.filter(col("rank") === 1L).count() === 150L)
  }

  test("knnGraph exact: full ranking per vector, zero-norm excluded both ways") {
    val embz = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(embz, k = 2, blocked = false)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // zero-norm vec 3 appears neither as source nor as neighbor
    assert(!out.exists(r => r._1 == 3L || r._2 == 3L))
    // every surviving vector gets exactly k = 2 neighbors
    assert(out.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map(0L -> 2, 1L -> 2, 2L -> 2))
    // vec 0: nearest is 1 (cos ≈ .994), then 2 (cos 0); dot_q exact
    val v0 = out.filter(_._1 == 0L).sortBy(_._4)
    assert(v0.map(_._2) === Seq(1L, 2L))
    assert(v0.head._3 === 1000000L * 900000L)
  }

  test("blocked knnGraph: each list is the exact ranking restricted to banded candidates") {
    // the directed-LSH scale path may MISS neighbors (banding recall)
    // but must never invent or reorder them: per source, the blocked
    // list must be a prefix-ordered subsequence of the exact ranking
    // with identical dot_q, and an identical-vector duplicate (which
    // always shares every bucket) must sit at rank 1
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val emb = base.unionByName(
      base.filter(col("vec_id") === 0).select(lit(100000L).as("vec_id"), col("embedding")))
    val exact = Similarity.knnGraph(emb, k = Int.MaxValue, blocked = false)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    val blocked = Similarity.knnGraph(emb, k = 5, blocked = true)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(blocked.nonEmpty)
    blocked.foreach { case (src, lst) =>
      val ex = exact(src)
      // subsequence check: the blocked list appears in exact order
      val it = ex.iterator
      assert(lst.forall(p => it.contains(p)),
        s"source $src: blocked list $lst is not an ordered sub-list of the exact ranking")
    }
    // identical duplicate pair: each is the other's rank-1 neighbor
    assert(blocked(100000L).head._1 === 0L)
    assert(blocked(0L).head._1 === 100000L)
  }

  test("capped knnGraph: wide cap no-op; tight cap only restricts candidate lists") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val uncapped = Similarity.knnGraph(emb, k = 5)
    // a cap larger than the corpus leaves every sub-bucket whole —
    // exact same output (knnGraph has no star floor to add candidates)
    assert(rowSet(Similarity.knnGraph(emb, k = 5, maxBucketSize = Some(1000000)))
      === rowSet(uncapped))
    // a binding cap can only shrink each source's candidate set: no
    // source gains neighbors, and the output stays per-source exact
    val capped = Similarity.knnGraph(emb, k = 5, maxBucketSize = Some(2))
    val cu = uncapped.groupBy(col("vec_id")).agg(count(lit(1)).as("nu"))
    val cc = capped.groupBy(col("vec_id")).agg(count(lit(1)).as("nc"))
    val joined = cc.join(cu, Seq("vec_id"), "left_outer")
      .filter(col("nu").isNull || col("nc") > col("nu"))
    assert(joined.count() === 0, "a capped source list outgrew its uncapped list")
    assert(capped.count() > 0)
  }

  test("nnDescentRefine: rank-wise cosine never degrades, recall only grows") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] = {
      val nq = Similarity.normQ(Similarity.quantize(col("embedding")))
      val norms = emb.select(col("vec_id"), nq.as("n"))
        .as[(Long, Long)].collect().toMap
      df.as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r =>
          (r._2, r._3.toDouble / math.sqrt(norms(r._1).toDouble * norms(r._2).toDouble))).toSeq)
        .toMap
    }
    val seed = lists(Similarity.knnGraph(emb, k = 5))
    val ref1 = lists(Similarity.nnDescentRefine(emb, k = 5, rounds = 1))
    val ref2 = lists(Similarity.nnDescentRefine(emb, k = 5, rounds = 2))
    val exact = lists(Similarity.knnGraph(emb, k = 5, blocked = false))
    // monotone law at every rank position: candidate supersets + exact
    // re-rank mean a round can only improve a list (seed ⊑ r1 ⊑ r2)
    def dominates(hi: Map[Long, Seq[(Long, Double)]],
        lo: Map[Long, Seq[(Long, Double)]]): Unit =
      lo.foreach { case (src, ls) =>
        val hs = hi(src)
        assert(hs.size >= ls.size, s"source $src lost neighbors")
        ls.indices.foreach(i => assert(hs(i)._2 >= ls(i)._2 - 1e-12,
          s"source $src rank ${i + 1}: ${hs(i)} < ${ls(i)}"))
      }
    dominates(ref1, seed)
    dominates(ref2, ref1)
    dominates(exact, ref2)
    // descent genuinely recovers recall the banding seed lost: strictly
    // more (source, neighbor) hits of the exact top-5 than the seed
    def hits(m: Map[Long, Seq[(Long, Double)]]): Int =
      m.map { case (src, ls) =>
        ls.map(_._1).toSet.intersect(exact(src).map(_._1).toSet).size
      }.sum
    assert(hits(ref1) > hits(seed),
      s"descent did not improve recall: seed ${hits(seed)}, round1 ${hits(ref1)}")
    assert(hits(ref2) >= hits(ref1))
    // ρ-sampling: a cap wider than any neighbor list is the identity
    // (the sampled windows keep everything), and a tight cap still
    // dominates the seed — direct neighbors always stay candidates,
    // so the monotonicity law survives sampling
    val wideCap = lists(Similarity.nnDescentRefine(emb, k = 5, rounds = 1,
      sampleK = Some(1000)))
    assert(wideCap === ref1, "sampleK wider than every list must be a no-op")
    val tight = lists(Similarity.nnDescentRefine(emb, k = 5, rounds = 1,
      sampleK = Some(3)))
    dominates(tight, seed)
    dominates(exact, tight)
  }

  test("pqTopK: adist is exactly the squared distance to the code reconstruction") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val m = 4
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().map { case (id, v) => id -> quant(v) }.toMap
    // stand-in codebooks, re-derived independently of the operator
    val cb: Map[(Int, Long), Array[Long]] = {
      val base = vecs.filter(_._1 < 16).toSeq.sortBy(_._1).map(_._2)
      val d = base.head.length / m
      (for (j <- 0 until m; (q, i) <- base.zipWithIndex)
        yield (j, i.toLong) -> q.slice(j * d, j * d + d)).toMap
    }
    val codes = Similarity.pqEncode(emb)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // every code is the true integer-L2 argmin of its slice
    val d = vecs.head._2.length / m
    codes.foreach { case (id, cs) =>
      (0 until m).foreach { j =>
        val sub = vecs(id).slice(j * d, j * d + d)
        def dist(c: Array[Long]): Long =
          c.zip(sub).map { case (x, y) => (x - y) * (x - y) }.sum
        val best = (0L until 16L).minBy(c => (dist(cb(j -> c)), c))
        assert(cs(j) === best, s"vec $id subspace $j")
      }
    }
    // adist(q, x) == ‖q − recon(x)‖² with recon = concat of x's centroids
    val out = Similarity.pqTopK(emb, col("vec_id") < 8, k = 3)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (qid, nid, adist, _) =>
      val recon = (0 until m).flatMap(j => cb(j -> codes(nid)(j))).toArray
      val expect = vecs(qid).zip(recon).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(adist === expect, s"query $qid neighbor $nid")
    }
  }

  test("pqTopK trained codebooks: deterministic and full-k per query") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.pqTopK(emb, col("vec_id") < 4, k = 3, iters = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    val b = Similarity.pqTopK(emb, col("vec_id") < 4, k = 3, iters = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(a === b)
    assert(a.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map(0L -> 3, 1L -> 3, 2L -> 3, 3L -> 3))
    // trained codes stay in range
    val codes = Similarity.pqEncode(emb, iters = 2)
      .as[(Long, Long, Long)].collect()
    assert(codes.forall(c => c._3 >= 0 && c._3 < 16))
  }

  test("nnDescentRefine on a complete seed is a fixpoint of the exact ranking") {
    // when the seed already ranks every candidate (blocked = false),
    // descent cannot find anything new: output ≡ exact knnGraph
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val exact = Similarity.knnGraph(emb, k = 2, blocked = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    val refined = Similarity.nnDescentRefine(emb, k = 2, rounds = 2, blocked = false)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(refined === exact)
  }

  test("rankAgreement: perfect, inverted, partial, and sub-2-common rankings") {
    def frame(rows: (Long, Long, Long)*) =
      rows.toDF("query_id", "id", "rank")
    // q0: identical rankings of 4 items -> all C(4,2)=6 pairs concordant
    // q1: exactly reversed -> all 6 discordant
    // q2: common set {2,3} ordered the same way -> 1 concordant pair
    // q3: a single common item -> no pairs, tau_num 0 (not "agreement")
    val a = frame(
      (0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L), (0L, 13L, 4L),
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (2L, 1L, 1L), (2L, 2L, 2L), (2L, 3L, 3L),
      (3L, 7L, 1L), (3L, 8L, 2L))
    val b = frame(
      (0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L), (0L, 13L, 4L),
      (1L, 10L, 4L), (1L, 11L, 3L), (1L, 12L, 2L), (1L, 13L, 1L),
      (2L, 2L, 1L), (2L, 3L, 2L), (2L, 99L, 3L),
      (3L, 7L, 1L), (3L, 9L, 2L))
    assert(rowSet(Similarity.rankAgreement(a, b)) === Set(
      Seq(0L, 4L, 6L, 6L, 0L, 6L),
      Seq(1L, 4L, 6L, 0L, 6L, -6L),
      Seq(2L, 2L, 1L, 1L, 0L, 1L),
      Seq(3L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("labelCentroidDrift: orthogonal 0, identical 1e6, opposite -1e6, zero-norm guard") {
    val emb = Seq(
      (0L, Array(1f, 0f), 0),  // label 0: two copies of e_x
      (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 1),  // label 1: e_y
      (3L, Array(1f, 0f), 2),  // label 2: e_x
      (4L, Array(-1f, 0f), 3), // label 3: -e_x
      (5L, Array(0f, 0f), 4)   // label 4: zero vector
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidDrift(emb)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      (0L, 1L) -> ((2L, 1L, 0L)),
      (0L, 2L) -> ((2L, 1L, 1000000L)),
      (0L, 3L) -> ((2L, 1L, -1000000L)),
      (0L, 4L) -> ((2L, 1L, 0L)),
      (1L, 2L) -> ((1L, 1L, 0L)),
      (1L, 3L) -> ((1L, 1L, 0L)),
      (1L, 4L) -> ((1L, 1L, 0L)),
      (2L, 3L) -> ((1L, 1L, -1000000L)),
      (2L, 4L) -> ((1L, 1L, 0L)),
      (3L, 4L) -> ((1L, 1L, 0L))))
    // cosine is count-blind: doubling the corpus doubles n but never
    // moves cos_e6 (sum vectors scale, cosine is scale-invariant)
    val doubled = Similarity.labelCentroidDrift(emb.unionAll(emb))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    assert(doubled === got.map { case (k, v) => k -> v._3 })
  }

  test("ivfPqTopK: full probe equals plain ADC; restricted probe keeps exact ADC scores") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // probing every cell makes the candidate set the whole (nonzero-
    // norm) corpus: the two-stage index degenerates to pqTopK exactly
    // (fixture has no zero-norm vectors — the documented carve-out)
    val full = Similarity.ivfPqTopK(emb, col("vec_id") < 8,
      nCentroids = 16, nProbe = 16)
    val adc = Similarity.pqTopK(emb, col("vec_id") < 8)
    assert(rowSet(full) === rowSet(adc))
    // restricted probe: fewer candidates, but every surfaced pair
    // carries the same exact integer ADC distance the unrestricted
    // scorer assigns it (scores are globally comparable — flat PQ)
    val allDists = Similarity.pqTopK(emb, col("vec_id") < 8, k = 1000)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"))
      .as[(Long, Long, Long)].collect()
      .map { case (q, n, d) => (q, n) -> d }.toMap
    val probed = Similarity.ivfPqTopK(emb, col("vec_id") < 8, nProbe = 1)
      .select(col("query_id"), col("neighbor_id"), col("adist_q"))
      .as[(Long, Long, Long)].collect()
    assert(probed.nonEmpty)
    probed.foreach { case (q, n, d) =>
      assert(allDists((q, n)) === d, s"ADC score drifted for ($q, $n)")
    }
  }

  // -- MMR rerank -----------------------------------------------------------

  // query 0 = (1,0,0); candidates 1 and 2 are IDENTICAL (0.96, 0.28, 0)
  // — rel_e6 = 960000, mutual sim 10^6 — and 3 = (0.96, 0, 0.28) has the
  // same relevance but sim(1,3) = 921600 only
  private def mmrEmb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.96f, 0.28f, 0.0f)),
    (2L, Array(0.96f, 0.28f, 0.0f)),
    (3L, Array(0.96f, 0.0f, 0.28f))).toDF("vec_id", "embedding")

  test("mmrRerank defers the duplicate of the first pick") {
    // step 1: all three tie on rel_e6=960000, id tiebreak picks 1;
    // step 2: 700·960000 − 300·921600 (cand 3) beats
    //         700·960000 − 300·1000000 (the duplicate, cand 2);
    // step 3: the duplicate last
    val out = Similarity.mmrRerank(mmrEmb, col("vec_id") === 0,
      poolK = 3, selectK = 3, lambdaE3 = 700)
    assert(rowSet(out) === Set(
      Seq(0L, 1L, 960000L, 1L),
      Seq(0L, 3L, 960000L, 2L),
      Seq(0L, 2L, 960000L, 3L)))
  }

  test("mmrRerank releases only its own cuts: a concurrent query's localCheckpoints stay readable") {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val other = new Thread(() => {
      var i = 0L
      while (!stop.get() && frames.size < 500) {
        frames.add(spark.range(i, i + 20).toDF("id").localCheckpoint())
        i += 1
      }
    })
    other.start()
    val out =
      try Similarity.mmrRerank(mmrEmb, col("vec_id") === 0,
        poolK = 3, selectK = 3, lambdaE3 = 700).collect()
      finally { stop.set(true); other.join() }
    assert(out.length === 3)
    assert(!frames.isEmpty)
    frames.forEach(f => assert(f.count() === 20L))
    graft.operators.Checkpoints.release(
      scala.jdk.CollectionConverters.IterableHasAsScala(frames).asScala)
  }

  test("mmrRerank at lambdaE3=1000 is pure relevance order") {
    val out = Similarity.mmrRerank(mmrEmb, col("vec_id") === 0,
      poolK = 3, selectK = 3, lambdaE3 = 1000)
    // redundancy term gone: selection = pool rank order (id tiebreak)
    assert(rowSet(out) === Set(
      Seq(0L, 1L, 960000L, 1L),
      Seq(0L, 2L, 960000L, 2L),
      Seq(0L, 3L, 960000L, 3L)))
  }

  test("mmrRerank: pool smaller than selectK emits pool-sized selection; zero-norm excluded") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.96f, 0.28f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f))). // zero-norm: cosine undefined
      toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(emb, col("vec_id") === 0,
      poolK = 8, selectK = 4, lambdaE3 = 700)
    assert(rowSet(out) === Set(Seq(0L, 1L, 960000L, 1L)))
  }

  test("mmrRerank handles multiple queries independently") {
    // two disjoint 2-candidate neighborhoods; each query's selection
    // stays inside its own pool rows
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.0f, 0.6f, 0.0f)),
      (3L, Array(0.0f, 0.8f, 0.0f, 0.6f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(emb, col("vec_id") < 2,
      poolK = 3, selectK = 2, lambdaE3 = 700)
      .select(col("query_id"), col("cand_id"), col("step"))
      .as[(Long, Long, Long)].collect().toSet
    // per query: step 1 = its own aligned candidate (the other
    // query's pool never bleeds in), and each query emits exactly
    // selectK rows from its own pool
    assert(out.filter(_._3 == 1L) === Set((0L, 2L, 1L), (1L, 3L, 1L)))
    assert(out.count(_._1 == 0L) === 2 && out.count(_._1 == 1L) === 2)
  }

  // -- greedy k-center ------------------------------------------------------

  test("kCenterSelect walks farthest-first with exact integer distances") {
    // 1-D points at 0, 10, 1, 6 (ids 0..3): seed = id 0, then id 1
    // (d²=(10^7)²), then id 3 (min-dist 16·10^12 beats id 2's 10^12),
    // then id 2
    val emb = Seq(
      (0L, Array(0.0f)), (1L, Array(10.0f)),
      (2L, Array(1.0f)), (3L, Array(6.0f))).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(emb, 4)
    assert(rowSet(out) === Set(
      Seq(0L, 1L, 0L),
      Seq(1L, 2L, 100000000000000L),
      Seq(3L, 3L, 16000000000000L),
      Seq(2L, 4L, 1000000000000L)))
  }

  test("kCenterSelect: min_dist_q is non-increasing in step (farthest-first law)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dists = Similarity.kCenterSelect(emb, 6)
      .orderBy(col("step")).select(col("min_dist_q")).as[Long].collect().toSeq
    assert(dists.size === 6)
    // the greedy invariant: each pick's distance to the selected set
    // can only shrink as the set grows (drop the seed's placeholder 0)
    val tail = dists.drop(1)
    assert(tail.zip(tail.drop(1)).forall { case (a, b) => a >= b },
      s"min_dist_q not non-increasing: $dists")
  }

  test("kCenterSelect past the corpus size selects everything once") {
    val emb = Seq(
      (5L, Array(1.0f, 0.0f)), (7L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.kCenterSelect(emb, 9)
    assert(out.count() === 2)
    assert(rowSet(out) === Set(
      Seq(5L, 1L, 0L),
      Seq(7L, 2L, 2000000000000L)))
  }

  test("lshMultiProbeNeighbors: superset law, probe monotonicity, no duplicate candidates") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pred = col("vec_id") < 8
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshBucketedNeighbors(emb, pred, 8))
    val mp0 = pairs(Similarity.lshMultiProbeNeighbors(emb, pred, 8, probes = 0))
    // probes = 0 degenerates to the single-bucket form exactly
    assert(mp0 === single)
    // candidate sets are MONOTONE in probes (strict supersets until
    // the probed buckets stop adding occupants)
    var prev = mp0
    for (p <- Seq(1, 2, 4, 8)) {
      val cur = Similarity.lshMultiProbeNeighbors(emb, pred, 8, probes = p)
      val curPairs = pairs(cur)
      assert(prev.subsetOf(curPairs), s"probes=$p lost candidates")
      // one bucket per corpus vector => no duplicate candidate rows
      assert(cur.count() === curPairs.size.toLong, s"probes=$p duplicates")
      prev = curPairs
    }
    // the extra probes actually recruit candidates on this fixture
    assert(prev.size > single.size, "multi-probe never widened the pool")
  }

  test("sq8Encode: hand-checked codes; constant dimension codes to 0") {
    // dim 0 spans [0, 1e6]; dim 1 is constant (span 0)
    val emb = Seq(
      (0L, Array(0.0f, 0.5f)),
      (1L, Array(0.5f, 0.5f)),
      (2L, Array(1.0f, 0.5f))).toDF("vec_id", "embedding")
    val codes = Similarity.sq8Encode(emb)
      .as[(Long, Seq[Long])].collect().toMap
    // code = ((q - mn) * 255) div span: 0, (5e5*255) div 1e6 = 127, 255
    assert(codes(0L) === Seq(0L, 0L))
    assert(codes(1L) === Seq(127L, 0L))
    assert(codes(2L) === Seq(255L, 0L))
  }

  /** In-JVM SQ8 reference: quantize, bounds, codes, reconstruction. */
  private def sq8Recon(vecs: Map[Long, Array[Float]]): Map[Long, Seq[Long]] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toSeq }
    val d = q.head._2.length
    val mn = (0 until d).map(i => q.values.map(_(i)).min)
    val mx = (0 until d).map(i => q.values.map(_(i)).max)
    q.map { case (id, v) =>
      id -> (0 until d).map { i =>
        val span = mx(i) - mn(i)
        if (span == 0L) mn(i)
        else {
          val code = (v(i) - mn(i)) * 255L / span
          mn(i) + code * span / 255L
        }
      }
    }
  }

  test("sq8TopK: adist is exactly the squared distance to the SQ8 reconstruction") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 12L).map(id =>
      id -> Array.fill(4)(rnd.nextFloat() * 2f - 1f)).toMap
    val emb = vecs.toSeq.toDF("vec_id", "embedding")
    val recon = sq8Recon(vecs)
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toSeq }
    val out = Similarity.sq8TopK(emb, col("vec_id") < 3, k = 11)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 3 * 11)
    for ((qid, nid, adist, _) <- out) {
      val expected = q(qid).zip(recon(nid))
        .map { case (a, b) => (a - b) * (a - b) }.sum
      assert(adist === expected, s"query $qid neighbor $nid")
    }
    // ranking law: ascending adist with neighbor-id tiebreak, self excluded
    for ((qid, rows) <- out.groupBy(_._1)) {
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(r => (r._3, r._2)).sliding(2).forall {
        case Array((a, na), (b, nb)) => a < b || (a == b && na < nb)
        case _ => true
      }, s"query $qid")
      assert(!rows.exists(_._2 == qid))
    }
  }

  test("ivfSq8TopK: zero-norm corpus vector assigns to no cell and never surfaces") {
    val rnd = new scala.util.Random(13)
    val emb = ((0L until 10L).map(id =>
      id -> Array.fill(3)(rnd.nextFloat() + 0.1f)) :+
      (99L -> Array(0f, 0f, 0f))).toSeq.toDF("vec_id", "embedding")
    // full probe, k past the corpus size: every ASSIGNED vector
    // surfaces; the zero-norm one must not (its NaN cell cosine would
    // otherwise hand it the lowest cid — the r16 review edge)
    val out = Similarity.ivfSq8TopK(emb, col("vec_id") < 2,
      nCentroids = 4, nProbe = 4, k = 20)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!out.contains(99L), "zero-norm vector surfaced as a candidate")
    assert(out.nonEmpty)
  }

  test("ivfSq8TopK: full probe over an all-nonzero corpus equals sq8TopK exactly") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 16L).map(id =>
      id -> Array.fill(4)(rnd.nextFloat() + 0.1f)).toSeq
      .toDF("vec_id", "embedding")
    val pred = col("vec_id") < 3
    val full = Similarity.ivfSq8TopK(emb, pred, nCentroids = 4, nProbe = 4, k = 3)
    assert(rowSet(full) === rowSet(Similarity.sq8TopK(emb, pred, k = 3)))
    // restricted probe: a subset of the full-probe candidate set per
    // query, still exactly k rows while candidates suffice
    val narrow = Similarity.ivfSq8TopK(emb, pred, nCentroids = 4, nProbe = 1, k = 3)
      .as[(Long, Long, Long, Long)].collect()
    val fullPairs = full.as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    // adist values are model-identical — any narrow-probe pair that
    // also survives at full probe carries the same distance
    for ((qid, nid, d, _) <- narrow
         if fullPairs.exists(p => p._1 == qid && p._2 == nid))
      assert(fullPairs.contains((qid, nid, d)))
  }

  test("sq8 reconstruction law: never overshoots, error bounded by span/255 + 1") {
    val rnd = new scala.util.Random(21)
    val vecs = (0L until 20L).map(id =>
      id -> Array.fill(3)(rnd.nextFloat() * 4f - 2f)).toMap
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toSeq }
    val d = 3
    val mn = (0 until d).map(i => q.values.map(_(i)).min)
    val mx = (0 until d).map(i => q.values.map(_(i)).max)
    val recon = sq8Recon(vecs)
    for ((id, v) <- q; i <- 0 until d) {
      val err = v(i) - recon(id)(i)
      val bound = (mx(i) - mn(i)) / 255L + 1L
      assert(err >= 0L && err <= bound,
        s"vec $id dim $i: err $err bound $bound")
    }
  }

  test("semanticNegatives: same-label pool drops, pool order kept, scarcity visible") {
    // query 0 (label 1): nearest are 1, 2 (label 1 -> dropped), then
    // 3, 4 (label 2) in descending cosine; 5 is far
    val emb6 = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.98f, 0.02f), 1),
      (3L, Array(0.9f, 0.1f), 2),
      (4L, Array(0.8f, 0.2f), 2),
      (5L, Array(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticNegatives(emb6, col("vec_id") === 0,
      poolK = 6, k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    assert(out.map(_._2).toSeq === Seq(3L, 4L, 5L))
    assert(out.map(_._4).toSeq === Seq(1L, 2L, 3L))
    // scarcity: poolK = 3 leaves only one different-label survivor
    val scarce = Similarity.semanticNegatives(emb6, col("vec_id") === 0,
      poolK = 3, k = 3)
      .as[(Long, Long, Long, Long)].collect()
    assert(scarce.map(_._2).toSeq === Seq(3L))
  }

  test("bqEncode: strict corpus-mean bit test; constant dimension is all-zero") {
    // dim 0 values {0, 0.5, 1.0} -> mean 0.5: strict > keeps only 1.0
    // (the 0.5 row sits exactly ON the mean and must code to 0);
    // dim 1 constant -> zero bits everywhere
    val emb3 = Seq(
      (0L, Array(0.0f, 0.7f)),
      (1L, Array(0.5f, 0.7f)),
      (2L, Array(1.0f, 0.7f))).toDF("vec_id", "embedding")
    val bits = Similarity.bqEncode(emb3)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(bits(0L) === Seq(0L, 0L))
    assert(bits(1L) === Seq(0L, 0L))
    assert(bits(2L) === Seq(1L, 0L))
  }

  test("bqTopK: rerankK covering the corpus equals exact integer L2 top-k") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 14L).map(id =>
      id -> Array.fill(4)(rnd.nextFloat() * 2f - 1f)).toMap
    val embDf = vecs.toSeq.toDF("vec_id", "embedding")
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toSeq }
    def dist(a: Long, b: Long): Long =
      q(a).zip(q(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    val out = Similarity.bqTopK(embDf, col("vec_id") < 3, k = 4, rerankK = 14)
      .as[(Long, Long, Long, Long)].collect()
    val expected = (0L until 3L).flatMap { qid =>
      q.keys.filter(_ != qid).toSeq
        .map(nid => (nid, dist(qid, nid)))
        .sortBy { case (nid, d) => (d, nid) }
        .take(4).zipWithIndex
        .map { case ((nid, d), i) => (qid, nid, d, i.toLong + 1L) }
    }.toSet
    assert(out.toSet === expected)
  }

  test("bqTopK: narrow shortlist still returns k exact-distance rows per query") {
    val rnd = new scala.util.Random(33)
    val vecs = (0L until 20L).map(id =>
      id -> Array.fill(4)(rnd.nextFloat() * 2f - 1f)).toMap
    val embDf = vecs.toSeq.toDF("vec_id", "embedding")
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toSeq }
    val out = Similarity.bqTopK(embDf, col("vec_id") < 2, k = 3, rerankK = 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 2 * 3)
    for ((qid, nid, d, _) <- out) {
      assert(nid !== qid)
      val expected = q(qid).zip(q(nid))
        .map { case (x, y) => (x - y) * (x - y) }.sum
      assert(d === expected, s"query $qid neighbor $nid")
    }
    // per query: ranks are 1..k in ascending (dist, id) order
    for ((qid, rows) <- out.groupBy(_._1)) {
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to 3L))
      assert(sorted.map(r => (r._3, r._2)).sliding(2).forall {
        case Array((a, na), (b, nb)) => a < b || (a == b && na < nb)
        case _ => true
      }, s"query $qid")
    }
  }

  test("graphSearchTopK: graph hop reaches an out-of-bucket neighbor the bucket router misses") {
    // Hand geometry in 2-D (8-plane buckets computed offline): the
    // query (0.5, 0.86) shares bucket 113 with (0.05, 1) only, while
    // its TRUE nearest neighbor (0.7, 0.7), cos ≈ .967, lands in
    // bucket 120 — invisible to the bucket router. The bucket mate's
    // own kNN edges include it, so one beam round navigates across
    // the bucket boundary.
    val vecs = Seq(
      (0L, Array(0.5f, 0.86f)),   // query, bucket 113
      (1L, Array(0.7f, 0.7f)),    // true NN, bucket 120
      (2L, Array(0.05f, 1.0f)),   // bucket mate, links to 1
      (3L, Array(-1.0f, 0.2f)),   // far vector
      (4L, Array(-1.0f, -0.3f))).toDF("vec_id", "embedding")
    val graph = Similarity.knnGraph(vecs, k = 2, blocked = false)
    val bucketOnly = Similarity
      .lshBucketedNeighbors(vecs, col("vec_id") === 0, planes = 8)
      .select("neighbor_id").as[Long].collect().toSet
    val searched = Similarity.graphSearchTopK(vecs, col("vec_id") === 0,
      k = 2, graph = graph, beam = 3, rounds = 2, planes = 8)
      .orderBy(col("rank")).as[(Long, Long, Long, Long)].collect()
    val exact = Similarity.cosineTopK(vecs, col("vec_id") === 0, 2)
      .orderBy(col("rank")).as[(Long, Long, Long, Long)].collect()
    // the premise: the true NN is NOT a bucket candidate
    assert(!bucketOnly.contains(exact.head._2),
      s"fixture broke: exact NN ${exact.head._2} is in the query bucket $bucketOnly")
    // the law: beam search still finds the exact top-k
    assert(searched.map(r => (r._1, r._2, r._4)).toSeq ===
      exact.map(r => (r._1, r._2, r._4)).toSeq)
  }

  test("graphSearchTopK: per-rank cosine monotone in rounds; recall grows; deterministic") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val graph = graft.operators.Checkpoints.cut(
      Similarity.knnGraph(emb, k = 5, maxBucketSize = None), None)
    val norms = emb.select(col("vec_id"),
        Similarity.normQ(Similarity.quantize(col("embedding"))).as("n"))
      .as[(Long, Long)].collect().toMap
    def lists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r =>
          (r._2, r._3.toDouble /
            math.sqrt(norms(r._1).toDouble * norms(r._2).toDouble))).toSeq)
        .toMap
    def search(rounds: Int) = lists(
      Similarity.graphSearchTopK(emb, col("vec_id") < 8, k = 5,
        graph = graph, beam = 8, rounds = rounds, planes = 8))
    val Seq(r0, r1, r2) = Seq(0, 1, 2).map(search(_))
    // candidate sets only grow and the rerank is exact, so per (query,
    // rank) the cosine never degrades as rounds increase
    def dominates(hi: Map[Long, Seq[(Long, Double)]],
        lo: Map[Long, Seq[(Long, Double)]]): Unit =
      lo.foreach { case (q, ls) =>
        val hs = hi(q)
        assert(hs.size >= ls.size, s"query $q lost results")
        ls.indices.foreach(i => assert(hs(i)._2 >= ls(i)._2 - 1e-12,
          s"query $q rank ${i + 1}: ${hs(i)} < ${ls(i)}"))
      }
    dominates(r1, r0)
    dominates(r2, r1)
    // navigation genuinely recovers recall over the seed bucket
    val exact = lists(Similarity.cosineTopK(emb, col("vec_id") < 8, 5))
    def hits(m: Map[Long, Seq[(Long, Double)]]): Int =
      m.map { case (q, ls) =>
        ls.map(_._1).toSet.intersect(exact(q).map(_._1).toSet).size }.sum
    assert(hits(r2) > hits(r0),
      s"beam rounds did not improve recall: r0 ${hits(r0)}, r2 ${hits(r2)}")
    // determinism across runs and checkpoint modes
    val again = lists(Similarity.graphSearchTopK(emb, col("vec_id") < 8,
      k = 5, graph = graph, beam = 8, rounds = 2, planes = 8,
      checkpointDir = Some(TestSpark.ckptDir)))
    assert(again === r2)
  }

  test("graphSearchTopK: multi-probe seeds dominate single-bucket at rounds=0") {
    // at rounds=0 the result is the exact rerank of the seed set, and
    // probed seed sets are supersets — so per (query, rank) the cosine
    // is monotone non-decreasing in seedProbes (the rounds-dominance
    // law on the seeding axis)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val graph = graft.operators.Checkpoints.cut(
      Similarity.knnGraph(emb, k = 5), None)
    val norms = emb.select(col("vec_id"),
        Similarity.normQ(Similarity.quantize(col("embedding"))).as("n"))
      .as[(Long, Long)].collect().toMap
    def lists(probes: Int): Map[Long, Seq[(Long, Double)]] =
      Similarity.graphSearchTopK(emb, col("vec_id") < 8, k = 5,
        graph = graph, beam = 8, rounds = 0, planes = 8,
        seedProbes = probes)
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r =>
          (r._2, r._3.toDouble /
            math.sqrt(norms(r._1).toDouble * norms(r._2).toDouble))).toSeq)
        .toMap
    val p0 = lists(0)
    val p4 = lists(4)
    assert(p0.nonEmpty)
    p0.foreach { case (q, ls) =>
      val hs = p4.getOrElse(q, Nil)
      assert(hs.size >= ls.size, s"query $q lost results with probing")
      ls.indices.foreach(i => assert(hs(i)._2 >= ls(i)._2 - 1e-12,
        s"query $q rank ${i + 1}: ${hs(i)} < ${ls(i)}"))
    }
    // and probing genuinely widens some seed set on this fixture
    assert(p4.values.map(_.size).sum >= p0.values.map(_.size).sum)
  }

  // ------------- frozen index artifacts: reload ≡ inline laws -------------

  private def frozenDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_frozen_$name").toString

  test("IvfIndex: frozen-reload probe equals the inline ivfTopK") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 8)
    // real k-means tier — the structure a serving path would persist
    val inline = rowSet(Similarity.ivfTopK(emb, col("vec_id") < 8, 16, 4, 5,
      kmeansIters = 4))
    val frozen = Similarity.ivfBuild(emb, 16, kmeansIters = 4)
      .materialized(frozenDir("ivf"))
    assert(rowSet(Similarity.ivfProbe(frozen, queries, nProbe = 4, k = 5))
      === inline)
    assert(inline.nonEmpty)
    // and the reload is genuinely frozen: probing twice is identical
    assert(rowSet(Similarity.ivfProbe(frozen, queries, nProbe = 4, k = 5))
      === inline)
  }

  test("GraphIndex: frozen-reload beam search equals the inline graphSearchTopK") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val inline = rowSet(Similarity.graphSearchTopK(emb, col("vec_id") < 8,
      k = 5, graph = Similarity.knnGraph(emb, k = 5), beam = 8, rounds = 2,
      planes = 8))
    val frozen = Similarity.graphBuild(emb, graphK = 5, planes = 8)
      .materialized(frozenDir("graph"))
    assert(rowSet(Similarity.graphProbe(frozen, emb.filter(col("vec_id") < 8),
      k = 5, beam = 8, rounds = 2)) === inline)
    assert(inline.nonEmpty)
  }

  test("Sq8Index: frozen codes decode-probe equals the inline sq8TopK") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val inline = rowSet(Similarity.sq8TopK(emb, col("vec_id") < 8, k = 5))
    val frozen = Similarity.sq8Build(emb).materialized(frozenDir("sq8"))
    assert(rowSet(Similarity.sq8Probe(frozen, emb.filter(col("vec_id") < 8),
      k = 5)) === inline)
    assert(inline.nonEmpty)
  }

  test("PqIndex: frozen ADC probe equals the inline pqTopK (both tiers)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    for (iters <- Seq(0, 2)) {
      val inline = rowSet(Similarity.pqTopK(emb, col("vec_id") < 8, k = 5,
        iters = iters))
      val frozen = Similarity.pqBuild(emb, iters = iters)
        .materialized(frozenDir(s"pq$iters"))
      assert(rowSet(Similarity.pqProbe(frozen, emb.filter(col("vec_id") < 8),
        k = 5)) === inline, s"iters=$iters")
      assert(inline.nonEmpty)
    }
  }
}
