package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_list, length, lit, min, size, substring, xxhash64}

import graft.functions.Hashing
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf: DataFrame = Seq(
    (1L, "a b c d"),
    (2L, "a b c d"), // exact dup of 1
    (3L, "a b c x"), // near dup of 1 (2/3 trigram overlap? 1/3 — below thresh)
    (4L, "z y w v")).toDF("doc_id", "text")

  test("exact dedup: canonical min id + copy count per identical text") {
    val out = Dedup.exactDedup(docsDf)
    assert(rowSet(out) === Set(
      Seq(1L, 2L, 7L), Seq(3L, 1L, 7L), Seq(4L, 1L, 7L)))
  }

  test("exact dedup: forced hash collisions are kept apart by the second key") {
    import org.apache.spark.sql.functions.{lit, xxhash64, col}
    // h = 0 for EVERY row → the primary hash alone would merge all
    // docs; the independent second hash must keep distinct texts apart,
    // producing the same answer as plain dedup
    val collided = Dedup.exactDedupKeyed(docsDf, "text", "doc_id",
      lit(0L), xxhash64(col("text")))
    assert(rowSet(collided) === rowSet(Dedup.exactDedup(docsDf)))
    // degenerate worst case: BOTH hashes constant and equal lengths —
    // rows merge by the documented CAS assumption; must not crash
    val merged = Dedup.exactDedupKeyed(docsDf, "text", "doc_id", lit(0L), lit(0L))
    // docsDf texts all have length 7 -> one bucket, canonical=min id
    assert(rowSet(merged) === Set(Seq(1L, 4L, 7L)))
  }

  test("shingles: n-gram count and degenerate short docs") {
    val sh = Dedup.shingles(docsDf, 3)
    // 4 tokens -> 2 trigrams per doc; doc1/doc2 share both hashes
    val counts = sh.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    val short = Dedup.shingles(Seq((9L, "one two")).toDF("doc_id", "text"), 3)
    assert(short.count() === 0)
  }

  test("ngram jaccard: exact dups score 1000, sub-threshold pairs drop") {
    val pairs = Dedup.ngramJaccardPairs(docsDf, n = 3, maxDf = 50, threshE3 = 500)
    // (1,2) jaccard=1.0; (1,3)/(2,3) share 1 of 3 shingles = 333 -> dropped
    assert(rowSet(pairs) === Set(Seq(1L, 2L, 1000L)))
  }

  test("ngram jaccard: capped stop-shingles still count in verification") {
    // "common" has df=4 > maxDf=2, so it is excluded from candidate
    // GENERATION — but docs 1/2 also share rare "r1", so they become a
    // candidate pair, and the exact-Jaccard VERIFY must run on the FULL
    // sets: |∩|={common,r1}=2, |∪|=4 → 500. Counting only capped
    // shingles would give 1000*1/(3+3-1)=200 and wrongly drop the pair.
    val capDocs = Seq(
      (1L, "common r1 r2"),
      (2L, "common r1 r3"),
      (3L, "common x1 x2"),
      (4L, "common y1 y2")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(capDocs, n = 1, maxDf = 2, threshE3 = 400)
    assert(rowSet(pairs) === Set(Seq(1L, 2L, 500L)))
    // docs 3/4 share ONLY the capped shingle: correctly never a candidate
  }

  test("containmentPairs: full containment scores 1000 where Jaccard misses the pair") {
    // doc 1 is quoted wholesale inside doc 2: all 3 of its trigrams
    // appear among doc 2's 8 -> cont_a = 1000, cont_b = 375, while
    // jaccard = 3000/(3+8-3) = 375 is under any useful threshold
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5 x1 x2 x3 x4 x5"),
      (3L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    assert(rowSet(Dedup.containmentPairs(docs, 3, 50, 800)) ===
      Set(Seq(1L, 2L, 3L, 3L, 8L, 1000L, 375L)))
    assert(Dedup.ngramJaccardPairs(docs, 3, 50, 500).count() === 0)
    // either side clearing the threshold keeps the pair (greatest)
    assert(Dedup.containmentPairs(docs, 3, 50, 1000).count() === 1)
    // both under threshold -> dropped
    assert(Dedup.containmentPairs(docs, 3, 50, 1001).count() === 0)
  }

  test("minhash: identical shingle sets give identical signatures") {
    val sigs = Dedup.minhashSignatures(Dedup.shingles(docsDf, 3), k = 8)
    assert(sigs.count() === 4 * 8)
    val byDoc = sigs.as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byDoc(1L) === byDoc(2L))
    assert(byDoc(1L) !== byDoc(4L))
  }

  test("minhash LSH: exact dups collide in every band and verify at 1000") {
    val pairs = Dedup.minhashLshPairs(docsDf, n = 3, bands = 4, rowsPerBand = 2)
    assert(rowSet(pairs) === Set(Seq(1L, 2L, 1000L)))
  }

  test("simhash: identical texts identical sigs; pairs found at hamming 0") {
    val sigs = Dedup.simhashSignatures(docsDf)
    val byDoc = sigs.as[(Long, Long)].collect().toMap
    assert(byDoc(1L) === byDoc(2L))
    val pairs = Dedup.simhashPairs(sigs, maxHamming = 0)
    assert(rowSet(pairs).contains(Seq(1L, 2L, 0L)))
    // no false pair between unrelated docs at hamming 0 unless sigs equal
    assert(rowSet(pairs).forall {
      case Seq(a: Long, b: Long, _) => byDoc(a) === byDoc(b)
    })
  }

  test("simhash occupancy cap: subset / wide-cap-noop / star-floor laws") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs, hash = graft.functions.Hashing.Portable)
    val uncapped = rowSet(Dedup.simhashPairs(sigs, 3))
    // wide cap: every bucket fits, ceil(n/cap)=1 ⇒ sub=0 everywhere,
    // and the star pairs are band-join pairs anyway (identical sigs
    // collide in every band) — exact set equality with the uncapped op
    assert(rowSet(Dedup.simhashPairs(sigs, 3, maxBucketSize = Some(1000000)))
      === uncapped)
    // tight cap: the sub-split can only LOSE band pairs, and star
    // pairs (hamming 0, identical sigs) are uncapped pairs too
    val tight = rowSet(Dedup.simhashPairs(sigs, 3, maxBucketSize = Some(2)))
    assert(tight.subsetOf(uncapped), "capped pairs must be a subset of uncapped")
    // star floor at the degenerate cap=1 (every multi-doc bucket is
    // fully sub-split): each identical-signature group still connects
    // to its minimum member with hamming 0
    val one = rowSet(Dedup.simhashPairs(sigs, 3, maxBucketSize = Some(1)))
    val groups = sigs.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")) > 1)
      .as[(Long, Long, Seq[Long])].collect()
    assert(groups.nonEmpty, "fixture must contain duplicated signatures")
    groups.foreach { case (_, rep, members) =>
      members.filter(_ != rep).foreach { m =>
        assert(one.contains(Seq(rep, m, 0L)),
          s"star floor must keep ($rep, $m) at cap=1")
      }
    }
  }

  test("occupancy guardrail: probe fires on hot buckets, stays silent on cool ones") {
    // degenerate hot fixture: 20 identical signatures -> every (band,
    // band_val) bucket holds 20 rows, far past DefaultOccupancyCap=8
    val hot = (1L to 20L).map(i => (i, 0x1234L)).toDF("doc_id", "simhash")
    Dedup.lastOccupancyReport.set(None)
    Dedup.simhashPairs(hot, 3).count()
    val r = Dedup.lastOccupancyReport.get()
    assert(r.isDefined, "uncapped probe must fire on the hot fixture")
    assert(!r.get.capped && r.get.op === "simhashPairs")
    assert(r.get.maxBucket === 20L && r.get.nHot === 4L &&
      r.get.cap === Dedup.DefaultOccupancyCap)
    // the capped run over the same fixture reports the cap as ACTIVE
    Dedup.simhashPairs(hot, 3, maxBucketSize = Some(8)).count()
    val c = Dedup.lastOccupancyReport.get()
    assert(c.isDefined && c.get.capped && c.get.maxBucket === 20L)
    // cool fixture: three distinct signatures, every bucket <= cap
    val cool = Seq((1L, 0x1111L), (2L, 0x0FF0L), (3L, 0x7654L))
      .toDF("doc_id", "simhash")
    Dedup.simhashPairs(cool, 3).count()
    assert(Dedup.lastOccupancyReport.get().isEmpty,
      "probe must clear on a hot-bucket-free corpus")
    // minhashLshPairs probes its band-signature buckets the same way:
    // 20 identical texts collide in all 4 bands
    val docs = (1L to 20L).map(i => (i, "a b c d e f")).toDF("doc_id", "text")
    Dedup.minhashLshPairs(docs, n = 3, bands = 4, rowsPerBand = 2).count()
    val m = Dedup.lastOccupancyReport.get()
    assert(m.isDefined && !m.get.capped && m.get.op === "minhashLshPairs" &&
      m.get.maxBucket === 20L)
  }

  test("connected components: chains merge to min label, singletons stand alone") {
    // components: {1,2,3,4} (path), {5,6}, singleton {7}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val verts = (1L to 7L).toDF("doc_id")
    val expected = Set(
      Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L),
      Seq(5L, 5L), Seq(6L, 5L), Seq(7L, 7L))
    // the one-task union-find (edge cut within the threshold) and the
    // propagation loop (broadcast off) give the same rows
    assert(rowSet(Dedup.connectedComponents(pairs, verts)) === expected)
    assert(shuffled(rowSet(Dedup.connectedComponents(pairs, verts))) === expected)
  }

  test("connected components: 64-bit hash-range ids that overflow a Long label sum") {
    // 20 vertices near Long.MaxValue: a plain Long sum of labels wraps
    // negative, which under the old Long-typed convergence metric made
    // "sum decreased" meaningless and could stop the loop early. The
    // decimal(38,0) observation must still converge to exact labels.
    val base = Long.MaxValue - 40L
    val ids = (0L until 20L).map(base + _)
    // path over the first 10, a 2-clique, and 8 singletons
    val pairs = ids.take(10).sliding(2).map(p => (p(0), p(1))).toSeq ++
      Seq((ids(10), ids(11)))
    def cc = rowSet(Dedup.connectedComponents(
      pairs.toDF("doc_a", "doc_b"), ids.toDF("doc_id")))
    val expected = ids.take(10).map(i => Seq(i, ids.head)) ++
      Seq(Seq(ids(10), ids(10)), Seq(ids(11), ids(10))) ++
      ids.drop(12).map(i => Seq(i, i))
    assert(cc === expected.toSet)
    assert(shuffled(cc) === expected.toSet)
  }

  test("connected components: empty pair set leaves every doc a singleton") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val verts = (1L to 3L).toDF("doc_id")
    val expected = Set(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L))
    assert(rowSet(Dedup.connectedComponents(pairs, verts)) === expected)
    assert(shuffled(rowSet(Dedup.connectedComponents(pairs, verts))) === expected)
  }

  test("connected components: endpoints absent from the vertex set take their component's least vertex") {
    // 2, 3 and 4 are no vertices: they hang off vertex 1 by a path the
    // labels reach one hop per round, so the labelled set grows while
    // the label sum rises; {7, 8} holds no vertex, so it has no rows
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (9L, 10L)).toDF("doc_a", "doc_b")
    val verts = Seq(1L, 5L, 10L).toDF("doc_id")
    val expected = Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L),
      Seq(5L, 5L), Seq(9L, 10L), Seq(10L, 10L))
    assert(rowSet(Dedup.connectedComponents(pairs, verts)) === expected)
    assert(shuffled(rowSet(Dedup.connectedComponents(pairs, verts))) === expected)
  }

  test("connected components: a curation-sized pair graph runs in at most 3 jobs") {
    // 1,000 docs with the benchmark corpus's near-dup families: 41
    // pairs, 4 triples and one family of four, each a clique
    val fams = (0 until 41).map(i => Seq(10L * i, 10L * i + 1)) ++
      (0 until 4).map(i => Seq(500L + 10 * i, 501L + 10 * i, 502L + 10 * i)) ++
      Seq(Seq(900L, 901L, 902L, 903L))
    val pairs = (for (f <- fams; a <- f; b <- f if a < b) yield (a, b)).toDF("doc_a", "doc_b")
    val verts = (0L until 1000L).toDF("doc_id")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.job.description")).orNull)
    }
    sc.addSparkListener(listener)
    val cc = try {
      sc.setJobDescription("cc")
      try Dedup.connectedComponents(pairs, verts, broadcastLabels = true)
      finally sc.setJobDescription(null)
    } finally {
      // a sentinel job: the listener bus delivers in order, so once it
      // is seen every job of the call has been counted
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime + 30L * 1000L * 1000L * 1000L
      while (!jobs.contains("sentinel") && System.nanoTime < deadline) Thread.sleep(25)
      sc.removeSparkListener(listener)
    }
    val n = jobs.toArray.count(_ == "cc")
    assert(n <= 3, s"connectedComponents ran $n jobs")
    val byFamily = fams.flatMap(f => f.map(d => d -> f.min)).toMap
    assert(rowSet(cc) === (0L until 1000L).map(d => Seq(d, byFamily.getOrElse(d, d))).toSet)
  }

  test("connected components release their round and edge cuts: only the output's cut stays persisted") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L)).toDF("doc_a", "doc_b")
    val verts = (1L to 10L).toDF("doc_id")
    val sc = spark.sparkContext
    def heldBeyondOutput(run: => DataFrame): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = run
      val held = sc.getPersistentRDDs.keySet.toSet -- before
      val backing = out.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
      assert(backing.nonEmpty)
      assert(rowSet(out).size === 10)
      held -- backing
    }
    // the loop (broadcast off) runs several label rounds on this path
    assert(shuffled(heldBeyondOutput(Dedup.connectedComponents(pairs, verts))).isEmpty)
    assert(heldBeyondOutput(Dedup.connectedComponents(pairs, verts)).isEmpty)
  }

  test("large-star/small-star: same labels as label propagation on mixed fixtures") {
    // path, 2-clique, singleton — plus duplicate and reversed pairs,
    // which the canonicalization must absorb
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (5L, 6L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val verts = (1L to 7L).toDF("doc_id")
    val star = rowSet(Dedup.largeSmallStarComponents(pairs, verts))
    assert(star === rowSet(Dedup.connectedComponents(pairs, verts)))
    assert(star === shuffled(rowSet(Dedup.connectedComponents(pairs, verts))))
  }

  test("large-star/small-star: empty pair set and 64-bit hash-range ids") {
    assert(rowSet(Dedup.largeSmallStarComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), (1L to 3L).toDF("doc_id"))) ===
      Set(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L)))
    // the decimal(38,0) edge-sum convergence metric must survive ids
    // whose Long sum wraps (same adversary as the CC label-sum test)
    val base = Long.MaxValue - 40L
    val ids = (0L until 20L).map(base + _)
    val pairs = ids.take(10).sliding(2).map(p => (p(0), p(1))).toSeq ++
      Seq((ids(10), ids(11)))
    val star = rowSet(Dedup.largeSmallStarComponents(
      pairs.toDF("doc_a", "doc_b"), ids.toDF("doc_id")))
    def cc = rowSet(Dedup.connectedComponents(
      pairs.toDF("doc_a", "doc_b"), ids.toDF("doc_id")))
    assert(star === cc)
    assert(star === shuffled(cc))
  }

  test("star fallback under broadcastLabels mode labels a deep path to the min") {
    // the broadcast-rounds variant must hand off to the same
    // contraction + star path (the fallback is mode-independent). The
    // path's edge cut fits the default broadcast threshold, which
    // would take the one-task union-find: broadcast joins are off here
    // so the loop runs, and its broadcastLabels hints still apply
    val n = 3000L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verts = (0L until n).toDF("doc_id")
    shuffled {
      val cc = Dedup.connectedComponents(pairs, verts, maxRounds = 30,
        broadcastLabels = true)
      assert(cc.count() === n)
      assert(cc.filter(col("component_id") =!= 0L).count() === 0L)
    }
  }

  test("star fallback: a path deeper than the propagation budget labels to the min") {
    // a 5000-vertex path needs ~13 pointer-jumping rounds — past
    // StarFallbackRounds (10), so connectedComponents contracts and
    // finishes on the large-star/small-star quotient; every vertex
    // must still land on the global minimum label. Broadcast joins are
    // off so the loop runs (the path fits the union-find's threshold)
    val n = 5000L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val verts = (0L until n).toDF("doc_id")
    shuffled {
      val cc = Dedup.connectedComponents(pairs, verts, maxRounds = 30)
      assert(cc.count() === n)
      assert(cc.filter(col("component_id") =!= 0L).count() === 0L)
    }
    // the one-task union-find labels the same path in one job
    val local = Dedup.connectedComponents(pairs, verts, maxRounds = 30)
    assert(local.count() === n)
    assert(local.filter(col("component_id") =!= 0L).count() === 0L)
  }

  test("exactSpanCoverage: overlapping windows, keep-first, merged islands") {
    // k=3. doc 2 repeats doc 1's "a b c d" mid-text: windows at
    // offsets 1,2 are non-first, merging to positions 1..4. doc 3
    // self-repeats "p q r": windows 3,4,5 are non-first (firsts are
    // its own 0,1,2), covering positions 3..7. doc 4 is shorter than
    // k — no windows, zero coverage.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q"),
      (4L, "s t")).toDF("doc_id", "text")
    val out = Dedup.exactSpanCoverage(docs, k = 3, hash = Hashing.Portable)
    assert(rowSet(out) === Set(
      Seq(1L, 5L, 0L, 0L),
      Seq(2L, 6L, 4L, 666L),
      Seq(3L, 8L, 5L, 625L),
      Seq(4L, 2L, 0L, 0L)))
    // a full copy of doc 1 under a LATER id is fully covered; doc 1
    // (the first occurrence) is untouched
    val withCopy = docs.union(Seq((10L, "a b c d e")).toDF("doc_id", "text"))
    val cov = Dedup.exactSpanCoverage(withCopy, k = 3, hash = Hashing.Portable)
    assert(rowSet(cov.filter(col("doc_id").isin(1L, 10L))) === Set(
      Seq(1L, 5L, 0L, 0L),
      Seq(10L, 5L, 5L, 1000L)))
    // the salted first-occurrence join (hot-boilerplate skew spread) is
    // row-identical — pinned on a fixture where one window IS hot: 30
    // copies of the same boilerplate line make every its-window's
    // occurrence list deep, the exact shape the salt exists for
    val hot = docs.union(
      (20L to 49L).map(i => (i, "same boiler plate line here")).toDF("doc_id", "text"))
    assert(
      rowSet(Dedup.exactSpanCoverage(hot, k = 3, hash = Hashing.Portable, saltFactor = 8))
        === rowSet(Dedup.exactSpanCoverage(hot, k = 3, hash = Hashing.Portable)))
    assert(
      rowSet(Dedup.exactSpanScrub(hot, k = 3, hash = Hashing.Portable, saltFactor = 8))
        === rowSet(Dedup.exactSpanScrub(hot, k = 3, hash = Hashing.Portable)))
  }

  test("exactSpanScrub: duplicated positions drop keep-first, tokens reassemble") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "p q r p q r p q"),
      (4L, "s t")).toDF("doc_id", "text")
    val out = Dedup.exactSpanScrub(docs, k = 3, hash = Hashing.Portable)
    assert(rowSet(out) === Set(
      Seq(1L, 5L, 5L, "a b c d e"),
      Seq(2L, 6L, 2L, "x y"),
      Seq(3L, 8L, 3L, "p q r"),
      Seq(4L, 2L, 2L, "s t")))
    // a whole-doc later copy scrubs to nothing
    val withCopy = docs.union(Seq((10L, "a b c d e")).toDF("doc_id", "text"))
    assert(rowSet(Dedup.exactSpanScrub(withCopy, k = 3, hash = Hashing.Portable)
      .filter(col("doc_id") === 10L)) === Set(Seq(10L, 5L, 0L, "")))
  }

  test("exactSpanContamination: shared-window counts and longest runs") {
    // probe "a b c d e" (k=3 windows: abc, bcd, cde). doc 1 embeds the
    // whole probe (3 consecutive shared windows -> longest span 5
    // tokens); doc 2 shares the probe's two END windows around an
    // interruption (two runs of 1 -> longest 3); doc 3 shares one.
    val docs = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c q c d e"),
      (3L, "a b c")).toDF("doc_id", "text")
    val probes = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val all = Dedup.exactSpanContamination(docs, probes, k = 3,
      hash = Hashing.Portable)
    assert(rowSet(all) === Set(
      Seq(1L, 100L, 3L, 5L),
      Seq(2L, 100L, 2L, 3L),
      Seq(3L, 100L, 1L, 3L)))
    // the minSharedWindows floor drops weak-evidence pairs
    assert(rowSet(Dedup.exactSpanContamination(docs, probes, k = 3,
      minSharedWindows = 2, hash = Hashing.Portable)) ===
      Set(Seq(1L, 100L, 3L, 5L), Seq(2L, 100L, 2L, 3L)))
    // a probe drawn from the corpus self-matches with its full window
    // set — the evidence report keeps it (callers exclude self pairs)
    val self = Dedup.exactSpanContamination(docs, docs.filter(col("doc_id") === 1L),
      k = 3, hash = Hashing.Portable)
    assert(rowSet(self.filter(col("doc_id") === 1L)) ===
      Set(Seq(1L, 1L, 5L, 7L)))
    // broadcastProbes=false (the beyond-broadcast-budget shuffle path)
    // is plan-shape-only: row-identical to the hinted default
    assert(rowSet(Dedup.exactSpanContamination(docs, probes, k = 3,
      hash = Hashing.Portable, broadcastProbes = false)) === rowSet(all))
  }

  test("spanRemoval: keep-first block dedup reassembles retained text") {
    // n=2 blocks. doc 1: [a b][c d][a b] -> third block duplicates the
    // first WITHIN the doc. doc 2 repeats doc 1's opening block and has
    // a unique tail (odd token count -> short tail block survives).
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "a b x y z"),
      (3L, "q r")).toDF("doc_id", "text")
    val out = Dedup.spanRemoval(docs, n = 2)
    assert(rowSet(out) === Set(
      Seq(1L, 3L, 2L, "a b c d"),
      Seq(2L, 3L, 2L, "x y z"),
      Seq(3L, 1L, 1L, "q r")))
    // a doc whose every block occurred earlier keeps nothing
    val all = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(rowSet(Dedup.spanRemoval(all, n = 2)) ===
      Set(Seq(1L, 1L, 1L, "a b"), Seq(2L, 1L, 0L, "")))
  }

  test("bloom sketch: no false negatives, shard merge law, dense zero words") {
    import org.apache.spark.sql.functions.{col, expr}
    val corpus = Seq(
      (1L, "alpha doc one"), (2L, "beta doc two"),
      (3L, "gamma doc three"), (4L, "delta doc four")).toDF("doc_id", "text")
    val bloom = Dedup.bloomBuild(corpus)
    // DENSE word table: ceil(63*1024 / 63) rows, zero words included
    assert(bloom.count() === 1024L)
    // no false negatives: every build member probes true
    val members = Dedup.bloomMightContain(corpus, bloom).collect()
    assert(members.forall(_.getBoolean(1)), "a member probed false")
    // non-members at this fill (16 set bits / 64512) essentially never
    // collide on all 4 positions — pinned false for these fixtures
    val strangers = Seq(
      (10L, "epsilon unseen text"), (11L, "zeta unseen text"),
      (12L, "eta unseen text")).toDF("doc_id", "text")
    assert(Dedup.bloomMightContain(strangers, bloom).collect()
      .forall(!_.getBoolean(1)))
    // MERGE law: bit_or of shard sketches == the whole-corpus build
    val s1 = Dedup.bloomBuild(corpus.filter(col("doc_id") <= 2))
    val s2 = Dedup.bloomBuild(corpus.filter(col("doc_id") > 2))
    val merged = s1.unionByName(s2).groupBy(col("word_idx"))
      .agg(expr("bit_or(bits)").as("bits"))
    assert(rowSet(merged) === rowSet(bloom))
    // hash-tier blindness of the LAWS (values differ, laws hold)
    val pb = Dedup.bloomBuild(corpus, hash = graft.functions.Hashing.Portable)
    assert(Dedup.bloomMightContain(corpus, pb,
      hash = graft.functions.Hashing.Portable).collect().forall(_.getBoolean(1)))
    // an m mismatch is DETECTED via the dense-table contract (probe
    // positions fall outside the word table), never a silent false
    // negative
    val small = Dedup.bloomBuild(corpus, m = 63 * 16)
    intercept[Exception] {
      Dedup.bloomMightContain(corpus, small, m = 63 * 1024).collect()
    }
    // NULL text is symmetric across the pair (r16 ADVICE): build skips
    // it, probe pins might_contain = false — and it must NOT trip the
    // m-mismatch guard (one null doc would otherwise kill a whole
    // bloomIngest micro-batch)
    val withNull = Seq((20L, Option("alpha doc one")), (21L, Option.empty[String]))
      .toDF("doc_id", "text")
    val nb = Dedup.bloomBuild(withNull)
    assert(rowSet(nb) === rowSet(Dedup.bloomBuild(
      withNull.filter(col("text").isNotNull))))
    val verdicts = Dedup.bloomMightContain(withNull, bloom).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdicts(20L) === true)   // member of the build corpus
    assert(verdicts(21L) === false)  // null text: pinned absent
  }

  test("lineDedup: keep-first line dedup, short-line exemption, in-doc dups") {
    val docs = Seq(
      (1L, "hello world line\nunique first body\nfooter line here"),
      (2L, "hello world line\nsecond body text\nfooter line here"),
      (3L, "abc\nhello world line"),
      (4L, "abc\nxy"),
      (5L, "dup line body\ndup line body"),
      (6L, "")).toDF("doc_id", "text")
    assert(rowSet(Dedup.lineDedup(docs)) === Set(
      // first carrier keeps everything, byte-identical
      Seq(1L, 3L, 0L, "hello world line\nunique first body\nfooter line here"),
      // header + footer dropped (both first-seen in doc 1)
      Seq(2L, 3L, 2L, "second body text"),
      // "abc" is < 5 chars -> exempt even though repeated in doc 4
      Seq(3L, 2L, 1L, "abc"),
      Seq(4L, 2L, 0L, "abc\nxy"),
      // WITHIN-doc duplicate line: second instance drops
      Seq(5L, 2L, 1L, "dup line body"),
      // empty text: one zero-length (exempt) line, untouched
      Seq(6L, 1L, 0L, "")))
    // hash-tier blindness: portable tier gives identical rows
    assert(rowSet(Dedup.lineDedup(docs, hash = graft.functions.Hashing.Portable)) ===
      rowSet(Dedup.lineDedup(docs)))
    // boilerplate-heavy rebuild (the r15 verdict's cliff input): a doc
    // that is MOSTLY drops, with drops interleaved at every parity —
    // leading, consecutive, trailing — exercises every empty/non-empty
    // segment case of the sorted-slice rebuild. 2000 lines, ~1500
    // drops: the old per-line membership scan paid n_lines × n_drops
    // here; the rebuild must stay byte-exact regardless.
    val base = (0 until 500).map(i => s"unique line number $i")
    val noisy = (0 until 2000).map { i =>
      if (i % 4 == 0) base(i / 4) else s"repeated boilerplate row ${i % 3}"
    }.mkString("\n")
    val heavy = Seq(
      (1L, "repeated boilerplate row 0\nrepeated boilerplate row 1\nrepeated boilerplate row 2"),
      (2L, noisy)).toDF("doc_id", "text")
    val out = Dedup.lineDedup(heavy).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 0L, "repeated boilerplate row 0\n" +
      "repeated boilerplate row 1\nrepeated boilerplate row 2")))
    // doc 2: all 1500 boilerplate instances drop (first-seen in doc 1);
    // the 500 unique lines survive in order
    assert(out(2L) === ((2000L, 1500L, base.mkString("\n"))))
  }

  test("editDistancePairs: blocked candidates, verified distance, bucket cap") {
    import org.apache.spark.sql.functions.{col, substring}
    val rows = Seq(
      (1L, "alpha-001"), (2L, "alpha-002"), (3L, "alpha-zzz"),
      (4L, "beta-001"), (5L, "beta-011")
    ).toDF("doc_id", "name")
    val blk = substring(col("name"), 1, 5)
    // within-block verified pairs only; cross-block near-misses
    // ("alpha-001" vs "beta-001") are out of scope by pinned semantics
    assert(rowSet(Dedup.editDistancePairs(rows, "name", blk, maxDist = 1)) ===
      Set(Seq(1L, 2L, 1L), Seq(4L, 5L, 1L)))
    // distance 3 pair admitted when the threshold rises
    assert(rowSet(Dedup.editDistancePairs(rows, "name", blk, maxDist = 3)) ===
      Set(Seq(1L, 2L, 1L), Seq(1L, 3L, 3L), Seq(2L, 3L, 3L), Seq(4L, 5L, 1L)))
    // bucket cap drops the oversized alpha block before pairing
    assert(rowSet(Dedup.editDistancePairs(rows, "name", blk, maxDist = 1,
      maxBucket = 2)) === Set(Seq(4L, 5L, 1L)))
  }

  test("hammingNearDupPairs: interleaved-class pigeonhole finds all substitution pairs") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, "prefix-001"), // 1<->2 differ at one even position
      (2L, "prefix-002"), // 2<->3 differ at one odd position
      (3L, "prefix-092"),
      (4L, "prefix-xyz"), // 3 subs from everyone
      (5L, "short")       // different length: never pairs
    ).toDF("doc_id", "name")
    val got = Dedup.hammingNearDupPairs(rows, "name", maxSubs = 1)
    assert(rowSet(got) === Set(Seq(1L, 2L, 1L), Seq(2L, 3L, 1L)))
    // maxSubs=2: 1<->3 (two subs) appears; both its classes are edited
    // so it needs the k=3 class split to collide
    val got2 = Dedup.hammingNearDupPairs(rows, "name", maxSubs = 2)
    assert(rowSet(got2) === Set(
      Seq(1L, 2L, 1L), Seq(2L, 3L, 1L), Seq(1L, 3L, 2L)))
    // identical strings pair at 0 substitutions
    val dup = Seq((1L, "same"), (2L, "same")).toDF("doc_id", "name")
    assert(rowSet(Dedup.hammingNearDupPairs(dup, "name", maxSubs = 1)) ===
      Set(Seq(1L, 2L, 0L)))
  }

  test("contamination: shared-shingle floor against a probe set") {
    val corpus = Seq(
      (1L, "p q r s t"), // shares {p q r, q r s} with probe 10 -> 2
      (2L, "m n o p q"), // shares nothing 3-gram-wise with probe 10
      (3L, "z z z z z")).toDF("doc_id", "text")
    val probes = Seq((10L, "p q r s z")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, probes, n = 3, minShared = 2)
    assert(rowSet(hits) === Set(Seq(1L, 10L, 2L)))
    // floor of 3 excludes the 2-shingle overlap
    assert(Dedup.contamination(corpus, probes, n = 3, minShared = 3).count() === 0)
    // shuffle-fallback mode is row-identical to the broadcast default
    assert(rowSet(Dedup.contamination(corpus, probes, n = 3, minShared = 2,
      broadcastProbes = false)) === rowSet(hits))
  }

  test("sourceOverlap: shared-shingle matrix, containment, clique-shingle cap") {
    val docs = Seq(
      (1L, "sA", "p q r s t"),   // sA shingles: {pqr,qrs,rst}
      (2L, "sB", "p q r s z"),   // sB: {pqr,qrs,rsz} -> shares 2 with sA
      (3L, "sC", "a b c d e"),   // sC: {abc,bcd,cde} -> disjoint
      (4L, "sC", "p q r x y")    // sC also: {pqr,qrx,rxy} -> pqr everywhere
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs.select("source", "text"), 3)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // sA∩sB = {pqr,qrs} = 2 of min(3,3) -> 666‰
    assert(out(("sA", "sB")) === ((2L, 3L, 3L, 666L)))
    // sC carries 6 distinct shingles; shares only pqr with each
    assert(out(("sA", "sC")) === ((1L, 3L, 6L, 333L)))
    assert(out(("sB", "sC")) === ((1L, 3L, 6L, 333L)))
    // cap at 2 sources drops pqr (present in all 3) -> sA-sC and sB-sC
    // pairs vanish, sA-sB keeps qrs only; sizes shrink accordingly
    val capped = Dedup.sourceOverlap(docs.select("source", "text"), 3, maxSources = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(capped === Map(("sA", "sB") -> ((1L, 2L, 2L, 500L))))
  }

  test("dfCap drops shingles above the document-frequency cap") {
    val sh = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 99L))
      .toDF("doc_id", "sh")
    assert(rowSet(Dedup.dfCap(sh, maxDf = 2)) === Set(Seq(99L, 1L)))
  }

  test("portable and fast hash tiers agree on dedup verdicts") {
    val fast = Dedup.ngramJaccardPairs(docsDf, 3, 50, 500, Hashing.Fast)
    val portable = Dedup.ngramJaccardPairs(docsDf, 3, 50, 500, Hashing.Portable)
    assert(rowSet(fast) === rowSet(portable))
  }

  test("dup spans: cross-doc window fraction; short docs emit no rows") {
    // n=3 spans — doc1: {a b c, b c d, c d e}; doc2: {a b c, b c x};
    // doc3: {q r s}; doc4 has < 3 tokens -> no rows.
    // Shared span 'a b c' (df=2) is the only duplicated one.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x"),
      (3L, "q r s"),
      (4L, "t u")).toDF("doc_id", "text")
    assert(rowSet(Dedup.dupSpanStats(docs, n = 3)) === Set(
      Seq(1L, 3L, 1L, 333L),
      Seq(2L, 2L, 1L, 500L),
      Seq(3L, 1L, 0L, 0L)))
  }

  test("incremental dedup: batch-internal copies collapse, corpus content drops") {
    val incoming = Seq(
      (10L, "fresh content"),
      (12L, "fresh content"),   // batch-internal dup of 10
      (14L, "already known"),   // present in corpus -> dropped
      (16L, "also new")).toDF("doc_id", "text")
    val corpus = Seq((1L, "already known"), (2L, "other old")).toDF("doc_id", "text")
    assert(rowSet(Dedup.incrementalNew(incoming, corpus)) === Set(
      Seq(10L, 2L), Seq(16L, 1L)))
    // corpusKeys mode: pre-computed (h, h2, glen) corpus key set
    val keys = corpus.select(
      xxhash64(col("text")).as("h"), xxhash64(lit(42L), col("text")).as("h2"),
      length(col("text")).cast("long").as("glen"))
    assert(rowSet(Dedup.incrementalNew(incoming, keys, corpusKeys = true)) === Set(
      Seq(10L, 2L), Seq(16L, 1L)))
  }

  test("incremental near-dup equals the batch LSH restricted to new-touching pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),  // corpus-internal dup (settled)
      (3L, "completely different content with no overlap at all here"),
      (5L, "the quick brown fox jumps over the lazy dog today"),   // new, dup of 1,2
      (10L, "completely different content with no overlap at all here"), // new, dup of 3
      (15L, "brand new text that matches nothing in the corpus ever"),
      (20L, "brand new text that matches nothing in the corpus ever")    // new-new dup of 15
    ).toDF("doc_id", "text")
    val isNew = col("doc_id") % 5 === 0
    val corpus = docs.filter(!isNew)
    val newDocs = docs.filter(isNew)
    val bandIdx = Dedup.bandTableOf(Dedup.shingles(corpus, 3), 4, 2)
    val inc = rowSet(Dedup.incrementalNearDupPairs(newDocs, corpus, bandIdx))
    val full = rowSet(Dedup.minhashLshPairs(docs)
      .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0))
    assert(inc === full)
    // settled corpus-internal pair (1,2) is NOT re-emitted
    assert(!inc.exists(r => r(0) == 1L && r(1) == 2L))
    // new-corpus and new-new near-dups are
    assert(inc.exists(r => r(0) == 1L && r(1) == 5L))
    assert(inc.exists(r => r(0) == 15L && r(1) == 20L))
  }

  test("perceptual hash: identical content identical bits; an edit flips few") {
    // blocks with well-separated means ('a'-blocks vs 'z'-blocks) so a
    // small edit can only flip the edited block's bit — a uniform
    // fixture (all block means == global mean) would sit exactly on
    // the comparison boundary and flip everything, the known aHash
    // degenerate case
    val base = (0 until 8).map(i => (if (i % 2 == 0) "a" else "z") * 16).mkString
    val edited = base.updated(40, 'b').toString // inside a 'z' block
    val docs = Seq((1L, base), (2L, base), (3L, edited)).toDF("doc_id", "text")
    val sigs = graft.operators.Multimodal.perceptualHash(docs, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    // a one-char edit perturbs one block's mean: small Hamming distance
    val d = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(d <= 2, s"single edit flipped $d bits")
    // composed pairs: exact copies at hamming 0, the edit within 3
    // (perceptual hashes are 32-bit, so band accordingly)
    val pairs = rowSet(Dedup.simhashPairs(
      graft.operators.Multimodal.perceptualHash(docs, 16), 3, bits = 32))
    assert(pairs.contains(Seq(1L, 2L, 0L)))
  }

  test("dup spans: within-doc repeats don't count as duplication") {
    // doc1 repeats its own span; distinct-per-doc spans mean df stays 1
    val docs = Seq((1L, "a b c a b c"), (2L, "z z z z")).toDF("doc_id", "text")
    val out = rowSet(Dedup.dupSpanStats(docs, n = 3))
    assert(out.forall(r => r(2) === 0L)) // n_dup = 0 everywhere
  }

  test("reliable-checkpoint mode is result-identical across the materializing dedup ops") {
    // checkpointDir=Some(dir) swaps the single-shot localCheckpoint
    // materializations for durable filesystem checkpoints (the
    // GraphOpsSpec pattern extended to the non-iterative cuts); the
    // lineage cut must not change any result
    val ckpt = Some(TestSpark.ckptDir)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source")
    assert(rowSet(Dedup.ngramJaccardPairs(docs, checkpointDir = ckpt))
      === rowSet(Dedup.ngramJaccardPairs(docs)))
    assert(rowSet(Dedup.minhashLshPairs(docs, checkpointDir = ckpt))
      === rowSet(Dedup.minhashLshPairs(docs)))
    val sigs = Dedup.simhashSignatures(docs)
    assert(rowSet(Dedup.simhashPairs(sigs, 3, checkpointDir = ckpt))
      === rowSet(Dedup.simhashPairs(sigs, 3)))
    assert(rowSet(Dedup.sourceOverlap(docs, checkpointDir = ckpt))
      === rowSet(Dedup.sourceOverlap(docs)))
    val ids = Seq((1L, "abcd"), (2L, "abce"), (3L, "abff"), (4L, "zzzz"))
      .toDF("doc_id", "s")
    assert(rowSet(Dedup.hammingNearDupPairs(ids, "s", 1, checkpointDir = ckpt))
      === rowSet(Dedup.hammingNearDupPairs(ids, "s", 1)))
    assert(rowSet(Dedup.hammingNearDupPairs(ids, "s", 2, checkpointDir = ckpt))
      === rowSet(Dedup.hammingNearDupPairs(ids, "s", 2)))
    assert(rowSet(Dedup.editDistancePairs(ids, "s", substring(col("s"), 1, 2),
        checkpointDir = ckpt))
      === rowSet(Dedup.editDistancePairs(ids, "s", substring(col("s"), 1, 2))))
  }

  test("clusterReps: one best-quality rep per component, min-id tiebreak") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (4L, 4L), (5L, 4L),           // cluster 4
      (6L, 6L)                      // singleton
    ).toDF("doc_id", "component_id")
    val quality = Seq(
      (1L, 500L), (2L, 900L), (3L, 900L), // 2 and 3 tie -> min id 2 wins
      (4L, 100L), (5L, 300L),
      (6L, 0L)).toDF("doc_id", "q_e3")
    val reps = Dedup.clusterReps(clusters, quality, "q_e3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reps === Set((1L, 2L, 900L), (4L, 5L, 300L), (6L, 6L, 0L)))
  }
}
