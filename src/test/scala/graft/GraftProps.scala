package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.Hashing
import graft.model.Edge
import graft.operators.{Dedup, GraphOps}

/** ScalaCheck properties (SURVEY §5.2): the algebraic laws the engine
  * depends on, checked over generated inputs rather than fixtures.
  */
object GraftProps extends Properties("graft") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genEdge: Gen[Edge] = for {
    s <- Gen.oneOf("A", "B", "C", "D", "E")
    d <- Gen.oneOf("A", "B", "C", "D", "E")
    v <- Gen.chooseNum(0.0, 100.0)
  } yield Edge(s, d, v)

  private val genEdges: Gen[List[Edge]] = Gen.listOfN(12, genEdge)

  /** A2: merge-max is order- and duplication-insensitive — the law the
    * reference only achieves via sorted scans + monotone emission.
    */
  property("mergeMax order-insensitive") =
    forAll(genEdges, Gen.chooseNum(0L, Long.MaxValue)) { (edges, seed) =>
      edges.isEmpty || {
        // seeded permutation so a ScalaCheck failure replays exactly
        val shuffled = new scala.util.Random(seed).shuffle(edges)
        val a = GraphOps.mergeMaxEdges(edges.toDF()).collect().map(_.toSeq).toSet
        val b = GraphOps.mergeMaxEdges(shuffled.toDF()).collect().map(_.toSeq).toSet
        val c = GraphOps.mergeMaxEdges((edges ++ edges).toDF()).collect().map(_.toSeq).toSet
        a == b && a == c
      }
    }

  /** J3: merging in two batches equals merging in one (associativity of
    * the incremental state merge).
    */
  property("mergeEdgeStates associative with mergeMax") = forAll(genEdges) { edges =>
    edges.size < 2 || {
      val (xs, ys) = edges.splitAt(edges.size / 2)
      val oneShot = GraphOps.mergeMaxEdges(edges.toDF()).collect().map(_.toSeq).toSet
      val stepped = GraphOps.mergeEdgeStates(
        GraphOps.mergeMaxEdges(xs.toDF()), GraphOps.mergeMaxEdges(ys.toDF()))
        .collect().map(_.toSeq).toSet
      oneShot == stepped
    }
  }

  /** k-core fixpoint laws over random small graphs: the fixpoint is a
    * true fixpoint (peeling it again changes nothing) and every member
    * meets the degree bound in the surviving subgraph.
    */
  property("kCorePeel fixpoint is idempotent and degree-valid") =
    forAll(genEdges, Gen.chooseNum(2, 3)) { (edges, k) =>
      edges.isEmpty || {
        val fix = GraphOps.kCorePeel(edges.toDF(), k, -1)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // idempotence: one more peel round over the survivors is a no-op
        val survivors = fix.keySet
        val keptEdges = edges
          .map(e => if (e.src < e.dst) (e.src, e.dst) else (e.dst, e.src))
          .distinct
          .filter { case (s, d) => s != d && survivors(s) && survivors(d) }
        val degrees = keptEdges.flatMap { case (s, d) => Seq(s, d) }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        // reported degrees match the surviving subgraph; every member ≥ k
        fix == degrees && fix.values.forall(_ >= k)
      }
    }

  private val genText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const("中文"),
      Gen.const("the"), Gen.const(""))).map(_.mkString(" "))

  /** Native portable hash ≡ the HOF chain the DuckDB oracle mirrors. */
  property("portableHash native == HOF") = forAll(genText) { s =>
    import org.apache.spark.sql.functions._
    val df = Seq(s).toDF("t").select(
      graft.functions.NativeOps.portableHash(col("t")).as("n"),
      aggregate(
        transform(sequence(lit(1), greatest(length(col("t")), lit(1))),
          i => ascii(col("t").substr(i, lit(1))).cast("long")),
        lit(7L), (h, x) => (h * 31 + x) % Hashing.P).as("h"))
    val r = df.head()
    r.getLong(0) == r.getLong(1)
  }

  /** MinHash signatures are invariant under shingle duplication
    * (min is idempotent) — the property that lets callers skip dedup.
    */
  property("minhash duplication-invariant") = forAll(Gen.listOfN(6, Gen.chooseNum(0L, 1000000L))) { sh =>
    sh.isEmpty || {
      val once = Dedup.minhashSignatures(
        sh.map(h => (1L, h)).toDF("doc_id", "sh"), 4).collect().map(_.toSeq).toSet
      val dup = Dedup.minhashSignatures(
        (sh ++ sh).map(h => (1L, h)).toDF("doc_id", "sh"), 4).collect().map(_.toSeq).toSet
      once == dup
    }
  }

  /** J4: reachability is invariant under the max-merge — the law that
    * lets kHop skip the groupBy-max shuffle (dead-agg elimination).
    */
  property("kHop invariant under mergeMax") = forAll(genEdges, Gen.chooseNum(1, 3)) { (edges, k) =>
    edges.isEmpty || {
      val seeds = Seq("A").toDF("person_id")
      val raw = GraphOps.kHop(edges.toDF(), seeds, k, materializeEdges = false)
        .collect().map(_.getString(0)).toSet
      val merged = GraphOps.kHop(GraphOps.mergeMaxEdges(edges.toDF()), seeds, k,
        materializeEdges = false).collect().map(_.getString(0)).toSet
      raw == merged
    }
  }

  /** Connected components ≡ a driver-side union-find on random graphs
    * (min-id representative per component, singletons included), on
    * both of its paths (broadcast threshold at its default, and off).
    */
  property("connectedComponents equals union-find") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 8L)))) { rawPairs =>
      val pairs = rawPairs.filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map((1L to 8L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1L to 8L).map(i => Seq[Any](i, find(i))).toSet
      def got = Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), (1L to 8L).toDF("doc_id"))
        .collect().map(_.toSeq).toSet
      // the one-task union-find, then the propagation loop
      got == expected && TestSpark.shuffled(got) == expected
    }

  /** The large-star/small-star edge-rewriting loop (Kiveris et al.)
    * computes the same min-id components as the union-find reference
    * on random graphs — the differential proof behind
    * [[Dedup.connectedComponents]]' deep-graph fallback.
    */
  property("largeSmallStarComponents equals union-find") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 8L), Gen.chooseNum(1L, 8L)))) { rawPairs =>
      val pairs = rawPairs.filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map((1L to 8L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1L to 8L).map(i => Seq[Any](i, find(i))).toSet
      val got = Dedup.largeSmallStarComponents(
        pairs.toDF("doc_a", "doc_b"), (1L to 8L).toDF("doc_id"))
        .collect().map(_.toSeq).toSet
      got == expected
    }

  private val genWord: Gen[String] = Gen.oneOf("a", "b", "cat", "dog", "the", "x1")
  private val genDoc: Gen[String] = Gen.listOfN(8, genWord).map(_.mkString(" "))
  private val genDocs: Gen[List[(Long, String)]] =
    Gen.listOfN(6, genDoc).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  /** Hash-keyed exact dedup ≡ the text-grouped reference form on random
    * docs (the differential proof that the LongType-shuffle rewrite
    * changed the plan, not the answer).
    */
  property("exactDedup hash-keyed equals text-grouped") = forAll(genDocs) { docs =>
    import org.apache.spark.sql.functions._
    docs.isEmpty || {
      val df = docs.toDF("doc_id", "text")
      val reference = df.groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"),
          length(col("text")).cast("long").as("n_chars_m"))
        .collect().map(_.toSeq).toSet
      Dedup.exactDedup(df).collect().map(_.toSeq).toSet == reference
    }
  }

  /** Contamination is antitone in the shared-shingle floor: raising
    * `minShared` can only shrink the hit set.
    */
  property("contamination antitone in minShared") =
    forAll(genDocs, Gen.chooseNum(1, 3)) { (docs, k) =>
      docs.size < 2 || {
        val df = docs.toDF("doc_id", "text")
        val probes = docs.take(1).toDF("doc_id", "text")
        def hits(m: Int) = Dedup.contamination(df, probes, 2, m)
          .collect().map(_.toSeq).toSet
        hits(k + 1).subsetOf(hits(k))
      }
    }

  /** Repetition ratios are permille-bounded. */
  property("repetitionStats ratios within [0,1000]") = forAll(genDocs) { docs =>
    docs.isEmpty || {
      graft.operators.TextOps.repetitionStats(docs.toDF("doc_id", "text"))
        .collect().forall { r =>
          val d = r.getLong(2); val t = r.getLong(3)
          d >= 0 && d <= 1000 && t >= 0 && t <= 1000
        }
    }
  }

  /** Salted join ≡ plain join for any salt factor. */
  property("saltedJoin equals plain join") =
    forAll(genEdges, Gen.chooseNum(1, 7)) { (edges, saltF) =>
      edges.isEmpty || {
        val fact = edges.toDF()
        val dim = Seq(("A", 1L), ("B", 2L), ("C", 3L)).toDF("src", "grp")
        val plain = fact.join(dim, Seq("src")).collect().map(_.toSeq).toSet
        val salted = graft.operators.Skew.saltedJoin(fact, dim, Seq("src"), saltF, Seq("dst"))
          .collect().map(_.toSeq).toSet
        plain == salted
      }
    }

  /** Chunking is a cover: every character position lands in ≥ 1 chunk,
    * and with stride == chunkLen the chunks tile the text exactly.
    */
  property("charChunks covers the text") =
    forAll(genDocs, Gen.chooseNum(1, 5), Gen.chooseNum(1, 5)) { (docs, len0, stride0) =>
      import graft.operators.TextOps
      val (len, stride) = (math.max(len0, stride0), math.min(len0, stride0))
      docs.isEmpty || {
        val df = docs.toDF("doc_id", "text")
        val chunks = TextOps.charChunks(df, len, stride)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // (doc, off, clen)
          .groupBy(_._1)
        docs.forall { case (id, text) =>
          val covered = chunks.getOrElse(id, Array.empty)
            .flatMap { case (_, off, clen) => off until (off + clen) }.toSet
          covered == (0L until text.length.toLong).toSet
        }
      }
    }

  /** Quota sampling: at most k rows per group, a subset of the input,
    * invariant to input order.
    */
  property("domainQuota bounded and order-insensitive") =
    forAll(genDocs, Gen.chooseNum(1, 4), Gen.chooseNum(0L, Long.MaxValue)) { (docs, k, seed) =>
      import graft.operators.TextOps
      docs.isEmpty || {
        val tagged = docs.map { case (id, t) => (id, s"g${id % 2}", t) }
        val df = tagged.toDF("doc_id", "source", "text")
        val out = TextOps.domainQuota(df, "source", k).collect()
        val ids = out.map(_.getLong(0)).toSet
        val shuffled = new scala.util.Random(seed).shuffle(tagged)
        val ids2 = TextOps.domainQuota(shuffled.toDF("doc_id", "source", "text"), "source", k)
          .collect().map(_.getLong(0)).toSet
        out.groupBy(_.getString(1)).forall(_._2.length <= k) &&
          ids.subsetOf(tagged.map(_._1).toSet) && ids == ids2
      }
    }

  /** Incremental dedup converges: after admitting a batch, re-running
    * it against corpus ∪ batch admits nothing.
    */
  property("incrementalNew idempotent") = forAll(genDocs, genDocs) { (batch0, corpus0) =>
    (batch0.isEmpty || corpus0.isEmpty) || {
      val batch = batch0.toDF("doc_id", "text")
      val corpus = corpus0.map { case (id, t) => (id + 1000L, t) }.toDF("doc_id", "text")
      Dedup.incrementalNew(batch, corpus.union(batch)).count() == 0L
    }
  }

  /** Bloom-pruned joins are EXACT for any key distribution and any
    * (even badly undersized) filter geometry — false positives must
    * always die in the verifying join.
    */
  property("bloom semi/anti equal plain semi/anti") =
    forAll(
      Gen.listOfN(25, Gen.chooseNum(0L, 40L)),
      Gen.listOfN(10, Gen.chooseNum(0L, 60L)),
      Gen.oneOf(64, 256, 4096)) { (bigKeys, smallKeys, mBits) =>
      val big = bigKeys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "row")
      val small = smallKeys.toDF("k")
      val semi = big.join(small, Seq("k"), "left_semi").collect().map(_.toSeq).toSet
      val anti = big.join(small, Seq("k"), "left_anti").collect().map(_.toSeq).toSet
      val bSemi = graft.operators.BloomJoin.bloomSemiJoin(big, small, "k", mBits, 3)
        .collect().map(_.toSeq).toSet
      val bAnti = graft.operators.BloomJoin.bloomAntiJoin(big, small, "k", mBits, 3)
        .collect().map(_.toSeq).toSet
      bSemi == semi && bAnti == anti
    }

  /** Int8 quantization bounds: components clamp to [-127, 127], so
    * l1 ≤ 127·dim and saturation count ≤ dim.
    */
  property("quantizeInt8 bounded") =
    forAll(Gen.listOfN(4, Gen.listOfN(3, Gen.chooseNum(-10.0f, 10.0f)))) { vecs =>
      vecs.isEmpty || {
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
          .toDF("vec_id", "embedding")
        graft.operators.Similarity.quantizeInt8(df).collect().forall { r =>
          val dim = r.getLong(1); val l1 = r.getLong(4); val sat = r.getLong(5)
          l1 <= 127L * dim && sat <= dim && r.getLong(2) >= 0
        }
      }
    }

  /** RRF additivity: a fused id's score is exactly the sum of its
    * per-list reciprocal ranks, and fusing a list with itself doubles
    * every score without changing the order.
    */
  property("rrfFuse additive and self-fusion order-preserving") =
    forAll(Gen.chooseNum(1, 6)) { n =>
      val ranks = (1 to n).map(i => (i.toLong * 7L, i.toLong))
      val df = ranks.toDF("id", "rank")
      val fused = graft.operators.Similarity.rrfFuse(df, df, n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      fused.forall { case (id, s, _) =>
        val r = ranks.find(_._1 == id).get._2
        s == 2L * (1000000L / (60L + r))
      } && fused.sortBy(_._3).map(_._1).toSeq == ranks.map(_._1)
    }

  /** Token Gini bounds: 0 ≤ gini < 10^6; zero exactly when one
    * distinct token; the all-distinct value is 10^6·(n−1) div n.
    */
  property("tokenGini bounded with pinned extremes") =
    forAll(Gen.chooseNum(1, 8), Gen.chooseNum(1, 8)) { (nRep, nDis) =>
      val docs = Seq(
        (1L, Seq.fill(nRep)("w").mkString(" ")),
        (2L, (0 until nDis).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
      val out = graft.operators.TextOps.tokenGini(docs)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      out(1L) == 0L &&
        out(2L) == 1000000L * (nDis - 1) / nDis &&
        out.values.forall(g => g >= 0L && g < 1000000L)
    }

  /** Mix plan feasibility: every take is within the source's holdings
    * and equals the shared budget's target share (integer-floored);
    * rates never exceed 1000.
    */
  property("mixPlan feasible under the shared budget") =
    forAll(Gen.listOfN(3, Gen.chooseNum(1, 30)), Gen.listOfN(3, Gen.chooseNum(100, 800))) {
      (sizes, targets) =>
        val docs = sizes.zipWithIndex.flatMap { case (tok, i) =>
          Seq((i.toLong, s"s$i", Seq.fill(tok)("w").mkString(" ")))
        }.toDF("doc_id", "source", "text")
        val tgt = targets.zipWithIndex.map { case (t, i) => s"s$i" -> t }
        val out = graft.operators.TextOps.mixPlan(docs, tgt)
          .collect().map(r => (r.getString(0),
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        val budget = out.map { case (_, (have, tp, _, _)) => have * 1000L / tp }.min
        out.forall { case (_, (have, tp, take, rate)) =>
          take <= have && rate <= 1000L && take == budget * tp / 1000L
        }
    }

  /** Triangle counting matches brute-force enumeration on random
    * graphs — the degree-ordered orientation is a pure cost device
    * and must never change the counts.
    */
  private val genPair: Gen[(String, String)] = for {
    a <- Gen.oneOf("A", "B", "C", "D", "E", "F")
    b <- Gen.oneOf("A", "B", "C", "D", "E", "F")
  } yield (a, b)

  property("triangleCounts equals brute-force enumeration") =
    forAll(Gen.listOfN(10, genPair)) { pairs =>
      val got = GraphOps.triangleCounts(pairs.toDF("person_a", "person_b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val und = pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(p => p._1 != p._2).toSet
      val verts = und.toSeq.flatMap(p => Seq(p._1, p._2)).distinct
      val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for {
        trio <- verts.sorted.combinations(3)
        Seq(a, b, c) = trio
        if und((a, b)) && und((a, c)) && und((b, c))
      } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
      got == verts.map(v => v -> counts(v)).toMap
    }

  /** shardShuffle is a deterministic partition: every doc exactly
    * once, shard = pos mod n, dense in-shard numbering in pos order.
    */
  property("shardShuffle partitions completely and numbers densely") =
    forAll(Gen.listOf(Gen.chooseNum(1L, 50L)), Gen.chooseNum(1, 8)) { (ids0, n) =>
      val ids = ids0.distinct
      ids.isEmpty || {
        import graft.operators.TextOps
        val out = TextOps.shardShuffle(
          ids.map(i => (i, s"d$i")).toDF("doc_id", "text"), n)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        out.map(_._1).toSet == ids.toSet &&
        out.forall { case (_, pos, shard, _) => shard == pos % n && pos >= 0 } &&
        out.groupBy(_._3).values.forall { rows =>
          rows.sortBy(r => (r._2, r._1)).map(_._4).toSeq == (1L to rows.length)
        }
      }
    }

  /** overlapJoin: for ANY interval sets and ANY chunk size, the chunked
    * equi-join emits exactly the naive predicate join's pair set —
    * each pair exactly once (the greatest(from)-chunk dedup trick).
    */
  property("overlapJoin ≡ naive predicate join, exactly once, any chunk") =
    forAll(
      Gen.listOfN(14, Gen.zip(Gen.oneOf("k1", "k2"),
        Gen.chooseNum(0L, 60L), Gen.chooseNum(1L, 25L))),
      Gen.listOfN(10, Gen.zip(Gen.oneOf("k1", "k2"),
        Gen.chooseNum(0L, 60L), Gen.chooseNum(1L, 25L))),
      Gen.chooseNum(1L, 40L)) { (as, bs, chunk) =>
      import graft.operators.RangeJoin
      def df(rows: List[(String, Long, Long)]) =
        rows.zipWithIndex
          .map { case ((k, f, len), i) => (k, i.toLong, f, f + len) }
          .toDF("user_id", "id", "from_ms", "to_ms")
      val a = df(as)
      val b = df(bs)
      val got = RangeJoin.overlapJoin(a, b, Seq("user_id"), chunk)
        .select("user_id", "id_a", "id_b")
        .collect().map(_.toSeq)
      val naive = (for {
        ((ka, fa, la), ia) <- as.zipWithIndex
        ((kb, fb, lb), ib) <- bs.zipWithIndex
        if ka == kb && fa < fb + lb && fb < fa + la
      } yield Seq(ka, ia.toLong, ib.toLong))
      got.toSet == naive.toSet && got.length == naive.length
    }
}
